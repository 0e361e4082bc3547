"""End-to-end streaming demo: the reference's full topology on
Structured Streaming, runnable locally with no Kafka.

Reference shape (SURVEY §0): producers replay log files into topics
(RegisterProducer/QzLogProducer/PageLogProducer), four streaming jobs
consume them. Here the "topics" are drop directories (the file source
shares the `value: string` contract with the Kafka adapter, so swapping
in real Kafka is a one-line source change), and all four jobs run
against them with availableNow triggers.

    python examples/streaming_demo.py [workdir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from edu_online_spark.config import EngineConfig
from edu_online_spark.session import get_spark
from edu_online_spark.streaming import jobs
from edu_online_spark.streaming.sources import file_stream


def produce(topic_dir: str, batch: str, lines: list[str]) -> None:
    """Stand-in for the reference's Kafka replay producers."""
    os.makedirs(topic_dir, exist_ok=True)
    with open(os.path.join(topic_dir, batch), "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/edu-online-demo"
    shutil.rmtree(work, ignore_errors=True)
    topics = {
        t: f"{work}/topics/{t}"
        for t in (
            "register", "qz", "page", "raw", "docs", "pii", "emb", "link",
            "scrub", "budget", "shard", "winnow", "ingest", "neardup", "burst",
            "seed", "stick", "sla", "deciles", "gini", "act", "madd",
            "cusum", "fdr", "priv",
        )
    }

    produce(topics["register"], "b1.log", [
        "8001\t1\t2026-08-13 10:00:01",
        "8002\t2\t2026-08-13 10:00:02",
        "8003\t3\t2026-08-13 10:00:03",
        "8004\t1\t2026-08-13 10:01:07",
    ])
    produce(topics["qz"], "b1.log", [
        "1001\t504\t7\tq1\t1\t2026-08-13 10:00:05",
        "1001\t504\t7\tq2\t0\t2026-08-13 10:00:09",
        "1002\t504\t7\tq1\t1\t2026-08-13 10:00:11",
    ])
    produce(topics["page"], "b1.log", [
        '{"uid":"1001","last_page_id":"1","page_id":"2","next_page_id":"3"}',
        '{"uid":"1002","last_page_id":"1","page_id":"2"}',
        "corrupt line — dropped",
    ])
    produce(topics["raw"], "b1.log", ["raw-payload-1", "raw-payload-2"])

    spark = get_spark(EngineConfig(cpus=8))
    out = {k: f"{work}/out/{k}" for k in ("windows", "totals", "mastery", "flows", "archive")}
    ck = lambda name: f"{work}/ck/{name}"

    queries = [
        jobs.register_windowed_job(file_stream(spark, topics["register"]),
                                   out["windows"], ck("win"), available_now=True),
        jobs.register_totals_job(file_stream(spark, topics["register"]),
                                 out["totals"], ck("tot"), available_now=True),
        jobs.quiz_mastery_job(file_stream(spark, topics["qz"]),
                              out["mastery"], ck("qz"), available_now=True),
        jobs.page_flow_job(file_stream(spark, topics["page"]),
                           out["flows"], ck("page"), available_now=True),
        jobs.rawlog_archive_job(file_stream(spark, topics["raw"]),
                                out["archive"], ck("raw"), available_now=True),
    ]
    for q in queries:
        q.awaitTermination(120)

    # second wave: state accumulates across triggers via checkpoints
    produce(topics["register"], "b2.log", ["8005\t1\t2026-08-13 10:02:01"])
    produce(topics["qz"], "b2.log", ["1001\t504\t7\tq3\t1\t2026-08-13 11:00:01"])
    jobs.register_totals_job(file_stream(spark, topics["register"]),
                             out["totals"], ck("tot"), available_now=True).awaitTermination(120)
    jobs.quiz_mastery_job(file_stream(spark, topics["qz"]),
                          out["mastery"], ck("qz"), available_now=True).awaitTermination(120)

    # round-2 jobs: stream-stream transition join, streaming dedup,
    # stream-static enrichment — driven off the same drop directories
    produce(topics["page"], "b3.log", [
        '{"uid":"1001","last_page_id":"2","page_id":"3","ts":"2026-08-13 10:03:00"}',
        '{"uid":"1001","last_page_id":"3","page_id":"4","ts":"2026-08-13 10:05:00"}',
    ])
    produce(topics["register"], "b3.log", [
        "8005\t1\t2026-08-13 10:02:01",  # replayed duplicate of b2
        "8006\t2\t2026-08-13 10:02:05",
    ])
    out["transitions"] = f"{work}/out/transitions"
    out["dedup"] = f"{work}/out/dedup"
    out["enriched"] = f"{work}/out/enriched"
    region = spark.createDataFrame(
        [(i, f"REGION_{i}") for i in range(5)], ["r_regionkey", "r_name"]
    )
    extra = [
        jobs.page_transition_join_job(file_stream(spark, topics["page"]),
                                      out["transitions"], ck("trans"),
                                      available_now=True),
        jobs.register_dedup_job(file_stream(spark, topics["register"]),
                                out["dedup"], ck("dedup"), available_now=True),
        jobs.register_region_enrich_job(file_stream(spark, topics["register"]),
                                        region, out["enriched"], ck("enrich"),
                                        available_now=True),
    ]
    for q in extra:
        q.awaitTermination(120)

    # round-3 job: streaming training-data ingest (decode -> quality
    # gate -> content dedup within watermark -> (lang, day) archive)
    produce(topics["docs"], "b1.log", [
        '{"doc_id":"d1","text":"alpha beta gamma delta epsilon","lang":"en","source":"s1","ts":"2026-08-13 10:00:00"}',
        '{"doc_id":"d2","text":"short","lang":"en","source":"s1","ts":"2026-08-13 10:00:01"}',
        'not json at all',
        '{"doc_id":"d3","text":"alpha beta gamma delta epsilon","lang":"en","source":"s2","ts":"2026-08-13 10:00:02"}',
        '{"doc_id":"d4","text":"uno dos tres cuatro cinco seis","lang":"es","source":"s2","ts":"2026-08-13 10:00:03"}',
    ])
    out["ingested_docs"] = f"{work}/out/ingested_docs"
    jobs.document_ingest_job(
        file_stream(spark, topics["docs"]), out["ingested_docs"], ck("docs"),
        available_now=True,
    ).awaitTermination(120)

    # round-3 job: streaming PII scrub (redact on the way into the lake)
    produce(topics["pii"], "b1.log", [
        '{"doc_id":"p1","text":"mail bob@corp.io from 10.0.0.7","lang":"en","source":"s1","ts":"2026-08-13 10:00:00"}',
        '{"doc_id":"p2","text":"clean text","lang":"en","source":"s1","ts":"2026-08-13 10:00:01"}',
    ])
    out["scrubbed_docs"] = f"{work}/out/scrubbed_docs"
    jobs.pii_scrub_job(
        file_stream(spark, topics["pii"]), out["scrubbed_docs"], ck("pii"),
        available_now=True,
    ).awaitTermination(120)

    # round-3 job: live per-source token inventory (mixture monitor)
    out["mixture"] = f"{work}/out/mixture"
    jobs.mixture_monitor_job(
        file_stream(spark, topics["docs"]), out["mixture"], ck("mixture"),
        available_now=True,
    ).awaitTermination(120)

    # round-4 job: live distinct registered users per platform via
    # mergeable HLL sketches (bounded state at any user cardinality)
    out["distinct_users"] = f"{work}/out/distinct_users"
    jobs.distinct_users_sketch_job(
        file_stream(spark, topics["register"]), out["distinct_users"],
        ck("sketch"), available_now=True,
    ).awaitTermination(120)

    # round-4 job: embedding index-on-ingest — vectors quantized to
    # their IVF cell on arrival, archived partitioned by cell (the
    # on-disk inverted lists the batch probe path partition-prunes)
    produce(topics["emb"], "b1.jsonl", [
        '{"vec_id": 1, "embedding": [0.9, 0.1], "label": 0}',
        '{"vec_id": 2, "embedding": [0.1, 0.9], "label": 1}',
        '{"vec_id": 3, "embedding": [0.8, 0.5], "label": 0}',
        '{"vec_id": 4, "embedding": [0.2], "label": 9}',
        'corrupt vector line',
    ])
    out["indexed_embeddings"] = f"{work}/out/indexed_embeddings"
    jobs.embedding_ingest_job(
        file_stream(spark, topics["emb"]), [[1.0, 0.0], [0.0, 1.0]],
        out["indexed_embeddings"], ck("emb"), available_now=True,
    ).awaitTermination(120)

    # round-4 session jobs: live token-frequency CMS + drift monitor
    # over the SAME docs topic the ingest job consumed (new checkpoints
    # replay it from the start)
    out["token_countmin"] = f"{work}/out/token_countmin"
    jobs.token_countmin_job(
        file_stream(spark, topics["docs"]), out["token_countmin"],
        ck("cms"), available_now=True,
    ).awaitTermination(120)

    from edu_online_spark.operators.textops import token_length_histogram

    reference = token_length_histogram(
        spark.createDataFrame(
            [(1, "five tokens of reference text"),
             (2, "this reference document carries eleven whitespace "
                 "separated tokens in total")],
            ["doc_id", "text"],
        ),
        cnt_name="n_old",
    )
    out["length_drift"] = f"{work}/out/length_drift"
    jobs.length_drift_monitor_job(
        file_stream(spark, topics["docs"]), reference, out["length_drift"],
        ck("drift"), available_now=True,
    ).awaitTermination(120)

    # round-4 session job: link-on-ingest — dirty records resolved
    # against the broadcast canonical table as they arrive
    produce(topics["link"], "b1.jsonl", [
        '{"rec_id": 900, "name": "Customer#000000010", "nation": 1, "cents": "986384"}',
        '{"rec_id": 901, "name": "Zz#9", "nation": 1, "cents": "1"}',
        "corrupt {",
    ])
    canonical = spark.createDataFrame(
        [
            (10, 1, "Customer#000000010|186384"),
            (11, 1, "Customer#000000011|254740"),
        ],
        ["cand_key", "c_nation", "c_rec"],
    )
    out["linked_records"] = f"{work}/out/linked_records"
    jobs.record_linkage_job(
        file_stream(spark, topics["link"]), canonical,
        out["linked_records"], ck("link"), available_now=True,
    ).awaitTermination(120)

    # round-5: the Kafka SOURCE PATH executed end-to-end through the
    # file-backed stub broker — same option map, same wire schema, same
    # downstream job as the real format('kafka') reader (which needs
    # the connector jar this container doesn't ship)
    from edu_online_spark.streaming.sources import (
        kafka_stub_produce,
        kafka_stub_stream,
    )

    broker = f"{work}/stub_broker"
    kafka_stub_produce(
        broker,
        "register",
        [
            (None, "9001\t1\t2026-08-13 10:00:01"),
            (None, "9002\t2\t2026-08-13 10:00:02"),
            (None, "9003\t1\t2026-08-13 10:00:03"),
        ],
    )
    out["kafka_stub_windowed"] = f"{work}/out/kafka_stub_windowed"
    jobs.register_windowed_job(
        kafka_stub_stream(spark, "register", broker),
        out["kafka_stub_windowed"], ck("kafka_stub"), available_now=True,
    ).awaitTermination(120)

    # round-5: substring-scrub-on-ingest — wave 2 re-posts wave 1's
    # passage and arrives masked against the standing span index
    scrub_passage = " ".join(f"lic{i}" for i in range(18))
    produce(topics["scrub"], "b1.jsonl", [
        json.dumps({"doc_id": 1, "text": scrub_passage, "source": "s1"}),
    ])
    out["scrubbed_spans"] = f"{work}/out/scrubbed_spans"
    jobs.substring_scrub_job(
        file_stream(spark, topics["scrub"]), f"{work}/span_index",
        out["scrubbed_spans"], ck("scrub"), available_now=True,
    ).awaitTermination(120)
    produce(topics["scrub"], "b2.jsonl", [
        json.dumps({"doc_id": 2, "text": scrub_passage, "source": "s2"}),
        json.dumps({"doc_id": 3,
                    "text": " ".join(f"fresh{i}" for i in range(16)),
                    "source": "s2"}),
    ])
    jobs.substring_scrub_job(
        file_stream(spark, topics["scrub"]), f"{work}/span_index",
        out["scrubbed_spans"], ck("scrub"), available_now=True,
    ).awaitTermination(120)

    # round-6: quota-on-ingest + shard-on-ingest — the curation
    # pipeline's admission and layout stages running live. Budget 8:
    # s1's second doc (wave 2) is rejected once the source's CUMULATIVE
    # total would exceed it; the shard stream continues its global
    # token offset across waves (no restart at shard 0).
    produce(topics["budget"], "b1.jsonl", [
        json.dumps({"doc_id": 1, "text": "a b c d e", "source": "s1"}),
        json.dumps({"doc_id": 2, "text": "x y", "source": "s2"}),
    ])
    out["budget_gate"] = f"{work}/out/budget_gate"
    jobs.token_budget_gate_job(
        file_stream(spark, topics["budget"]),
        out["budget_gate"], ck("budget"), budget=8, available_now=True,
    ).awaitTermination(120)
    produce(topics["budget"], "b2.jsonl", [
        json.dumps({"doc_id": 3, "text": "f g h i", "source": "s1"}),
        json.dumps({"doc_id": 4, "text": "z w", "source": "s2"}),
    ])
    jobs.token_budget_gate_job(
        file_stream(spark, topics["budget"]),
        out["budget_gate"], ck("budget"), budget=8, available_now=True,
    ).awaitTermination(120)

    produce(topics["shard"], "b1.jsonl", [
        json.dumps({"doc_id": i, "text": "t u v w", "source": "s0"})
        for i in range(3)
    ])
    out["shard_stream"] = f"{work}/out/shard_stream"
    jobs.shard_assign_job(
        file_stream(spark, topics["shard"]),
        out["shard_stream"], ck("shard"), shard_tokens=5, available_now=True,
    ).awaitTermination(120)
    produce(topics["shard"], "b2.jsonl", [
        json.dumps({"doc_id": 10, "text": "p q r", "source": "s0"}),
    ])
    jobs.shard_assign_job(
        file_stream(spark, topics["shard"]),
        out["shard_stream"], ck("shard"), shard_tokens=5, available_now=True,
    ).awaitTermination(120)

    # round-7: overlap-on-ingest — the winnowing fingerprint index
    # catches a wave-2 doc that EMBEDS a wave-1 passage inside
    # otherwise-new text (the case the exact-key seen filter misses).
    winnow_passage = " ".join(f"p{i}" for i in range(10))
    produce(topics["winnow"], "b1.jsonl", [
        json.dumps({"doc_id": 1,
                    "text": f"original intro {winnow_passage} original end",
                    "source": "s1"}),
    ])
    out["winnow_overlap"] = f"{work}/out/winnow_overlap"
    jobs.winnow_index_job(
        file_stream(spark, topics["winnow"]),
        out["winnow_overlap"], ck("winnow"), available_now=True,
    ).awaitTermination(120)
    produce(topics["winnow"], "b2.jsonl", [
        json.dumps({"doc_id": 2,
                    "text": f"new framing words {winnow_passage} new ending",
                    "source": "s1"}),
        json.dumps({"doc_id": 3,
                    "text": " ".join(f"fresh{i}" for i in range(12)),
                    "source": "s1"}),
    ])
    jobs.winnow_index_job(
        file_stream(spark, topics["winnow"]),
        out["winnow_overlap"], ck("winnow"), available_now=True,
    ).awaitTermination(120)

    # round-7b: the composed ingest pipeline — gate → budget → shard in
    # one trigger; the short doc is gate-rejected (word_count) and the
    # admitted doc starts the global shard stream at offset 0.
    good = " ".join(
        [f"wordy{i:02d}" for i in range(26)] + ["the", "and", "of", "to"]
    )
    produce(topics["ingest"], "b1.jsonl", [
        json.dumps({"doc_id": 1, "text": good, "source": "s1"}),
        json.dumps({"doc_id": 2, "text": "too short", "source": "s1"}),
    ])
    out["curation_ingest"] = f"{work}/out/curation_ingest"
    jobs.curation_ingest_job(
        file_stream(spark, topics["ingest"]),
        out["curation_ingest"], ck("ingest"),
        budget=100, shard_tokens=25, available_now=True,
    ).awaitTermination(120)

    # round-9: near-dup-on-ingest against the cumulative MinHash
    # signature index — wave 2's light edit of wave 1's doc is flagged
    # (n_prior_dups=1), the co-delivered near-pair keeps its min id
    # clean, fresh text stays clean.
    base_words = [f"nd{i}" for i in range(30)]
    edited = list(base_words); edited[3] = "edited3"
    produce(topics["neardup"], "b1.jsonl", [
        json.dumps({"doc_id": 1, "text": " ".join(base_words),
                    "source": "s1"}),
    ])
    out["neardup_ingest"] = f"{work}/out/neardup_ingest"
    jobs.minhash_dedup_job(
        file_stream(spark, topics["neardup"]),
        out["neardup_ingest"], ck("neardup"), available_now=True,
    ).awaitTermination(120)
    produce(topics["neardup"], "b2.jsonl", [
        json.dumps({"doc_id": 2, "text": " ".join(edited), "source": "s1"}),
        json.dumps({"doc_id": 3,
                    "text": " ".join(f"fresh{i}" for i in range(30)),
                    "source": "s1"}),
    ])
    jobs.minhash_dedup_job(
        file_stream(spark, topics["neardup"]),
        out["neardup_ingest"], ck("neardup"), available_now=True,
    ).awaitTermination(120)

    # round 10: burst-on-ingest (event-time rate anomaly; wave 2
    # completes a 3-in-60s burst for user 7 across the trigger boundary)
    produce(topics["burst"], "b1.jsonl", [
        json.dumps({"event_id": 1, "user_id": 7, "ts": "2026-08-13 10:00:00"}),
        json.dumps({"event_id": 2, "user_id": 7, "ts": "2026-08-13 10:00:20"}),
        json.dumps({"event_id": 3, "user_id": 8, "ts": "2026-08-13 10:00:25"}),
        "corrupt {",
    ])
    out["burst_flags"] = f"{work}/out/burst_flags"
    jobs.burst_flags_job(
        file_stream(spark, topics["burst"]),
        out["burst_flags"], ck("burst"), min_events=3, available_now=True,
    ).awaitTermination(120)
    produce(topics["burst"], "b2.jsonl", [
        json.dumps({"event_id": 4, "user_id": 7, "ts": "2026-08-13 10:00:40"}),
        json.dumps({"event_id": 5, "user_id": 8, "ts": "2026-08-13 10:02:30"}),
    ])
    jobs.burst_flags_job(
        file_stream(spark, topics["burst"]),
        out["burst_flags"], ck("burst"), min_events=3, available_now=True,
    ).awaitTermination(120)

    # round 10b: seed-set-on-ingest (weighted top-k sample maintained
    # across triggers; doc 1 re-ingested longer in wave 2 keeps its
    # lighter wave-2 observation — min-struct, not last-writer)
    produce(topics["seed"], "b1.jsonl", [
        json.dumps({"doc_id": "1", "text": "tiny doc", "source": "s1"}),
        json.dumps({"doc_id": "2", "text": "a somewhat longer document body", "source": "s1"}),
        "corrupt {",
    ])
    seed_base = f"{work}/out/seed_sample"
    jobs.weighted_sample_job(
        file_stream(spark, topics["seed"]),
        seed_base, ck("seed"), k=2, available_now=True,
    ).awaitTermination(120)
    produce(topics["seed"], "b2.jsonl", [
        json.dumps({"doc_id": "1", "text": "tiny doc grown into a much longer revision " * 3, "source": "s1"}),
        json.dumps({"doc_id": "3", "text": "third document, medium length here", "source": "s2"}),
    ])
    jobs.weighted_sample_job(
        file_stream(spark, topics["seed"]),
        seed_base, ck("seed"), k=2, available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(seed_base)
        if d.startswith("ingest_batch=")
    )
    out["seed_sample"] = f"{seed_base}/ingest_batch={last}"

    # round 11: stickiness-on-ingest (live DAU/WAU; wave 2 adds a new
    # day whose trailing week still counts wave 1's users, plus a
    # same-day returner — the snapshot publishes days within late_days
    # of the stream's max seen day)
    produce(topics["stick"], "b1.jsonl", [
        json.dumps({"event_id": 1, "user_id": 1, "ts": "2026-08-10 09:00:00"}),
        json.dumps({"event_id": 2, "user_id": 2, "ts": "2026-08-10 10:00:00"}),
        json.dumps({"event_id": 3, "user_id": 2, "ts": "2026-08-10 11:00:00"}),
        "corrupt {",
    ])
    stick_base = f"{work}/out/stickiness"
    jobs.stickiness_job(
        file_stream(spark, topics["stick"]),
        stick_base, ck("stick"), late_days=3, available_now=True,
    ).awaitTermination(120)
    produce(topics["stick"], "b2.jsonl", [
        json.dumps({"event_id": 4, "user_id": 1, "ts": "2026-08-12 09:30:00"}),
        json.dumps({"event_id": 5, "user_id": 3, "ts": "2026-08-12 09:45:00"}),
    ])
    jobs.stickiness_job(
        file_stream(spark, topics["stick"]),
        stick_base, ck("stick"), late_days=3, available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(stick_base)
        if d.startswith("ingest_batch=")
    )
    out["stickiness"] = f"{stick_base}/ingest_batch={last}"

    # round 11b: live SLA quantiles (domain-bounded histogram state;
    # wave 2 folds two more shipments into order 1's priority bucket
    # and the published p50 moves exactly as the batch selection rule
    # dictates)
    lq_orders = spark.createDataFrame(
        [(1, "2026-08-01", "1-URGENT"), (2, "2026-08-02", "1-URGENT"),
         (3, "2026-08-03", "2-HIGH")],
        "o_orderkey long, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "CAST(o_orderdate AS DATE) AS o_orderdate",
        "o_orderpriority",
    )
    produce(topics["sla"], "b1.jsonl", [
        json.dumps({"l_orderkey": 1, "l_shipdate": "2026-08-03"}),
        json.dumps({"l_orderkey": 3, "l_shipdate": "2026-08-10"}),
        "corrupt {",
    ])
    sla_base = f"{work}/out/latency_quantiles"
    jobs.latency_quantiles_job(
        file_stream(spark, topics["sla"]),
        lq_orders, sla_base, ck("sla"), available_now=True,
    ).awaitTermination(120)
    produce(topics["sla"], "b2.jsonl", [
        json.dumps({"l_orderkey": 1, "l_shipdate": "2026-08-07"}),
        json.dumps({"l_orderkey": 2, "l_shipdate": "2026-08-12"}),
    ])
    jobs.latency_quantiles_job(
        file_stream(spark, topics["sla"]),
        lq_orders, sla_base, ck("sla"), available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(sla_base)
        if d.startswith("ingest_batch=")
    )
    out["latency_quantiles"] = f"{sla_base}/ingest_batch={last}"

    # round 12: live credit-risk banding (third histogram-selection
    # twin; wave 2 adds two low balances to SEG-A and the published
    # median drops exactly as the ceil(k*n/10) selection dictates)
    produce(topics["deciles"], "b1.jsonl", [
        json.dumps({"c_custkey": 1, "c_mktsegment": "SEG-A",
                    "c_acctbal": 100.0}),
        json.dumps({"c_custkey": 2, "c_mktsegment": "SEG-A",
                    "c_acctbal": 300.0}),
        json.dumps({"c_custkey": 3, "c_mktsegment": "SEG-B",
                    "c_acctbal": 50.0}),
        "corrupt {",
    ])
    dec_base = f"{work}/out/balance_deciles"
    jobs.balance_deciles_job(
        file_stream(spark, topics["deciles"]),
        dec_base, ck("deciles"), available_now=True,
    ).awaitTermination(120)
    produce(topics["deciles"], "b2.jsonl", [
        json.dumps({"c_custkey": 4, "c_mktsegment": "SEG-A",
                    "c_acctbal": 10.0}),
        json.dumps({"c_custkey": 5, "c_mktsegment": "SEG-A",
                    "c_acctbal": 20.0}),
    ])
    jobs.balance_deciles_job(
        file_stream(spark, topics["deciles"]),
        dec_base, ck("deciles"), available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(dec_base)
        if d.startswith("ingest_batch=")
    )
    out["balance_deciles"] = f"{dec_base}/ingest_batch={last}"

    # round 13: live per-nation revenue concentration (revenue_gini_job)
    # — stream-static broadcast against the supplier→nation dim; the
    # additive decimal fold under the replay fence. Wave 1: NAT-A gets
    # two equal suppliers (gini 0), NAT-B one supplier (gini 0). Wave 2
    # concentrates NAT-A: supplier 1 triples its revenue, so the final
    # snapshot shows NAT-A gini > 0 while NAT-B stays 0.
    gini_dim = spark.createDataFrame(
        [(1, "NAT-A"), (2, "NAT-A"), (3, "NAT-B")],
        "s_suppkey long, nation string",
    )
    produce(topics["gini"], "g1.jsonl", [
        json.dumps({"l_suppkey": 1, "l_extendedprice": "100.00",
                    "l_discount": "0.00"}),
        json.dumps({"l_suppkey": 2, "l_extendedprice": "100.00",
                    "l_discount": "0.00"}),
        json.dumps({"l_suppkey": 3, "l_extendedprice": "50.00",
                    "l_discount": "0.00"}),
        "corrupt {",
    ])
    gini_base = f"{work}/out/revenue_gini"
    jobs.revenue_gini_job(
        file_stream(spark, topics["gini"]),
        gini_base, ck("gini"), supplier_dim=gini_dim, available_now=True,
    ).awaitTermination(120)
    produce(topics["gini"], "g2.jsonl", [
        json.dumps({"l_suppkey": 1, "l_extendedprice": "200.00",
                    "l_discount": "0.00"}),
    ])
    jobs.revenue_gini_job(
        file_stream(spark, topics["gini"]),
        gini_base, ck("gini"), supplier_dim=gini_dim, available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(gini_base)
        if d.startswith("ingest_batch=")
    )
    out["revenue_gini"] = f"{gini_base}/ingest_batch={last}"

    # round 13: live traffic concentration (activity_gini_job) — the
    # histogram-Gini over per-(type,user) counts. Wave 1: two users,
    # one event each (gini 0). Wave 2: user 1 fires three more events
    # of the same type, so the final snapshot shows T-A at the
    # hand-computed gini for counts {1,4} = 0.3 and top-decile (=top
    # user here) share 0.8; the corrupt line is dropped.
    def act_line(e, u, t):
        return json.dumps({"event_id": e, "user_id": u, "event_type": t})

    produce(topics["act"], "a1.jsonl", [
        act_line(1, 1, "T-A"), act_line(2, 2, "T-A"), "corrupt {",
    ])
    act_base = f"{work}/out/activity_gini"
    jobs.activity_gini_job(
        file_stream(spark, topics["act"]),
        act_base, ck("act"), available_now=True,
    ).awaitTermination(120)
    produce(topics["act"], "a2.jsonl", [
        act_line(3, 1, "T-A"), act_line(4, 1, "T-A"), act_line(5, 1, "T-A"),
    ])
    jobs.activity_gini_job(
        file_stream(spark, topics["act"]),
        act_base, ck("act"), available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(act_base)
        if d.startswith("ingest_batch=")
    )
    out["activity_gini"] = f"{act_base}/ingest_batch={last}"

    # round 13: live robust volume tripwire (daily_mad_job). Wave 1:
    # three organic days (2, 3, 4 events). Wave 2: a 9-event backfill
    # burst on day 4 — final counts {2,3,4,9}: lower-median 3,
    # deviations {1,0,1,6} → MAD 1; only the burst flags (6 > 3·1) at
    # robust_z 6.0, and the median baseline barely moved (the
    # trailing-mean screen would now be blind for a week).
    def mad_line(e, ts):
        return json.dumps({"event_id": e, "ts": ts})

    m1 = [mad_line(i, f"2026-08-{d:02d} 10:00:0{i % 10}")
          for i, d in enumerate([1, 1, 2, 2, 2, 3, 3, 3, 3])]
    produce(topics["madd"], "m1.jsonl", m1 + ["corrupt {"])
    mad_base = f"{work}/out/daily_mad"
    jobs.daily_mad_job(
        file_stream(spark, topics["madd"]),
        mad_base, ck("madd"), available_now=True,
    ).awaitTermination(120)
    produce(topics["madd"], "m2.jsonl", [
        mad_line(100 + i, "2026-08-04 11:00:00") for i in range(9)
    ])
    jobs.daily_mad_job(
        file_stream(spark, topics["madd"]),
        mad_base, ck("madd"), available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(mad_base)
        if d.startswith("ingest_batch=")
    )
    out["daily_mad"] = f"{mad_base}/ingest_batch={last}"

    # round 13: live level-shift tripwire (daily_cusum_job, shared
    # machinery with daily_mad). Wave 1: four days at 2 events. Wave
    # 2: the feed settles at 8/day for four days — a sustained 4×
    # level shift no single day of which is a MAD-style outlier once
    # the new level dominates. Final counts [2,2,2,2,8,8,8,8] at
    # slack_den=4: total 40, slack 10, scaled deviations ∓24/+24 →
    # hand-computed CUSUMs S⁻ = 14,28,42,56,22,0,0,0 and
    # S⁺ = 0,0,0,0,14,28,42,56; the >40 alarm flags days 3-4 (low
    # side) and 7-8 (high side) — the runs BRACKET the change point
    # between day 4 and 5.
    c1 = [mad_line(i, f"2026-08-{d:02d} 09:00:00")
          for i, d in enumerate([1, 1, 2, 2, 3, 3, 4, 4])]
    produce(topics["cusum"], "c1.jsonl", c1 + ["corrupt {"])
    cusum_base = f"{work}/out/daily_cusum"
    jobs.daily_cusum_job(
        file_stream(spark, topics["cusum"]),
        cusum_base, ck("cusum"), slack_den=4, available_now=True,
    ).awaitTermination(120)
    c2 = [mad_line(200 + i, f"2026-08-{5 + i // 8:02d} 09:00:00")
          for i in range(32)]
    produce(topics["cusum"], "c2.jsonl", c2)
    jobs.daily_cusum_job(
        file_stream(spark, topics["cusum"]),
        cusum_base, ck("cusum"), slack_den=4, available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(cusum_base)
        if d.startswith("ingest_batch=")
    )
    out["daily_cusum"] = f"{cusum_base}/ingest_batch={last}"

    # round 16: live BH-FDR experiment monitor (ab_fdr_job — streaming
    # twin of the R19-queued ab_fdr_bh via shared fdr_bh_report over a
    # folded (user, type, min_ts) pair-minimum state). Wave 1: 20
    # users (10 per arm) all emit 'landing' at T0, then 'convert'
    # within 24h for 8 even vs 2 odd users — z = 0.6/√0.05 ≈ 2.683.
    # Wave 2: a balanced 'noise' type (5 vs 5 → z = 0), a LATE
    # 'convert' for odd user 5 at T0+40h (outside the 24h window —
    # the pair folds into state but must NOT activate), and a
    # replayed duplicate of user 0's convert (min is idempotent).
    # Final: m=2; convert rank 1, crit(1,2)=2.241, REJECTED; noise
    # rank 2, crit(2,2)=1.960, not rejected; landing saturates →
    # z NULL, excluded from m.
    def fdr_line(e, uid, et, ts):
        return json.dumps(
            {"event_id": e, "user_id": uid, "event_type": et, "ts": ts}
        )

    f1 = [fdr_line(i, u, "landing", "2026-08-01 00:00:00")
          for i, u in enumerate(range(20))]
    f1 += [fdr_line(100 + i, u, "convert", "2026-08-01 01:00:00")
           for i, u in enumerate([0, 2, 4, 6, 8, 10, 12, 14, 1, 3])]
    produce(topics["fdr"], "f1.jsonl", f1 + ["corrupt {"])
    fdr_base = f"{work}/out/ab_fdr"
    jobs.ab_fdr_job(
        file_stream(spark, topics["fdr"]),
        fdr_base, ck("fdr"), available_now=True,
    ).awaitTermination(120)
    f2 = [fdr_line(200 + i, u, "noise", "2026-08-01 02:00:00")
          for i, u in enumerate([0, 2, 4, 6, 8, 1, 3, 5, 7, 9])]
    f2.append(fdr_line(300, 5, "convert", "2026-08-02 16:00:00"))  # +40h: late
    f2.append(fdr_line(100, 0, "convert", "2026-08-01 01:00:00"))  # replay dup
    produce(topics["fdr"], "f2.jsonl", f2)
    jobs.ab_fdr_job(
        file_stream(spark, topics["fdr"]),
        fdr_base, ck("fdr"), available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(fdr_base)
        if d.startswith("ingest_batch=")
    )
    out["ab_fdr"] = f"{fdr_base}/ingest_batch={last}"

    # round 16: live privacy-audit trio (privacy_audit_job — the
    # batch k-anonymity / l-diversity / t-closeness reports re-screened
    # per trigger over one folded (class, user) count state). Wave 1:
    # class (view, 08-01) holds users 1-6, class (buy, 08-01) is three
    # events from ONE user (size 3 < k=5 AND diversity 1 < l=3 AND
    # fully concentrated). Wave 2: two buy events from user 8 — the
    # class LEAVES the k-violation set live (size 5), stays
    # l-violating (diversity 2), and its TVD recomputes against the
    # moved global distribution: buy reads 60/(2·5·11) ≈ 0.545 > 0.5
    # (flagged), view 60/(2·6·11) ≈ 0.455 (clean).
    def priv_line(e, uid, et, ts):
        return json.dumps(
            {"event_id": e, "user_id": uid, "event_type": et, "ts": ts}
        )

    p1 = [priv_line(i, u, "view", "2026-08-01 09:00:00")
          for i, u in enumerate(range(1, 7))]
    p1 += [priv_line(10 + i, 7, "buy", "2026-08-01 10:00:00")
           for i in range(3)]
    produce(topics["priv"], "p1.jsonl", p1 + ["corrupt {"])
    priv_base = f"{work}/out/privacy_audit"
    jobs.privacy_audit_job(
        file_stream(spark, topics["priv"]),
        priv_base, ck("priv"), available_now=True,
    ).awaitTermination(120)
    p2 = [priv_line(20 + i, 8, "buy", "2026-08-01 11:00:00")
          for i in range(2)]
    produce(topics["priv"], "p2.jsonl", p2)
    jobs.privacy_audit_job(
        file_stream(spark, topics["priv"]),
        priv_base, ck("priv"), available_now=True,
    ).awaitTermination(120)
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(priv_base)
        if d.startswith("ingest_batch=")
    )
    out["privacy_audit"] = f"{priv_base}/ingest_batch={last}"

    for name, path in out.items():
        df = spark.read.parquet(path)
        rows = [r.asDict() for r in df.collect()]
        print(f"--- {name} ({len(rows)} rows)")
        for r in rows[:6]:
            print("   ", json.dumps(r, default=str))


if __name__ == "__main__":
    main()
