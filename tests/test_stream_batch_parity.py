"""Streaming ↔ batch parity: the streaming twins must produce the BATCH
operator's answer when fed the same input through a file replay.

The batch operators read the synth views over `events`; here the same
views are rendered to TSV log lines, replayed in TWO waves through the
availableNow streaming jobs (so the state store actually carries
cross-trigger state), and the final sink is compared row-for-row with
the batch aggregation over the full table. This closes the loop the
per-job tests leave open: those check each job's own invariants, this
checks the two execution modes agree on the same data."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from edu_online_spark.operators.quiz import mastery_agg
from edu_online_spark.operators.register import platform_counts
from edu_online_spark.operators.synth import quiz_view, register_view
from edu_online_spark.sources import load_table
from edu_online_spark.streaming import jobs
from edu_online_spark.streaming.sources import file_stream


def _write_waves(src_dir: str, lines: list[str], n_waves: int = 2) -> list[str]:
    """Split lines into n_waves replay files; returns the file names."""
    os.makedirs(src_dir, exist_ok=True)
    per = (len(lines) + n_waves - 1) // n_waves
    names = []
    for w in range(n_waves):
        chunk = lines[w * per : (w + 1) * per]
        if not chunk:
            continue
        name = f"wave{w}.log"
        with open(os.path.join(src_dir, name), "w") as f:
            f.write("\n".join(chunk) + "\n")
        names.append(name)
    return names


def _replay(job_fn, spark, src_dir, out, ckpt, waves: list[list[str]], **kw):
    """Write each wave then run the job availableNow — one trigger per
    wave, state carried in the checkpoint between runs."""
    for w, lines in enumerate(waves):
        with open(os.path.join(src_dir, f"wave{w}.log"), "w") as f:
            f.write("\n".join(lines) + "\n")
        q = job_fn(file_stream(spark, src_dir), out, ckpt, available_now=True, **kw)
        q.awaitTermination(120)


def test_register_totals_streaming_equals_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    lines = [
        f"{r['user_id']}\t{r['platform_code']}\t{r['create_time']}"
        for r in register_view(events)
        .select(
            "user_id",
            "platform_code",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("create_time"),
        )
        .collect()
    ]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.register_totals_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )

    streamed = {
        r["platform"]: r["total"] for r in spark.read.parquet(out).collect()
    }
    batch = {
        r["platform"]: r["cnt"]
        for r in platform_counts(register_view(events)).collect()
    }
    assert streamed == batch


def test_quiz_mastery_streaming_equals_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    qv = quiz_view(events)
    lines = [
        "\t".join(
            str(r[c]) for c in
            ("uid", "courseid", "pointid", "questionid", "istrue", "createtime")
        )
        for r in qv.collect()
    ]
    assert len(lines) > 500
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.quiz_mastery_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )

    cols = [
        "uid", "courseid", "pointid", "questionids", "qz_sum", "qz_istrue",
        "qz_count", "createtime", "correct_rate", "mastery_rate",
    ]

    def key(r):
        return (r["uid"], r["courseid"], r["pointid"])

    streamed = {
        key(r): tuple(r[c] for c in cols)
        for r in spark.read.parquet(out)
        .select(*cols[:6], F.col("qz_count").cast("long").alias("qz_count"),
                *cols[7:])
        .collect()
    }
    batch = {
        key(r): tuple(r[c] for c in cols)
        for r in mastery_agg(qv).collect()
    }
    assert set(streamed) == set(batch)
    mismatched = [k for k in batch if streamed[k] != batch[k]]
    assert not mismatched, f"{len(mismatched)} keys differ, e.g. {mismatched[:3]}"


def test_burst_flags_stream_matches_batch(spark, sf_dir, tmp_path):
    """Event-time-ordered replay of the events table in two waves: the
    streaming burst gate must flag row-identically to the batch RANGE
    window (cross-trigger frames carried by the state table). Params
    widened (1h window, min 2) so the sf0.001 corpus yields a
    non-trivial flag set."""
    import json

    from edu_online_spark.operators.analytics import burst_flags

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.select("event_id", "user_id", F.col("ts").cast("string"))
        .orderBy("ts", "event_id")
        .collect()
    )
    lines = [
        json.dumps(
            {"event_id": r["event_id"], "user_id": r["user_id"], "ts": r["ts"]}
        )
        for r in rows
    ] + ["corrupt {"]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.burst_flags_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
        window_s=3600, min_events=2,
    )
    streamed = {
        (r["event_id"], r["user_id"], r["n_burst"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r["event_id"], r["user_id"], r["n_burst"])
        for r in burst_flags(events, window_s=3600, min_events=2).collect()
    }
    assert streamed == batch and len(batch) > 50


def test_burst_flags_stream_drops_stragglers_only(spark, tmp_path):
    """An event later than late_s behind the stream's max seen time is
    dropped (not undercounted); one inside the lateness bound still
    counts into its frame."""
    import json

    def line(eid, uid, ts):
        return json.dumps({"event_id": eid, "user_id": uid, "ts": ts})

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    w1 = [line(1, 7, "2024-01-01 10:00:00"),
          line(2, 7, "2024-01-01 10:00:30")]
    # wave 2: event 3 is 10s behind max seen (inside late_s=60 -> kept;
    # its TRAILING frame sees events 1 and itself, n=2); event 4 is
    # 10 min behind (dropped, not undercounted)
    w2 = [line(3, 7, "2024-01-01 10:00:20"),
          line(4, 7, "2024-01-01 09:50:00")]
    _replay(
        jobs.burst_flags_job, spark, src, out, ckpt, [w1, w2],
        window_s=60, min_events=2, late_s=60,
    )
    out_rows = {(r["event_id"], r["n_burst"])
                for r in spark.read.parquet(out).collect()}
    # event 2 flagged in wave 1 (frame: 1+2); the already-published
    # wave-1 row does NOT retro-count the late event 3 — the documented
    # divergence from the batch global sort
    assert out_rows == {(2, 2), (3, 2)}


def test_weighted_sample_stream_matches_batch(spark, sf_dir, tmp_path):
    """Replay the documents table in two waves: the final streamed
    seed set equals the batch weighted_sample row for row (top-k by
    priority is an associative idempotent merge, so trigger slicing
    can't change the answer)."""
    import json

    from edu_online_spark.operators.textops import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text", "source").collect()
    lines = [
        json.dumps(
            {"doc_id": str(r["doc_id"]), "text": r["text"], "source": r["source"]}
        )
        for r in rows
    ] + ["corrupt {"]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.weighted_sample_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]], k=25,
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    streamed = {
        (r["doc_id"], r["source"], r["n_chars"], r["priority"])
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        (r["doc_id"], r["source"], r["n_chars"], r["priority"])
        for r in weighted_sample(docs, k=25).collect()
    }
    assert streamed == batch and len(batch) == 25


def test_weighted_sample_stream_keeps_least_observation(spark, tmp_path):
    """A re-ingested doc_id keeps its lexicographically-least
    (priority, source, n_chars) observation — deterministic under
    redelivery, not an arbitrary first/last-writer pick."""
    import json

    def line(doc_id, text, source):
        return json.dumps({"doc_id": str(doc_id), "text": text, "source": source})

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    # doc 1 arrives short (high priority value), then long (low value):
    # the long observation wins regardless of arrival order
    w1 = [line(1, "tiny", "s"), line(2, "another document", "s")]
    w2 = [line(1, "x" * 500, "s"), line(3, "third", "s")]
    _replay(jobs.weighted_sample_job, spark, src, out, ckpt, [w1, w2], k=10)
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = spark.read.parquet(os.path.join(out, f"ingest_batch={batches[-1]}"))
    got = {r["doc_id"]: r["n_chars"] for r in final.collect()}
    assert got[1] == 500 and set(got) == {1, 2, 3}


def test_weighted_sample_stream_retention_and_many_triggers(spark, tmp_path):
    """Six waves: only retain_snapshots snapshot dirs survive, and the
    newest is STILL the exact global bottom-k of everything ever
    ingested — retention prunes history, never state."""
    import json

    from edu_online_spark.operators.textops import _WS_HASH_MOD

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    waves = [
        [
            json.dumps(
                {"doc_id": str(w * 10 + i), "text": "x" * (20 + w * 7 + i), "source": "s"}
            )
            for i in range(4)
        ]
        for w in range(6)
    ]
    _replay(
        jobs.weighted_sample_job, spark, src, out, ckpt, waves,
        k=5, retain_snapshots=3,
    )
    dirs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    assert len(dirs) == 3 and dirs[-1] == 5
    final = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(out, f"ingest_batch={dirs[-1]}")
        ).collect()
    }

    def pri(d, n):
        return ((d % 2147483647) * 2654435761 % _WS_HASH_MOD + 1) / (n + 1)

    alldocs = [
        (w * 10 + i, 20 + w * 7 + i) for w in range(6) for i in range(4)
    ]
    want = {d for _, d in sorted((pri(d, n), d) for d, n in alldocs)[:5]}
    assert final == want


def test_stickiness_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Two-wave replay of the events table: with late_days spanning
    the fixture, every active day is publishable and the final
    snapshot must equal the batch dau_wau_stickiness row for row."""
    import json

    from edu_online_spark.operators.analytics import dau_wau_stickiness

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        )
        .orderBy("ts", "event_id")
        .collect()
    )
    lines = [
        json.dumps(
            {"event_id": r["event_id"], "user_id": r["user_id"], "ts": r["ts"]}
        )
        for r in rows
    ] + ["corrupt {"]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.stickiness_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]], late_days=100_000,
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    streamed = {
        r["day"]: (r["dau"], r["wau"], r["stickiness"])
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["day"]: (r["dau"], r["wau"], r["stickiness"])
        for r in dau_wau_stickiness(events).collect()
    }
    assert streamed == batch and len(batch) > 5


def test_stickiness_stream_horizon_and_publishable_window(spark, tmp_path):
    """late_days=0: only the stream's newest seen day is published,
    its trailing week still counts earlier in-horizon pairs, and a
    pair older than max_day - 6 is trimmed from state (the watermark
    trade, observable: it stops contributing to later windows)."""
    import json

    def line(eid, uid, day):
        return json.dumps(
            {"event_id": eid, "user_id": uid, "ts": f"{day} 12:00:00"}
        )

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    w1 = [line(1, 1, "2024-01-01"), line(2, 2, "2024-01-01")]
    # wave 2: user 3 late on 01-01 (inside horizon), user 1 on 01-05
    w2 = [line(3, 3, "2024-01-01"), line(4, 1, "2024-01-05")]
    # wave 3: jump to 01-20 — every earlier pair leaves the horizon
    w3 = [line(5, 9, "2024-01-20")]
    _replay(
        jobs.stickiness_job, spark, src, out, ckpt, [w1, w2, w3],
        late_days=0,
    )
    snaps = {}
    for d in os.listdir(out):
        if d.startswith("ingest_batch="):
            b = int(d.split("=")[1])
            snaps[b] = {
                r["day"]: (r["dau"], r["wau"])
                for r in spark.read.parquet(os.path.join(out, d)).collect()
            }
    bs = sorted(snaps)
    # trigger 2: only 01-05 publishable; its trailing week counts the
    # three 01-01 users (late user 3 included) + own-day user 1
    assert snaps[bs[1]] == {"20240105": (1, 3)}
    # trigger 3: 01-20's week contains only user 9 — the 01-01/01-05
    # pairs were horizon-trimmed and no longer contribute
    assert snaps[bs[2]] == {"20240120": (1, 1)}


def test_latency_quantiles_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Two-wave replay of the lineitem table against the static orders
    dim: the final snapshot must equal the batch fulfillment_latency
    row for row (histogram counts are an associative merge, so any
    trigger slicing converges exactly)."""
    import json

    from edu_online_spark.operators.analytics import fulfillment_latency

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    lines = [
        json.dumps(
            {
                "l_orderkey": r["l_orderkey"],
                "l_shipdate": r["l_shipdate"].strftime("%Y-%m-%d"),
            }
        )
        for r in lineitem.select("l_orderkey", "l_shipdate").collect()
    ] + ["corrupt {"]
    assert len(lines) > 500
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2

    def job(raw, out_, ckpt_, available_now=False):
        return jobs.latency_quantiles_job(
            raw, orders, out_, ckpt_, available_now=available_now
        )

    _replay(job, spark, src, out, ckpt, [lines[:half], lines[half:]])
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["n_items", "p50_days", "p90_days", "p99_days", "max_days"]
    streamed = {
        r["priority"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["priority"]: tuple(r[c] for c in cols)
        for r in fulfillment_latency(orders, lineitem).collect()
    }
    assert streamed == batch and len(batch) >= 3


def test_latency_quantiles_replay_fence_prevents_double_count(
    spark, sf_dir, tmp_path
):
    """Additive histogram state makes the fence a CORRECTNESS guard:
    re-running the job over the same source with the same checkpoint
    must leave the snapshot byte-identical (no re-fold), and n_items
    must equal the ingested row count exactly once."""
    import json

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rows = lineitem.select("l_orderkey", "l_shipdate").limit(200).collect()
    lines = [
        json.dumps(
            {
                "l_orderkey": r["l_orderkey"],
                "l_shipdate": r["l_shipdate"].strftime("%Y-%m-%d"),
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)

    def job(raw, out_, ckpt_, available_now=False):
        return jobs.latency_quantiles_job(
            raw, orders, out_, ckpt_, available_now=available_now
        )

    _replay(job, spark, src, out, ckpt, [lines])
    # run again with NO new files: availableNow re-start over the same
    # checkpoint delivers nothing new; state must not change
    q = job(
        __import__(
            "edu_online_spark.streaming.sources", fromlist=["file_stream"]
        ).file_stream(spark, src),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = spark.read.parquet(
        os.path.join(out, f"ingest_batch={batches[-1]}")
    )
    assert sum(r["n_items"] for r in final.collect()) == len(rows)


def test_latency_quantiles_snapshot_retention(spark, sf_dir, tmp_path):
    """ADVICE r11: the latency job prunes stale ingest_batch dirs like
    the seed-set and stickiness jobs — four waves with
    retain_snapshots=2 leave exactly the two newest dirs, and the
    newest is STILL the exact histogram over everything ever ingested
    (retention prunes history, never state)."""
    import json

    from edu_online_spark.operators.analytics import fulfillment_latency
    from edu_online_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rows = lineitem.select("l_orderkey", "l_shipdate").limit(400).collect()
    lines = [
        json.dumps(
            {
                "l_orderkey": r["l_orderkey"],
                "l_shipdate": r["l_shipdate"].strftime("%Y-%m-%d"),
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    per = len(lines) // 4

    def job(raw, out_, ckpt_, available_now=False):
        return jobs.latency_quantiles_job(
            raw, orders, out_, ckpt_, available_now=available_now,
            retain_snapshots=2,
        )

    _replay(
        job, spark, src, out, ckpt,
        [lines[i * per:(i + 1) * per] for i in range(3)] + [lines[3 * per:]],
    )
    dirs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    assert len(dirs) == 2
    cols = ["n_items", "p50_days", "p90_days", "p99_days", "max_days"]
    streamed = {
        r["priority"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(
            os.path.join(out, f"ingest_batch={dirs[-1]}")
        ).collect()
    }
    # batch over exactly the replayed rows
    li_replayed = spark.createDataFrame(rows)
    batch = {
        r["priority"]: tuple(r[c] for c in cols)
        for r in fulfillment_latency(orders, li_replayed).collect()
    }
    assert streamed == batch


def test_balance_deciles_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Third histogram-selection streaming twin: replay the customer
    table in two waves through balance_deciles_job; the final snapshot
    must equal the batch customer_balance_deciles row for row
    (histogram counts are an associative merge, so any trigger slicing
    converges exactly). A corrupt line must be dropped, not crash."""
    import json

    from edu_online_spark.operators.analytics import customer_balance_deciles
    from edu_online_spark.sources import load_table

    customer = load_table(spark, sf_dir, "customer")
    lines = [
        json.dumps(
            {
                "c_custkey": r["c_custkey"],
                "c_mktsegment": r["c_mktsegment"],
                "c_acctbal": r["c_acctbal"],
            }
        )
        for r in customer.select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        ).collect()
    ] + ["corrupt {"]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.balance_deciles_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["n_customers", "min_bal"] + [f"d{k}" for k in range(1, 10)] + ["max_bal"]
    streamed = {
        r["segment"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["segment"]: tuple(r[c] for c in cols)
        for r in customer_balance_deciles(customer).collect()
    }
    assert streamed == batch and len(batch) >= 3


def test_balance_deciles_replay_fence_prevents_double_count(
    spark, sf_dir, tmp_path
):
    """Additive histogram state: re-running over the same source with
    the same checkpoint must leave the snapshot byte-identical (no
    re-fold) and n_customers counted exactly once."""
    import json

    from edu_online_spark.sources import load_table
    from edu_online_spark.streaming.sources import file_stream

    customer = load_table(spark, sf_dir, "customer")
    rows = customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    ).limit(300).collect()
    lines = [
        json.dumps(
            {
                "c_custkey": r["c_custkey"],
                "c_mktsegment": r["c_mktsegment"],
                "c_acctbal": r["c_acctbal"],
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.balance_deciles_job, spark, src, out, ckpt, [lines])
    # state histogram sums to the ingested row count exactly once
    # (ADVICE r12: a groupBy-count over state rows counted distinct
    # balances, not customers, and asserted nothing — removed; the
    # F.sum("cnt") below is the meaningful replay-fence check)
    state_n = (
        spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    )
    assert state_n == len(rows), (state_n, len(rows))
    # availableNow restart over the same checkpoint with no new files:
    # the fence must keep the state unchanged
    q = jobs.balance_deciles_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    state_n2 = (
        spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    )
    assert state_n2 == len(rows), (state_n2, len(rows))


def test_revenue_gini_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live inequality monitor: replay the lineitem table in two waves
    through revenue_gini_job (stream-static broadcast against the
    supplier→nation dim); the final snapshot must equal the batch
    supplier_revenue_gini row for row — revenue sums are exact
    decimals, so the additive fold converges bit-for-bit under any
    trigger slicing. A corrupt line must be dropped, not crash."""
    import json

    from edu_online_spark.operators.analytics import supplier_revenue_gini
    from edu_online_spark.sources import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    dim = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    lines = [
        json.dumps(
            {
                "l_suppkey": r["l_suppkey"],
                "l_extendedprice": str(r["l_extendedprice"]),
                "l_discount": str(r["l_discount"]),
            }
        )
        for r in lineitem.select(
            "l_suppkey", "l_extendedprice", "l_discount"
        ).collect()
    ] + ["corrupt {"]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.revenue_gini_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]], supplier_dim=dim,
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["n_suppliers", "total_revenue", "gini"]
    streamed = {
        r["nation"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["nation"]: tuple(r[c] for c in cols)
        for r in supplier_revenue_gini(lineitem, supplier, nation).collect()
    }
    assert streamed == batch
    # state is population-bounded: one row per supplier that shipped
    n_state = spark.read.parquet(out + ".state").count()
    n_sup = (
        lineitem.select("l_suppkey").distinct().count()
    )
    assert n_state == n_sup


def test_revenue_gini_replay_fence_prevents_double_count(
    spark, sf_dir, tmp_path
):
    """The revenue fold is ADDITIVE, so the last_batch_id fence is a
    correctness guard: an availableNow restart over the same
    checkpoint with no new files must leave every supplier's revenue
    (and therefore the snapshot Gini) unchanged."""
    import json

    from edu_online_spark.sources import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    dim = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    rows = lineitem.select(
        "l_suppkey", "l_extendedprice", "l_discount"
    ).limit(300).collect()
    lines = [
        json.dumps(
            {
                "l_suppkey": r["l_suppkey"],
                "l_extendedprice": str(r["l_extendedprice"]),
                "l_discount": str(r["l_discount"]),
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(
        jobs.revenue_gini_job, spark, src, out, ckpt, [lines],
        supplier_dim=dim,
    )
    total = spark.read.parquet(out + ".state").agg(F.sum("revenue")).first()[0]
    q = jobs.revenue_gini_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        supplier_dim=dim,
        available_now=True,
    )
    q.awaitTermination(120)
    total2 = spark.read.parquet(out + ".state").agg(F.sum("revenue")).first()[0]
    assert total2 == total, (total2, total)


def test_activity_gini_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live traffic concentration: replay the events table in two
    waves; the final snapshot equals the batch user_activity_gini row
    for row (the two modes share activity_gini_report, and the count
    fold is associative). A corrupt line is dropped, not crashed on."""
    import json

    from edu_online_spark.operators.analytics import user_activity_gini

    events = load_table(spark, sf_dir, "events")
    lines = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
            }
        )
        for r in events.select("event_id", "user_id", "event_type").collect()
    ] + ["corrupt {"]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.activity_gini_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["n_users", "total_events", "gini", "top_decile_share"]
    streamed = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in user_activity_gini(events).collect()
    }
    assert streamed == batch
    # state is population-bounded: one row per (type, user) seen
    n_state = spark.read.parquet(out + ".state").count()
    n_tu = events.select("event_type", "user_id").distinct().count()
    assert n_state == n_tu


def test_activity_gini_replay_fence_prevents_double_count(
    spark, sf_dir, tmp_path
):
    """The count fold is ADDITIVE: an availableNow restart over the
    same checkpoint with no new files must leave total counted events
    (and therefore the snapshot) unchanged."""
    import json

    from edu_online_spark.sources import load_table as _lt

    events = _lt(spark, sf_dir, "events")
    rows = events.select("event_id", "user_id", "event_type").limit(300).collect()
    lines = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.activity_gini_job, spark, src, out, ckpt, [lines])
    total = spark.read.parquet(out + ".state").agg(F.sum("c")).first()[0]
    assert total == len(rows)
    q = jobs.activity_gini_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    total2 = spark.read.parquet(out + ".state").agg(F.sum("c")).first()[0]
    assert total2 == len(rows), (total2, len(rows))


def test_activity_gini_recovers_half_committed_state(spark, sf_dir, tmp_path):
    """A crash between the state swap's two renames leaves `out.state`
    absent with the complete state in `out.state.__staging__`. The next
    trigger must promote it before reading, not restart from its own
    wave: the newest snapshot equals the batch user_activity_gini over
    all three waves, and every event is counted exactly once."""
    import json

    from edu_online_spark.operators.analytics import user_activity_gini

    events = load_table(spark, sf_dir, "events")
    rows = events.select("event_id", "user_id", "event_type").limit(600).collect()
    lines = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    third = len(lines) // 3
    _replay(
        jobs.activity_gini_job, spark, src, out, ckpt,
        [lines[:third], lines[third : 2 * third]],
    )
    state = out + ".state"
    os.rename(state, state + ".__staging__")
    assert not os.path.exists(state)
    with open(os.path.join(src, "wave2.log"), "w") as f:
        f.write("\n".join(lines[2 * third :]) + "\n")
    q = jobs.activity_gini_job(
        file_stream(spark, src), out, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(state).agg(F.sum("c")).first()[0] == len(rows)
    newest = max(
        int(d.split("=")[1]) for d in os.listdir(out) if d.startswith("ingest_batch=")
    )
    cols = ["n_users", "total_events", "gini", "top_decile_share"]
    streamed = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(
            os.path.join(out, f"ingest_batch={newest}")
        ).collect()
    }
    batch = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in user_activity_gini(
            spark.createDataFrame(rows).select("event_type", "user_id")
        ).collect()
    }
    assert streamed == batch


def test_daily_mad_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live robust volume screen: replay the events table in two
    waves; the final snapshot equals the batch daily_mad_anomalies row
    for row (shared mad_report + associative count fold). A corrupt
    line is dropped, not crashed on."""
    import json

    from edu_online_spark.operators.analytics import daily_mad_anomalies

    events = load_table(spark, sf_dir, "events")
    lines = [
        json.dumps({"event_id": r["event_id"], "ts": str(r["ts"])})
        for r in events.select("event_id", "ts").collect()
    ] + ["corrupt {"]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.daily_mad_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["cnt", "median_cnt", "mad", "is_anomaly", "robust_z"]
    streamed = {
        r["day"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["day"]: tuple(r[c] for c in cols)
        for r in daily_mad_anomalies(events).collect()
    }
    assert streamed == batch
    # mid-stream verdicts shift with the baseline: the wave-1 snapshot
    # was computed over wave-1's calendar only, and the final one over
    # everything — the re-screen-per-trigger design, not an error
    n_state = spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    assert n_state == events.count()


def test_daily_mad_replay_fence_prevents_double_count(spark, sf_dir, tmp_path):
    """Additive day counts under the fence: an availableNow restart
    over the same checkpoint with no new files leaves the calendar
    histogram unchanged."""
    import json

    events = load_table(spark, sf_dir, "events")
    rows = events.select("event_id", "ts").limit(300).collect()
    lines = [
        json.dumps({"event_id": r["event_id"], "ts": str(r["ts"])})
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.daily_mad_job, spark, src, out, ckpt, [lines])
    total = spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    assert total == len(rows)
    q = jobs.daily_mad_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    total2 = spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    assert total2 == len(rows), (total2, len(rows))


def test_daily_cusum_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live level-shift screen: replay the events table in two waves;
    the final snapshot equals the batch cusum_level_shift row for row
    (shared cusum_report + the same additive calendar fold the MAD
    twin uses). A corrupt line is dropped, not crashed on."""
    import json

    from edu_online_spark.operators.analytics import cusum_level_shift

    events = load_table(spark, sf_dir, "events")
    lines = [
        json.dumps({"event_id": r["event_id"], "ts": str(r["ts"])})
        for r in events.select("event_id", "ts").collect()
    ] + ["corrupt {"]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.daily_cusum_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["cnt", "cusum_pos", "cusum_neg", "shift_flag"]
    streamed = {
        r["day"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["day"]: tuple(r[c] for c in cols)
        for r in cusum_level_shift(events).collect()
    }
    assert streamed == batch
    n_state = spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    assert n_state == events.count()


def test_daily_cusum_replay_fence_prevents_double_count(
    spark, sf_dir, tmp_path
):
    """Additive day counts under the shared fence: an availableNow
    restart over the same checkpoint with no new files leaves the
    calendar histogram (and therefore every CUSUM) unchanged."""
    import json

    events = load_table(spark, sf_dir, "events")
    rows = events.select("event_id", "ts").limit(300).collect()
    lines = [
        json.dumps({"event_id": r["event_id"], "ts": str(r["ts"])})
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.daily_cusum_job, spark, src, out, ckpt, [lines])
    total = spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    assert total == len(rows)
    q = jobs.daily_cusum_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    total2 = spark.read.parquet(out + ".state").agg(F.sum("cnt")).first()[0]
    assert total2 == len(rows), (total2, len(rows))


def test_heavy_hitters_job_brackets_truth(spark, tmp_path):
    """Two-wave Zipfish stream: the TRUE heavy-hitter set (Counter
    reference at share > 1/capacity) must sit BETWEEN the job's two
    flags — every `guaranteed` token is truly heavy (soundness) and
    every truly heavy token is an `is_candidate` (completeness, the
    mergeable-MG bound) — and est is always a lower bound on the true
    count. capacity=4 on an 8-word vocabulary forces real decrements."""
    import json
    from collections import Counter

    docs1 = (
        ["alpha beta alpha alpha"] * 6
        + ["gamma delta", "eps zeta", "eta theta"]
    )
    docs2 = ["alpha beta beta"] * 5 + ["gamma gamma eps", "zeta eta"]
    lines1 = [json.dumps({"doc_id": str(i), "text": t})
              for i, t in enumerate(docs1)] + ["corrupt {"]
    lines2 = [json.dumps({"doc_id": str(100 + i), "text": t})
              for i, t in enumerate(docs2)]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "hh"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(
        jobs.heavy_hitters_job, spark, src, out, ckpt,
        [lines1, lines2], capacity=4,
    )
    exact = Counter(
        w for t in docs1 + docs2 for w in t.split()
    )
    n = sum(exact.values())
    truly_heavy = {t for t, c in exact.items() if c * 4 > n}
    all_rows = spark.read.parquet(out).collect()
    # the NULL-token sentinel (ADVICE r13) carries the totals too
    assert all(r["n_tokens"] == n for r in all_rows)
    rows = {r["token"]: r for r in all_rows if r["token"] is not None}
    for t, r in rows.items():
        assert r["est"] <= exact[t], (t, r["est"], exact[t])
        if r["guaranteed"]:
            assert t in truly_heavy, t
        if r["guaranteed"]:
            assert r["is_candidate"], t
    for t in truly_heavy:
        assert t in rows and rows[t]["is_candidate"], t


def test_heavy_hitters_replay_fence_prevents_double_count(
    spark, tmp_path
):
    """The MG fold is additive: an availableNow restart over the same
    checkpoint with no new files leaves n_tokens and every counter
    unchanged."""
    import json

    lines = [
        json.dumps({"doc_id": str(i), "text": "alpha beta alpha"})
        for i in range(10)
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "hh"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.heavy_hitters_job, spark, src, out, ckpt, [lines])
    before = {
        r["token"]: (r["est"], r["n_tokens"])
        for r in spark.read.parquet(out).collect()
    }
    assert before["alpha"] == (20, 30)
    assert before[None] == (None, 30)  # sentinel totals row
    q = jobs.heavy_hitters_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    after = {
        r["token"]: (r["est"], r["n_tokens"])
        for r in spark.read.parquet(out).collect()
    }
    assert after == before


def test_heavy_hitters_empty_trim_keeps_totals_and_fence(spark, tmp_path):
    """ADVICE r13 (medium): a trigger whose rank-trim keeps ZERO
    counters — capacity+1 all-tied singleton tokens — must still
    persist (n_tokens, last_batch_id). Wave 1 (capacity=2, three tied
    tokens) empties the summary; wave 2 must see n_tokens accumulate
    from 3, not reset to 0, and a replay restart must stay fenced."""
    import json

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "hh"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    wave1 = [json.dumps({"doc_id": "1", "text": "aa bb cc"})]
    wave2 = [json.dumps({"doc_id": "2", "text": "aa aa aa aa bb"})]
    _replay(
        jobs.heavy_hitters_job, spark, src, out, ckpt,
        [wave1], capacity=2,
    )
    snap1 = spark.read.parquet(out).collect()
    # trim emptied the counter set; only the sentinel row remains
    assert [r["token"] for r in snap1] == [None]
    assert snap1[0]["n_tokens"] == 3
    with open(os.path.join(src, "wave-second.log"), "w") as f:
        f.write("\n".join(wave2) + "\n")
    q = jobs.heavy_hitters_job(
        file_stream(spark, src),
        out,
        ckpt,
        capacity=2,
        available_now=True,
    )
    q.awaitTermination(120)
    rows = {
        r["token"]: r for r in spark.read.parquet(out).collect()
    }
    assert all(r["n_tokens"] == 8 for r in rows.values()), rows
    assert rows["aa"]["est"] == 4
    # fence: an availableNow restart with no new files changes nothing
    q = jobs.heavy_hitters_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        capacity=2,
        available_now=True,
    )
    q.awaitTermination(120)
    after = {
        r["token"]: r["n_tokens"]
        for r in spark.read.parquet(out).collect()
    }
    assert after == {t: 8 for t in rows}, after


def test_activation_survival_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live KM curve: replay the events table in two waves; the final
    snapshot equals the batch activation_survival row for row (shared
    survival_report + idempotent min/max state fold). A corrupt line
    is dropped, not crashed on."""
    import json

    from edu_online_spark.operators.analytics import activation_survival

    events = load_table(spark, sf_dir, "events")
    lines = [
        json.dumps(
            {
                "event_id": str(r["event_id"]),
                "user_id": str(r["user_id"]),
                "event_type": r["event_type"],
                "ts": str(r["ts"]),
            }
        )
        for r in events.select(
            "event_id", "user_id", "event_type", "ts"
        ).collect()
    ] + ["corrupt {"]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.activation_survival_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["n_at_risk", "d_events", "c_censored", "survival"]
    streamed = {
        r["t_days"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["t_days"]: tuple(r[c] for c in cols)
        for r in activation_survival(events).collect()
    }
    assert streamed == batch
    n_state = spark.read.parquet(out + ".state").count()
    assert n_state == events.select("user_id").distinct().count()


def test_activation_survival_duplicate_wave_is_idempotent(spark, tmp_path):
    """The state fold is min/min/max — IDEMPOTENT: re-delivering the
    exact same content as a new file re-folds to the same state and
    the same curve (the property that lets this job run fence-free)."""
    import json

    d = "2024-05-01 12:00:00"
    lines = [
        json.dumps({"event_id": "0", "user_id": "1", "event_type": "view", "ts": d}),
        json.dumps({"event_id": "1", "user_id": "1", "event_type": "purchase",
                    "ts": "2024-05-02 12:00:00"}),
        json.dumps({"event_id": "2", "user_id": "2", "event_type": "view",
                    "ts": "2024-05-03 12:00:00"}),
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(
        jobs.activation_survival_job, spark, src, out, ckpt,
        [lines, lines],  # second wave is the SAME content
    )
    state = {
        r["user_id"]: (r["first_us"], r["purchase_us"])
        for r in spark.read.parquet(out + ".state").collect()
    }
    assert len(state) == 2
    assert state[1][1] is not None and state[2][1] is None
    batches = sorted(
        int(x.split("=")[1])
        for x in os.listdir(out)
        if x.startswith("ingest_batch=")
    )
    first = spark.read.parquet(
        os.path.join(out, f"ingest_batch={batches[0]}")
    ).collect()
    last = spark.read.parquet(
        os.path.join(out, f"ingest_batch={batches[-1]}")
    ).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, last))


def test_ols_monitor_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live OLS: replay the lineitem table in two waves; the final
    snapshot's estimates equal the batch price_qty_ols row exactly
    (shared ols_estimates + exact decimal moment fold). A corrupt
    line is dropped, not crashed on."""
    import json

    from edu_online_spark.operators.analytics import price_qty_ols

    li = load_table(spark, sf_dir, "lineitem")
    lines = [
        json.dumps(
            {
                "rid": str(i),
                "quantity": str(r["l_quantity"]),
                "price": str(r["l_extendedprice"]),
            }
        )
        for i, r in enumerate(
            li.select("l_quantity", "l_extendedprice").collect()
        )
    ] + ["corrupt {"]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "ols"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(
        jobs.ols_monitor_job, spark, src, out, ckpt,
        [lines[:half], lines[half:]],
    )
    got = spark.read.parquet(out).first()
    want = price_qty_ols(li).first()
    assert got["n"] == want["n"]
    assert got["slope_cents_per_unit"] == want["slope_cents_per_unit"]
    assert got["intercept_cents"] == want["intercept_cents"]
    assert got["r2"] == want["r2"]


def test_ols_monitor_replay_fence_prevents_double_count(spark, tmp_path):
    """Moments are additive: an availableNow restart over the same
    checkpoint with no new files leaves n (and every estimate)
    unchanged."""
    import json

    lines = [
        json.dumps({"rid": str(i), "quantity": str(1 + i % 5),
                    "price": str((1 + i % 5) * 3.0 + 0.05)})
        for i in range(50)
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "ols"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.ols_monitor_job, spark, src, out, ckpt, [lines])
    before = spark.read.parquet(out).first()
    assert before["n"] == 50
    q = jobs.ols_monitor_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    after = spark.read.parquet(out).first()
    assert after["n"] == 50
    assert after["slope_cents_per_unit"] == before["slope_cents_per_unit"]


def test_ab_fdr_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live BH experiment monitor: replay the events table in two
    waves; the final snapshot equals the batch ab_fdr_bh row for row
    (shared fdr_bh_report over the folded (user, type) pair-minimum
    state). A corrupt line is dropped, not crashed on."""
    import json

    from edu_online_spark.operators.analytics import ab_fdr_bh

    events = load_table(spark, sf_dir, "events")
    lines = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
                "ts": str(r["ts"]),
            }
        )
        for r in events.select(
            "event_id", "user_id", "event_type", "ts"
        ).collect()
    ] + ["corrupt {"]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(jobs.ab_fdr_job, spark, src, out, ckpt,
            [lines[:half], lines[half:]])
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    cols = ["n_a", "conv_a", "n_b", "conv_b", "z", "m_tests",
            "bh_rank", "crit", "rejected"]
    streamed = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(final).collect()
    }
    batch = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in ab_fdr_bh(events).collect()
    }
    assert streamed == batch
    # state is the exact distinct (user, type) pair inventory
    n_state = spark.read.parquet(out + ".state").count()
    assert n_state == events.select("user_id", "event_type").distinct().count()


def test_ab_fdr_late_event_revokes_activation(spark, tmp_path):
    """The live-correctness property the pair-minimum fold buys: a
    LATE-arriving EARLIER event lowers a user's first_ts and must
    revoke activations that no longer fall inside the 24h window —
    exactly what the batch op computes on the full table. Wave 1:
    user 2's only event is type 'x' at T+30h → 'x' activates (it IS
    the first event). Wave 2 delivers the user's true first event
    (type 'base', at T) → first_ts drops by 30h and 'x' is no longer
    within 24h of it: conv for 'x' must drop from 1 to 0."""
    import json

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)

    def line(eid, uid, et, ts):
        return json.dumps(
            {"event_id": eid, "user_id": uid, "event_type": et, "ts": ts}
        )

    w1 = [
        line(0, 1, "base", "2024-05-01 00:00:00"),
        line(1, 2, "x", "2024-05-02 06:00:00"),  # T+30h — user 2's only event so far
    ]
    w2 = [line(2, 2, "base", "2024-05-01 00:00:00")]  # the late true first
    _replay(jobs.ab_fdr_job, spark, src, out, ckpt, [w1, w2])
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    assert len(batches) == 2  # both retained snapshots readable

    def snap(b):
        return {
            r["event_type"]: (r["conv_a"], r["conv_b"])
            for r in spark.read.parquet(
                os.path.join(out, f"ingest_batch={b}")
            ).collect()
        }

    snap1 = snap(batches[0])
    assert snap1["x"] == (1, 0)  # user 2 is arm A (even) and activated
    snap2 = snap(batches[-1])
    assert snap2["x"] == (0, 0)  # revoked: 30h > 24h from the true first
    assert snap2["base"] == (1, 1)  # user 2 (arm A) + user 1 (arm B)


def test_ab_fdr_replay_fence_prevents_refold(spark, sf_dir, tmp_path):
    """Restarting availableNow over the same checkpoint with no new
    files leaves the pair-minimum state untouched (min would no-op by
    algebra; the fence spares the work and keeps the twins uniform)."""
    import json

    events = load_table(spark, sf_dir, "events")
    rows = events.select(
        "event_id", "user_id", "event_type", "ts"
    ).limit(300).collect()
    lines = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
                "ts": str(r["ts"]),
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.ab_fdr_job, spark, src, out, ckpt, [lines])
    before = sorted(
        map(tuple, spark.read.parquet(out + ".state").collect())
    )
    q = jobs.ab_fdr_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    after = sorted(
        map(tuple, spark.read.parquet(out + ".state").collect())
    )
    assert after == before


def test_privacy_audit_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Live privacy trio: replay the events table in two waves; the
    final melted snapshot equals the three batch report functions row
    for row (shared code via the pair_counts= pass-throughs over the
    folded (class, user) count state). A corrupt line is dropped."""
    import json

    from edu_online_spark.operators.pii import (
        k_anonymity_report,
        l_diversity_report,
        t_closeness_report,
    )

    events = load_table(spark, sf_dir, "events")
    lines = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
                "ts": str(r["ts"]),
            }
        )
        for r in events.select(
            "event_id", "user_id", "event_type", "ts"
        ).collect()
    ] + ["corrupt {"]
    assert len(lines) > 100
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    half = len(lines) // 2
    _replay(jobs.privacy_audit_job, spark, src, out, ckpt,
            [lines[:half], lines[half:]])
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    )
    final = os.path.join(out, f"ingest_batch={batches[-1]}")
    snap = spark.read.parquet(final).collect()
    got = {
        d: sorted(
            (r["k"], r["t"], r["n1"], r["aux"], r["ratio"], r["flag"])
            for r in snap
            if r["diagnostic"] == d
        )
        for d in ("kanon", "ldiv", "tclose")
    }

    qi_proj = events.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
    kanon = k_anonymity_report(qi_proj, ["event_type", "day"])
    assert got["kanon"] == sorted(
        (str(r["class_size"]), None, r["n_classes"], None, None,
         r["violates_k"])
        for r in kanon.collect()
    )
    ldiv = l_diversity_report(qi_proj, ["event_type", "day"], "user_id")
    assert got["ldiv"] == sorted(
        (str(r["n_distinct_sensitive"]), None, r["n_classes"], None,
         None, r["violates_l"])
        for r in ldiv.collect()
    )
    tclose = t_closeness_report(qi_proj, ["event_type", "day"], "user_id")
    assert got["tclose"] == sorted(
        (r["event_type"], r["day"], r["n_rows"], r["sum_abs_dev"],
         r["tvd"], r["violates_t"])
        for r in tclose.collect()
    )
    # state is the exact (class, user) pair-count inventory
    n_state = spark.read.parquet(out + ".state").agg(F.sum("n_cu")).first()[0]
    assert n_state == events.count()


def test_privacy_audit_replay_fence_prevents_double_count(
    spark, sf_dir, tmp_path
):
    """Additive pair counts under the fence: an availableNow restart
    over the same checkpoint with no new files leaves the inventory
    (and therefore all three verdicts) unchanged."""
    import json

    events = load_table(spark, sf_dir, "events")
    rows = events.select(
        "event_id", "user_id", "event_type", "ts"
    ).limit(300).collect()
    lines = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
                "ts": str(r["ts"]),
            }
        )
        for r in rows
    ]
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    _replay(jobs.privacy_audit_job, spark, src, out, ckpt, [lines])
    total = spark.read.parquet(out + ".state").agg(F.sum("n_cu")).first()[0]
    assert total == len(rows)
    q = jobs.privacy_audit_job(
        file_stream(spark, src, max_files_per_trigger=1),
        out,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    total2 = spark.read.parquet(out + ".state").agg(F.sum("n_cu")).first()[0]
    assert total2 == len(rows), (total2, len(rows))
