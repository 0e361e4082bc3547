"""Streaming jobs end-to-end with file sources + availableNow triggers:
windowed counts, running totals, stateful mastery across triggers, the
T7 replay-idempotency regression, and archival layout."""

from __future__ import annotations

import os

from edu_online_spark.streaming import jobs
from edu_online_spark.streaming.sources import file_stream

REG_LINES_1 = [
    "u1\t1\t2026-08-13 10:00:01",
    "u2\t1\t2026-08-13 10:00:02",
    "u3\t2\t2026-08-13 10:00:03",
]
REG_LINES_2 = [
    "u4\t1\t2026-08-13 10:01:01",
    "u5\t9\t2026-08-13 10:01:02",
]


def _write_lines(d: str, name: str, lines: list[str]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def _run(job_fn, spark, src_dir, out, ckpt, **kw):
    q = job_fn(file_stream(spark, src_dir), out, ckpt, available_now=True, **kw)
    q.awaitTermination(120)


def test_register_totals_accumulate_across_triggers(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", REG_LINES_1)
    _run(jobs.register_totals_job, spark, src, out, ckpt)
    t1 = {r["platform"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert t1 == {"PC": 2, "APP": 1}

    # second batch arrives; state store carries the running totals (A2)
    _write_lines(src, "b2.txt", REG_LINES_2)
    _run(jobs.register_totals_job, spark, src, out, ckpt)
    t2 = {r["platform"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert t2 == {"PC": 3, "APP": 1, "Other": 1}


def test_register_totals_restart_keeps_checkpoint_partitions(spark, tmp_path):
    """A checkpoint keeps the shuffle-partition count it was created
    with: restarting under a different spark.sql.shuffle.partitions
    reads the same state stores, so existing checkpoints survive a
    change of the default."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    created = spark.conf.get("spark.sql.shuffle.partitions")
    assert created != "3"
    _write_lines(src, "b1.txt", REG_LINES_1)
    _run(jobs.register_totals_job, spark, src, out, ckpt)
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        _write_lines(src, "b2.txt", REG_LINES_2)
        _run(jobs.register_totals_job, spark, src, out, ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", created)
    totals = {r["platform"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert totals == {"PC": 3, "APP": 1, "Other": 1}
    state = os.path.join(ckpt, "state", "0")
    assert len([d for d in os.listdir(state) if d.isdigit()]) == int(created)


def test_register_totals_state_job(spark, tmp_path):
    """applyInPandasWithState variant accumulates across triggers exactly
    like the declarative update-mode aggregation (A2/T3)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", REG_LINES_1)
    _run(jobs.register_totals_state_job, spark, src, out, ckpt)
    t1 = {r["platform"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert t1 == {"PC": 2, "APP": 1}
    _write_lines(src, "b2.txt", REG_LINES_2)
    _run(jobs.register_totals_state_job, spark, src, out, ckpt)
    t2 = {r["platform"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert t2 == {"PC": 3, "APP": 1, "Other": 1}


def test_register_replay_is_idempotent(spark, tmp_path):
    """T7 regression: re-running with the same checkpoint and no new data
    must not change the sink (the reference's read-merge-write doubled)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", REG_LINES_1)
    _run(jobs.register_totals_job, spark, src, out, ckpt)
    before = {r["platform"]: r["total"] for r in spark.read.parquet(out).collect()}
    _run(jobs.register_totals_job, spark, src, out, ckpt)  # replay, no new files
    after = {r["platform"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert after == before == {"PC": 2, "APP": 1}


def test_register_windowed_job(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", REG_LINES_1 + REG_LINES_2)
    _run(jobs.register_windowed_job, spark, src, out, ckpt)
    rows = spark.read.parquet(out).collect()
    # 3 PC events at 10:00:0x share 10 sliding windows; the window
    # containing all of minute 10:00 must count 2 PCs
    pc = [r for r in rows if r["platform"] == "PC"]
    assert any(r["cnt"] == 2 for r in pc)
    assert all(r["cnt"] <= 2 for r in pc)


QZ_B1 = [
    "1\t5\t7\tq1\t1\t2026-08-13 10:00:01",
    "1\t5\t7\tq2\t0\t2026-08-13 10:00:02",
]
QZ_B2 = [
    "1\t5\t7\tq2\t1\t2026-08-13 11:00:00",  # retry q2, now correct
    "1\t5\t7\tq3\t1\t2026-08-13 11:00:01",
]


def test_quiz_mastery_state_across_triggers(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", QZ_B1)
    _run(jobs.quiz_mastery_job, spark, src, out, ckpt)
    r1 = spark.read.parquet(out).collect()[0]
    assert r1["qz_sum"] == 2 and r1["qz_istrue"] == 1 and r1["qz_count"] == 2

    _write_lines(src, "b2.txt", QZ_B2)
    _run(jobs.quiz_mastery_job, spark, src, out, ckpt)
    r2 = spark.read.parquet(out).collect()[0]
    # state store accumulated: 4 attempts, 3 correct, 3 distinct questions
    assert r2["qz_sum"] == 4 and r2["qz_istrue"] == 3 and r2["qz_count"] == 3
    assert r2["questionids"] == "q1,q2,q3"
    assert r2["createtime"] == "2026-08-13 10:00:01"
    assert abs(r2["mastery_rate"] - (3 / 30.0) * 0.75) < 1e-12


def test_quiz_replay_is_idempotent(spark, tmp_path):
    """T7 for the mastery job: the reference's read-merge-write doubled
    counts on replay (QzPointStreaming.scala:142-163); checkpoint +
    keyed upsert must not."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", QZ_B1)
    _run(jobs.quiz_mastery_job, spark, src, out, ckpt)
    before = spark.read.parquet(out).collect()[0]
    _run(jobs.quiz_mastery_job, spark, src, out, ckpt)  # no new data
    after = spark.read.parquet(out).collect()[0]
    assert (after["qz_sum"], after["qz_istrue"]) == (
        before["qz_sum"],
        before["qz_istrue"],
    ) == (2, 1)


def test_page_flow_job(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"uid":"1","last_page_id":"1","page_id":"2"}',
            '{"uid":"2","last_page_id":"1","page_id":"2"}',
            '{"uid":"3","last_page_id":"2","page_id":"3"}',
            "garbage not json",
        ],
    )
    _run(jobs.page_flow_job, spark, src, out, ckpt)
    flows = {
        (r["last_page_id"], r["page_id"]): r["cnt"]
        for r in spark.read.parquet(out).collect()
    }
    assert flows[("1", "2")] == 2 and flows[("2", "3")] == 1


def test_user_session_job(spark, tmp_path):
    """Two bursts 40 min apart → two sessions for u1 once the watermark
    (advanced by a later event) closes them."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            "u1\t1\t2026-08-13 10:00:00",
            "u1\t1\t2026-08-13 10:05:00",
            "u1\t1\t2026-08-13 10:45:00",  # 40 min gap → new session
            "u9\t1\t2026-08-13 23:00:00",  # watermark pusher
        ],
    )
    _run(jobs.user_session_job, spark, src, out, ckpt)
    rows = [r for r in spark.read.parquet(out).collect() if r["user_id"] == "u1"]
    assert sorted(r["n_events"] for r in rows) == [1, 2]


def test_rawlog_archive_partitions(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", ["line-a", "line-b"])
    _run(jobs.rawlog_archive_job, spark, src, out, ckpt)
    df = spark.read.parquet(out)
    assert df.count() == 2
    assert "day" in df.columns  # day-partitioned layout (K4)
    days = os.listdir(out)
    assert any(d.startswith("day=") for d in days)


def test_page_transition_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream self-join: visits pair with their
    follow-up within the gap; a late event beyond the watermark is
    dropped, an in-window event still joins (T4 + the join shape)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"uid":"u1","last_page_id":"0","page_id":"1","ts":"2026-08-13 10:00:00"}',
            '{"uid":"u1","last_page_id":"1","page_id":"2","ts":"2026-08-13 10:02:00"}',
            '{"uid":"u1","last_page_id":"2","page_id":"3","ts":"2026-08-13 10:05:00"}',
            '{"uid":"u2","last_page_id":"1","page_id":"2","ts":"2026-08-13 10:03:00"}',
        ],
    )
    _run(jobs.page_transition_join_job, spark, src, out, ckpt)
    pairs = {
        (r["uid"], r["from_page"], r["to_page"], r["dwell_sec"])
        for r in spark.read.parquet(out).collect()
    }
    # u1: 1→2 (120s) and 2→3 (180s); u2's visit has no prior page-1 visit
    assert pairs == {("u1", "1", "2", 120), ("u1", "2", "3", 180)}

    _write_lines(
        src,
        "b2.txt",
        [
            # LATE: hours before the watermark (≈10:05 - 30s) → dropped
            '{"uid":"u1","last_page_id":"0","page_id":"1","ts":"2026-08-13 07:00:00"}',
            '{"uid":"u1","last_page_id":"7","page_id":"8","ts":"2026-08-13 07:00:10"}',
            # in-window follow-up of the wave-1 page-3 visit → joins
            '{"uid":"u1","last_page_id":"3","page_id":"4","ts":"2026-08-13 10:06:00"}',
        ],
    )
    _run(jobs.page_transition_join_job, spark, src, out, ckpt)
    pairs2 = {
        (r["uid"], r["from_page"], r["to_page"], r["dwell_sec"])
        for r in spark.read.parquet(out).collect()
    }
    assert ("u1", "3", "4", 60) in pairs2  # on-time event joined
    assert ("u1", "7", "8", 10) not in pairs2  # late pair dropped
    assert len(pairs2) == 3


def test_register_dedup_job_drops_replayed_records(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside a batch and
    across batches (within the watermark) are emitted once."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            "u1\t1\t2026-08-13 10:00:01",
            "u1\t1\t2026-08-13 10:00:01",  # in-batch duplicate
            "u2\t1\t2026-08-13 10:00:02",
        ],
    )
    _run(jobs.register_dedup_job, spark, src, out, ckpt)
    _write_lines(
        src,
        "b2.txt",
        [
            "u1\t1\t2026-08-13 10:00:01",  # cross-batch duplicate
            "u3\t2\t2026-08-13 10:00:03",  # new
        ],
    )
    _run(jobs.register_dedup_job, spark, src, out, ckpt)
    rows = sorted(
        (r["user_id"], r["create_time"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        ("u1", "2026-08-13 10:00:01"),
        ("u2", "2026-08-13 10:00:02"),
        ("u3", "2026-08-13 10:00:03"),
    ]


def test_register_region_enrich_stream_static_join(spark, tmp_path):
    """Stream-static join: every streamed registration picks up its
    dimension row; row count preserved, names resolved."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", REG_LINES_1 + REG_LINES_2)
    region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    from edu_online_spark.streaming.sources import file_stream

    q = jobs.register_region_enrich_job(
        file_stream(spark, src), region, out, ckpt, available_now=True
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5
    valid = {r["r_name"] for r in region.collect()}
    names = {r["r_name"] for r in rows}
    assert names and names <= valid


def test_page_toppages_complete_mode(spark, tmp_path):
    """Complete mode re-emits the full (tiny) top-k each trigger and
    accumulates counts across waves via the state store."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"uid":"1","last_page_id":"0","page_id":"A"}',
            '{"uid":"2","last_page_id":"0","page_id":"A"}',
            '{"uid":"3","last_page_id":"0","page_id":"B"}',
            '{"uid":"4","last_page_id":"0","page_id":"C"}',
            '{"uid":"5","last_page_id":"0","page_id":"D"}',
        ],
    )
    _run(jobs.page_toppages_job, spark, src, out, ckpt, k=2)
    top1 = [(r["page_id"], r["visits"]) for r in
            spark.read.parquet(out).orderBy("page_id").collect()]
    assert top1 == [("A", 2), ("B", 1)]  # deterministic tie-break on id

    # second wave flips the ranking; complete mode rewrites the sink
    _write_lines(src, "b2.txt", ['{"uid":"6","last_page_id":"0","page_id":"D"}',
                                 '{"uid":"7","last_page_id":"0","page_id":"D"}'])
    _run(jobs.page_toppages_job, spark, src, out, ckpt, k=2)
    top2 = [(r["page_id"], r["visits"]) for r in
            spark.read.parquet(out).orderBy("page_id").collect()]
    assert top2 == [("A", 2), ("D", 3)]


def test_user_idle_timeout_closes_state(spark, tmp_path):
    """ProcessingTimeTimeout: users idle past the deadline get a final
    'closed' record (emitted by a later batch with no data for them)
    and their state is removed."""
    import time

    def _run_idle(src, out, ckpt):
        q = jobs.user_idle_timeout_job(
            file_stream(spark, src), out, ckpt, idle_ms=1500, available_now=True
        )
        jobs.drain(q, 25)

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", ["u1\t1\t2026-08-13 10:00:01",
                                 "u1\t1\t2026-08-13 10:00:02",
                                 "u2\t2\t2026-08-13 10:00:03"])
    _run_idle(src, out, ckpt)
    opened = {(r["user_id"], r["status"], r["n_events"])
              for r in spark.read.parquet(out).collect()}
    assert ("u1", "open", 2) in opened and ("u2", "open", 1) in opened

    time.sleep(3)  # let both deadlines pass
    _write_lines(src, "b2.txt", ["u3\t1\t2026-08-13 10:01:01"])
    _run_idle(src, out, ckpt)
    rows = {(r["user_id"], r["status"]): r["n_events"]
            for r in spark.read.parquet(out).collect()}
    assert rows.get(("u1", "closed")) == 2
    assert rows.get(("u2", "closed")) == 1
    assert rows.get(("u3", "open")) == 1


def test_quiz_job_survives_poison_pill_record(spark, tmp_path):
    """One record with a non-numeric uid must be quarantined by the
    decoder, not abort the micro-batch: under ANSI mode a plain cast
    would throw CAST_INVALID_INPUT and crash-loop the query (VERDICT r2
    item 4 — a poison-pill regression test through the full job)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            "1\t5\t7\tq1\t1\t2026-08-13 10:00:01",
            "poison\t5\t7\tq1\t1\t2026-08-13 10:00:02",  # bad uid → dropped
            "1\t5\t7\tq2\t0\t2026-08-13 10:00:03",
        ],
    )
    _run(jobs.quiz_mastery_job, spark, src, out, ckpt)  # must not raise
    r = spark.read.parquet(out).collect()[0]
    assert r["qz_sum"] == 2 and r["qz_istrue"] == 1  # poison row excluded


def test_page_transition_job_survives_malformed_ts(spark, tmp_path):
    """A malformed `ts` in the page stream must be dropped by
    decode_page_log_ts, not kill the stream-stream join (the r2 red
    test's blast radius, end-to-end)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"uid":"u1","last_page_id":"0","page_id":"1","ts":"2026-08-13 10:00:00"}',
            '{"uid":"u1","last_page_id":"1","page_id":"2","ts":"garbage"}',  # dropped
            '{"uid":"u1","last_page_id":"1","page_id":"2","ts":"2026-08-13 10:02:00"}',
        ],
    )
    _run(jobs.page_transition_join_job, spark, src, out, ckpt)  # must not raise
    pairs = {
        (r["uid"], r["from_page"], r["to_page"])
        for r in spark.read.parquet(out).collect()
    }
    assert pairs == {("u1", "1", "2")}


def test_document_ingest_pipeline(spark, tmp_path):
    """Streaming training-data ingest end-to-end: malformed JSON and
    bad timestamps quarantined, short docs quality-filtered, duplicate
    CONTENT (different doc_id) dropped within the watermark, survivors
    archived under (lang, day) partitions."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    good = "alpha beta gamma delta epsilon zeta"
    _write_lines(
        src,
        "b1.txt",
        [
            f'{{"doc_id":"d1","text":"{good}","lang":"en","source":"s1","ts":"2026-08-13 10:00:00"}}',
            '{"doc_id":"d2","text":"too short","lang":"en","source":"s1","ts":"2026-08-13 10:00:01"}',
            f'{{"doc_id":"d3","text":"{good} extra","lang":"zh","source":"s2","ts":"2026-08-13 10:00:02"}}',
            "NOT JSON {{{",
            f'{{"doc_id":"d4","text":"{good} other","lang":"en","source":"s1","ts":"garbage"}}',
            # same content as d1, different doc_id → content-dedup drops it
            f'{{"doc_id":"d5","text":"{good}","lang":"en","source":"s3","ts":"2026-08-13 10:00:03"}}',
        ],
    )
    _run(jobs.document_ingest_job, spark, src, out, ckpt)
    rows = spark.read.parquet(out).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    assert set(by_doc) == {"d1", "d3"}  # d2 short, d4 bad ts, d5 duplicate
    assert by_doc["d3"]["lang"] == "zh"
    assert by_doc["d1"]["day"] == 20260813
    # partition layout is (lang, day) — prunable by a downstream job
    assert os.path.isdir(os.path.join(out, "lang=en")) and os.path.isdir(
        os.path.join(out, "lang=zh")
    )


def test_pii_scrub_job_redacts_in_stream(spark, tmp_path):
    """Streaming PII scrub: redaction happens before anything lands in
    the lake; corrupt JSON and malformed timestamps quarantined, not
    thrown (same poison-pill posture as document ingest)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"doc_id":"d1","text":"mail bob@corp.io from 10.0.0.7","lang":"en",'
            '"source":"s1","ts":"2026-08-13 10:00:00"}',
            '{"doc_id":"d2","text":"clean text","lang":"en","source":"s1",'
            '"ts":"2026-08-13 10:00:01"}',
            "NOT JSON {{{",
            '{"doc_id":"d3","text":"call 555-867-5309","lang":"en","source":"s1",'
            '"ts":"garbage"}',
        ],
    )
    _run(jobs.pii_scrub_job, spark, src, out, ckpt)
    by_doc = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(by_doc) == {"d1", "d2"}  # corrupt + bad-ts quarantined
    assert by_doc["d1"]["text"] == "mail [EMAIL] from [IP]"
    assert by_doc["d1"]["n_redactions"] == 2
    assert by_doc["d2"]["text"] == "clean text"
    assert by_doc["d2"]["n_redactions"] == 0


def test_vocabulary_stream_job_accumulates(spark, tmp_path):
    """Streaming wordcount: counts accumulate across triggers in the
    state store and upsert by token — the streaming twin of
    corpus_vocabulary_topk."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", ["spark spark flink", "spark  duck"])
    _run(jobs.vocabulary_stream_job, spark, src, out, ckpt)
    counts = {r["token"]: r["cnt"] for r in spark.read.parquet(out).collect()}
    assert counts == {"spark": 3, "flink": 1, "duck": 1}

    _write_lines(src, "b2.txt", ["duck spark"])
    _run(jobs.vocabulary_stream_job, spark, src, out, ckpt)
    counts = {r["token"]: r["cnt"] for r in spark.read.parquet(out).collect()}
    assert counts == {"spark": 4, "flink": 1, "duck": 2}


def test_quiz_mastery_under_rocksdb_state_store(spark, tmp_path):
    """The production state-store backend: RocksDB keeps streaming state
    off-heap and spillable — the HDFS-backed in-memory default caps
    state at executor heap, which a 100 TB keyed stream blows through.
    Same job, same semantics, state accumulating across triggers."""
    rocks = spark.newSession()
    rocks.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", QZ_B1)
    _run(jobs.quiz_mastery_job, rocks, src, out, ckpt)
    _write_lines(src, "b2.txt", QZ_B2)
    _run(jobs.quiz_mastery_job, rocks, src, out, ckpt)
    r = rocks.read.parquet(out).collect()[0]
    assert r["qz_sum"] == 4 and r["qz_istrue"] == 3 and r["qz_count"] == 3


def test_page_abandonment_outer_join_emits_unmatched(spark, tmp_path):
    """Stream-stream LEFT OUTER join semantics: matched visits emit as
    transitions immediately; a visit with no follow-up emits with
    abandoned=true only after the watermark passes from_ts + max_gap
    (the engine must PROVE no match can still arrive)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"uid":"u1","last_page_id":"0","page_id":"1","ts":"2026-08-13 10:00:00"}',
            '{"uid":"u1","last_page_id":"1","page_id":"2","ts":"2026-08-13 10:02:00"}',
            # u2 visits page 5 and never follows up → abandoned
            '{"uid":"u2","last_page_id":"0","page_id":"5","ts":"2026-08-13 10:00:30"}',
        ],
    )
    _run(jobs.page_abandonment_job, spark, src, out, ckpt)

    # wave 2 far in the future: watermark sails past every gap window
    _write_lines(
        src,
        "b2.txt",
        ['{"uid":"u9","last_page_id":"0","page_id":"9","ts":"2026-08-13 12:00:00"}'],
    )
    _run(jobs.page_abandonment_job, spark, src, out, ckpt)
    # one more trigger so the engine finalizes expired outer-join state
    _write_lines(
        src,
        "b3.txt",
        ['{"uid":"u9","last_page_id":"0","page_id":"9","ts":"2026-08-13 13:00:00"}'],
    )
    _run(jobs.page_abandonment_job, spark, src, out, ckpt)

    rows = spark.read.parquet(out).collect()
    matched = {(r["uid"], r["from_page"], r["to_page"]) for r in rows if not r["abandoned"]}
    abandoned = {(r["uid"], r["from_page"]) for r in rows if r["abandoned"]}
    assert ("u1", "1", "2") in matched
    assert ("u2", "5") in abandoned
    # u1's page-2 visit also had no follow-up → abandoned too
    assert ("u1", "2") in abandoned


def test_mixture_monitor_accumulates_per_source(spark, tmp_path):
    """Streaming token inventory: counts accumulate across triggers in
    the state store and upsert by source."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"doc_id":"d1","text":"a b c","source":"s1"}',
            '{"doc_id":"d2","text":"a b","source":"s2"}',
            "NOT JSON {{{",
        ],
    )
    _run(jobs.mixture_monitor_job, spark, src, out, ckpt)
    inv = {r["source"]: r for r in spark.read.parquet(out).collect()}
    assert inv["s1"]["n_docs"] == 1 and inv["s1"]["total_tokens"] == 3
    assert inv["s2"]["total_tokens"] == 2

    _write_lines(src, "b2.txt", ['{"doc_id":"d3","text":"x y z w","source":"s1"}'])
    _run(jobs.mixture_monitor_job, spark, src, out, ckpt)
    inv = {r["source"]: r for r in spark.read.parquet(out).collect()}
    assert inv["s1"]["n_docs"] == 2 and inv["s1"]["total_tokens"] == 7
    assert inv["s2"]["total_tokens"] == 2


def test_user_status_scd2_emits_closed_intervals(spark, tmp_path):
    """Streaming SCD2: status changes close intervals exactly once,
    state carries the open interval across triggers, corrupt/malformed
    rows quarantined."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            '{"user_id":"u1","event_type":"view","ts":"2026-08-13 10:00:00"}',
            '{"user_id":"u1","event_type":"view","ts":"2026-08-13 10:05:00"}',
            '{"user_id":"u1","event_type":"purchase","ts":"2026-08-13 10:10:00"}',
            "NOT JSON",
            '{"user_id":"u2","event_type":"error","ts":"garbage"}',
        ],
    )
    _run(jobs.user_status_scd2_job, spark, src, out, ckpt)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1  # only the CLOSED view interval
    r = rows[0]
    # output schema is TIMESTAMP, matching the batch twin's
    assert (r["status"], str(r["valid_from"]), str(r["valid_to"])) == (
        "view",
        "2026-08-13 10:00:00",
        "2026-08-13 10:10:00",
    )

    # next trigger: a new status closes the open purchase interval; a
    # straggler older than the stored `since` is dropped, never spliced
    # into already-emitted history
    _write_lines(
        src,
        "b2.txt",
        [
            '{"user_id":"u1","event_type":"error","ts":"2026-08-13 11:00:00"}',
            '{"user_id":"u1","event_type":"view","ts":"2026-08-13 09:00:00"}',
        ],
    )
    _run(jobs.user_status_scd2_job, spark, src, out, ckpt)
    statuses = {
        (r["status"], str(r["valid_to"])) for r in spark.read.parquet(out).collect()
    }
    assert statuses == {
        ("view", "2026-08-13 10:10:00"),
        ("purchase", "2026-08-13 11:00:00"),
    }
    for r in spark.read.parquet(out).collect():
        assert r["valid_from"] <= r["valid_to"]


def test_user_status_scd2_tiebreak_matches_batch(spark, tmp_path):
    """Same-timestamp events order by event_id — the batch twin's
    contract — so the emitted interval sequence is deterministic."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src,
        "b1.txt",
        [
            # same ts; event_id order says view (e1) THEN purchase (e2)
            '{"user_id":"u1","event_type":"purchase","ts":"2026-08-13 10:00:00","event_id":"e2"}',
            '{"user_id":"u1","event_type":"view","ts":"2026-08-13 10:00:00","event_id":"e1"}',
            '{"user_id":"u1","event_type":"error","ts":"2026-08-13 10:30:00","event_id":"e3"}',
        ],
    )
    _run(jobs.user_status_scd2_job, spark, src, out, ckpt)
    rows = sorted(
        spark.read.parquet(out).collect(),
        key=lambda r: (r["valid_from"], r["valid_to"]),
    )
    assert [(r["status"], str(r["valid_from"]), str(r["valid_to"])) for r in rows] == [
        ("view", "2026-08-13 10:00:00", "2026-08-13 10:00:00"),
        ("purchase", "2026-08-13 10:00:00", "2026-08-13 10:30:00"),
    ]


def test_distinct_users_sketch_accumulates_and_is_exact_at_small_n(spark, tmp_path):
    """Two waves: the per-platform HLL sketches union across triggers;
    at these cardinalities HLL's sparse mode is exact, so estimates must
    EQUAL the true distincts (u2 re-registers in wave 2 on the same
    platform — a distinct count must not double-count it)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", REG_LINES_1)
    _run(jobs.distinct_users_sketch_job, spark, src, out, ckpt)
    t1 = {r["platform"]: r["distinct_users"] for r in spark.read.parquet(out).collect()}
    assert t1 == {"PC": 2, "APP": 1}

    _write_lines(src, "b2.txt", REG_LINES_2 + ["u2\t1\t2026-08-13 10:01:03"])
    _run(jobs.distinct_users_sketch_job, spark, src, out, ckpt)
    t2 = {r["platform"]: r["distinct_users"] for r in spark.read.parquet(out).collect()}
    # u2 already counted in wave 1: PC gains only u4 (u5 is platform 9=Other)
    assert t2 == {"PC": 3, "APP": 1, "Other": 1}


def test_streaming_sketch_replay_idempotent(spark, tmp_path):
    """HLL union is a register-wise max, so re-merging a replayed batch
    is algebraically a no-op — the sketch sink cannot double-count
    (contrast: the reference's read-add-write merge, T7)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.txt", REG_LINES_1)
    _run(jobs.distinct_users_sketch_job, spark, src, out, ckpt)
    before = sorted(
        (r["platform"], r["distinct_users"]) for r in spark.read.parquet(out).collect()
    )
    # simulate an at-least-once redelivery: merge the identical batch again,
    # bypassing the checkpoint (a fresh checkpoint dir replays the files)
    _run(jobs.distinct_users_sketch_job, spark, src, out, str(tmp_path / "ck2"))
    after = sorted(
        (r["platform"], r["distinct_users"]) for r in spark.read.parquet(out).collect()
    )
    assert after == before


def test_embedding_ingest_assigns_cells_and_partitions(spark, tmp_path):
    """Streaming embeddings land partitioned by their IVF cell, the
    assignment matches the batch quantizer, and malformed / wrong-dim
    lines are quarantined."""
    import json as _json

    import numpy as np

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    lines = [
        _json.dumps({"vec_id": 1, "embedding": [0.9, 0.1], "label": 0}),
        _json.dumps({"vec_id": 2, "embedding": [0.2, 0.8], "label": 1}),
        _json.dumps({"vec_id": 3, "embedding": [0.7, 0.6], "label": 0}),
        _json.dumps({"vec_id": 4, "embedding": [0.1], "label": 9}),  # wrong dim
        "corrupt line",
    ]
    _write_lines(src, "b1.jsonl", lines)
    q = jobs.embedding_ingest_job(
        file_stream(spark, src), cents, out, ckpt, available_now=True
    )
    q.awaitTermination(120)
    rows = {r["vec_id"]: r["cell"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: 0, 2: 1, 3: 0}  # 3 is nearer x-axis centroid
    # physical layout IS the inverted list: one dir per touched cell
    assert sorted(
        d for d in os.listdir(out) if d.startswith("cell=")
    ) == ["cell=0", "cell=1"]


def test_ingested_embedding_index_partition_prunes_probe(spark, tmp_path):
    """The payoff of index-on-ingest: a probe over the cell-partitioned
    archive plans with PartitionFilters on `cell` — only the probe
    cells' directories are read, never the whole corpus."""
    import json as _json

    import numpy as np

    from edu_online_spark.plans import explain_str

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    _write_lines(
        src,
        "b1.jsonl",
        [
            _json.dumps({"vec_id": i, "embedding": [float(i % 2), float(1 - i % 2)], "label": 0})
            for i in range(8)
        ],
    )
    jobs.embedding_ingest_job(
        file_stream(spark, src), cents, out, ckpt, available_now=True
    ).awaitTermination(120)

    probe = spark.read.parquet(out).filter("cell = 0")
    plan = explain_str(probe, "formatted")
    assert "PartitionFilters: [isnotnull(cell" in plan or "PartitionFilters: [(cell" in plan, plan
    assert probe.count() == 4


def _cms_doc_lines(docs):
    import json as _json

    return [_json.dumps({"doc_id": d, "text": t, "source": "s1"}) for d, t in docs]


def test_token_countmin_stream_matches_batch_cells(spark, tmp_path):
    """Stream↔batch parity for the CMS: after two waves (plus a corrupt
    line dropped on decode), the streamed cell grid equals
    countmin_cells over the union of the same documents' token counts."""
    from pyspark.sql import functions as F

    from edu_online_spark.operators.sketches import countmin_cells

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    wave1 = [("d1", "alpha beta alpha"), ("d2", "gamma beta")]
    wave2 = [("d3", "alpha delta"), ("d4", "epsilon")]
    _write_lines(src, "b1.jsonl", _cms_doc_lines(wave1) + ["corrupt {"])
    _run(jobs.token_countmin_job, spark, src, out, ckpt)
    _write_lines(src, "b2.jsonl", _cms_doc_lines(wave2))
    _run(jobs.token_countmin_job, spark, src, out, ckpt)

    streamed = {
        (r["row"], r["bucket"]): r["cell_cnt"]
        for r in spark.read.parquet(out).collect()
    }
    all_tokens = " ".join(t for _, t in wave1 + wave2).split()
    tc = (
        spark.createDataFrame([(t,) for t in all_tokens], ["token"])
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    expected = {
        (r["row"], r["bucket"]): r["cell_cnt"] for r in countmin_cells(tc).collect()
    }
    assert streamed == expected
    # total mass per row == total token occurrences (CMS row invariant)
    per_row = {}
    for (row, _), cnt in streamed.items():
        per_row[row] = per_row.get(row, 0) + cnt
    assert set(per_row.values()) == {len(all_tokens)}


def test_token_countmin_recovers_half_committed_sink(spark, tmp_path):
    """ADVICE r4 (medium): a crash between the publish renames leaves
    the live sink dir ABSENT with the complete state in .__staging__.
    The next trigger's merge must promote it BEFORE the existence
    check — otherwise the accumulated grid + replay watermark are
    silently discarded and the sink restarts from the new wave alone."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    wave1 = [("d1", "alpha beta alpha"), ("d2", "gamma beta")]
    wave2 = [("d3", "alpha delta")]
    _write_lines(src, "b1.jsonl", _cms_doc_lines(wave1))
    _run(jobs.token_countmin_job, spark, src, out, ckpt)
    # simulate the crash: live dir retired, complete staging not yet
    # promoted (the written sink carries parquet's _SUCCESS marker)
    os.rename(out, out + ".__staging__")
    assert not os.path.exists(out)
    _write_lines(src, "b2.jsonl", _cms_doc_lines(wave2))
    _run(jobs.token_countmin_job, spark, src, out, ckpt)
    per_row: dict[int, int] = {}
    for r in spark.read.parquet(out).collect():
        per_row[r["row"]] = per_row.get(r["row"], 0) + r["cell_cnt"]
    n_tokens = len(" ".join(t for _, t in wave1 + wave2).split())
    # every CMS row still carries the FULL token mass (wave1 + wave2)
    assert set(per_row.values()) == {n_tokens}


def test_token_countmin_replay_does_not_double_count(spark, tmp_path):
    """CMS merge is addition, not a max — replay safety must come from
    the batch-id bookkeeping: redelivering the same wave through a
    fresh checkpoint leaves the cells untouched."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _cms_doc_lines([("d1", "alpha beta alpha")]))
    _run(jobs.token_countmin_job, spark, src, out, ckpt)
    before = sorted(
        (r["row"], r["bucket"], r["cell_cnt"])
        for r in spark.read.parquet(out).collect()
    )
    _run(jobs.token_countmin_job, spark, src, out, str(tmp_path / "ck2"))
    after = sorted(
        (r["row"], r["bucket"], r["cell_cnt"])
        for r in spark.read.parquet(out).collect()
    )
    assert after == before


def test_length_drift_monitor_matches_batch_core(spark, tmp_path):
    """The streamed drift report after two waves equals
    drift_between_histograms(reference, histogram of ALL streamed
    docs) — the monitoring surface and the batch release gate share
    one comparison core, so thresholds transfer."""
    from pyspark.sql import functions as F

    from edu_online_spark.operators.textops import (
        drift_between_histograms,
        token_length_histogram,
    )

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    ref_docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([5, 8, 12, 15, 25])],
        ["doc_id", "text"],
    )
    reference = token_length_histogram(ref_docs, cnt_name="n_old")

    wave1 = [("d1", " ".join(["w"] * 6)), ("d2", " ".join(["w"] * 14))]
    wave2 = [("d3", " ".join(["w"] * 33))]
    _write_lines(src, "b1.jsonl", _cms_doc_lines(wave1) + ["not json"])
    q = jobs.length_drift_monitor_job(
        file_stream(spark, src), reference, out, ckpt, available_now=True
    )
    q.awaitTermination(120)
    _write_lines(src, "b2.jsonl", _cms_doc_lines(wave2))
    q = jobs.length_drift_monitor_job(
        file_stream(spark, src), reference, out, ckpt, available_now=True
    )
    q.awaitTermination(120)

    got = {
        r["bin"]: (r["n_old"], r["n_new"], r["p_old"], r["p_new"], r["chi2_term"])
        for r in spark.read.parquet(out).drop("last_batch_id").collect()
    }
    all_docs = spark.createDataFrame(
        [(d, t) for d, t in wave1 + wave2], ["doc_id", "text"]
    )
    want = {
        r["bin"]: (r["n_old"], r["n_new"], r["p_old"], r["p_new"], r["chi2_term"])
        for r in drift_between_histograms(
            reference, token_length_histogram(all_docs, cnt_name="n_new")
        ).collect()
    }
    assert got == want
    # the streamed side saw a bin the reference lacks (33 tokens -> bin 3)
    assert got[3][0] == 0 and got[3][4] is None


def test_length_drift_monitor_replay_guard(spark, tmp_path):
    """The drift monitor's cumulative histogram uses the same batch-id
    bookkeeping as the CMS job: redelivering the wave through a fresh
    checkpoint leaves both the histogram and the report untouched."""
    from edu_online_spark.operators.textops import token_length_histogram

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    ref = token_length_histogram(
        spark.createDataFrame([(1, "ref doc words here")], ["doc_id", "text"]),
        cnt_name="n_old",
    )
    _write_lines(src, "b1.jsonl", _cms_doc_lines([("d1", "alpha beta gamma")]))
    jobs.length_drift_monitor_job(
        file_stream(spark, src), ref, out, ckpt, available_now=True
    ).awaitTermination(120)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    jobs.length_drift_monitor_job(
        file_stream(spark, src), ref, out, str(tmp_path / "ck2"),
        available_now=True,
    ).awaitTermination(120)
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before


def test_record_linkage_job_resolves_on_ingest(spark, tmp_path):
    """Streamed dirty records resolve to the canonical ids through the
    same core as the batch linkage; garbage and unmatchable records
    produce no row."""
    import json as _json

    from pyspark.sql import functions as F

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    canonical = spark.createDataFrame(
        [
            (10, 1, "Customer#000000010|186384"),
            (11, 1, "Customer#000000011|254740"),
            (12, 2, "Customer#000000012|166732"),
        ],
        ["cand_key", "c_nation", "c_rec"],
    )
    lines = [
        # one digit perturbed -> should match 10
        _json.dumps({"rec_id": 900, "name": "Customer#000000010",
                     "nation": 1, "cents": "986384"}),
        # wrong nation for 12's block -> no candidates above threshold?
        # (name/cents of 12 but nation 1: blocked into nation 1, where
        # it still resembles 10/11 less than threshold... keep simple:
        # a truly alien record)
        _json.dumps({"rec_id": 901, "name": "Zz#9", "nation": 1,
                     "cents": "1"}),
        # missing nation -> quarantined, not silently dropped
        _json.dumps({"rec_id": 902, "name": "Customer#000000011",
                     "cents": "254740"}),
        "corrupt {",
    ]
    _write_lines(src, "b1.jsonl", lines)
    q = jobs.record_linkage_job(
        file_stream(spark, src), canonical, out, ckpt, available_now=True
    )
    q.awaitTermination(120)
    rows = {r["rec_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {900}
    assert rows[900]["matched_key"] == 10 and rows[900]["dice"] > 0.8
    quarantined = spark.read.parquet(out + ".quarantine").collect()
    # the null-nation record and the corrupt line both quarantine
    assert {r["rec_id"] for r in quarantined} == {902, None}
    assert all(r["batch_id"] is not None for r in quarantined)
    # replay from a fresh checkpoint: the rec_id-keyed upsert sink
    # rewrites the same keys — no duplicate match rows
    jobs.record_linkage_job(
        file_stream(spark, src), canonical, out, str(tmp_path / "ck2"),
        available_now=True,
    ).awaitTermination(120)
    replayed = spark.read.parquet(out).collect()
    assert len(replayed) == 1 and replayed[0]["rec_id"] == 900


def test_substring_scrub_job_masks_against_prior_ingest(spark, tmp_path):
    """Substring-dedup-on-ingest: a wave-2 document repeating a wave-1
    passage arrives masked; wave-1 docs (nothing before them) and
    fresh wave-2 text pass through; replay through a fresh checkpoint
    leaves both sinks unchanged (keyed upserts)."""
    import json as _json

    src = str(tmp_path / "src")
    spans, out, ckpt = (
        str(tmp_path / "spans"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    passage = " ".join(f"lic{i}" for i in range(18))
    fresh = " ".join(f"beta{i}" for i in range(16))

    def lines(docs):
        return [
            _json.dumps({"doc_id": d, "text": t, "source": "s1"})
            for d, t in docs
        ]

    _write_lines(src, "b1.jsonl", lines([(1, passage)]) + ["corrupt {"])
    jobs.substring_scrub_job(
        file_stream(spark, src, max_files_per_trigger=1),
        spans, out, ckpt, available_now=True,
    ).awaitTermination(120)
    _write_lines(src, "b2.jsonl", lines([(2, passage), (3, fresh)]))
    jobs.substring_scrub_job(
        file_stream(spark, src, max_files_per_trigger=1),
        spans, out, ckpt, available_now=True,
    ).awaitTermination(120)
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["n_removed"] == 0 and rows[1]["text_deduped"] == passage
    assert rows[2]["n_removed"] == 18 and rows[2]["text_deduped"] == ""
    assert rows[3]["n_removed"] == 0 and rows[3]["text_deduped"] == fresh
    # spans carry their FIRST ingest batch (first-wins, never restamped):
    # doc 2 re-contributing wave-1's passage must not bump its stamp
    span_rows = spark.read.parquet(spans).collect()
    assert min(r["ingest_batch"] for r in span_rows) == 0
    passage_spans = [r for r in span_rows if r["span"].startswith("lic0")]
    assert passage_spans and all(r["ingest_batch"] == 0 for r in passage_spans)
    # same-checkpoint rerun with no new data: both sinks unchanged
    jobs.substring_scrub_job(
        file_stream(spark, src), spans, out, ckpt, available_now=True
    ).awaitTermination(120)
    again = {r["doc_id"]: r["n_removed"] for r in spark.read.parquet(out).collect()}
    assert again == {1: 0, 2: 18, 3: 0}


def _budget_doc_lines(docs):
    import json as _json

    return [
        _json.dumps({"doc_id": d, "text": t, "source": s}) for d, s, t in docs
    ]


def test_token_budget_gate_accumulates_across_waves(spark, tmp_path):
    """The per-source quota must be CUMULATIVE: wave 2 docs are judged
    against tokens already admitted in wave 1, and a source that
    exhausted its budget admits nothing more."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    # s1: 6 tokens in wave 1, budget 10 → wave 2's 5-token doc is too big
    wave1 = [(1, "s1", "a b c d e f"), (2, "s2", "x y")]
    wave2 = [(3, "s1", "g h i j k"), (4, "s2", "z w v")]
    _write_lines(src, "b1.jsonl", _budget_doc_lines(wave1) + ["corrupt {"])
    _run(jobs.token_budget_gate_job, spark, src, out, ckpt, budget=10)
    _write_lines(src, "b2.jsonl", _budget_doc_lines(wave2))
    _run(jobs.token_budget_gate_job, spark, src, out, ckpt, budget=10)

    admitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert admitted == {1, 2, 4}  # doc 3 would push s1 to 11 > 10
    state = {
        r["source"]: r["used_tokens"]
        for r in spark.read.parquet(out + ".state").collect()
    }
    assert state == {"s1": 6, "s2": 5}


def test_token_budget_gate_replay_does_not_double_count(spark, tmp_path):
    """Redelivering the wave through a fresh checkpoint must change
    neither the admitted docs nor the state totals (T7 guard)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([(1, "s1", "a b c")]))
    _run(jobs.token_budget_gate_job, spark, src, out, ckpt, budget=10)
    before_docs = sorted(
        map(tuple, spark.read.parquet(out).select("doc_id", "cum_tokens").collect())
    )
    before_state = sorted(map(tuple, spark.read.parquet(out + ".state").collect()))
    _run(jobs.token_budget_gate_job, spark, src, out, str(tmp_path / "ck2"), budget=10)
    assert sorted(
        map(tuple, spark.read.parquet(out).select("doc_id", "cum_tokens").collect())
    ) == before_docs
    assert sorted(map(tuple, spark.read.parquet(out + ".state").collect())) == before_state


def test_token_budget_gate_recovers_half_committed_state(spark, tmp_path):
    """Crash between the state swap's publish renames: the next trigger
    must promote the staged state BEFORE reading, or the quota restarts
    from zero and over-admits."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([(1, "s1", "a b c d e f")]))
    _run(jobs.token_budget_gate_job, spark, src, out, ckpt, budget=10)
    state = out + ".state"
    os.rename(state, state + ".__staging__")
    assert not os.path.exists(state)
    _write_lines(src, "b2.jsonl", _budget_doc_lines([(3, "s1", "g h i j k")]))
    _run(jobs.token_budget_gate_job, spark, src, out, ckpt, budget=10)
    admitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert admitted == {1}  # doc 3 still rejected: 6 + 5 > 10 survived the crash
    st = {r["source"]: r["used_tokens"] for r in spark.read.parquet(state).collect()}
    assert st == {"s1": 6}


def test_shard_assign_continues_global_stream_across_waves(spark, tmp_path):
    """Wave 2's shard ids must continue from wave 1's running token
    total — not restart at shard 0 — and within each wave the layout
    must equal the batch operator's hash order."""
    from edu_online_spark.operators.textops import BUDGET_HASH_MOD

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    wave1 = [(i, "s0", " ".join(["w"] * 4)) for i in range(5)]       # 20 tokens
    wave2 = [(i, "s0", " ".join(["w"] * 3)) for i in range(10, 16)]  # 18 tokens
    _write_lines(src, "b1.jsonl", _budget_doc_lines(wave1) + ["corrupt {"])
    _run(jobs.shard_assign_job, spark, src, out, ckpt, shard_tokens=10)
    _write_lines(src, "b2.jsonl", _budget_doc_lines(wave2))
    _run(jobs.shard_assign_job, spark, src, out, ckpt, shard_tokens=10)

    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 11

    def h(doc_id):
        return (doc_id % 2147483647) * 2654435761 % BUDGET_HASH_MOD

    cum = 0
    for doc_id, _, text in sorted(wave1, key=lambda r: (h(r[0]), r[0])):
        start, cum = cum, cum + len(text.split())
        assert rows[doc_id]["cum_tokens"] == cum
        assert rows[doc_id]["shard_id"] == start // 10
    for doc_id, _, text in sorted(wave2, key=lambda r: (h(r[0]), r[0])):
        start, cum = cum, cum + len(text.split())
        assert rows[doc_id]["cum_tokens"] == cum  # continues, no restart
        assert rows[doc_id]["shard_id"] == start // 10
    st = spark.read.parquet(out + ".state").first()
    assert st["total_tokens"] == 38


def test_shard_assign_replay_is_idempotent(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([(1, "s0", "a b c")]))
    _run(jobs.shard_assign_job, spark, src, out, ckpt, shard_tokens=10)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    st_before = spark.read.parquet(out + ".state").first()
    _run(jobs.shard_assign_job, spark, src, out, str(tmp_path / "ck2"), shard_tokens=10)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    st = spark.read.parquet(out + ".state").first()
    assert st["total_tokens"] == st_before["total_tokens"]


def test_shard_assign_recovers_half_committed_state(spark, tmp_path):
    """Crash between the state swap's renames: the next trigger must
    promote the staged state BEFORE reading, or the stream restarts at
    offset 0 and re-issues shard ids already written."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([(1, "s0", "a b c d e f")]))
    _run(jobs.shard_assign_job, spark, src, out, ckpt, shard_tokens=4)
    state = out + ".state"
    os.rename(state, state + ".__staging__")
    _write_lines(src, "b2.jsonl", _budget_doc_lines([(2, "s0", "g h i")]))
    _run(jobs.shard_assign_job, spark, src, out, ckpt, shard_tokens=4)
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[2]["cum_tokens"] == 9      # 6 survived the crash, +3
    assert rows[2]["shard_id"] == 6 // 4   # starts in shard 1, not 0
    assert spark.read.parquet(state).first()["total_tokens"] == 9


def test_length_quantile_sketch_tracks_cumulative_stream(spark, tmp_path):
    """The published quantiles must reflect ALL waves (merged sketch),
    not just the last trigger, and the exact running count is exact."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    # wave 1: 50 docs of 10 tokens; wave 2: 50 docs of 90 tokens
    _write_lines(
        src, "b1.jsonl",
        _budget_doc_lines([(i, "s", " ".join(["w"] * 10)) for i in range(50)]),
    )
    _run(jobs.length_quantile_sketch_job, spark, src, out, ckpt)
    r1 = spark.read.parquet(out).first()
    assert r1["n_docs"] == 50 and r1["p50"] == 10.0
    _write_lines(
        src, "b2.jsonl",
        _budget_doc_lines(
            [(100 + i, "s", " ".join(["w"] * 90)) for i in range(50)]
        ),
    )
    _run(jobs.length_quantile_sketch_job, spark, src, out, ckpt)
    r2 = spark.read.parquet(out).first()
    assert r2["n_docs"] == 100
    assert r2["p25"] == 10.0 and r2["p95"] == 90.0  # both waves visible
    assert r2["p50"] in (10.0, 90.0)  # exact median sits on the step


def test_length_quantile_sketch_replay_and_recovery(spark, tmp_path):
    """Replay through a fresh checkpoint must not double-fold; a crash
    between the state swap's renames must be recovered before read."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src, "b1.jsonl",
        _budget_doc_lines([(i, "s", " ".join(["w"] * 5)) for i in range(20)]),
    )
    _run(jobs.length_quantile_sketch_job, spark, src, out, ckpt)
    _run(jobs.length_quantile_sketch_job, spark, src, out, str(tmp_path / "ck2"))
    assert spark.read.parquet(out).first()["n_docs"] == 20  # no double count
    sk = out + ".sk"
    os.rename(sk, sk + ".__staging__")
    _write_lines(
        src, "b2.jsonl",
        _budget_doc_lines([(50 + i, "s", " ".join(["w"] * 7)) for i in range(10)]),
    )
    _run(jobs.length_quantile_sketch_job, spark, src, out, ckpt)
    r = spark.read.parquet(out).first()
    assert r["n_docs"] == 30  # staged state promoted, not discarded
    assert spark.read.parquet(sk).first()["n_docs"] == 30


def test_length_quantile_sketch_replay_republishes_stale_report(
    spark, tmp_path
):
    """ADVICE r6: a crash between the state swap and the report publish
    leaves the report one batch behind; a fenced replay of the same
    trigger must re-derive the report from committed state rather than
    return early (an idle stream would otherwise serve the stale report
    forever)."""
    import shutil

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(
        src, "b1.jsonl",
        _budget_doc_lines([(i, "s", " ".join(["w"] * 5)) for i in range(20)]),
    )
    _run(jobs.length_quantile_sketch_job, spark, src, out, ckpt)
    # simulate the crash window: state committed, report publish lost
    shutil.rmtree(out)
    # fenced replay (fresh checkpoint, same input): state is already
    # folded (last_batch_id fence) — the report must still reappear
    _run(jobs.length_quantile_sketch_job, spark, src, out, str(tmp_path / "ck2"))
    r = spark.read.parquet(out).first()
    assert r["n_docs"] == 20 and r["p50"] == 5.0


def test_seen_filter_flags_reposted_content_across_waves(spark, tmp_path):
    """A wave-2 repost of wave-1 content (under a NEW doc_id) must be
    flagged probably_seen; fresh content must not. Within-trigger
    duplicates: first occurrence clean, second flagged."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", "alpha beta gamma"),
        (2, "s", "delta epsilon zeta"),
        (3, "s", "alpha beta gamma"),   # within-trigger dup of doc 1
    ]) + ["corrupt {"])
    _run(jobs.seen_filter_job, spark, src, out, ckpt)
    r1 = {r["doc_id"]: r["probably_seen"] for r in spark.read.parquet(out).collect()}
    assert r1[2] is False
    assert sorted([r1[1], r1[3]]) == [False, True]  # exactly one flagged
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (10, "s", "alpha beta gamma"),  # repost, new doc_id
        (11, "s", "eta theta iota"),    # fresh
    ]))
    _run(jobs.seen_filter_job, spark, src, out, ckpt)
    r2 = {r["doc_id"]: r["probably_seen"] for r in spark.read.parquet(out).collect()}
    assert r2[10] is True and r2[11] is False


def test_seen_filter_replay_and_bounded_state(spark, tmp_path):
    """Replay through a fresh checkpoint must re-emit identical rows;
    the bit state must stay well under the m bound and recover from a
    half-committed swap."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines(
        [(i, "s", f"text number {i}") for i in range(30)]
    ))
    _run(jobs.seen_filter_job, spark, src, out, ckpt, m=4096)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    _run(jobs.seen_filter_job, spark, src, out, str(tmp_path / "ck2"), m=4096)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    bits = out + ".bits"
    n_bits = spark.read.parquet(bits).count()
    assert n_bits <= 90  # 30 keys x 3 hashes, minus collisions
    os.rename(bits, bits + ".__staging__")
    _write_lines(src, "b2.jsonl", _budget_doc_lines([(50, "s", "text number 7")]))
    _run(jobs.seen_filter_job, spark, src, out, ckpt, m=4096)
    r = {r["doc_id"]: r["probably_seen"] for r in spark.read.parquet(out).collect()}
    assert r[50] is True  # staged bits promoted, repost still caught


def test_winnow_index_flags_embedded_passage_across_waves(spark, tmp_path):
    """A wave-2 doc embedding a wave-1 passage inside otherwise-new
    text must be flagged (the case the exact-key seen filter cannot
    catch); genuinely fresh text must not. Co-delivered overlapping
    docs flag each other via the trigger-local print counts."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    passage = "one two three four five six seven eight nine ten"
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", f"opening words here {passage} and closing material"),
        (2, "s", "completely unrelated document about other things entirely"),
    ]) + ["corrupt {"])
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    r1 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert not r1[1]["overlap_suspect"] and not r1[2]["overlap_suspect"]
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (10, "s", f"brand new framing text {passage} with different ending"),
        (11, "s", "still nothing in common with anything previously seen"),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    r2 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r2[10]["overlap_suspect"] and r2[10]["n_prior_hits"] >= 2
    assert not r2[11]["overlap_suspect"]


def test_winnow_index_codelivery_and_replay(spark, tmp_path):
    """Two overlapping docs in ONE trigger must both flag (trigger-
    local counts); replay through a fresh checkpoint re-emits identical
    rows (the partition-pruned probe excludes the replayed batch's own
    partition — idempotence is structural, no fence row); a crash that
    loses the index batch dir after the docs write is healed by the
    same replay."""
    import shutil

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    wave = [
        (1, "s", f"intro {passage} outro words"),
        (2, "s", f"other start {passage} other end"),
        (3, "s", "wholly distinct content with no repeated passages anywhere"),
    ]
    _write_lines(src, "b1.jsonl", _budget_doc_lines(wave))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    r = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert r[1]["overlap_suspect"] and r[2]["overlap_suspect"]
    assert not r[3]["overlap_suspect"]
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    _run(jobs.winnow_index_job, spark, src, out, str(tmp_path / "ck2"))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    # crash window: the wave-1 index partition is lost AFTER the docs
    # write — a fresh-checkpoint replay rewrites it byte-identically,
    # and a subsequent repost is then caught against the healed index
    idx = out + ".fpindex"
    shutil.rmtree(os.path.join(idx, "ingest_batch=0"))
    _run(jobs.winnow_index_job, spark, src, out, str(tmp_path / "ck3"))
    assert os.path.isdir(os.path.join(idx, "ingest_batch=0"))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    _write_lines(src, "b2.jsonl", _budget_doc_lines(
        [(20, "s", f"replayed framing {passage} trailing text")]
    ))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    r2 = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert r2[20]["overlap_suspect"]


def test_winnow_index_boilerplate_guard(spark, tmp_path):
    """ADVICE r7: a corpus-ubiquitous passage (license header in more
    than max_fp_df docs) must stop contributing hits — both for docs
    co-delivered with it and for every later arrival — while genuine
    low-df overlap keeps flagging."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    license_ = "licensed under the apache license version two point zero terms"
    quote = "to be or not to be that is the question here"
    wave1 = [
        (i, "s", f"doc number {i} unique frame {license_} distinct tail {i} words")
        for i in range(1, 5)  # 4 docs > max_fp_df=3 → ubiquitous
    ] + [
        (10, "s", f"first quoting text {quote} with original commentary"),
        (11, "s", f"second borrowing {quote} inside different analysis"),
    ]
    _write_lines(src, "b1.jsonl", _budget_doc_lines(wave1))
    _run(jobs.winnow_index_job, spark, src, out, ckpt, max_fp_df=3)
    r1 = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    for i in range(1, 5):  # license prints dropped by the guard
        assert not r1[i]["overlap_suspect"], i
    assert r1[10]["overlap_suspect"] and r1[11]["overlap_suspect"]
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (20, "s", f"late arrival framed {license_} with fresh surroundings"),
        (21, "s", f"third user of {quote} in yet another setting"),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt, max_fp_df=3)
    r2 = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert not r2[20]["overlap_suspect"]  # prior df 4 > 3 → no signal
    assert r2[21]["overlap_suspect"]      # quote df 2 ≤ 3 → real overlap


def test_compact_winnow_index_preserves_df_guard(spark, tmp_path):
    """Compaction folds batch partitions but must PRESERVE per-fp row
    multiplicity: the probe reads the per-fp row count as the print's
    document frequency, so a distinct() compaction would reset every
    ubiquitous print's df to 1 — silently re-enabling boilerplate
    false positives for the whole compacted corpus."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    license_ = "licensed under the apache license version two point zero terms"
    quote = "to be or not to be that is the question here"
    wave1 = [
        (i, "s", f"doc number {i} unique frame {license_} distinct tail {i} words")
        for i in range(1, 5)  # 4 docs > max_fp_df=3 → ubiquitous
    ] + [
        (10, "s", f"first quoting text {quote} with original commentary"),
        (11, "s", f"second borrowing {quote} inside different analysis"),
    ]
    _write_lines(src, "b1.jsonl", _budget_doc_lines(wave1))
    _run(jobs.winnow_index_job, spark, src, out, ckpt, max_fp_df=3)
    idx = out + ".fpindex"
    folded = jobs.compact_winnow_index(spark, idx)
    assert folded == 1
    assert os.listdir(idx) == ["ingest_batch=-1"]
    # idempotent: nothing left to fold
    assert jobs.compact_winnow_index(spark, idx) == 0
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (20, "s", f"late arrival framed {license_} with fresh surroundings"),
        (21, "s", f"third user of {quote} in yet another setting"),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt, max_fp_df=3)
    r2 = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert not r2[20]["overlap_suspect"]  # license df 4 > 3 survived compaction
    assert r2[21]["overlap_suspect"]      # quote df 2 ≤ 3 → real overlap


def test_compact_winnow_index_rerun_after_crash_never_doubles_df(
    spark, tmp_path
):
    """ADVICE r8: per-fp row count IS the document frequency, so a
    compaction crash must never let a RE-RUN double rows (inflated dfs
    trip max_fp_df and silently disable overlap detection). Simulate
    the three interruption points of the commit protocol — after the
    staging write + manifest publish, mid-delete, and after the
    rename-but-before-manifest-removal — and assert the re-run
    converges to the exact original per-fp multiset every time."""
    import json
    import shutil

    from pyspark.sql import functions as F

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    license_ = "licensed under the apache license version two point zero terms"
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (i, "s", f"doc number {i} unique frame {license_} distinct tail {i} words")
        for i in range(1, 4)
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (10, "s", f"late arrival framed {license_} with fresh surroundings"),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    idx = out + ".fpindex"

    def fp_counts(path):
        return {
            r["fp"]: r["n"]
            for r in spark.read.option("basePath", path).parquet(path)
            .groupBy("fp").agg(F.count("*").alias("n")).collect()
        }

    want = fp_counts(idx)
    batch_dirs = sorted(
        d for d in os.listdir(idx)
        if d.startswith("ingest_batch=") and d != "ingest_batch=-1"
    )
    assert len(batch_dirs) == 2

    def staged_copy(tag):
        """A copy of the index frozen at 'staging written, manifest
        published' — the exact state compact_winnow_index leaves if it
        dies at its commit point."""
        p = str(tmp_path / tag)
        shutil.copytree(idx, p)
        (
            spark.read.option("basePath", p).parquet(p).select("fp")
            .write.parquet(os.path.join(p, "_staging_compact"))
        )
        with open(os.path.join(p, "_compaction_manifest.json"), "w") as f:
            json.dump({"folded": batch_dirs}, f)
        return p

    # crash point 1: nothing deleted yet
    p1 = staged_copy("crash1")
    assert jobs.compact_winnow_index(spark, p1) == 2
    assert fp_counts(p1) == want
    assert sorted(os.listdir(p1)) == ["ingest_batch=-1"]

    # crash point 2: one folded dir already deleted
    p2 = staged_copy("crash2")
    shutil.rmtree(os.path.join(p2, batch_dirs[0]))
    assert jobs.compact_winnow_index(spark, p2) == 2
    assert fp_counts(p2) == want
    assert sorted(os.listdir(p2)) == ["ingest_batch=-1"]

    # crash point 3: rename done, manifest still on disk
    p3 = staged_copy("crash3")
    for d in batch_dirs:
        shutil.rmtree(os.path.join(p3, d))
    os.rename(
        os.path.join(p3, "_staging_compact"),
        os.path.join(p3, "ingest_batch=-1"),
    )
    assert jobs.compact_winnow_index(spark, p3) == 2
    assert fp_counts(p3) == want
    assert sorted(os.listdir(p3)) == ["ingest_batch=-1"]

    # and a clean run on the pristine index still folds + preserves df
    assert jobs.compact_winnow_index(spark, idx) == 2
    assert fp_counts(idx) == want


def _gopher_ok_text(seed: int, n: int = 30) -> str:
    """n distinct ~6-char words + stopwords interleaved: passes every
    Gopher rule (word count, mean length, top-share, stopwords)."""
    words = [f"word{seed}x{i}" for i in range(n - 4)]
    return " ".join(words + ["the", "and", "of", "to"])


def test_curation_ingest_composes_gate_budget_shard(spark, tmp_path):
    """The composed live pipeline: a gate-rejected doc must not consume
    budget; only budget-admitted tokens advance the global shard
    offset; wave 2 continues BOTH the per-source budget and the shard
    stream; every rejection lands in .rejects with its reason."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    good1, good2, good3 = (_gopher_ok_text(i) for i in (1, 2, 3))
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s1", good1),            # 30 tokens, admitted
        (2, "s1", "too short"),      # gate reject: must not touch budget
        (3, "s2", good2),            # admitted
    ]) + ["corrupt {"])
    _run(jobs.curation_ingest_job, spark, src, out, ckpt,
         budget=58, shard_tokens=40)
    docs = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(docs) == {1, 3}
    assert docs[1]["shard_id"] == 0            # offsets start at 0
    offs = sorted((docs[d]["global_offset"], d) for d in docs)
    assert offs[-1][0] == 60                   # 30 + 30 admitted tokens
    rej = {r["doc_id"]: r["drop_reason"]
           for r in spark.read.parquet(out + ".rejects").collect()}
    assert rej == {2: "word_count"}
    # wave 2: s1 has 30/58 used — another 30-token doc busts its budget;
    # s2's 25-token doc fits (30+25=55 ≤ 58) and its shard id continues
    # the global stream
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (10, "s1", good3),                     # budget reject (60 > 58)
        (11, "s2", _gopher_ok_text(4, 25)),    # 25 tokens, admitted
    ]))
    _run(jobs.curation_ingest_job, spark, src, out, ckpt,
         budget=58, shard_tokens=40)
    docs2 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(docs2) == {1, 3, 11}
    assert docs2[11]["global_offset"] == 85    # 60 + 25: stream continues
    assert docs2[11]["shard_id"] == 60 // 40   # starts at offset 60 → shard 1
    rej2 = {r["doc_id"]: r["drop_reason"]
            for r in spark.read.parquet(out + ".rejects").collect()}
    assert rej2 == {2: "word_count", 10: "budget"}


def test_curation_ingest_replay_idempotent(spark, tmp_path):
    """Replay through a fresh checkpoint must re-emit identical docs,
    rejects, and state (single atomic state table fences both the
    budget rows and the global-offset row together)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s1", _gopher_ok_text(7)),
        (2, "s2", _gopher_ok_text(8)),
    ]))
    _run(jobs.curation_ingest_job, spark, src, out, ckpt,
         budget=100, shard_tokens=25)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    state_before = sorted(
        map(tuple, spark.read.parquet(out + ".state").collect())
    )
    _run(jobs.curation_ingest_job, spark, src, out, str(tmp_path / "ck2"),
         budget=100, shard_tokens=25)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    assert sorted(
        map(tuple, spark.read.parquet(out + ".state").collect())
    ) == state_before


def test_winnow_index_compaction_preserves_annotations(spark, tmp_path):
    """Compacting the append-only print index must not change any
    future annotation: fold two waves' partitions into ingest_batch=-1,
    then a wave-3 repost must still flag exactly as it would have."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    passage = "uno due tre quattro cinque sei sette otto nove dieci"
    _write_lines(src, "b1.jsonl", _budget_doc_lines(
        [(1, "s", f"first framing {passage} first ending")]
    ))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    _write_lines(src, "b2.jsonl", _budget_doc_lines(
        [(2, "s", "second wave totally unrelated content entirely new")]
    ))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    idx = out + ".fpindex"
    folded = jobs.compact_winnow_index(spark, idx)
    assert folded == 2
    dirs = [d for d in os.listdir(idx) if d.startswith("ingest_batch=")]
    assert dirs == ["ingest_batch=-1"]
    _write_lines(src, "b3.jsonl", _budget_doc_lines([
        (30, "s", f"third framing {passage} third ending"),
        (31, "s", "still nothing previously seen anywhere in this text"),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    r = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert r[30]["overlap_suspect"] and not r[31]["overlap_suspect"]
    # idempotent: a second compaction folds the new batch dir too
    assert jobs.compact_winnow_index(spark, idx) == 1


def _near_copy_text(seed: str, n: int = 30, edit: int = -1) -> str:
    """n distinct seed-words; edit >= 0 swaps one word — shingle
    Jaccard stays far above the 0.5 LSH/verify threshold."""
    words = [f"{seed}{i}" for i in range(n)]
    if edit >= 0:
        words[edit] = f"edited{edit}"
    return " ".join(words)


def test_minhash_dedup_flags_later_near_copy(spark, tmp_path):
    """Near-dup-on-ingest: a wave-2 re-crawl that is a light edit of a
    wave-1 document is flagged against the PERSISTED signature index;
    the original and an unrelated doc stay clean. The streamed
    prior-pair verdicts agree with the batch cross-corpus twin."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    w1 = [(1, "s", _near_copy_text("alpha")),
          (2, "s", _near_copy_text("bravo"))]
    _write_lines(src, "b1.jsonl", _budget_doc_lines(w1))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    r1 = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert not r1[1]["near_dup_suspect"] and not r1[2]["near_dup_suspect"]

    w2 = [(10, "s", _near_copy_text("alpha", edit=3)),  # near-copy of 1
          (11, "s", _near_copy_text("charlie"))]        # fresh
    _write_lines(src, "b2.jsonl", _budget_doc_lines(w2))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    r2 = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert r2[10]["near_dup_suspect"] and r2[10]["n_prior_dups"] == 1
    assert not r2[11]["near_dup_suspect"]
    assert not r2[1]["near_dup_suspect"]  # wave-1 rows unchanged

    # twin agreement: the batch operator on (wave2, wave1) finds the
    # same single prior pair
    from edu_online_spark.operators.dedup import cross_corpus_minhash_pairs

    new = spark.createDataFrame(
        [(d, t, s) for d, s, t in w2], ["doc_id", "text", "source"]
    )
    corpus = spark.createDataFrame(
        [(d, t, s) for d, s, t in w1], ["doc_id", "text", "source"]
    )
    batch_pairs = {
        (r["new_id"], r["corpus_id"])
        for r in cross_corpus_minhash_pairs(new, corpus).collect()
    }
    assert batch_pairs == {(10, 1)}


def test_minhash_dedup_codelivery_min_keeps(spark, tmp_path):
    """Two near-identical docs in ONE trigger: the smaller doc_id is
    the canonical survivor (clean), the larger is flagged as a local
    dup — co-delivery cannot hide duplication, and the attribution
    matches near_dup_clusters' min-rep rule. A replay through the
    same checkpoint changes nothing."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (20, "s", _near_copy_text("delta")),
        (21, "s", _near_copy_text("delta", edit=5)),
        (22, "s", _near_copy_text("echo")),
    ]) + ["corrupt {"])
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    r = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert set(r) == {20, 21, 22}  # corrupt line dropped
    assert not r[20]["near_dup_suspect"]          # canonical min id
    assert r[21]["near_dup_suspect"] and r[21]["n_local_dups"] == 1
    assert not r[22]["near_dup_suspect"]
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)  # no new data
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_compact_minhash_index_preserves_annotations(spark, tmp_path):
    """Folding the signature index's batch partitions must not change
    any future verdict: compact after two waves, then a wave-3
    near-copy of a wave-1 doc must still flag exactly as it would
    have, and re-compaction folds the new batch dir."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("golf")),
    ]))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (2, "s", _near_copy_text("hotel")),
    ]))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    idx = out + ".sigindex"
    folded = jobs.compact_minhash_index(spark, idx)
    assert folded == 4  # 2 batch dirs x 2 relations
    for rel in ("bands", "shingles"):
        dirs = [d for d in os.listdir(os.path.join(idx, rel))
                if d.startswith("ingest_batch=")]
        assert dirs == ["ingest_batch=-1"], (rel, dirs)
    # idempotent: nothing left to fold
    assert jobs.compact_minhash_index(spark, idx) == 0
    _write_lines(src, "b3.jsonl", _budget_doc_lines([
        (30, "s", _near_copy_text("golf", edit=7)),   # near-copy of 1
        (31, "s", _near_copy_text("india")),
    ]))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    r = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert r[30]["near_dup_suspect"] and r[30]["n_prior_dups"] == 1
    assert not r[31]["near_dup_suspect"]
    # a second compaction folds the wave-3 partitions too
    assert jobs.compact_minhash_index(spark, idx) == 2


def _uncommit_last_batch(ckpt: str) -> None:
    """Simulate a crash AFTER a trigger's writes but BEFORE its
    checkpoint commit landed: delete the newest commits/<id> record
    (and its local-fs checksum twin) so a restart replays that batch
    with the same batch id and the same source file list."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_minhash_replay_after_compaction_does_not_self_match(
    spark, tmp_path
):
    """ADVICE r9 high: a redelivered trigger whose rows were folded
    into ingest_batch=-1 by an UNGATED offline compaction used to join
    against its own folded band/shingle rows and self-match at
    Jaccard 1.0 — two non-duplicate docs both came back
    near_dup_suspect=true with n_prior_dups=1. The probe's own-doc
    anti-join must keep the replayed annotation identical to the
    original."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("juliet")),
        (2, "s", _near_copy_text("kilo")),
    ]))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    # crash-before-commit, then the documented between-restarts
    # compaction — run WITHOUT the checkpoint gate
    _uncommit_last_batch(ckpt)
    assert jobs.compact_minhash_index(spark, out + ".sigindex") == 2
    # restart replays batch 0 against the folded index
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    r = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert not r[1]["near_dup_suspect"] and r[1]["n_prior_dups"] == 0
    assert not r[2]["near_dup_suspect"] and r[2]["n_prior_dups"] == 0
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_minhash_compaction_checkpoint_gate_skips_uncommitted(
    spark, tmp_path
):
    """The primary ADVICE r9 fix: compaction gated on the stream
    checkpoint refuses to fold a batch whose commit never landed (the
    batch a restart will replay), and folds it normally once the
    replay commits."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("lima")),
    ]))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    _uncommit_last_batch(ckpt)
    idx = out + ".sigindex"
    # gated: batch 0 is uncommitted -> nothing folds, dirs intact
    assert jobs.compact_minhash_index(spark, idx, checkpoint=ckpt) == 0
    assert os.path.isdir(os.path.join(idx, "bands", "ingest_batch=0"))
    # replay recommits batch 0; the gate now folds both relations
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    assert jobs.compact_minhash_index(spark, idx, checkpoint=ckpt) == 2


def test_winnow_replay_after_compaction_does_not_self_flag(
    spark, tmp_path
):
    """ADVICE r9 medium: the winnow twin of the minhash replay hazard.
    The fingerprint index stores no doc ids, so the guard is the
    `_folded_through` sidecar: when an ungated fold absorbed this
    trigger's own prints, the probe subtracts its deterministic local
    contribution (n_local per fp) back out of the prior df — the
    replayed annotation must be byte-identical to the original, both
    for fresh docs (which would otherwise self-flag every print) and
    for a co-delivered overlapping pair (whose folded df must not
    double)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    quote = "to be or not to be that is the question here"
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("mike")),
        (2, "s", _near_copy_text("november")),
        (10, "s", f"first quoting text {quote} with original commentary"),
        (11, "s", f"second borrowing {quote} inside different analysis"),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    r1 = {x["doc_id"]: x for x in spark.read.parquet(out).collect()}
    assert not r1[1]["overlap_suspect"] and not r1[2]["overlap_suspect"]
    assert r1[10]["overlap_suspect"] and r1[11]["overlap_suspect"]
    _uncommit_last_batch(ckpt)
    idx = out + ".fpindex"
    assert jobs.compact_winnow_index(spark, idx) == 1  # ungated fold
    _run(jobs.winnow_index_job, spark, src, out, ckpt)  # replay batch 0
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_winnow_compaction_checkpoint_gate_skips_uncommitted(
    spark, tmp_path
):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("oscar")),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    _uncommit_last_batch(ckpt)
    idx = out + ".fpindex"
    assert jobs.compact_winnow_index(spark, idx, checkpoint=ckpt) == 0
    assert os.path.isdir(os.path.join(idx, "ingest_batch=0"))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    assert jobs.compact_winnow_index(spark, idx, checkpoint=ckpt) == 1


def test_folded_through_sidecar_carries_across_folds(spark, tmp_path):
    """The sidecar must record the max batch id over ALL folds, not
    just the last one, and survive being re-folded."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("papa")),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    idx = out + ".fpindex"
    assert jobs.compact_winnow_index(spark, idx) == 1
    assert jobs._folded_through(idx) == 0
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (2, "s", _near_copy_text("quebec")),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    assert jobs.compact_winnow_index(spark, idx) == 1
    assert jobs._folded_through(idx) == 1


def test_minhash_committed_same_id_redelivery_still_flags(spark, tmp_path):
    """The own-doc anti-join must be CONDITIONAL on the replay-after-
    ungated-fold state: a same-doc-id redelivery across COMMITTED
    triggers is a legitimate exact repost and keeps flagging against
    the prior copy (the pre-round-10 behavior)."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("romeo")),
    ]))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    # committed; the same doc id arrives again in a later trigger
    _write_lines(src, "b2.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("romeo")),
    ]))
    _run(jobs.minhash_dedup_job, spark, src, out, ckpt)
    from pyspark.sql import functions as F

    r = {x["ingest_batch"]: x
         for x in spark.read.parquet(out).filter(F.col("doc_id") == 1).collect()}
    assert not r[0]["near_dup_suspect"]
    assert r[1]["near_dup_suspect"] and r[1]["n_prior_dups"] == 1


def test_compaction_recovery_steals_stale_lock(spark, tmp_path, monkeypatch):
    """A crashed commit-step holder leaves the lock dir behind; the
    next recovery must steal it past the timeout and finish the fold
    (serial re-entry of the commit step is idempotent)."""
    import json

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_lines(src, "b1.jsonl", _budget_doc_lines([
        (1, "s", _near_copy_text("sierra")),
    ]))
    _run(jobs.winnow_index_job, spark, src, out, ckpt)
    idx = out + ".fpindex"
    # drive the fold to the manifest-published point, then simulate a
    # holder that died with the lock taken
    monkeypatch.setattr(jobs, "_COMPACTION_LOCK_STEAL_S", 0.2)
    assert jobs.compact_winnow_index(spark, idx) == 1
    # re-create a mid-commit state by hand: stale lock + manifest for
    # an (already absent) dir — recovery must steal and clean up
    os.mkdir(os.path.join(idx, "_compaction_commit.lock"))
    with open(os.path.join(idx, "_compaction_manifest.json"), "w") as f:
        json.dump({"folded": []}, f)
    assert jobs._recover_compaction(idx) == 0  # nothing left to fold
    assert not os.path.exists(os.path.join(idx, "_compaction_manifest.json"))
    assert not os.path.exists(os.path.join(idx, "_compaction_commit.lock"))
