"""Sink contracts: partition-pruned parquet upsert and the DB-API
(MySQL-shaped) executor-side upsert, sqlite-backed for tests."""

from __future__ import annotations

import os
import sqlite3

from edu_online_spark.streaming import jobs, sinks
from edu_online_spark.streaming.sources import file_stream


def _bucket_files(path: str) -> dict[str, frozenset[tuple[str, float]]]:
    """partition dir → {(file, mtime)} — the fingerprint of what a
    trigger physically touched."""
    out = {}
    for d in os.listdir(path):
        if not d.startswith("_bucket="):
            continue
        full = os.path.join(path, d)
        out[d] = frozenset(
            (f, os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full)
            if not f.startswith(".")
        )
    return out


def test_parquet_upsert_touches_only_affected_buckets(spark, tmp_path):
    """The merge must be partition-pruned: a trigger whose keys hash
    into bucket B rewrites B and ONLY B — untouched buckets keep their
    exact files (names + mtimes)."""
    out = str(tmp_path / "sink")
    # few buckets so two keys land apart with near-certainty checked below
    sink = sinks.parquet_upsert(out, ["k"], num_buckets=8)

    b1 = spark.createDataFrame([(f"key{i}", i) for i in range(16)], ["k", "v"])
    sink(b1, 0)
    before = _bucket_files(out)
    assert len(before) > 1  # keys spread over multiple buckets

    # update exactly one existing key
    sink(spark.createDataFrame([("key3", 999)], ["k", "v"]), 1)
    after = _bucket_files(out)

    changed = [d for d in before if after[d] != before[d]]
    assert len(changed) == 1  # only key3's bucket was rewritten
    # the write clusters by bucket: every bucket dir holds ONE file
    for d, files in after.items():
        assert len([f for f, _ in files if f.endswith(".parquet")]) == 1, d
    # value actually updated, nothing lost
    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows["key3"] == 999 and len(rows) == 16


def test_parquet_upsert_replay_idempotent(spark, tmp_path):
    out = str(tmp_path / "sink")
    sink = sinks.parquet_upsert(out, ["k"], num_buckets=4)
    b = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    sink(b, 0)
    sink(b, 0)  # replayed batch: same keys, same values
    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 1, "b": 2}


def test_dbapi_upsert_sqlite_batches(spark, tmp_path):
    """INSERT ... ON CONFLICT DO UPDATE from the executors: second batch
    overwrites colliding keys, leaves the rest."""
    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE totals (platform TEXT PRIMARY KEY, total INTEGER)")
    con.commit()
    con.close()

    sink = sinks.dbapi_upsert(
        "totals",
        ["platform"],
        ["total"],
        lambda: sqlite3.connect(db),
        dialect="sqlite",
        parallelism=1,  # sqlite: single writer
    )
    sink(spark.createDataFrame([("PC", 2), ("APP", 1)], ["platform", "total"]), 0)
    sink(spark.createDataFrame([("PC", 5), ("Other", 1)], ["platform", "total"]), 1)

    rows = dict(sqlite3.connect(db).execute("SELECT platform, total FROM totals"))
    assert rows == {"PC": 5, "APP": 1, "Other": 1}


def test_register_totals_job_into_dbapi_sink(spark, tmp_path):
    """End-to-end: the A2 running-totals stream lands in a relational
    store via the upsert sink; a second wave overwrites the same keys
    with the accumulated totals (exactly-once effect)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE totals (platform TEXT PRIMARY KEY, total INTEGER)")
    con.commit()
    con.close()
    sink = sinks.dbapi_upsert(
        "totals",
        ["platform"],
        ["total"],
        lambda: sqlite3.connect(db),
        dialect="sqlite",
        parallelism=1,
    )

    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.txt"), "w") as f:
        f.write("u1\t1\t2026-08-13 10:00:01\nu2\t1\t2026-08-13 10:00:02\n")
    q = jobs.register_totals_job(
        file_stream(spark, src), "", ckpt, available_now=True, sink=sink
    )
    q.awaitTermination(120)
    with open(os.path.join(src, "b2.txt"), "w") as f:
        f.write("u3\t1\t2026-08-13 10:01:01\nu4\t2\t2026-08-13 10:01:02\n")
    q = jobs.register_totals_job(
        file_stream(spark, src), "", ckpt, available_now=True, sink=sink
    )
    q.awaitTermination(120)

    rows = dict(sqlite3.connect(db).execute("SELECT platform, total FROM totals"))
    assert rows == {"PC": 3, "APP": 1}


def test_dbapi_upsert_mysql_sql_shape():
    """The MySQL dialect emits the reference's upsert statement shape
    (QzPointStreaming.scala:179-182) — checked textually since no MySQL
    server exists in the container."""
    import re

    sink = sinks.dbapi_upsert(
        "qz_point", ["uid", "pointid"], ["qz_sum"], lambda: None, "mysql"
    )
    # reach the SQL through the closure rather than a live Spark write
    # (the sink is wrapped by pin_batch — unwrap to the real body)
    body = getattr(sink, "__wrapped__", sink)
    sql = [c for c in body.__closure__ if isinstance(c.cell_contents, str)]
    stmts = [c.cell_contents for c in sql if "INSERT INTO" in str(c.cell_contents)]
    assert stmts, "upsert SQL not found in sink closure"
    stmt = stmts[0]
    assert re.search(r"INSERT INTO qz_point \(uid, pointid, qz_sum\)", stmt)
    assert "ON DUPLICATE KEY UPDATE qz_sum=VALUES(qz_sum)" in stmt
    assert "%s, %s, %s" in stmt


def test_parquet_upsert_commit_leaves_no_staging_debris(spark, tmp_path):
    """The staged-swap commit must leave only the live sink dir: no
    .__staging__/.__retired__ leftovers, and a leftover from a crashed
    prior commit is cleared on the next trigger instead of poisoning
    it."""
    out = str(tmp_path / "sink")
    sink = sinks.parquet_upsert(out, ["k"], num_buckets=4)
    sink(spark.createDataFrame([("a", 1)], ["k", "v"]), 0)
    # simulate a crash that left a stale staging dir behind
    os.makedirs(out + ".__staging__/_bucket=0", exist_ok=True)
    sink(spark.createDataFrame([("b", 2), ("a", 10)], ["k", "v"]), 1)
    siblings = set(os.listdir(tmp_path))
    assert siblings == {"sink"}
    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 10, "b": 2}


def test_parquet_upsert_recovers_half_committed_swap(spark, tmp_path):
    """Crash BETWEEN the two swap renames (live dir gone, staging holds
    the complete new state): the next trigger must PROMOTE staging —
    not rmtree it and rebuild the sink from the current batch alone
    (ADVICE r2, medium)."""
    out = str(tmp_path / "sink")
    sink = sinks.parquet_upsert(out, ["k"], num_buckets=4)
    sink(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]), 0)
    sink(spark.createDataFrame([("c", 3)], ["k", "v"]), 1)

    # simulate the crash: path→retired happened, staging→path did not
    os.rename(out, out + ".__retired__")
    os.rename(out + ".__retired__", out + ".__staging__")  # staging = full state
    assert not os.path.exists(out)

    sink(spark.createDataFrame([("d", 4)], ["k", "v"]), 2)
    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 1, "b": 2, "c": 3, "d": 4}  # nothing lost
    assert set(os.listdir(tmp_path)) == {"sink"}


def test_parquet_upsert_restores_retired_when_staging_incomplete(spark, tmp_path):
    """Crash after path→retired with an INCOMPLETE staging (no _SUCCESS):
    restore the retired old state rather than promoting garbage."""
    out = str(tmp_path / "sink")
    sink = sinks.parquet_upsert(out, ["k"], num_buckets=4)
    sink(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]), 0)

    os.rename(out, out + ".__retired__")
    os.makedirs(out + ".__staging__/_bucket=0")  # partial write, no _SUCCESS

    sink(spark.createDataFrame([("c", 3)], ["k", "v"]), 1)
    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}
    assert set(os.listdir(tmp_path)) == {"sink"}


def test_parquet_overwrite_atomic_swaps_and_recovers(spark, tmp_path):
    """Complete-mode publish: old result readable until the new one is
    fully staged; a half-committed swap is promoted on the next call."""
    out = str(tmp_path / "top")
    publish = sinks.parquet_overwrite_atomic(out)
    publish(spark.createDataFrame([("p1", 10)], ["page_id", "visits"]), 0)
    publish(spark.createDataFrame([("p2", 20)], ["page_id", "visits"]), 1)
    rows = spark.read.parquet(out).collect()
    assert [(r["page_id"], r["visits"]) for r in rows] == [("p2", 20)]

    os.rename(out, out + ".__staging__")  # crash between the two renames
    publish(spark.createDataFrame([("p3", 30)], ["page_id", "visits"]), 2)
    rows = spark.read.parquet(out).collect()
    assert [(r["page_id"], r["visits"]) for r in rows] == [("p3", 30)]
    assert set(os.listdir(tmp_path)) == {"top"}


def test_dbapi_upsert_rejects_injectable_identifiers():
    import pytest

    with pytest.raises(ValueError, match="invalid SQL identifier"):
        sinks.dbapi_upsert(
            "t; DROP TABLE x--", ["k"], ["v"], lambda: None, "sqlite"
        )
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        sinks.dbapi_upsert("t", ["k"], ['v"'], lambda: None, "postgres")


def test_dbapi_upsert_postgres_dialect_executes(spark, tmp_path):
    """EXECUTE the generated postgres-dialect SQL against sqlite via a
    DB-API shim that converts only the %s paramstyle (what psycopg does
    at the wire) — the ON CONFLICT(keys) DO UPDATE SET v=excluded.v
    grammar is identical in both engines, so the statement itself runs
    verbatim (VERDICT r2 item 7: dialect executed, not merely pinned).
    The shim classes live INSIDE the test so cloudpickle ships them to
    executors by value (module-level test classes aren't importable on
    workers)."""

    class _PgStyleCursor:
        def __init__(self, cur) -> None:
            self._cur = cur

        def executemany(self, sql: str, rows) -> None:
            assert "%s" in sql and "?" not in sql  # genuinely the pg dialect
            self._cur.executemany(sql.replace("%s", "?"), rows)

    class _PgStyleConnection:
        def __init__(self, path: str) -> None:
            self._conn = sqlite3.connect(path)

        def cursor(self):
            return _PgStyleCursor(self._conn.cursor())

        def commit(self):
            self._conn.commit()

        def close(self):
            self._conn.close()

    db = str(tmp_path / "pg_sink.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE totals (platform TEXT PRIMARY KEY, total INTEGER)")
    con.commit()
    con.close()

    sink = sinks.dbapi_upsert(
        "totals",
        ["platform"],
        ["total"],
        lambda: _PgStyleConnection(db),
        dialect="postgres",
        parallelism=1,
    )
    sink(spark.createDataFrame([("PC", 2), ("APP", 1)], ["platform", "total"]), 0)
    sink(spark.createDataFrame([("PC", 7), ("Other", 3)], ["platform", "total"]), 1)

    rows = dict(sqlite3.connect(db).execute("SELECT platform, total FROM totals"))
    assert rows == {"PC": 7, "APP": 1, "Other": 3}


def test_compact_partition_reduces_files_preserves_rows(spark, tmp_path):
    """Streaming sinks append a file per trigger; the compaction pass
    coalesces a CLOSED partition to one file behind the atomic swap,
    preserving every row and the partition-discovery layout."""
    out = str(tmp_path / "archive")
    # simulate 3 triggers appending to the same day partition
    for i in range(3):
        spark.createDataFrame(
            [(f"v{i}-{j}", 20260813) for j in range(4)], ["value", "day"]
        ).write.mode("append").partitionBy("day").parquet(out)
    part = "day=20260813"
    import glob as g

    before = len(g.glob(f"{out}/{part}/*.parquet"))
    assert before >= 3
    rows_before = sorted(r["value"] for r in spark.read.parquet(out).collect())

    n = sinks.compact_partition(spark, out, part, target_files=1)
    assert n == before
    after = len(g.glob(f"{out}/{part}/*.parquet"))
    assert after == 1
    rows_after = sorted(r["value"] for r in spark.read.parquet(out).collect())
    assert rows_after == rows_before
    # idempotent: already-compacted partition is a no-op
    assert sinks.compact_partition(spark, out, part, target_files=1) == 1
    # unknown partition is a clean no-op
    assert sinks.compact_partition(spark, out, "day=19990101") == 0


def test_compact_partition_refuses_native_file_sink(spark, tmp_path):
    """A native streaming file sink's _spark_metadata log lists its
    exact files — compacting underneath it would desync the log, so
    the pass must refuse."""
    import pytest

    out = str(tmp_path / "native_sink")
    os.makedirs(os.path.join(out, "_spark_metadata"))
    os.makedirs(os.path.join(out, "day=20260813"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        sinks.compact_partition(spark, out, "day=20260813")


def test_compact_staging_is_invisible_to_readers_and_recoverable(spark, tmp_path):
    """The compaction staging/retired dirs are dot-prefixed INSIDE the
    archive root: a reader listing the root mid-compaction (or after a
    crash) must see neither duplicate rows nor a corrupted partition
    column; the next compaction call must recover a half-committed
    swap instead of losing the partition."""
    import shutil as sh

    out = str(tmp_path / "archive")
    spark.createDataFrame(
        [(f"v{j}", 20260813) for j in range(6)], ["value", "day"]
    ).write.mode("append").partitionBy("day").parquet(out)
    part = "day=20260813"

    # simulate a crash mid-compaction: complete staging present
    staging = os.path.join(out, ".day=20260813.__staging__")
    sh.copytree(os.path.join(out, part), staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()

    df = spark.read.parquet(out)
    assert df.count() == 6  # no duplicate partition discovered
    assert dict(df.dtypes)["day"] == "int"  # partition type intact

    # crash AFTER part_dir was retired: live dir gone, staging complete
    sh.rmtree(os.path.join(out, part))
    assert sinks.compact_partition(spark, out, part) >= 0  # recovers
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 6 and {r["value"] for r in rows} == {f"v{j}" for j in range(6)}
    assert not [d for d in os.listdir(out) if "__staging__" in d or "__retired__" in d]


def test_compact_recovers_legacy_bare_staging(spark, tmp_path):
    """A half-commit left by the OLD bare-named staging scheme (which
    readers could discover as an extra partition) is recovered and
    cleaned on the next compaction call."""
    import shutil as sh

    out = str(tmp_path / "archive")
    spark.createDataFrame(
        [(f"v{j}", 20260813) for j in range(4)], ["value", "day"]
    ).write.mode("append").partitionBy("day").parquet(out)
    part = "day=20260813"
    # legacy crash state: live dir gone, BARE-named staging complete
    legacy = os.path.join(out, part + ".__staging__")
    sh.move(os.path.join(out, part), legacy)
    open(os.path.join(legacy, "_SUCCESS"), "w").close()

    assert sinks.compact_partition(spark, out, part) >= 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4 and dict(spark.read.parquet(out).dtypes)["day"] == "int"
    assert not [d for d in os.listdir(out) if "__staging__" in d]


def test_every_cumulative_sink_recovers_before_existence_check():
    """VERDICT r5 #5, made mechanical: any cumulative foreachBatch job
    that reads its own sink back (`os.path.exists(path)` guard) MUST
    call sinks.recover_sink(path) first — a crash between the staged
    swap's two publish renames otherwise reads as a fresh sink and the
    accumulated state silently vanishes. Scans jobs.py source so every
    NEW cumulative job added later is covered automatically."""
    import inspect
    import re

    src = inspect.getsource(jobs)
    for m in re.finditer(r"os\.path\.exists\((\w+)\)", src):
        var = m.group(1)
        preceding = src[: m.start()]
        recover = f"sinks.recover_sink({var})"
        # the recover call must appear, and its LAST occurrence must be
        # in the same function body (heuristic: within the preceding
        # 2000 chars — a foreachBatch closure is short)
        idx = preceding.rfind(recover)
        assert idx != -1 and m.start() - idx < 2000, (
            f"os.path.exists({var}) at char {m.start()} is not preceded "
            f"by a nearby {recover} — cumulative sink would lose state "
            "on a half-committed swap"
        )
