"""Streaming sinks.

The reference commits offsets to MySQL after business logic
(at-least-once, RegisterStreaming.scala:121-137) and upserts results
row-by-row from executors (QzPointStreaming.scala:179-182). Here
offsets live in the checkpoint and sinks are idempotent-by-key
`foreachBatch` upserts — replayed batches overwrite the same keys, so
the end-to-end effect is exactly-once (fixing the replay-doubling bug,
SURVEY §2.8 T7).

Two renderings of the same keyed-upsert contract:

  parquet_upsert   partition-PRUNED merge into a hash-bucketed parquet
                   layout — a trigger reads and rewrites only the
                   buckets its keys hash into, so per-trigger cost is
                   O(batch + touched buckets), not O(sink size).
  dbapi_upsert     the reference's actual mechanism (SqlProxy.scala:
                   27-41): executor-side batched `INSERT ... ON
                   CONFLICT/ON DUPLICATE KEY UPDATE` over any DB-API
                   connection — MySQL in production, sqlite in tests.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_UPSERT_BUCKETS = 64


def pin_batch(write_fn):
    """Persist the micro-batch for the duration of a foreachBatch body
    (guide §5 reuse-vs-recompute).

    For MULTI-PASS bodies only: the cumulative-snapshot jobs re-read the
    batch against their standing state, and each action on an
    UNPERSISTED foreachBatch frame re-executes the trigger's whole
    plan, stateful aggregation included. (parquet_upsert caches its
    own deduplicated, bucketed frame instead.) Single-pass bodies
    (isEmpty guard + one write, e.g. parquet_append) are deliberately
    NOT wrapped: the guard is a cheap take(1) while persist forces a
    full cached materialization — measured (at 32 shuffle partitions) a
    ~0.1-0.25 s/trigger REGRESSION on page_flow/rawlog_archive, so
    pinning there costs, not saves. Unpersist in finally so no blocks
    outlive the trigger."""

    def pinned(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            write_fn(batch, batch_id)
        finally:
            batch.unpersist()

    pinned.__wrapped__ = write_fn  # introspectable (tests read closures)
    return pinned


def parquet_upsert(path: str, key_cols: list[str], num_buckets: int = DEFAULT_UPSERT_BUCKETS):
    """foreachBatch function: keyed upsert into bucketed parquet.

    Layout: parquet partitioned by `_bucket = pmod(xxhash64(keys), N)`
    — a pure function of the key, so a key lives in exactly one
    partition directory forever. Merge per trigger:

      1. hash the batch keys → the set of AFFECTED buckets (collected
         to the driver: ≤ N ints);
      2. read ONLY those partition dirs, by path and with the batch's
         schema — untouched buckets are never listed or opened;
      3. anti-join old rows on the keys, union the batch (new wins);
      4. write the merged buckets to a STAGING dir, hard-link every
         untouched bucket dir in beside them (metadata-only, O(#files)
         not O(bytes)), then swap staging into place with two renames.

    Replayed batches hit the same buckets with the same keys —
    idempotent. The previous implementation read and rewrote the whole
    sink every trigger (O(sink size) per batch); this one is
    O(batch + touched buckets), which is what survives a sink that has
    accumulated months of keys.

    Why the staged swap instead of dynamic partition overwrite:
    overwrite deletes and rewrites live bucket dirs in place, so a
    concurrent reader (dashboard, another session) that lists the sink
    mid-commit can hit a vanished file or see a bucket with old rows
    gone and new rows not yet visible — for the full duration of the
    write. With the swap, readers see the complete old state until two
    back-to-back metadata renames publish the complete new state;
    already-open files keep serving (POSIX) even after the old tree is
    removed. Local-FS rendering only — production storage with a
    native MERGE + snapshot isolation (Delta/Iceberg/JDBC) replaces
    the mechanism, not the semantics.
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        # dedup + hash ONCE: the bucket collect, the anti-join side and
        # the union side all read this cached frame, so the trigger's
        # plan (stateful aggregation included) runs a single time
        keyed = batch.dropDuplicates(key_cols).withColumn(
            "_bucket",
            F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(num_buckets)).cast(
                "int"
            ),
        ).persist()
        try:
            buckets = [r[0] for r in keyed.select("_bucket").distinct().collect()]
            if buckets:
                _merge_buckets(path, key_cols, keyed, buckets)
        finally:
            keyed.unpersist()

    return write


def _merge_buckets(
    path: str, key_cols: list[str], keyed: DataFrame, buckets: list[int]
) -> None:
    """Steps 2-4 of parquet_upsert for a non-empty keyed batch."""
    staging = path + ".__staging__"
    retired = path + ".__retired__"
    _recover_half_commit(path, staging, retired)
    touched = {f"_bucket={b}" for b in buckets}
    live = sorted(d for d in touched if os.path.isdir(os.path.join(path, d)))
    merged = keyed
    if live:
        # read ONLY the touched bucket dirs, with the known schema (no
        # footer-inference job); reads the live dir, writes staging
        old = (
            keyed.sparkSession.read.schema(keyed.schema)
            .option("basePath", path)
            .parquet(*[os.path.join(path, d) for d in live])
        )
        merged = old.join(keyed.select(*key_cols), key_cols, "left_anti").unionByName(
            keyed
        )
    # cluster by bucket before writing: partitionBy alone emits one file
    # per (task × bucket) — tiny files the NEXT trigger's merge re-reads.
    # Hash-partitioning on `_bucket` puts each bucket in one task, so
    # each bucket dir gets exactly one file, with one task per shuffle
    # partition rather than per bucket.
    merged.repartition("_bucket").write.mode("overwrite").partitionBy("_bucket").parquet(
        staging
    )
    if not os.path.exists(path):
        os.rename(staging, path)
        return
    for entry in os.listdir(path):
        src = os.path.join(path, entry)
        if entry.startswith("_bucket=") and entry not in touched and os.path.isdir(src):
            _link_tree(src, os.path.join(staging, entry))
    _swap_into_place(path, staging, retired)


def _recover_half_commit(path: str, staging: str, retired: str) -> None:
    """Crash recovery BEFORE any leftover cleanup. The swap renames
    path→retired then staging→path; a crash between the renames leaves
    the live dir missing while staging (complete new state — parquet's
    _SUCCESS marker proves the write finished, and any hard-links are
    added before the renames) and/or retired (complete old state) hold
    the only copies. Blindly rmtree-ing them would silently destroy the
    accumulated sink and rebuild it from the current batch alone.
    Promote staging if complete, else restore retired; only then is
    whatever remains truly garbage."""
    if not os.path.exists(path):
        if os.path.exists(os.path.join(staging, "_SUCCESS")):
            os.rename(staging, path)
        elif os.path.exists(retired):
            os.rename(retired, path)
    for leftover in (staging, retired):  # now provably leftovers
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


def recover_sink(path: str) -> None:
    """Run half-commit recovery for a sink path BEFORE reading its
    state. foreachBatch functions that read cumulative sink state with
    os.path.exists(path) (CMS cells, drift histograms) must call this
    first: a crash between _swap_into_place's two renames leaves the
    live dir absent with the only copy in .__staging__/.__retired__,
    and an unrecovered existence check would treat the sink as fresh —
    silently discarding all accumulated state plus the last_batch_id
    replay watermark, then overwriting the later-recovered old state
    with a delta-only grid."""
    _recover_half_commit(path, path + ".__staging__", path + ".__retired__")


def _swap_into_place(path: str, staging: str, retired: str) -> None:
    """Publish a complete staging tree with two metadata renames;
    readers see the full old state until the instant the full new state
    is visible (already-open files keep serving, POSIX)."""
    os.rename(path, retired)
    os.rename(staging, path)
    shutil.rmtree(retired)


def parquet_overwrite_atomic(path: str):
    """foreachBatch function: full overwrite published atomically.

    For complete-mode queries whose whole result is small (top-k,
    global aggregates). A plain mode('overwrite').parquet(path) deletes
    the live dir before rewriting it — a concurrent reader can hit
    vanished files, and a crash mid-write loses the previous result.
    Stage + swap instead, with the same half-commit recovery as
    parquet_upsert."""

    def write(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        staging = path + ".__staging__"
        retired = path + ".__retired__"
        _recover_half_commit(path, staging, retired)
        batch.write.mode("overwrite").parquet(staging)
        if os.path.exists(path):
            _swap_into_place(path, staging, retired)
        else:
            os.rename(staging, path)

    return write


def _link_tree(src: str, dst: str) -> None:
    """Mirror a directory with hard links — the carry-forward for
    untouched bucket dirs costs one inode link per file, never a data
    copy, so the swap stays O(touched bytes + total file count)."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _link_tree(s, d)
        else:
            os.link(s, d)


def dbapi_upsert(
    table: str,
    key_cols: list[str],
    value_cols: list[str],
    connection_factory,
    dialect: str = "mysql",
    parallelism: int | None = None,
):
    """foreachBatch function: executor-side batched keyed upsert into a
    relational store over DB-API 2.0.

    The real-cluster rendering of the reference's MySQL sink
    (SqlProxy.scala:27-41, upsert SQL QzPointStreaming.scala:179-182):
    each partition opens ONE connection, executemany()s the whole
    partition, commits, closes — no driver round-trip, no per-row
    connection churn. `connection_factory` must be picklable and return
    a fresh connection ON THE EXECUTOR (e.g. a module-level function
    closing over host/credentials).

    dialect: 'mysql'  → INSERT ... ON DUPLICATE KEY UPDATE (%s params)
             'sqlite' → INSERT ... ON CONFLICT(keys) DO UPDATE (? params)
             'postgres' → INSERT ... ON CONFLICT DO UPDATE (%s params)
    parallelism: cap concurrent writers (repartition before the write);
    use 1 for stores without concurrent-writer support (sqlite tests).
    """
    cols = list(key_cols) + list(value_cols)
    # Identifiers are interpolated into the statement (placeholders only
    # cover values) — validate them so a table/column name arriving from
    # config can never smuggle SQL.
    for ident in [table, *cols]:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", ident):
            raise ValueError(f"invalid SQL identifier {ident!r}")
    ph = "?" if dialect == "sqlite" else "%s"
    placeholders = ", ".join([ph] * len(cols))
    col_list = ", ".join(cols)
    if dialect == "mysql":
        updates = ", ".join(f"{c}=VALUES({c})" for c in value_cols)
        sql = (
            f"INSERT INTO {table} ({col_list}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    elif dialect in ("sqlite", "postgres"):
        updates = ", ".join(f"{c}=excluded.{c}" for c in value_cols)
        keys = ", ".join(key_cols)
        sql = (
            f"INSERT INTO {table} ({col_list}) VALUES ({placeholders}) "
            f"ON CONFLICT({keys}) DO UPDATE SET {updates}"
        )
    else:
        raise ValueError(f"unknown dialect {dialect!r}")

    def write(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        rows_df = batch.dropDuplicates(key_cols).select(*cols)
        if parallelism:
            rows_df = rows_df.repartition(parallelism)

        def handle_partition(rows) -> None:
            data = [tuple(r) for r in rows]
            if not data:
                return
            conn = connection_factory()
            try:
                cur = conn.cursor()
                cur.executemany(sql, data)
                conn.commit()
            finally:
                conn.close()

        rows_df.foreachPartition(handle_partition)

    return write


def parquet_append(path: str, partition_by: list[str] | None = None):
    """foreachBatch function: append-only partitioned parquet (archival)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        w = batch.write.mode("append").option("compression", "snappy")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    return write


def compact_partition(
    spark,
    path: str,
    partition: str,
    target_files: int = 1,
) -> int:
    """Compact one partition dir of a streaming archive in place.

    Streaming file sinks append a file per trigger per partition — a
    3-second trigger writes ~28k files/day/partition, and at 100 TB
    file-listing and scan-task overhead dominate long before data size
    does. The periodic fix: coalesce each CLOSED partition (one the
    watermark has moved past — never the one still being written) down
    to `target_files`, published with the same staged atomic swap as
    the upsert sink, so concurrent readers see the old file set until
    the compacted one is complete. Returns the number of files before
    compaction (0 = nothing to do).

    Run as a scheduled batch pass over yesterday's partitions — the
    Spark-native replacement for the reference's custom appendable
    OutputFormat (AppendTextOutputFormat.scala:12-48), which solved the
    same small-files problem by mutating files in place.
    """
    # A NATIVE streaming file sink (writeStream.format("parquet")) keeps
    # a _spark_metadata transaction log listing its exact files; batch
    # readers trust the log over the directory, so rewriting files
    # underneath it makes the compacted data invisible (or the read
    # fail). Compaction is only safe for foreachBatch-written archives
    # (parquet_append) — refuse loudly rather than corrupt silently.
    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} is a native streaming file-sink output "
            "(_spark_metadata present); compact_partition would desync "
            "the sink's transaction log. Compact foreachBatch-written "
            "archives only, or rewrite the whole sink with its log."
        )
    part_dir = os.path.join(path, partition)
    # Staging/retired live INSIDE the archive root but DOT-PREFIXED:
    # Spark's file index skips hidden paths, so readers never discover
    # them as extra partitions. A bare `day=X.__staging__` sibling
    # WOULD be discovered (it matches the partition pattern) — readers
    # would see the day's rows twice and partition-type inference would
    # flip the column to string.
    hidden = "." + partition.replace("/", "__")
    staging = os.path.join(path, hidden + ".__staging__")
    retired = os.path.join(path, hidden + ".__retired__")
    # Legacy cleanup first: earlier revisions staged under BARE names
    # (part_dir + '.__staging__') which readers discover as an extra
    # partition — recover any such half-commit, then remove the
    # leftovers, before the hidden-name recovery below.
    _recover_half_commit(part_dir, part_dir + ".__staging__", part_dir + ".__retired__")
    _recover_half_commit(part_dir, staging, retired)
    if not os.path.isdir(part_dir):
        return 0
    files = [
        f
        for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    if len(files) <= target_files:
        return len(files)
    (
        spark.read.parquet(part_dir)
        .coalesce(target_files)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(staging)
    )
    _swap_into_place(part_dir, staging, retired)
    return len(files)
