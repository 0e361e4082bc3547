"""The four reference streaming jobs on Structured Streaming.

Reference (DStream)                         → here (Structured Streaming)
------------------------------------------------------------------------
RegisterStreaming.scala:16-144
  reduceByKeyAndWindow(60s/6s) [proc-time]  → event-time window() + watermark
  updateStateByKey running totals           → update-mode groupBy count
  offsets in MySQL (offset_manager)         → checkpointLocation
QzPointStreaming.scala:26-185
  per-key SELECT+UPSERT against MySQL       → state-store aggregation in
                                              update mode + idempotent
                                              keyed upsert per trigger
PageStreaming.scala:23-93 (unfinished)      → JSON decode + per-batch
                                              page-flow transitions
RawLogSparkStreaming.scala:21-122
  custom appendable HDFS OutputFormat       → partitioned parquet file sink

Every job takes (source DataFrame, sink/path, checkpoint) and returns
the started StreamingQuery, so tests drive them with file sources and
`availableNow` triggers while production wires Kafka + real storage.
Source adapters for Kafka live in streaming/sources.py.

The stateful "fold" jobs (QzPointStreaming.scala's merge with MySQL
history, generalized) keep their cumulative state in a parquet table
beside their output rather than in the state store, and all of them
run one skeleton, `_fold_job`, which owns the exactly-once rule. Per
trigger, in this order:

  fence     an empty batch returns; half-commit recovery runs on the
            state path; the state is read with its known schema (or
            starts empty), and a trigger whose id is not newer than the
            state's `last_batch_id` is a redelivery and returns — the
            fold already happened;
  fold      `fold(batch, prior, batch_id)` returns the new state and an
            optional snapshot; the state is materialized once;
  snapshot  the snapshot is written to `out/ingest_batch=N` (an
            overwrite, so a replay rewrites the same bytes);
  swap      the state, stamped with `last_batch_id = N`, replaces the
            old one through sinks.parquet_overwrite_atomic — this is
            the commit point of the trigger;
  prune     only the newest `retain_snapshots` snapshot dirs are kept.

Pruning comes last because it is the only step that deletes published
data. After the swap it only removes snapshots older than a committed
one (each dir is a complete answer), and a crash anywhere before it
leaves extra dirs, never a gap: a trigger that fails before its swap
has deleted nothing, and its replay rewrites the same `ingest_batch=N`
dir. The id fence is scoped to the checkpoint: a fresh
checkpoint against an existing state restarts batch ids at 0, which the
fence treats as redelivery — reprocess into a fresh sink instead.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.core import day_bucket
from ..sources.logs import (
    decode_page_log,
    decode_page_log_ts,
    decode_qz_log,
    decode_register_log,
    decode_register_log_ts,
)
from . import sinks


def _trigger(available_now: bool) -> dict:
    return {"availableNow": True} if available_now else {"processingTime": "3 seconds"}


def _start(
    df: DataFrame, body, checkpoint: str, available_now: bool, mode: str = "append"
) -> StreamingQuery:
    """Start `df` as a foreachBatch query running `body(batch, batch_id)`
    per trigger, every 3 s (the reference's batch interval) or once over
    the available input."""
    return (
        df.writeStream.outputMode(mode)
        .foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(**_trigger(available_now))
        .start()
    )


def _decode_json(raw: DataFrame, ddl: str, required, select) -> DataFrame:
    """Parse the `value` column as JSON with the DDL schema `ddl`. Corrupt
    lines and lines where a `required` field is null are dropped — one
    poison record must not halt a stream. `required` and `select` items
    are field names or Column expressions over the parsed struct `j`; a
    name in `select` keeps that field under its own name."""
    parsed = F.from_json(
        F.col("value"),
        f"{ddl}, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    keep = F.col("j._corrupt").isNull()
    for r in required:
        keep = keep & (F.col(f"j.{r}") if isinstance(r, str) else r).isNotNull()
    return (
        raw.select(parsed.alias("j"))
        .filter(keep)
        .select(
            *[F.col(f"j.{c}").alias(c) if isinstance(c, str) else c for c in select]
        )
    )


def _add(prior: DataFrame, delta: DataFrame, keys, value: str, dtype: str = "long"):
    """The additive fold: prior ∪ delta, summed per key."""
    summed = F.sum(value).cast(dtype).alias(value)
    return prior.unionByName(delta).groupBy(*keys).agg(summed)


def _fold_job(
    stream: DataFrame,
    checkpoint: str,
    state_path: str,
    state_ddl: str,
    fold,
    out: str | None = None,
    retain_snapshots: int = 0,
    available_now: bool = False,
    publish=None,
) -> StreamingQuery:
    """Run a stateful fold job on `stream` (contract in the module
    docstring). `state_ddl` is the state's schema without the
    `last_batch_id` fence column the skeleton adds.

    `fold(batch, prior, batch_id)` returns `(state, snapshot)`. The
    snapshot is None, a DataFrame written as is (trigger-sized output,
    e.g. the documents admitted this trigger), or a function of the
    materialized state returning a report, written as one file.
    `publish(state, batch_id)`, if given, writes a view derived from the
    state alone (e.g. a report overwritten in place); it also runs on a
    redelivered trigger, from the committed state, so a view lost to a
    crash after the swap comes back on replay."""

    def step(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        sinks.recover_sink(state_path)
        if os.path.exists(state_path):
            schema = f"{state_ddl}, last_batch_id long"
            old = spark.read.schema(schema).parquet(state_path)
            prior = old.drop("last_batch_id")
            last = old.agg(F.max("last_batch_id")).first()[0]
            if last is not None and last >= batch_id:
                if publish is not None:
                    publish(prior, batch_id)
                return  # redelivered trigger: already folded in
        else:
            prior = spark.createDataFrame([], state_ddl)
        state, snapshot = fold(batch, prior, batch_id)
        state = state.localCheckpoint(eager=True)  # snapshot + swap share it
        if callable(snapshot):
            snapshot = snapshot(state).coalesce(1)
        if snapshot is not None:
            snapshot.write.mode("overwrite").parquet(
                os.path.join(out, f"ingest_batch={batch_id}")
            )
        if publish is not None:
            publish(state, batch_id)
        sinks.parquet_overwrite_atomic(state_path)(
            state.withColumn("last_batch_id", F.lit(batch_id).cast("long")).coalesce(1),
            batch_id,
        )
        if retain_snapshots > 0:
            kept = sorted(
                int(d.split("=")[1])
                for d in os.listdir(out)
                if d.startswith("ingest_batch=")
            )
            for b in kept[:-retain_snapshots]:
                shutil.rmtree(
                    os.path.join(out, f"ingest_batch={b}"), ignore_errors=True
                )

    return _start(stream, sinks.pin_batch(step), checkpoint, available_now)


def register_windowed_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    watermark: str = "30 seconds",
    available_now: bool = False,
) -> StreamingQuery:
    """A1: registrations per platform per sliding 60s/6s window.

    Event-time with a watermark (the reference used processing time and
    silently miscounted late data — SURVEY §2.8 T4); update mode emits
    only changed windows each trigger; the keyed upsert makes replays
    idempotent.
    """
    reg = decode_register_log_ts(raw)
    counts = (
        reg.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "60 seconds", "6 seconds"), F.col("platform"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "platform", "cnt")
    )
    return _start(
        counts,
        sinks.parquet_upsert(out_path, ["window_start", "platform"]),
        checkpoint,
        available_now,
        "update",
    )


def register_totals_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
    sink=None,
) -> StreamingQuery:
    """A2: all-time running registrations per platform.

    updateStateByKey (RegisterStreaming.scala:95-101) becomes a plain
    update-mode count — the state store holds one long per platform
    (bounded, checkpointed); no complete-mode materialization.

    `sink` swaps the foreachBatch body (same keyed-upsert contract):
    default bucketed parquet; pass sinks.dbapi_upsert(...) for the
    reference's MySQL rendering.
    """
    reg = decode_register_log(raw)
    totals = reg.groupBy("platform").agg(F.count("*").alias("total"))
    return _start(
        totals,
        sink or sinks.parquet_upsert(out_path, ["platform"]),
        checkpoint,
        available_now,
        "update",
    )


def register_totals_state_job(
    raw: DataFrame, out_path: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """A2 via applyInPandasWithState — the literal updateStateByKey
    translation (RegisterStreaming.scala:95-101: `values.sum +
    state.getOrElse(0)`), for stateful logic SQL aggregates can't
    express. State: one long per platform, checkpointed; each trigger
    emits only platforms seen in the batch, exactly like the reference's
    update function. Prefer register_totals_job (declarative) when the
    logic IS expressible — this path exists for custom operators.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        batch_count = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + batch_count
        state.update((total,))
        yield pd.DataFrame({"platform": [key[0]], "total": [total]})

    reg = decode_register_log(raw)
    totals = reg.groupBy("platform").applyInPandasWithState(
        update_totals,
        outputStructType="platform string, total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start(
        totals,
        sinks.parquet_upsert(out_path, ["platform"]),
        checkpoint,
        available_now,
        "update",
    )


def quiz_mastery_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    questions_per_point: int = 30,
    available_now: bool = False,
    sink=None,
) -> StreamingQuery:
    """Stateful quiz mastery (QzPointStreaming.scala:124-184).

    The reference's external state (one MySQL SELECT + UPSERT per key
    per batch) moves into Spark's state store: an update-mode streaming
    aggregation holds (question set, attempts, correct, min time) per
    (uid, courseid, pointid); each trigger emits only changed keys and
    the sink upserts them — one keyed write per trigger, exactly-once
    effect on replay (the reference doubled counts, T7).

    State note: collect_set is bounded by the 30-questions-per-point
    domain (the ÷30 constant at QzPointStreaming.scala:171), so per-key
    state is small and fixed.
    """
    qz = decode_qz_log(raw)
    mastered = (
        qz.groupBy("uid", "courseid", "pointid")
        .agg(
            # one set aggregate feeds both the CSV and the distinct count —
            # count_distinct itself isn't allowed on streaming frames
            F.array_sort(F.collect_set("questionid")).alias("qset"),
            F.count("*").alias("qz_sum"),
            F.sum(F.when(F.col("istrue") == "1", 1).otherwise(0)).alias("qz_istrue"),
            F.min("createtime").alias("createtime"),
        )
        .withColumn("questionids", F.array_join("qset", ","))
        .withColumn("qz_count", F.size("qset"))
        .drop("qset")
        .withColumn("correct_rate", F.col("qz_istrue") / F.col("qz_sum"))
        .withColumn(
            "mastery_rate",
            (F.col("qz_count") / F.lit(float(questions_per_point)))
            * F.col("correct_rate"),
        )
        .withColumn(
            "updatetime", F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
        )
    )
    return _start(
        mastered,
        sink or sinks.parquet_upsert(out_path, ["uid", "courseid", "pointid"]),
        checkpoint,
        available_now,
        "update",
    )


def user_session_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    gap: str = "30 minutes",
    watermark: str = "30 seconds",
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming sessionization with Spark's native session_window —
    the streaming twin of operators/sessions.sessionize (same 30-min-gap
    semantics). State: one open window per active user, closed and
    emitted once the watermark passes the gap."""
    reg = decode_register_log_ts(raw)
    sessions = (
        reg.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return _start(sessions, sinks.parquet_append(out_path), checkpoint, available_now)


def page_flow_job(
    raw: DataFrame, out_path: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """Page decode + the conversion analysis PageStreaming left at its
    //todo (PageStreaming.scala:89): per-batch (last_page → page)
    transition counts, appended with the batch id for downstream rollup."""
    pages = decode_page_log(raw)

    def per_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        flows = (
            batch.groupBy("last_page_id", "page_id")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        sinks.parquet_append(out_path)(flows, batch_id)

    return _start(pages, per_batch, checkpoint, available_now)


def user_idle_timeout_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    idle_ms: int = 2000,
    available_now: bool = False,
) -> StreamingQuery:
    """Custom stateful operator WITH STATE TIMEOUT: per-user activity
    tracking that emits an 'open' record on activity and a final
    'closed' record once the user has been idle for `idle_ms` of
    processing time — the reference's updateStateByKey had no way to
    EXPIRE state (it leaked keys forever); GroupStateTimeout is the
    Structured Streaming answer.

    hasTimedOut fires for a key when a later batch arrives after its
    deadline — even with no new data for that key — at which point the
    state is removed (bounded state, unlike the reference).

    CAVEAT (unlike every sibling job): with available_now=True this
    query does NOT self-terminate — after the data batches drain it
    stays active waiting on pending ProcessingTimeTimeout deadlines, so
    a bare awaitTermination() hangs. Use `drain(q, seconds)` below,
    which waits for the data batches (and any timeouts that fire in the
    window) and then stops the query cleanly.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "status": ["closed"]}
            )
        else:
            rows = sum(len(p) for p in pdfs)
            n = (state.get[0] if state.exists else 0) + rows
            state.update((n,))
            state.setTimeoutDuration(idle_ms)
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "status": ["open"]}
            )

    reg = decode_register_log(raw)
    tracked = reg.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id string, n_events long, status string",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return _start(
        tracked, sinks.parquet_append(out_path), checkpoint, available_now, "update"
    )


def drain(q: StreamingQuery, timeout_sec: float = 60.0) -> None:
    """Drain-and-stop for queries that never self-terminate under
    availableNow: a query holding pending processing-time timeout state
    (user_idle_timeout_job) stays active after its data batches finish,
    waiting on wall-clock deadlines — the awaitTermination() pattern
    every other job in this module supports would block forever. This
    waits up to timeout_sec for the data batches (plus any timeouts
    that fire in the window), then stops the query and waits for a
    clean shutdown."""
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        q.awaitTermination(timeout_sec)


def console_debug_job(
    df: DataFrame,
    checkpoint: str,
    num_rows: int = 20,
    truncate: bool = False,
    available_now: bool = False,
) -> StreamingQuery:
    """K1: the console sink (RegisterStreaming.scala's print()) — a
    debugging tap on any streaming DataFrame. Output goes to the
    driver's stdout; never part of a production topology, which is why
    every other job writes to a real sink instead.
    """
    return (
        df.writeStream.outputMode("append")
        .format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
        .option("checkpointLocation", checkpoint)
        .trigger(**_trigger(available_now))
        .start()
    )


def register_region_enrich_job(
    raw: DataFrame,
    region: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """STREAM-STATIC join: the streaming registrations enriched against
    a batch dimension table — the Structured Streaming rendering of the
    reference's per-record MySQL point lookups (S4,
    QzPointStreaming.scala:142-148): instead of one SELECT per record,
    the dimension broadcasts once and every micro-batch joins against
    it JVM-side, no state store involved.

    The static side is re-resolved per micro-batch for file sources, so
    a refreshed dimension snapshot is picked up without restarting.
    The region key is synthesized from the user id (testdata carries no
    IP; operators/iplookup.py shows the real interval-lookup shape).
    """
    reg = decode_register_log(raw)
    keyed = reg.withColumn(
        "r_regionkey", F.pmod(F.xxhash64("user_id"), F.lit(5)).cast("int")
    )
    enriched = keyed.join(F.broadcast(region.select("r_regionkey", "r_name")), "r_regionkey")
    return _start(
        enriched.select("user_id", "platform", "create_time", "r_name"),
        sinks.parquet_append(out_path),
        checkpoint,
        available_now,
    )


def register_dedup_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming exact dedup: at-least-once sources (the reference's
    Kafka replays, SURVEY §2.8 T7) deliver duplicate records; this job
    emits each (user_id, create_time) registration exactly once.

    dropDuplicatesWithinWatermark keeps the seen-key set in the state
    store only until the watermark passes — BOUNDED state, unlike a
    plain dropDuplicates whose key set grows forever. The streaming
    twin of operators/dedup.exact_dedup.
    """
    reg = decode_register_log_ts(raw)
    deduped = reg.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "create_time"]
    )
    return _start(
        deduped.select("user_id", "platform", "create_time"),
        sinks.parquet_append(out_path),
        checkpoint,
        available_now,
    )


def page_transition_join_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    max_gap: str = "10 minutes",
    watermark: str = "30 seconds",
    available_now: bool = False,
) -> StreamingQuery:
    """Stream-stream SELF-JOIN: page visits joined to their follow-up
    visit — the conversion-funnel analysis PageStreaming.scala:82-84
    hints at, done with the one Structured Streaming join shape the
    other jobs don't exercise.

    prev side: each visit keyed by (uid, page_id);
    next side: each visit keyed by (uid, last_page_id);
    match     = same user, page linkage, and the follow-up lands within
                `max_gap` AFTER the first visit (the time-range conjunct
                is what lets Spark BOUND the join state: rows are
                dropped once the watermark passes from_ts + max_gap —
                without it state grows forever).

    Both sides carry a watermark, so late events beyond it are dropped
    rather than joined (asserted in tests). Output is append-mode: a
    transition is emitted once, when matched.
    """
    pages = decode_page_log_ts(raw).select("uid", "last_page_id", "page_id", "event_ts")
    prev = (
        pages.select(
            F.col("uid"),
            F.col("page_id").alias("from_page"),
            F.col("event_ts").alias("from_ts"),
        )
        .withWatermark("from_ts", watermark)
    )
    nxt = (
        pages.select(
            F.col("uid").alias("uid2"),
            F.col("last_page_id"),
            F.col("page_id").alias("to_page"),
            F.col("event_ts").alias("to_ts"),
        )
        .withWatermark("to_ts", watermark)
    )
    transitions = (
        prev.join(
            nxt,
            (prev.uid == nxt.uid2)
            & (F.col("from_page") == F.col("last_page_id"))
            & (F.col("to_ts") > F.col("from_ts"))
            & (F.col("to_ts") <= F.col("from_ts") + F.expr(f"INTERVAL {max_gap}")),
            "inner",
        )
        .select(
            "uid",
            "from_page",
            "to_page",
            "from_ts",
            "to_ts",
            (F.unix_timestamp("to_ts") - F.unix_timestamp("from_ts")).alias(
                "dwell_sec"
            ),
        )
    )
    return _start(
        transitions, sinks.parquet_append(out_path), checkpoint, available_now
    )


def page_toppages_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 3,
    available_now: bool = False,
) -> StreamingQuery:
    """COMPLETE-mode streaming top-k: the k most-visited pages over the
    whole stream, re-emitted in full every trigger.

    Complete mode is the one output mode the other jobs don't use — it
    is only sane when the full result is SMALL (here: k rows), because
    every trigger rewrites everything; the per-page counts live in the
    state store, the top-k sort runs on the (tiny) aggregate. The sink
    overwrite per batch is the matching idempotent write — published
    via the staged atomic swap (sinks.parquet_overwrite_atomic), never
    a delete-then-rewrite of the live dir.
    """
    pages = decode_page_log(raw)
    counts = pages.groupBy("page_id").agg(F.count("*").alias("visits"))
    publish = sinks.parquet_overwrite_atomic(out_path)

    def overwrite(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        publish(batch.orderBy(F.desc("visits"), F.asc("page_id")).limit(k), batch_id)

    return _start(
        counts, sinks.pin_batch(overwrite), checkpoint, available_now, "complete"
    )


def rawlog_archive_job(
    raw: DataFrame, out_path: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """K4 archival (RawLogSparkStreaming.scala:83-102): raw values into
    (topic,) day-partitioned snappy parquet. The reference's custom
    appendable OutputFormat (AppendTextOutputFormat.scala:12-71) is
    unnecessary — the file sink is append-only and partition dirs
    replace path math.

    Layout parity: the reference writes `base/topic/yyyyMMdd`
    (RawLogSparkStreaming.scala:83-89). When the source carries a
    `topic` column (the Kafka adapter always does), the sink partitions
    by (topic, day) so multi-topic archives never interleave; file
    sources without a topic fall back to day-only.

    Event time comes from the source's timestamp column when present
    (Kafka provides one); else ingestion time.
    """
    cols = set(raw.columns)
    ts = F.col("timestamp") if "timestamp" in cols else F.current_timestamp()
    selected = [F.col("value").cast("string").alias("value"), day_bucket(ts).alias("day")]
    partitions = ["day"]
    if "topic" in cols:
        selected.insert(1, F.col("topic"))
        partitions = ["topic", "day"]
    archived = raw.select(*selected)
    return (
        archived.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("compression", "snappy")
        .partitionBy(*partitions)
        .option("checkpointLocation", checkpoint)
        .trigger(**_trigger(available_now))
        .start()
    )


def document_ingest_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    min_tokens: int = 5,
    watermark: str = "30 seconds",
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming training-data ingest — the streaming twin of the batch
    curation pipeline (operators/textops + operators/dedup), in one
    query: decode → quality gate → exact content dedup → partitioned
    archive.

      decode   JSON {doc_id, text, lang, source, ts}; corrupt records
               and malformed timestamps QUARANTINED (try_to_timestamp +
               drop), never thrown — one poison document must not halt
               the ingest stream.
      quality  token-count floor (pure column expression — runs in the
               scan stage; the heavier repetition/diversity scores stay
               batch-side where they are oracle-checked).
      dedup    dropDuplicatesWithinWatermark on the xxhash64 content
               fingerprint — same-content documents arriving within the
               watermark are dropped regardless of doc_id; state is
               BOUNDED by the watermark (a plain dropDuplicates key set
               grows forever).
      archive  append-only snappy parquet partitioned by (lang, day) —
               the layout a downstream tokenizer job prunes by.
    """
    from ..functions import text as T

    event_ts = F.try_to_timestamp(F.col("j.ts"))
    docs = (
        _decode_json(
            raw,
            "doc_id string, text string, lang string, source string, ts string",
            ("text", event_ts),
            (
                "doc_id",
                "text",
                F.coalesce(F.col("j.lang"), F.lit("und")).alias("lang"),
                F.coalesce(F.col("j.source"), F.lit("unknown")).alias("source"),
                event_ts.alias("event_ts"),
            ),
        )
        .filter(T.token_count("text") >= min_tokens)
        .withColumn("fingerprint", T.fingerprint_fast("text"))
    )
    deduped = docs.withWatermark(
        "event_ts", watermark
    ).dropDuplicatesWithinWatermark(["fingerprint"])
    archived = deduped.select(
        "doc_id", "text", "lang", "source", "event_ts", day_bucket("event_ts").alias("day")
    )
    return _start(
        archived,
        sinks.parquet_append(out_path, ["lang", "day"]),
        checkpoint,
        available_now,
    )


def pii_scrub_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming PII scrub — the streaming twin of operators/pii:
    documents are redacted on the way INTO the lake, so nothing
    downstream (archives, vocab state, dedup fingerprints) ever holds
    raw PII. The reference's ingest (RawLogSparkStreaming.scala:21-122)
    archives verbatim; a training-data pipeline must not.

    Stateless map: decode (corrupt/malformed-ts rows QUARANTINED, not
    thrown) → the fused regexp_replace chain from operators/pii (one
    codegen projection, no Python) → (lang, day)-partitioned append.
    No watermark, no state store — this job backpressures only on
    sink throughput, so it scales to the full firehose.
    """
    from ..operators.pii import PII_PATTERNS

    redacted = F.col("j.text")
    n_hits = F.lit(0)
    for _, pat, token in PII_PATTERNS:
        n_hits = n_hits + F.regexp_count(F.col("j.text"), F.lit(pat))
        redacted = F.regexp_replace(redacted, pat, token)
    event_ts = F.try_to_timestamp(F.col("j.ts"))
    docs = _decode_json(
        raw,
        "doc_id string, text string, lang string, source string, ts string",
        ("text", event_ts),
        (
            "doc_id",
            redacted.alias("text"),
            n_hits.alias("n_redactions"),
            F.coalesce(F.col("j.lang"), F.lit("und")).alias("lang"),
            F.coalesce(F.col("j.source"), F.lit("unknown")).alias("source"),
            event_ts.alias("event_ts"),
        ),
    ).withColumn("day", day_bucket("event_ts"))
    return _start(
        docs, sinks.parquet_append(out_path, ["lang", "day"]), checkpoint, available_now
    )


def user_status_scd2_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming SCD2 — the live twin of sessions.scd2_user_status:
    per-user status intervals emitted INCREMENTALLY as changes arrive,
    instead of re-scanning the event log per day.

    applyInPandasWithState keyed by user_id; state is (current status,
    since). A batch's events are walked in (ts, event_id) order — the
    SAME tie-break as the batch twin, so the two histories agree row
    for row; every status CHANGE closes the open interval and emits it
    (valid_from, valid_to) — the still-open interval lives only in the
    state store, so the sink is append-only closed history, exactly
    once per interval. Output columns are TIMESTAMPS, matching
    sessions.scd2_user_status, so the live and batch histories union
    without casts. Cross-batch stragglers older than the stored `since`
    cannot be spliced into already-emitted history (append-only sink);
    they are dropped, keeping intervals monotone (valid_to >=
    valid_from) — in-order ingest per user is the job's contract, and
    late data belongs to the batch twin's daily rebuild.
    State is one row per active user; the reference's A8 merge pattern
    (QzPointStreaming.scala:142-163) is the same shape with counters
    instead of intervals.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    event_ts = F.try_to_timestamp(F.col("j.ts"))
    events = _decode_json(
        raw,
        "user_id string, event_type string, ts string, event_id string",
        ("user_id", event_ts),
        (
            "user_id",
            "event_type",
            event_ts.alias("event_ts"),
            F.coalesce(F.col("j.event_id"), F.lit("")).alias("event_id"),
        ),
    )

    def track(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["event_ts", "event_id"], kind="mergesort")
        if state.exists:
            cur_status, since_iso = state.get
            cur_since = pd.Timestamp(since_iso)
        else:
            cur_status, cur_since = None, None
        out = {"user_id": [], "status": [], "valid_from": [], "valid_to": []}
        for _, r in rows.iterrows():
            ts = r["event_ts"]
            if cur_since is not None and ts < cur_since:
                continue  # cross-batch straggler — see docstring
            if cur_status is None:
                cur_status, cur_since = r["event_type"], ts
            elif r["event_type"] != cur_status:
                out["user_id"].append(key[0])
                out["status"].append(cur_status)
                out["valid_from"].append(cur_since)
                out["valid_to"].append(ts)
                cur_status, cur_since = r["event_type"], ts
        # state stores `since` as full-precision ISO text (state columns
        # round-trip strings losslessly on every Spark build; isoformat
        # keeps microseconds so the Timestamp parse above is exact)
        state.update((cur_status, cur_since.isoformat()))
        yield pd.DataFrame(
            {
                "user_id": pd.Series(out["user_id"], dtype="object"),
                "status": pd.Series(out["status"], dtype="object"),
                "valid_from": pd.Series(out["valid_from"], dtype="datetime64[ns]"),
                "valid_to": pd.Series(out["valid_to"], dtype="datetime64[ns]"),
            }
        )

    closed = events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=(
            "user_id string, status string, "
            "valid_from timestamp, valid_to timestamp"
        ),
        stateStructType="status string, since string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start(closed, sinks.parquet_append(out_path), checkpoint, available_now)


def mixture_monitor_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming per-source token inventory — the live side of
    operators/textops.corpus_mixture_plan: as documents arrive, keep
    running (n_docs, total_tokens) per source so the mixture dashboard
    can compare actual ingest against target shares without scanning
    the archive.

    State is one row per source (bounded by |sources|); update mode
    emits only sources touched this trigger and the keyed upsert folds
    them into the sink. Decode quarantines corrupt JSON, same posture
    as every ingest job.
    """
    from ..functions import text as T

    docs = _decode_json(
        raw,
        "doc_id string, text string, source string",
        ("text",),
        (
            F.coalesce(F.col("j.source"), F.lit("unknown")).alias("source"),
            T.token_count(F.col("j.text")).alias("n_tokens"),
        ),
    )
    inv = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return _start(
        inv,
        sinks.parquet_upsert(out_path, ["source"]),
        checkpoint,
        available_now,
        "update",
    )


def vocabulary_stream_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming wordcount — the streaming twin of
    textops.vocabulary_topk: global token counts maintained
    incrementally in the state store (update mode emits only tokens
    seen this trigger; the keyed upsert folds them into the sink).

    The state is one long per distinct token — the vocabulary — which
    is exactly what the batch job would shuffle anyway; no per-doc
    state, no unbounded growth beyond vocabulary size."""
    from ..functions import text as T

    toks = raw.select(
        F.explode(T.tokens(F.col("value"))).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    return _start(
        counts,
        sinks.parquet_upsert(out_path, ["token"]),
        checkpoint,
        available_now,
        "update",
    )


def page_abandonment_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    max_gap: str = "10 minutes",
    watermark: str = "30 seconds",
    available_now: bool = False,
) -> StreamingQuery:
    """Stream-stream LEFT OUTER self-join: every visit paired with its
    follow-up OR emitted as abandoned — the funnel's exit points,
    which the inner-join transition job can't see.

    Outer semantics under watermarks: a matched pair emits when it
    joins; an UNMATCHED left row can only emit once the engine proves
    no match can still arrive — i.e. when the watermark passes
    from_ts + max_gap — so abandonment rows trail the data by the gap
    plus the watermark delay, by design (correctness over latency; the
    time-range conjunct is also what bounds the join state). A batch
    job would instead scan the whole history per day — this emits each
    abandonment exactly once, incrementally."""
    pages = decode_page_log_ts(raw).select("uid", "last_page_id", "page_id", "event_ts")
    prev = pages.select(
        F.col("uid"),
        F.col("page_id").alias("from_page"),
        F.col("event_ts").alias("from_ts"),
    ).withWatermark("from_ts", watermark)
    nxt = pages.select(
        F.col("uid").alias("uid2"),
        F.col("last_page_id"),
        F.col("page_id").alias("to_page"),
        F.col("event_ts").alias("to_ts"),
    ).withWatermark("to_ts", watermark)
    joined = prev.join(
        nxt,
        (prev.uid == nxt.uid2)
        & (F.col("from_page") == F.col("last_page_id"))
        & (F.col("to_ts") > F.col("from_ts"))
        & (F.col("to_ts") <= F.col("from_ts") + F.expr(f"INTERVAL {max_gap}")),
        "left_outer",
    ).select(
        "uid",
        "from_page",
        "from_ts",
        "to_page",
        F.col("to_page").isNull().alias("abandoned"),
    )
    return _start(joined, sinks.parquet_append(out_path), checkpoint, available_now)


def distinct_users_sketch_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Live DISTINCT registered users per platform via mergeable HLL
    sketches — the streaming twin of operators/sketches.py.

    Why not exact? A streaming exact distinct needs per-user state
    (unbounded: one entry per user ever seen) or a watermark that
    forgets old users (then it isn't all-time). The sketch version
    keeps ONE ~1-2 KB binary per platform regardless of user
    cardinality: each trigger sketches just the batch's users
    (hll_sketch_agg), then foreachBatch unions it into the persistent
    per-platform sketch (hll_union_agg over old ∪ new) and republishes
    sketch + estimate atomically.

    Replay safety comes from the algebra, not bookkeeping: an HLL
    union is a register-wise max, so re-merging a replayed batch is a
    no-op — the estimate cannot double-count, unlike the reference's
    read-add-write history merge (QzPointStreaming.scala:160-163, the
    T7 replay bug). Pinned by test_streaming_sketch_replay_idempotent.

    Output table: platform, sk (binary, reusable for further rollups
    e.g. all-platform union), distinct_users (estimate).
    """
    reg = decode_register_log(raw)

    def merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        new = batch.groupBy("platform").agg(F.hll_sketch_agg("user_id").alias("sk"))
        # same recovery-before-read ordering as token_countmin_job: a
        # crash between the swap renames must not read as a fresh sink
        # (union algebra protects against REPLAY, not against losing
        # the accumulated sketches themselves)
        sinks.recover_sink(out_path)
        if os.path.exists(out_path):
            old = spark.read.parquet(out_path).select("platform", "sk")
            new = old.unionByName(new)
        merged = (
            new.groupBy("platform")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .withColumn(
                "distinct_users", F.hll_sketch_estimate("sk").cast("long")
            )
            # tiny result (one row per platform): single file keeps the
            # read-back cheap and the swap atomic
            .coalesce(1)
            # materialize BEFORE the staged swap below reads out_path
            .localCheckpoint(eager=True)
        )
        sinks.parquet_overwrite_atomic(out_path)(merged, batch_id)

    return _start(reg, sinks.pin_batch(merge), checkpoint, available_now)


def embedding_ingest_job(
    raw: DataFrame,
    centroids,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Index-on-ingest for the ANN corpus: streaming embeddings are
    quantized to their IVF cell as they arrive and archived partitioned
    by cell — so the batch `knn_ivf` probe path reads ONLY its probe
    cells' directories (partition pruning does the inverted-list
    lookup; no re-indexing pass over the corpus, ever).

    `centroids` is the trained coarse quantizer
    (operators.similarity.train_ivf_centroids) — broadcast inside the
    vectorized assignment UDF, the same numpy-over-Arrow path the batch
    operators use. Input lines are JSON {"vec_id": long, "embedding":
    [float...], "label": int}; malformed lines and wrong-dimension
    vectors are dropped (quarantine posture, same as document_ingest).
    """
    import numpy as np

    from ..operators.similarity import _nearest_cids_udf
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cents = np.asarray(centroids, dtype=np.float64)
    dim = cents.shape[1]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    decoded = (
        raw.select(F.from_json(F.col("value").cast("string"), schema).alias("j"))
        .select("j.vec_id", "j.embedding", "j.label")
        .filter(F.col("vec_id").isNotNull() & (F.size("embedding") == dim))
    )
    assigned = decoded.withColumn(
        "cell", _nearest_cids_udf(cents, 1)(F.col("embedding"))[0]
    )
    return _start(
        assigned,
        sinks.parquet_append(out_path, partition_by=["cell"]),
        checkpoint,
        available_now,
    )


def token_countmin_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Live corpus token-frequency Count-Min sketch — the streaming
    twin of operators/sketches.token_countmin: each trigger folds the
    batch's token counts into a persistent d×w cell grid (row, bucket,
    cell_cnt), so frequency point-queries are answerable at any moment
    from CMS_DEPTH×CMS_WIDTH integers of state, independent of
    vocabulary size.

    Merge is cell-wise ADDITION (countmin_cells groupBy-sum over the
    old cells ∪ the batch delta). Unlike the HLL job above, addition is
    NOT replay-idempotent — a redelivered batch would double-count — so
    the sink carries the last merged batch_id and a trigger whose id
    is not newer than the sink's is dropped. That is the Spark-native
    form of the reference's transactional offset bookkeeping
    (RegisterStreaming.scala:125-137) and the guard its history merge
    lacked (the T7 replay-doubling bug). The id check is scoped to the
    checkpoint: a fresh checkpoint pointed at an existing sink restarts
    batch ids at 0, which this guard treats as redelivery — reprocess
    into a fresh sink instead.
    """
    from ..functions import text as T
    from ..operators.sketches import countmin_cells

    docs = _decode_json(
        raw, "doc_id string, text string, source string", ("text",), ("text",)
    )

    def merge(batch: DataFrame, prior: DataFrame, batch_id: int):
        token_counts = (
            batch.select(F.explode(T.tokens("text")).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
        )
        # d×w cells at most: the skeleton's single-file state IS the sink
        delta = countmin_cells(token_counts)
        return _add(prior, delta, ["row", "bucket"], "cell_cnt"), None

    return _fold_job(
        docs,
        checkpoint,
        out_path,
        "row int, bucket long, cell_cnt long",
        merge,
        available_now=available_now,
    )


def length_drift_monitor_job(
    raw: DataFrame,
    reference_hist: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Live ingest-drift monitor: maintain the cumulative token-length
    histogram of everything ingested so far and republish, each
    trigger, the full chi-square drift report against a static
    reference histogram (e.g. the previous release's, from
    textops.token_length_histogram with cnt_name='n_old').

    The monitoring counterpart of the batch corpus_drift_report — same
    drift_between_histograms core, so alerting thresholds mean the same
    thing on both surfaces. State is the cumulative histogram: bounded
    by n_bins, merged by per-bin addition, guarded against redelivery
    with the same sink-side batch-id bookkeeping as token_countmin_job
    (addition is not replay-idempotent). The histogram lives beside the
    report (out_path + '.hist') so the report overwrite stays atomic.
    """
    from ..operators.textops import (
        drift_between_histograms,
        token_length_histogram,
    )

    docs = _decode_json(
        raw, "doc_id string, text string, source string", ("text",), ("text",)
    )
    ref = reference_hist.select(
        "bin", F.col("n_old").alias("n_old")
    ).localCheckpoint(eager=True)

    def merge(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = token_length_histogram(batch, cnt_name="n")
        return _add(prior, delta, ["bin"], "n"), None

    def publish(hist: DataFrame, batch_id: int) -> None:
        report = drift_between_histograms(
            ref, hist.select("bin", F.col("n").alias("n_new"))
        )
        sinks.parquet_overwrite_atomic(out_path)(report.coalesce(1), batch_id)

    return _fold_job(
        docs,
        checkpoint,
        out_path + ".hist",
        "bin long, n long",
        merge,
        available_now=available_now,
        publish=publish,
    )


def record_linkage_job(
    raw: DataFrame,
    canonical: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Link-on-ingest: incoming records are matched against the
    canonical master table AS THEY ARRIVE — blocking equi-join on the
    broadcast canonical side, bigram-Dice scoring, best match per
    record — so downstream consumers only ever see resolved entity
    ids. Same analytics.link_records core as the batch certification
    query, wired stateless per trigger (append mode): linkage needs no
    cross-trigger state because the canonical side is static reference
    data, exactly like register_region_enrich_job's dimension join.

    Input records are JSON {rec_id, name, nation, cents}; malformed
    lines AND records missing any matcher-required field land in
    out_path + '.quarantine' (batch_id-stamped — dedupe on read) rather
    than being silently dropped by join/concat null-propagation.
    Matches go through the rec_id-keyed parquet_upsert sink, so a
    redelivered trigger rewrites the same keys instead of appending
    duplicates. canonical carries (cand_key, c_nation, c_rec) as
    produced by the batch operator's clean-side projection.
    """
    from ..operators.analytics import link_records

    # corrupt lines are kept here (not _decode_json) — they quarantine
    parsed = F.from_json(
        F.col("value"),
        "rec_id long, name string, nation long, cents string, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    decoded = raw.select(parsed.alias("j")).select(
        F.col("j._corrupt").alias("_corrupt"),
        F.col("j.rec_id").alias("rec_id"),
        F.col("j.name").alias("name"),
        F.col("j.nation").alias("d_nation"),
        F.col("j.cents").alias("cents"),
    )
    quarantine_path = out_path + ".quarantine"
    # the matches sink is an idempotent upsert keyed on rec_id: a
    # trigger redelivered after a successful write but before the
    # checkpoint commit rewrites the same keys instead of duplicating
    # every match row (plain mode('append') had exactly that bug)
    upsert = sinks.parquet_upsert(out_path, ["rec_id"])

    def link(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch = batch.localCheckpoint(eager=True)  # consumed twice below
        # a record missing ANY field the matcher needs is quarantined,
        # not silently dropped by the join/concat null-propagation
        bad = batch.filter(
            F.col("_corrupt").isNotNull()
            | F.col("rec_id").isNull()
            | F.col("name").isNull()
            | F.col("d_nation").isNull()
            | F.col("cents").isNull()
        )
        if not bad.isEmpty():
            # append is not replay-idempotent; the batch_id stamp lets
            # consumers dedupe on read (rec_id may itself be null here,
            # so an upsert key does not exist for this path)
            bad.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(quarantine_path)
        good = batch.filter(
            F.col("_corrupt").isNull()
            & F.col("rec_id").isNotNull()
            & F.col("name").isNotNull()
            & F.col("d_nation").isNotNull()
            & F.col("cents").isNotNull()
        ).select(
            "rec_id",
            "d_nation",
            F.concat(F.col("name"), F.lit("|"), F.col("cents")).alias("d_rec"),
        )
        matches = link_records(good, canonical, id_col="rec_id")
        upsert(matches, batch_id)

    return _start(decoded, sinks.pin_batch(link), checkpoint, available_now)


def substring_scrub_job(
    raw: DataFrame,
    span_table: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Substring-dedup-on-ingest: each arriving document is masked
    against the spans of EVERYTHING ingested before it, then its own
    spans join the standing span table — the streaming twin of
    dedup.cross_corpus_substring_dedup, completing the ingest trio
    (near-dup filter in document_ingest_job, IVF cell assignment in
    embedding_ingest_job, repeated-span scrub here).

    State is the distinct-span relation itself, kept NOT in the state
    store but as a span-keyed parquet_upsert table (content-addressed
    and unbounded like the corpus — lake data, not stream state; at
    scale this is the persisted span index every delta re-uses, and
    the upsert's hash-bucket layout means a trigger only opens the
    bucket dirs its spans touch).

    Replay safety needs more than the keyed upserts: a redelivered
    trigger re-reads a span table that its own first attempt already
    populated, and masking a document against its OWN spans would turn
    redelivery into data loss. So each span carries the batch_id of
    its FIRST ingestion (first-wins: spans already present are
    anti-joined away, never restamped) and masking only uses spans
    with ingest_batch < the current batch — a redelivered trigger sees
    exactly the table its first attempt saw. Batch-internal repeats
    are deliberately not masked (same semantics as the batch
    operator); the id guard is scoped to the checkpoint, like
    token_countmin_job's.

    Input: JSON {doc_id, text, source}; malformed lines drop on
    decode. Output rows: (doc_id, n_tokens, n_removed, text_deduped).
    """
    from ..operators.dedup import (
        SUBSTR_SPAN_TOKENS,
        _mask_spans,
        _span_rows,
    )

    docs = _decode_json(
        raw,
        "doc_id long, text string, source string",
        ("doc_id", "text"),
        ("doc_id", "text"),
    )
    upsert_docs = sinks.parquet_upsert(out_path, ["doc_id"])
    upsert_spans = sinks.parquet_upsert(span_table, ["span"])

    def scrub(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)  # masked + span branches
        sp = _span_rows(batch, SUBSTR_SPAN_TOKENS).localCheckpoint(eager=True)
        batch_spans = sp.select("span").distinct()
        # promote any half-committed swap BEFORE reading the span table
        sinks.recover_sink(span_table)
        if os.path.exists(span_table):
            existing = (
                spark.read.parquet(span_table)
                .select("span", "ingest_batch")
                .localCheckpoint(eager=True)  # mask + anti-join branches
            )
            # only spans from EARLIER batches mask — a redelivered
            # trigger must not see its own first attempt's spans
            corpus_spans = existing.filter(
                F.col("ingest_batch") < batch_id
            ).select("span")
            new_spans = batch_spans.join(
                existing.select("span"), "span", "left_anti"
            )
        else:
            corpus_spans = spark.createDataFrame([], "span string")
            new_spans = batch_spans
        masked = _mask_spans(
            batch, sp.join(corpus_spans, "span"), SUBSTR_SPAN_TOKENS
        ).localCheckpoint(eager=True)  # materialize BEFORE the upserts swap dirs
        upsert_docs(masked, batch_id)
        upsert_spans(
            new_spans.withColumn("ingest_batch", F.lit(batch_id)), batch_id
        )

    return _start(docs, sinks.pin_batch(scrub), checkpoint, available_now)


def token_budget_gate_job(
    raw: DataFrame,
    out_docs: str,
    checkpoint: str,
    budget: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Quota-on-ingest: the streaming twin of
    operators/textops.token_budget_cap. Each trigger admits the batch's
    documents in deterministic hash-priority order until their source's
    CUMULATIVE token total (across all prior triggers) exceeds
    `budget`; admitted docs land in per-batch parquet dirs, the
    per-source running totals live in a tiny state table beside them
    (out_docs + '.state', one row per source).

    Delivery semantics (T7): state merge is addition, so replays are
    fenced by the sink-side last_batch_id guard (token_countmin_job's
    bookkeeping); the admitted-docs write is a per-batch-dir OVERWRITE,
    so the crash window between the docs write and the state swap
    re-runs to the identical bytes (admission is deterministic given
    the same prior state and batch). Semantics delta vs the batch
    operator, documented as with the other twins: the batch form ranks
    the WHOLE corpus in one global hash order; the stream admits in
    arrival order, hash-ordered within each trigger — a late doc with a
    high-priority hash cannot evict an already-admitted one. The
    asymmetry also cuts the other way: WITHIN a trigger, a rejected
    doc's tokens still occupy cum_in_batch and can block lower-priority
    docs of the same trigger, but only ADMITTED tokens persist into
    used_tokens — so a doc rejected when co-delivered with
    higher-priority ones could be admitted had it arrived one trigger
    later, with head-room restored. That permissiveness is intentional:
    charging rejected tokens to the quota forever would let one
    oversized early doc permanently starve its source, which is the
    wrong failure mode for an ingest quota.
    """
    from pyspark.sql import Window

    from ..functions import text as T
    from ..functions.core import hash_bucket
    from ..operators.textops import BUDGET_HASH_MOD, TOKEN_BUDGET_PER_SOURCE

    budget = TOKEN_BUDGET_PER_SOURCE if budget is None else budget
    # doc_id is LongType to match documents.doc_id — the priority hash
    # is arithmetic (hash_bucket), same expression as the batch op
    docs = _decode_json(
        raw,
        "doc_id long, text string, source string",
        ("doc_id", "text", "source"),
        ("doc_id", "text", "source"),
    )

    def gate(batch: DataFrame, prior: DataFrame, batch_id: int):
        # deterministic within-trigger priority (trigger-sized window)
        w = (
            Window.partitionBy("source")
            .orderBy(hash_bucket("doc_id", BUDGET_HASH_MOD), "doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = batch.select(
            "doc_id",
            "source",
            T.token_count("text").cast("long").alias("n_tokens"),
            "text",
        ).withColumn("cum_in_batch", F.sum("n_tokens").over(w))
        admitted = (
            cum.join(prior, "source", "left")
            .withColumn(
                "cum_tokens",
                F.col("cum_in_batch") + F.coalesce("used_tokens", F.lit(0)),
            )
            .filter(F.col("cum_tokens") <= budget)
            .select("doc_id", "source", "n_tokens", "cum_tokens", "text")
            .localCheckpoint(eager=True)  # docs write + state branch
        )
        used = admitted.groupBy("source").agg(F.sum("n_tokens").alias("used_tokens"))
        # the docs dir is idempotent by construction: same state + same
        # batch → same admitted set
        return _add(prior, used, ["source"], "used_tokens"), admitted

    return _fold_job(
        docs,
        checkpoint,
        out_docs + ".state",
        "source string, used_tokens long",
        gate,
        out=out_docs,
        available_now=available_now,
    )


def shard_assign_job(
    raw: DataFrame,
    out_docs: str,
    checkpoint: str,
    shard_tokens: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Shard-on-ingest: the streaming twin of
    operators/textops.assign_training_shards. Each trigger lays its
    documents out in deterministic hash-priority order, CONTINUES the
    global token stream from the running total carried in a one-row
    state table (out_docs + '.state'), and assigns every doc the shard
    of its starting offset — so shards fill to ~shard_tokens across
    trigger boundaries exactly as the batch writer fills them across
    the corpus. The within-trigger prefix sum is the SAME bucketed
    machinery as the batch operator (reused directly), so no trigger
    ever rides a single window partition.

    Delivery semantics (T7): per-batch-dir OVERWRITE + batch-id fence
    in the swap-committed state row; assignment is deterministic given
    (prior total, batch), so a replayed trigger rewrites identical
    bytes. Semantics delta vs batch (documented like the other twins):
    the batch form hash-orders the WHOLE corpus; the stream freezes
    each trigger's layout at arrival — a later doc never reorders an
    already-written shard.
    """
    from ..operators.textops import SHARD_TOKEN_TARGET, assign_training_shards

    shard_tokens = SHARD_TOKEN_TARGET if shard_tokens is None else shard_tokens
    docs = _decode_json(
        raw,
        "doc_id long, text string, source string",
        ("doc_id", "text", "source"),
        ("doc_id", "text", "source"),
    )

    def assign(batch: DataFrame, prior: DataFrame, batch_id: int):
        prior_total = prior.agg(F.max("total_tokens")).first()[0] or 0
        assigned = (
            assign_training_shards(batch, shard_tokens)
            .withColumn("cum_tokens", F.col("cum_tokens") + F.lit(prior_total))
            .withColumn(
                "shard_id",
                F.expr(f"(cum_tokens - n_tokens) div {int(shard_tokens)}"),
            )
            .localCheckpoint(eager=True)  # docs write + state branch
        )
        total = assigned.agg(F.max("cum_tokens").cast("long").alias("total_tokens"))
        return total, assigned

    return _fold_job(
        docs,
        checkpoint,
        out_docs + ".state",
        "total_tokens long",
        assign,
        out=out_docs,
        available_now=available_now,
    )


def length_quantile_sketch_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Live document-length quantiles via a cumulative KLL sketch — the
    streaming twin of operators/sketches.price_quantile_sketch_rollup
    and the quantile member of the mergeable-sketch job family (CMS =
    frequencies, HLL = distincts, KLL = ranks). Each trigger folds the
    batch's length sketch into a single cumulative sketch held in a
    swap-committed state table (out_path + '.sk'); the published report
    is the CURRENT corpus p25/p50/p95 plus the exact running count.

    Why a sketch and not the exact stream: quantiles of an unbounded
    stream need every value (they don't add); the KLL state is KB-sized
    forever, merges associatively (kll_merge_agg_double), and its rank
    error is bounded — the only quantile state that survives T3 at
    100 TB/day. Merge is addition-like, NOT idempotent, so replays are
    fenced by last_batch_id exactly as the CMS job fences its cells
    (the reference's replay-doubling lesson, MyKafkaUtil.scala:32-92).
    """
    docs = _decode_json(
        raw, "doc_id string, text string, source string", ("text",), ("text",)
    )

    def fold(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = batch.select(
            F.size(F.split(F.trim("text"), " +")).cast("double").alias("n")
        ).agg(
            F.kll_sketch_agg_double("n").alias("sk"),
            F.count("*").alias("n_docs"),
        )
        merged = prior.unionByName(delta).agg(
            F.kll_merge_agg_double("sk").alias("sk"),
            F.sum("n_docs").alias("n_docs"),
        )
        return merged, None

    # runs on redelivered triggers too (ADVICE r6): a report lost after
    # the state swap is re-derived from the COMMITTED sketch, or an idle
    # stream would serve the stale report indefinitely
    def publish(state: DataFrame, batch_id: int) -> None:
        report = state.select(
            "n_docs",
            F.kll_sketch_get_quantile_double("sk", F.lit(0.25)).alias("p25"),
            F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"),
            F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95"),
        ).coalesce(1)
        sinks.parquet_overwrite_atomic(out_path)(report, batch_id)

    return _fold_job(
        docs,
        checkpoint,
        out_path + ".sk",
        "sk binary, n_docs long",
        fold,
        available_now=available_now,
        publish=publish,
    )


def seen_filter_job(
    raw: DataFrame,
    out_docs: str,
    checkpoint: str,
    m: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Seen-before filtering on ingest via a cumulative Bloom filter —
    the streaming twin of operators/sketches.bloom_membership_audit and
    the membership member of the sketch-state job family (CMS =
    frequencies, HLL = distincts, KLL = ranks, Bloom = membership).
    Every trigger probes each document's CONTENT key (xxhash64 of the
    normalized text — reposts under new doc_ids still match) against
    the accumulated bit set, annotates `probably_seen`, then inserts
    the trigger's bits. The state is the distinct-bit relation: at most
    BLOOM_M rows forever, whatever the stream's length — membership
    state that survives T3 where an exact seen-set grows without bound.

    One-sided error, surfaced honestly: a Bloom hit may be a false
    positive (rate set by m vs stream cardinality), so documents are
    ANNOTATED, not silently dropped — the downstream consumer chooses
    the drop policy. A miss is always genuinely new. Within a trigger,
    duplicates of the same key are exact (first occurrence by hash
    order is unflagged, the rest flagged) — trigger-sized window, the
    same boundedness argument as the budget gate. Bit insertion is set
    union (idempotent), but the ANNOTATION depends on prior state, so
    replays are still fenced by last_batch_id for exact re-emission.
    """
    from pyspark.sql import Window

    from ..functions.core import hash_bucket
    from ..operators.sketches import BLOOM_M, BLOOM_MULTS
    from ..operators.textops import BUDGET_HASH_MOD

    m = BLOOM_M if m is None else m
    docs = _decode_json(
        raw,
        "doc_id long, text string, source string",
        ("doc_id", "text"),
        ("doc_id", "text", "source"),
    )
    # the BLOOM_MULTS bit positions of the content key `k`
    bit_cols = [
        F.pmod(F.pmod("k", F.lit(2147483647)) * F.lit(a), F.lit(m)) for a in BLOOM_MULTS
    ]

    def probe_and_insert(batch: DataFrame, prior: DataFrame, batch_id: int):
        key = F.xxhash64(F.trim("text"))
        keyed = batch.select("doc_id", "text", "source", key.alias("k"))
        hit = keyed.select(
            "doc_id", *[b.alias(f"_b{i}") for i, b in enumerate(bit_cols)]
        )
        for i in range(len(BLOOM_MULTS)):
            hit = hit.join(
                F.broadcast(
                    prior.select(
                        F.col("bit").alias(f"_b{i}"), F.lit(True).alias(f"_h{i}")
                    ).distinct()
                ),
                f"_b{i}",
                "left",
            )
        seen_prior = F.lit(True)
        for i in range(len(BLOOM_MULTS)):
            seen_prior = seen_prior & F.coalesce(F.col(f"_h{i}"), F.lit(False))
        # exact within-trigger duplicate detection (trigger-sized);
        # first occurrence = hash-priority order (the budget-gate
        # convention), doc_id as the final tiebreak
        w = Window.partitionBy("k").orderBy(
            hash_bucket("doc_id", BUDGET_HASH_MOD), "doc_id"
        )
        annotated = (
            keyed.withColumn("rn", F.row_number().over(w))
            .join(hit.select("doc_id", seen_prior.alias("seen_prior")), "doc_id")
            .select(
                "doc_id",
                "text",
                "source",
                (F.col("seen_prior") | (F.col("rn") > 1)).alias("probably_seen"),
            )
            .localCheckpoint(eager=True)  # docs write + bits branch
        )
        new_bits = keyed.select(F.explode(F.array(*bit_cols)).alias("bit"))
        # bounded: at most m rows, ever
        return prior.unionByName(new_bits).distinct(), annotated

    return _fold_job(
        docs,
        checkpoint,
        out_docs + ".bits",
        "bit long",
        probe_and_insert,
        out=out_docs,
        available_now=available_now,
    )


def winnow_index_job(
    raw: DataFrame,
    out_docs: str,
    checkpoint: str,
    min_shared: int | None = None,
    max_fp_df: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Overlap-on-ingest via a cumulative winnowing fingerprint index —
    the streaming twin of operators/textops.winnowing_overlap_pairs
    and the content-OVERLAP member of the ingest-gate family (the
    Bloom seen-filter catches exact reposts; winnowing catches a
    document that EMBEDS a previously-ingested passage of w+k-1 words
    or more inside otherwise-new text, which an exact content key never
    matches). Every trigger fingerprints its documents (xxhash64 gram
    hashes — the scale variant; selection algorithm certified by the
    batch operator's oracle-backed poly twin), counts how many of each
    doc's prints already exist in the index (`n_prior_hits`), annotates
    `overlap_suspect` = n_prior_hits >= min_shared, then merges the
    trigger's prints into the index.

    State is the distinct-fingerprint INDEX a production plagiarism /
    contamination checker persists anyway, at the winnowing density of
    ~2/(w+1) of corpus grams. Unlike the KB-sized sketch states this
    grows with the corpus — so unlike the sketch jobs it is NOT a
    swap-rewritten single file: the index is an APPEND-ONLY parquet
    dir partitioned by ingest_batch (one overwrite-idempotent subdir
    per trigger, O(trigger prints) written — never an O(corpus)
    rewrite), and the probe reads it with `ingest_batch < batch_id`,
    a partition-PRUNED scan that also makes replays exact for free: a
    redelivered trigger excludes its own partition, recomputes the
    identical annotation from the identical prior state, and
    re-overwrites both its output dirs byte-for-byte. No fence row, no
    staged swap, nothing to recover — idempotence is structural.
    (A long-running deployment compacts old batch partitions offline
    with compact_winnow_index, passing this job's checkpoint dir so
    only COMMITTED triggers fold — an uncommitted trigger's dir must
    stay a real partition for the `< batch_id` filter to exclude it on
    replay. Folds made without the gate are caught by the probe's
    `_folded_through` subtract guard below; compaction only merges
    files, the relation is unchanged.)

    Semantics delta vs the batch operator, documented as with the
    other twins: the batch form pairs documents symmetrically; the
    stream annotates each arrival against PRIOR corpus only — two
    overlapping docs co-delivered in one trigger are each checked
    against the trigger-LOCAL print counts as well (a print shared
    within the trigger counts toward both docs' n_prior_hits), so
    co-delivery cannot hide overlap, but the pair attribution (which
    doc copied which) is the batch operator's job. The batch twin's
    `max_fp_df` boilerplate guard applies here too (ADVICE r7): a
    print whose document frequency across the seen corpus — prior
    index rows are one-per-(doc, fp), so the per-fp row count IS the
    prior df, plus this trigger's local df — exceeds the cap is
    dropped before hit counting, so a corpus-ubiquitous passage
    (license header) cannot push every subsequent document past
    min_shared.
    """
    from ..operators.textops import (
        WINNOW_MAX_FP_DF,
        WINNOW_MIN_SHARED,
        winnowing_fingerprints,
    )

    min_shared = WINNOW_MIN_SHARED if min_shared is None else min_shared
    max_fp_df = WINNOW_MAX_FP_DF if max_fp_df is None else max_fp_df
    index_path = out_docs + ".fpindex"

    docs = _decode_json(
        raw,
        "doc_id long, text string, source string",
        ("doc_id", "text"),
        ("doc_id", "text", "source"),
    )

    def probe_and_index(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # finish any compaction that crashed inside its commit step —
        # until then, folded rows exist only in the hidden staging dir
        # and the prior-df count below would undercount
        _recover_compaction(index_path)
        has_batches = os.path.isdir(index_path) and any(
            d.startswith("ingest_batch=") for d in os.listdir(index_path)
        )
        if has_batches:
            # partition-pruned: only batch dirs < batch_id are read, so
            # a replayed trigger never sees its own prints
            prior = (
                spark.read.option("basePath", index_path)
                .parquet(index_path)
                .filter(F.col("ingest_batch") < batch_id)
                .select("fp")
            )
        else:
            prior = spark.createDataFrame([], "fp long")
        fps = (
            winnowing_fingerprints(batch.select("doc_id", "text"))
            .select("doc_id", "fp")
            # distinct per doc: a print repeated WITHIN one doc is one
            # print (self-repetition must not self-flag)
            .dropDuplicates(["doc_id", "fp"])
            .localCheckpoint(eager=True)  # probe + local df + insert
        )
        # trigger-local print df: a print carried by two co-delivered
        # docs counts toward both (co-delivery cannot hide overlap)
        local_df = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("n_local"))
        # prior df per fp: index rows are one-per-(doc, fp), so the row
        # count is the document frequency. Filter the index by the
        # TRIGGER'S fps (broadcast semi-join, map-side) BEFORE
        # aggregating — a bare groupBy would shuffle the whole
        # accumulated index every trigger, an O(corpus) per-trigger
        # exchange; semi-joined first, the scan stays linear but the
        # exchange (and the aggregate) are trigger-sized forever
        prior_df = (
            prior.join(
                F.broadcast(fps.select("fp").distinct()), "fp", "left_semi"
            )
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_prior"))
        )
        if _folded_through(index_path) >= batch_id:
            # Replay after an UNGATED compaction folded this trigger's
            # own prints into ingest_batch=-1 (checkpoint-gated
            # compaction can never reach here: a replayable batch is
            # uncommitted, so it is never folded). The index stores no
            # doc ids, but our folded contribution per fp is exactly
            # n_local — one row per (doc, fp), deterministic recompute
            # — so subtract it back out (ADVICE r9 medium).
            prior_df = (
                prior_df.join(F.broadcast(local_df), "fp")
                .select(
                    "fp",
                    (F.col("n_prior") - F.col("n_local")).alias("n_prior"),
                )
                .filter(F.col("n_prior") > 0)
            )
        hits = (
            fps.join(prior_df, "fp", "left")
            .join(F.broadcast(local_df), "fp")
            .withColumn("n_prior", F.coalesce("n_prior", F.lit(0)))
            # boilerplate guard (the batch twin's max_fp_df, ADVICE r7):
            # ubiquitous prints carry no overlap signal — drop BEFORE
            # hit counting, judged over the whole seen corpus
            .filter(F.col("n_prior") + F.col("n_local") <= max_fp_df)
            .withColumn(
                "hit",
                F.when(
                    (F.col("n_prior") > 0) | (F.col("n_local") > 1), 1
                ).otherwise(0),
            )
            .groupBy("doc_id")
            .agg(F.sum("hit").alias("n_prior_hits"))
        )
        annotated = (
            batch.join(hits, "doc_id", "left")
            .select(
                "doc_id",
                "text",
                "source",
                F.coalesce("n_prior_hits", F.lit(0)).alias("n_prior_hits"),
                (
                    F.coalesce("n_prior_hits", F.lit(0)) >= min_shared
                ).alias("overlap_suspect"),
            )
            .localCheckpoint(eager=True)  # docs write + index branch
        )
        annotated.write.mode("overwrite").parquet(
            os.path.join(out_docs, f"ingest_batch={batch_id}")
        )
        # append the trigger's prints as one overwrite-idempotent batch
        # partition — O(trigger) bytes written, the accumulated index
        # is never rewritten. Rows are one-per-(doc, fp) — per-doc
        # distinct upstream, cross-doc multiplicity kept on purpose:
        # the probe reads the per-fp row count as the print's df
        fps.select("fp").write.mode("overwrite").parquet(
            os.path.join(index_path, f"ingest_batch={batch_id}")
        )

    return _start(docs, sinks.pin_batch(probe_and_index), checkpoint, available_now)


def curation_ingest_job(
    raw: DataFrame,
    out_docs: str,
    checkpoint: str,
    budget: int | None = None,
    shard_tokens: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """The composed ingest pipeline LIVE — quality gate → per-source
    token-budget admission → global shard assignment in one trigger,
    the streaming twin of corpus_end_to_end_curation's admission path
    (its per-stage twins exist separately: doc_ingest, budget gate,
    shard assign — this job certifies that the stages COMPOSE under
    state, which is where streaming pipelines actually break: a doc
    must pass the stateless gate before it may consume budget, and
    only budget-ADMITTED tokens may advance the shard stream's global
    offset).

    Per trigger: parse/validate → Gopher rule gate (stateless — reuses
    the certified batch operator verbatim) → hash-priority budget
    admission against CUMULATIVE per-source totals → shard id from the
    CONTINUING global token offset. Rejections are not silent: gated
    docs write to out_docs + '.rejects' with the firing rule or
    'budget' as drop_reason — an ingest pipeline that discards
    unaccountably is undebuggable.

    State: ONE table (out_docs + '.state') holding the per-source
    used_tokens rows AND the global offset row (source = '' — sources
    are validated non-empty upstream, so the key cannot collide),
    swap-committed in a single atomic publish — two separate state
    tables could commit one and crash before the other, leaving
    budget and shard accounting divergent. Fence + half-commit
    recovery as in the component twins (T7): per-batch-dir OVERWRITE
    docs, deterministic admission given (state, batch), batch-id fence
    on the state row.
    """
    from pyspark.sql import Window

    from ..functions.core import hash_bucket
    from ..operators.textops import (
        BUDGET_HASH_MOD,
        BUDGET_PREFIX_BUCKETS,
        SHARD_TOKEN_TARGET,
        TOKEN_BUDGET_PER_SOURCE,
        gopher_quality_rules,
    )

    budget = TOKEN_BUDGET_PER_SOURCE if budget is None else budget
    shard_tokens = SHARD_TOKEN_TARGET if shard_tokens is None else shard_tokens
    rejects_path = out_docs + ".rejects"
    docs = _decode_json(
        raw,
        "doc_id long, text string, source string",
        ("doc_id", "text", "source"),
        ("doc_id", "text", "source"),
    ).filter(F.col("source") != "")  # '' is the global-offset key

    def ingest(batch: DataFrame, prior: DataFrame, batch_id: int):
        spark = batch.sparkSession
        prior = prior.localCheckpoint(eager=True)  # 3 readers below
        # --- stage 1: stateless quality gate (certified batch op) ----
        gated = gopher_quality_rules(
            batch, keep_cols=("source", "text")
        ).localCheckpoint(eager=True)  # admit branch + rejects branch
        rule_rejects = gated.filter(~F.col("keep")).select(
            "doc_id", "source", "drop_reason"
        )
        # --- stage 2: budget admission (cumulative per source) -------
        w = (
            Window.partitionBy("source")
            .orderBy(hash_bucket("doc_id", BUDGET_HASH_MOD), "doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = (
            gated.filter(F.col("keep"))
            .select(
                "doc_id",
                "source",
                # the gate already counted tokens — reuse, don't rescan
                F.col("n_tokens").cast("long").alias("n_tokens"),
                "text",
            )
            .withColumn("cum_in_batch", F.sum("n_tokens").over(w))
        )
        judged = cum.join(
            prior.hint("broadcast"), "source", "left"
        ).withColumn(
            "cum_tokens",
            F.col("cum_in_batch") + F.coalesce("used_tokens", F.lit(0)),
        )
        budget_rejects = judged.filter(F.col("cum_tokens") > budget).select(
            "doc_id", "source", F.lit("budget").alias("drop_reason")
        )
        admitted = (
            judged.filter(F.col("cum_tokens") <= budget)
            .select("doc_id", "source", "n_tokens", "text")
            .localCheckpoint(eager=True)  # shard branch + state branch
        )
        # --- stage 3: shard ids from the continuing global offset ----
        # Same bucketed prefix sum as the batch twin
        # (assign_training_shards, textops.py): a partition-less
        # Window.orderBy would funnel the whole trigger through ONE
        # task — tolerable at micro-batch sizes, a throughput ceiling
        # under availableNow catch-up where one trigger is the whole
        # backlog. Cut the hash-priority space into ordered ranges:
        # per-bucket totals (≤ BUDGET_PREFIX_BUCKETS rows) → running
        # offsets via a window over that tiny relation → the heavy
        # cumsum runs per bucket. Identical (h, doc_id) order and
        # all-integer arithmetic ⇒ bit-identical to the single-window
        # form this replaces.
        g_prior = prior.filter(F.col("source") == "").select(
            F.col("used_tokens").alias("g_off")
        )
        per_bucket = BUDGET_HASH_MOD // BUDGET_PREFIX_BUCKETS + 1
        keyed = admitted.withColumn(
            "h", hash_bucket("doc_id", BUDGET_HASH_MOD)
        ).withColumn("bucket", (F.col("h") / per_bucket).cast("int"))
        off_w = Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, -1
        )  # ≤ BUDGET_PREFIX_BUCKETS rows — tiny by construction
        offsets = (
            keyed.groupBy("bucket")
            .agg(F.sum("n_tokens").alias("bucket_tokens"))
            .select(
                "bucket",
                F.coalesce(
                    F.sum("bucket_tokens").over(off_w), F.lit(0)
                ).alias("offset"),
            )
        )
        cum_w = (
            Window.partitionBy("bucket")
            .orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        sharded = (
            keyed.join(F.broadcast(offsets), "bucket")
            .withColumn(
                "g_cum", F.sum("n_tokens").over(cum_w) + F.col("offset")
            )
            .crossJoin(
                F.broadcast(
                    g_prior.unionByName(
                        spark.createDataFrame([(0,)], "g_off long")
                    ).agg(F.max("g_off").alias("g_off"))
                )
            )
            .select(
                "doc_id",
                "source",
                "n_tokens",
                (F.col("g_cum") + F.col("g_off")).alias("global_offset"),
                F.expr(
                    f"(g_cum + g_off - n_tokens) div {int(shard_tokens)}"
                ).alias("shard_id"),
                "text",
            )
            .localCheckpoint(eager=True)
        )
        rule_rejects.unionByName(budget_rejects).write.mode(
            "overwrite"
        ).parquet(os.path.join(rejects_path, f"ingest_batch={batch_id}"))
        # --- one state table: per-source totals + the global offset ---
        used = admitted.groupBy("source").agg(F.sum("n_tokens").alias("used_tokens"))
        offset = admitted.agg(F.sum("n_tokens").alias("used_tokens")).select(
            F.lit("").alias("source"), "used_tokens"
        )
        return _add(prior, used.unionByName(offset), ["source"], "used_tokens"), sharded

    return _fold_job(
        docs,
        checkpoint,
        out_docs + ".state",
        "source string, used_tokens long",
        ingest,
        out=out_docs,
        available_now=available_now,
    )


def compact_winnow_index(
    spark: SparkSession, index_path: str, checkpoint: str | None = None
) -> int:
    """Offline compaction for winnow_index_job's append-only
    fingerprint index: fold every ingest_batch partition into ONE
    partition at `ingest_batch=-1` (strictly below any real batch id,
    so the probe's `ingest_batch < batch_id` filter always includes
    it), then drop the folded batch dirs. Run between job restarts —
    the relation is unchanged, only its file count.

    Row MULTIPLICITY is preserved, not distinct-ed: index rows are
    one-per-(doc, fp), and the probe's boilerplate guard (max_fp_df,
    ADVICE r7) reads the per-fp row count as the print's document
    frequency — a distinct() here would reset every ubiquitous
    print's df to 1 and silently disable the guard for the compacted
    corpus.

    Crash-safe against RE-RUNS, not just single-run interruption
    (ADVICE r8): because per-fp row multiplicity IS the document
    frequency, the old write-minus-1-then-delete order had a doubling
    window — a crash after the overwrite but mid-delete left folded
    rows in BOTH ingest_batch=-1 and the surviving batch dirs, and a
    re-run baked the doubled dfs in (inflated dfs trip max_fp_df and
    silently disable overlap detection). The fix is a three-step
    commit protocol:

      1. write the fold to `_staging_compact` (underscore-prefixed —
         invisible to Spark's file listing, so the probe never reads
         a half-written fold);
      2. atomically publish `_compaction_manifest.json` naming the
         folded batch dirs (os.replace of a tmp file — manifest
         present ⟹ staging is COMPLETE);
      3. delete the folded dirs, then rename staging onto
         ingest_batch=-1 (rename-last), then remove the manifest.

    A crash before 2 leaves the original index bit-intact (staging is
    hidden; re-run overwrites it). A crash anywhere inside 3 is
    finished — never re-read — by the next run: the manifest says
    which dirs are already inside the fold, so they are deleted
    without being merged again, and the staging dir (whose only exit
    is the rename) tells recovery whether the swap still needs to
    happen. No interleaving double-counts or drops a row.

    Crash-safe against REPLAYS too (ADVICE r9): pass the job's
    `checkpoint` dir and only batch dirs the stream has COMMITTED are
    folded. Without the gate, folding the dir of a trigger whose
    commit never landed moves that trigger's own prints into
    ingest_batch=-1 — which always passes the probe's
    `ingest_batch < batch_id` replay filter — so the redelivered
    trigger would count its own prints as prior df (the probe's
    `_folded_through` subtract guard is the backstop for folds made
    without the gate). Gating also refuses dirs a crashed write left
    partial, whose row counts are not yet the true dfs.
    Returns the number of batch partitions folded away.
    """
    # multiplicity kept: per-fp row count IS the df
    return _compact_batch_dirs(
        spark,
        index_path,
        lambda df: df.select("fp"),
        max_batch_id=None if checkpoint is None
        else _committed_through(checkpoint),
    )


def _committed_through(checkpoint: str) -> int:
    """Largest batch id the stream checkpoint has COMMITTED (the
    trigger's `commits/<id>` record landed after its writes), or -1.
    A batch that will be REPLAYED on restart — offsets written, commit
    missing — is by definition above this value, so a compaction gated
    on it can never fold a replayable trigger's own rows into the
    ingest_batch=-1 partition (ADVICE r9 high: an ungated fold lets a
    redelivered trigger join against its own folded rows and
    self-match at Jaccard 1.0)."""
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return -1
    return max(
        (int(f) for f in os.listdir(commits) if f.isdigit()), default=-1
    )


def _folded_through(path: str) -> int:
    """Largest batch id ever folded into this index's ingest_batch=-1
    partition (from the `_folded_through.json` sidecar the fold writes
    into its staging dir; -1 for an uncompacted index or a pre-sidecar
    fold). The winnow probe compares this against its own batch id to
    detect the replay-after-UNGATED-compaction case."""
    import json

    p = os.path.join(path, "ingest_batch=-1", "_folded_through.json")
    if not os.path.isfile(p):
        return -1
    with open(p) as f:
        return json.load(f)["folded_through"]


# How long a commit-lock holder may be presumed alive. A holder only
# deletes folded dirs + renames one dir, so seconds suffice locally;
# the margin covers a slow filesystem. After this, a waiter treats the
# lock as a crashed holder's leftover and steals it (re-running the
# commit step serially is idempotent — only CONCURRENT entry is unsafe).
_COMPACTION_LOCK_STEAL_S = 300.0


def _finish_compaction(path: str, folded: list[str]) -> int:
    """The commit step of the fold protocol, shared by the normal path
    and crash recovery. Precondition: manifest on disk and the
    complete fold in staging (or already renamed onto
    ingest_batch=-1): delete the folded dirs, rename staging onto
    ingest_batch=-1 (THE commit point), remove the manifest.

    SERIALIZED via an atomic mkdir lock: with probe-side recovery
    (below), a streaming trigger and an offline compactor can both
    reach this step for the same index — unserialized, a loser
    interleaving `rmtree(minus1)` with the winner's rename deletes the
    just-committed fold. The lock holder does the work; a waiter spins
    until the manifest disappears (commit done) and steals the lock
    only past _COMPACTION_LOCK_STEAL_S (a crashed holder — re-entry is
    safe serially because every sub-step is idempotent)."""
    import json
    import time

    staging = os.path.join(path, "_staging_compact")
    manifest = os.path.join(path, "_compaction_manifest.json")
    minus1 = os.path.join(path, "ingest_batch=-1")
    lock = os.path.join(path, "_compaction_commit.lock")

    t0 = time.monotonic()
    while True:
        try:
            os.mkdir(lock)  # atomic claim
            break
        except FileExistsError:
            if not os.path.isfile(manifest):
                return 0  # the holder finished the commit
            if time.monotonic() - t0 > _COMPACTION_LOCK_STEAL_S:
                try:
                    os.rmdir(lock)  # crashed holder's leftover
                except OSError:
                    pass
                t0 = time.monotonic()
                continue
            time.sleep(0.05)
    try:
        if not os.path.isfile(manifest):
            return 0  # finished between our check and the claim
        with open(manifest) as f:
            folded = json.load(f)["folded"]  # authoritative list
        for d in folded:
            p = os.path.join(path, d)
            if os.path.isdir(p):
                shutil.rmtree(p)
        if os.path.isdir(staging):
            if os.path.isdir(minus1):
                shutil.rmtree(minus1)  # pre-fold rows — already in staging
            os.rename(staging, minus1)  # THE commit point
        os.remove(manifest)
        return len(folded)
    finally:
        try:
            os.rmdir(lock)
        except OSError:
            pass


def _recover_compaction(path: str) -> int:
    """Finish a compaction interrupted inside its commit step. The
    manifest is published only after the staging write returns, so
    manifest-on-disk ⟹ the fold is complete; until the rename lands,
    rows deleted from folded batch dirs exist ONLY in the hidden
    staging dir and a probe reading the index mid-recovery would
    undercount prior document frequencies. Both streaming probes call
    this (no-op isfile check per trigger) before listing the index, so
    the stream itself closes the crash window instead of waiting for
    the next offline compaction run. Concurrent entry (trigger vs
    offline compactor) is serialized inside _finish_compaction."""
    manifest = os.path.join(path, "_compaction_manifest.json")
    if not os.path.isfile(manifest):
        return 0
    return _finish_compaction(path, [])  # list re-read under the lock


def _compact_batch_dirs(
    spark: SparkSession,
    path: str,
    project,
    cluster_by: tuple[str, ...] = (),
    rows_per_file: int = 4_000_000,
    max_batch_id: int | None = None,
) -> int:
    """The staging + manifest + rename-last fold protocol behind
    compact_winnow_index (where its crash analysis is documented),
    shared by every append-only ingest_batch-partitioned index.
    `project` selects the columns to keep; `cluster_by` repartitions
    and sorts the fold on the named columns (e.g. the signature
    index's shingle buckets) so predicate pushdown on them prunes
    row groups of the folded file(s).

    `max_batch_id` gates WHICH batch dirs fold (ADVICE r9): only dirs
    with id <= max_batch_id are merged and deleted; later dirs —
    uncommitted triggers that a restart may replay, or dirs a crashed
    write left partial — are left untouched for a later run. The fold
    records the largest id it has ever absorbed in a
    `_folded_through.json` sidecar (hidden from Spark's file listing)
    inside ingest_batch=-1, carried forward across folds, so probes
    can detect a fold that DOES contain their own batch."""
    import json

    if not os.path.isdir(path):
        return 0
    staging = os.path.join(path, "_staging_compact")
    manifest = os.path.join(path, "_compaction_manifest.json")

    # isfile, not exists: the manifest is the compaction protocol's own
    # commit record (crash analysis above), not a cumulative swap-sink —
    # test_sinks' recover-before-exists contract scan rightly doesn't
    # apply to it
    if os.path.isfile(manifest):
        # interrupted previous run: its staging fold is complete (the
        # manifest is written only after the staging write returns) —
        # finish its deletes + rename without re-reading anything
        return _recover_compaction(path)

    batch_ids = {
        d: int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("ingest_batch=") and d != "ingest_batch=-1"
        # never fold a dir whose write did not COMMIT (_SUCCESS is the
        # committer's marker): a crashed trigger's partial dir holds a
        # prefix of its rows, and folding a prefix both bakes wrong dfs
        # into ingest_batch=-1 and breaks the winnow probe's
        # subtract-guard arithmetic, which assumes a fold absorbed a
        # batch completely or not at all. The replay will overwrite the
        # partial dir; a later compaction folds it then.
        and os.path.isfile(os.path.join(path, d, "_SUCCESS"))
    }
    batch_dirs = [
        d
        for d, i in batch_ids.items()
        if max_batch_id is None or i <= max_batch_id
    ]
    if not batch_dirs:
        return 0
    # read EXACTLY the fold's inputs — the existing minus1 partition
    # plus the dirs that will be deleted. An isin over the partition
    # column (not a bare <=) keeps skipped dirs (uncommitted, ungated)
    # out of the fold so their rows cannot be double-counted when the
    # dir survives the delete.
    scan = (
        spark.read.option("basePath", path)
        .parquet(path)
        .filter(
            F.col("ingest_batch").isin(
                [-1] + [batch_ids[d] for d in batch_dirs]
            )
        )
    )
    merged = (
        project(scan)
        # pin the full read once; count() and the write below share it
        .localCheckpoint(eager=True)
    )
    # bound file count (~32 MB each) — without this the write
    # inherits one output file per input file and the compaction
    # removes directories but not the footer/listing overhead
    # that motivated it
    n_files = max(1, min(256, merged.count() // rows_per_file + 1))
    if cluster_by:
        # partition on the FIRST cluster column only (a composite hash
        # would scatter each value across every file and defeat the
        # pushdown), sort on all of them for tight row-group stats
        out = merged.repartition(n_files, cluster_by[0]).sortWithinPartitions(
            *cluster_by
        )
    else:
        out = merged.coalesce(n_files)
    out.write.mode("overwrite").parquet(staging)
    # record the largest batch id this fold absorbs (carried forward
    # from any previous fold's sidecar) BEFORE the manifest publish,
    # so the rename can never commit a fold without its provenance
    with open(os.path.join(staging, "_folded_through.json"), "w") as f:
        json.dump(
            {
                "folded_through": max(
                    [batch_ids[d] for d in batch_dirs]
                    + [_folded_through(path)]
                )
            },
            f,
        )
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"folded": sorted(batch_dirs)}, f)
    os.replace(tmp, manifest)  # atomic publish: fold is now committed
    return _finish_compaction(path, sorted(batch_dirs))


def compact_minhash_index(
    spark: SparkSession, index_path: str, checkpoint: str | None = None
) -> int:
    """Offline compaction for minhash_dedup_job's append-only
    signature index — the winnow compaction's twin, one fold per
    relation (bands, then shingles), each independently crash-safe
    under the shared staging + manifest + rename-last protocol. The
    shingle fold re-clusters (repartition + sort) on bucket so the
    probe's `bucket IN (...)` predicate pushdown keeps pruning row
    groups after the fold. Rows here are identity-keyed
    (doc_id), so unlike the winnow index there is no multiplicity
    semantics to protect — but the doubling hazard is the same: a
    duplicated band row would re-surface the same candidate pair
    twice and a duplicated shingle row would double-join the verify.

    Pass the job's `checkpoint` dir so only COMMITTED batch dirs fold
    (ADVICE r9): an ungated fold moves an uncommitted trigger's own
    band/shingle rows into ingest_batch=-1, where the redelivered
    trigger's `ingest_batch < batch_id` filter no longer excludes
    them — it would candidate-join its own documents and self-match
    at Jaccard 1.0 (the probe's own-doc anti-join is the unconditional
    backstop). Returns the total number of batch partitions folded."""
    max_b = (
        None if checkpoint is None else _committed_through(checkpoint)
    )
    folded = _compact_batch_dirs(
        spark,
        os.path.join(index_path, "bands"),
        lambda df: df.select("doc_id", "band", "bh"),
        max_batch_id=max_b,
    )
    folded += _compact_batch_dirs(
        spark,
        os.path.join(index_path, "shingles"),
        lambda df: df.select("doc_id", "sh", "bucket"),
        cluster_by=("bucket", "doc_id"),
        max_batch_id=max_b,
    )
    return folded


def minhash_dedup_job(
    raw: DataFrame,
    out_docs: str,
    checkpoint: str,
    threshold: float | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Near-dup-on-ingest via a cumulative MinHash signature index —
    the streaming twin of `dedup.cross_corpus_minhash_pairs` and the
    WHOLE-DOCUMENT member of the ingest-gate family (the Bloom seen
    filter catches exact reposts, the winnowing index catches embedded
    passages; this catches a re-crawl that is a near-copy of a
    previously-ingested document under small edits, which neither of
    the other two flags). Every trigger signs its documents, probes
    the accumulated index for band collisions, verifies candidates
    with exact Jaccard against the index's STORED shingle sets, and
    appends its own signature + shingle rows.

    The state it grows is exactly the artifact
    `dedup.build_minhash_index` builds offline — bands (doc_id, band,
    bh) plus bucket-partitioned shingle sets — maintained
    incrementally: one overwrite-idempotent `ingest_batch=N` partition
    per trigger under each relation, probe reads `ingest_batch <
    batch_id` (partition-pruned, so replays are structurally exact:
    a redelivered trigger excludes its own rows and recomputes the
    identical annotation; after offline compaction the partition
    filter alone no longer suffices — folded rows live at
    ingest_batch=-1 — so compact_minhash_index is gated on the
    checkpoint's committed batches, and when the fold's sidecar shows
    it absorbed this very batch (ungated compaction + replay) the
    probe additionally anti-joins candidates against the trigger's
    own doc ids, ADVICE r9; on the committed path a same-doc-id
    redelivery keeps flagging as an exact repost). Shingle reads are additionally pruned by
    `bucket IN (candidate buckets)` — the bounded ≤64-bucket collect
    idiom — and SKIPPED outright on the common no-candidate trigger,
    so per-trigger verification reads O(candidates), never O(corpus).
    The delta side of the collision join is trigger-sized and
    broadcast; the index scan stays map-side.

    Layout note vs the offline artifact: build_minhash_index
    partitions shingles BY bucket (64 dirs total — right for one bulk
    write); a stream writing 64 bucket dirs per trigger would explode
    the file count (measured: 64 files/trigger, and the probe's
    partition discovery grew linearly — 1.8 s at just 10 triggers), so
    here bucket is a SORTED DATA COLUMN inside one file per trigger —
    the `bucket IN (...)` predicate pushes down to parquet row-group
    stats instead of directory pruning, which is the same IO skip at
    one footer per batch. compact_minhash_index folds old batch dirs
    and re-clusters by bucket.

    Dedup attribution is the canonical min-keeps rule shared with
    near_dup_clusters: a doc is flagged if it near-dups any PRIOR
    document, or a co-delivered document with a SMALLER doc_id — the
    first arrival of a duplicate family stays clean, every later
    arrival is flagged with its duplicate count. Output columns:
    (doc_id, text, source, n_prior_dups, n_local_dups,
    near_dup_suspect).
    """
    from ..functions import hashing
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        MINHASH_INDEX_BUCKETS,
        _banded_sigs,
        _shingled,
    )

    threshold = JACCARD_THRESHOLD if threshold is None else threshold
    index_path = out_docs + ".sigindex"
    bands_path = os.path.join(index_path, "bands")
    shingles_path = os.path.join(index_path, "shingles")

    docs = _decode_json(
        raw,
        "doc_id long, text string, source string",
        ("doc_id", "text"),
        ("doc_id", "text", "source"),
    )

    def probe_and_index(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        sigs = _banded_sigs(
            batch.select("doc_id", "text"),
            3,
            hashing.DEFAULT_NUM_HASHES,
            hashing.DEFAULT_BANDS,
        ).localCheckpoint(eager=True)  # probe join + local pairs + append
        sh_delta = _shingled(batch.select("doc_id", "text")).localCheckpoint(
            eager=True
        )  # verify both candidate kinds + append
        # finish any compaction that crashed inside its commit step
        # before reading either relation (see _recover_compaction)
        _recover_compaction(bands_path)
        _recover_compaction(shingles_path)
        has_prior = os.path.isdir(bands_path) and any(
            d.startswith("ingest_batch=") for d in os.listdir(bands_path)
        )
        if has_prior:
            prior_bands = (
                spark.read.option("basePath", bands_path)
                .parquet(bands_path)
                .filter(F.col("ingest_batch") < batch_id)
            )
            cand_prior = (
                prior_bands.join(
                    F.broadcast(sigs.alias("a")),
                    (F.col("a.band") == prior_bands.band)
                    & (F.col("a.bh") == prior_bands.bh),
                )
                .select(
                    F.col("a.doc_id").alias("new_id"),
                    prior_bands.doc_id.alias("corpus_id"),
                )
                .distinct()
                .localCheckpoint(eager=True)  # bucket collect + verify
            )
            if _folded_through(bands_path) >= batch_id:
                # Replay after an UNGATED compaction folded this
                # trigger's own band rows into ingest_batch=-1, which
                # passes the < batch_id filter (ADVICE r9 high: every
                # doc self-matches at Jaccard 1.0). A document is never
                # a prior near-dup of ITSELF, so drop candidates whose
                # corpus side is one of this trigger's own doc ids —
                # trigger-sized broadcast anti-join. Deliberately
                # CONDITIONAL (the winnow twin's guard): on the
                # committed path a same-doc-id redelivery across
                # triggers is a legitimate exact repost and keeps
                # flagging as before.
                cand_prior = cand_prior.join(
                    F.broadcast(
                        batch.select(F.col("doc_id").alias("corpus_id"))
                    ),
                    "corpus_id",
                    "left_anti",
                ).localCheckpoint(eager=True)
            buckets = [
                r["bucket"]
                for r in cand_prior.select(
                    F.pmod(F.col("corpus_id"), F.lit(MINHASH_INDEX_BUCKETS))
                    .cast("int")
                    .alias("bucket")
                )
                .distinct()
                .collect()  # ≤ MINHASH_INDEX_BUCKETS rows
            ]
        else:
            buckets = []
        if buckets:
            sh_prior = (
                spark.read.option("basePath", shingles_path)
                .parquet(shingles_path)
                # ingest_batch is a partition dir; bucket is a sorted
                # data column — the isin pushes to row-group stats
                .filter(
                    (F.col("ingest_batch") < batch_id)
                    & F.col("bucket").isin(buckets)
                )
                .join(
                    cand_prior.select(F.col("corpus_id").alias("doc_id"))
                    .distinct(),
                    "doc_id",
                    "left_semi",
                )
                .select("doc_id", "sh")
            )
            j = hashing.jaccard(F.col("sa.sh"), F.col("sb.sh"))
            prior_dups = (
                cand_prior.join(
                    sh_delta.alias("sa"), cand_prior.new_id == F.col("sa.doc_id")
                )
                .join(
                    sh_prior.alias("sb"),
                    cand_prior.corpus_id == F.col("sb.doc_id"),
                )
                .filter(j >= threshold)
                .groupBy(F.col("new_id").alias("doc_id"))
                .agg(F.count(F.lit(1)).alias("n_prior_dups"))
            )
        else:
            # no band collision → no candidate → the shingle store is
            # not even opened (the common all-fresh trigger)
            prior_dups = spark.createDataFrame(
                [], "doc_id long, n_prior_dups long"
            )
        # co-delivered near-dups: min-keeps — only the LARGER id of a
        # verified pair is flagged, so a duplicate family's first
        # arrival stays canonical even inside one trigger
        local_cand = (
            sigs.alias("a")
            .join(
                sigs.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("new_id"),
                F.col("b.doc_id").alias("kept_id"),
            )
            .distinct()
        )
        jl = hashing.jaccard(F.col("sa.sh"), F.col("sb.sh"))
        local_dups = (
            local_cand.join(
                sh_delta.alias("sa"), local_cand.new_id == F.col("sa.doc_id")
            )
            .join(sh_delta.alias("sb"), local_cand.kept_id == F.col("sb.doc_id"))
            .filter(jl >= threshold)
            .groupBy(F.col("new_id").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_local_dups"))
        )
        annotated = (
            batch.join(prior_dups, "doc_id", "left")
            .join(local_dups, "doc_id", "left")
            .select(
                "doc_id",
                "text",
                "source",
                F.coalesce("n_prior_dups", F.lit(0)).alias("n_prior_dups"),
                F.coalesce("n_local_dups", F.lit(0)).alias("n_local_dups"),
                (
                    F.coalesce("n_prior_dups", F.lit(0))
                    + F.coalesce("n_local_dups", F.lit(0))
                    > 0
                ).alias("near_dup_suspect"),
            )
            .localCheckpoint(eager=True)
        )
        annotated.write.mode("overwrite").parquet(
            os.path.join(out_docs, f"ingest_batch={batch_id}")
        )
        # append the trigger's index rows — O(trigger) written, the
        # accumulated index is never rewritten; both relations carry
        # the SAME batch partition so the probe's < batch_id filter
        # keeps them consistent under replay
        sigs.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(bands_path, f"ingest_batch={batch_id}")
        )
        # ONE sorted file per trigger (a 64-dir-per-trigger partitionBy
        # here exploded the file count and made probe discovery grow
        # with trigger count — see the layout note above)
        sh_delta.withColumn(
            "bucket",
            F.pmod(F.col("doc_id"), F.lit(MINHASH_INDEX_BUCKETS)).cast("int"),
        ).repartition(1).sortWithinPartitions("bucket", "doc_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(shingles_path, f"ingest_batch={batch_id}"))

    return _start(docs, sinks.pin_batch(probe_and_index), checkpoint, available_now)


def weighted_sample_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    k: int | None = None,
    retain_snapshots: int = 8,
    available_now: bool = False,
) -> StreamingQuery:
    """Seed-set-on-ingest: the streaming twin of
    `operators/textops.weighted_sample` — maintain the global
    weighted top-k document sample (weight = n_chars + 1, the shared
    `ws_priority` hash-priority recipe) live as documents arrive, so
    the curation pipeline always has a current k-doc seed set
    (mixture pilots, eval-slice draws) without a batch pass.

    Correctness rests on top-k-by-priority being an ASSOCIATIVE,
    IDEMPOTENT merge: topk(topk(A) ∪ B) = topk(A ∪ B) under the
    (priority, doc_id) total order, so any trigger slicing of the
    same documents converges to the batch answer — the parity test
    replays the documents table in waves and compares against
    `weighted_sample` row for row. A re-ingested doc_id keeps its
    lexicographically-least (priority, source, n_chars) observation
    (deterministic min-struct, not an arbitrary dropDuplicates pick).

    State IS the answer: k rows (+ last_batch_id replay fence),
    swap-rewritten atomically per trigger; each trigger also writes
    the current seed set to ingest_batch=N so consumers read the
    newest committed snapshot, and only the newest retain_snapshots
    snapshot dirs are kept (each is a complete answer, so pruning
    history loses nothing; 0 disables pruning). Per-trigger cost is |batch| + k rows —
    the 100 TB shape is a scan of the trigger's micro-batch plus a
    k-row sort, with no corpus-sized state or exchange anywhere.
    Redelivered triggers (crash before checkpoint commit) hit the
    fence and return: the merge's idempotence makes replays exact
    even across the fence's edge cases (re-merging already-folded
    docs is a no-op by construction).
    """
    from ..operators.textops import WEIGHTED_SAMPLE_K, ws_priority

    k = WEIGHTED_SAMPLE_K if k is None else k
    doc_id = F.col("j.doc_id").try_cast("long")
    docs = _decode_json(
        raw,
        "doc_id string, text string, source string",
        ("text", doc_id),
        (
            doc_id.alias("doc_id"),
            F.coalesce(F.col("j.source"), F.lit("unknown")).alias("source"),
            F.length("j.text").cast("long").alias("n_chars"),
        ),
    ).withColumn("priority", ws_priority("doc_id", "n_chars"))

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        top = (
            prior.unionByName(batch)
            .groupBy("doc_id")
            .agg(F.min(F.struct("priority", "source", "n_chars")).alias("s"))
            .select("doc_id", "s.priority", "s.source", "s.n_chars")
            .orderBy("priority", "doc_id")
            .limit(k)
            .select("doc_id", "source", "n_chars", "priority")
        )
        return top, lambda state: state  # the state IS the snapshot

    return _fold_job(
        docs,
        checkpoint,
        out + ".state",
        "doc_id long, source string, n_chars long, priority double",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def burst_flags_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    window_s: int | None = None,
    min_events: int | None = None,
    late_s: int = 300,
    available_now: bool = False,
) -> StreamingQuery:
    """Burst-on-ingest: the streaming twin of
    `operators/analytics.burst_flags` — flag each arriving event whose
    user has >= min_events events inside the trailing window_s seconds
    of EVENT time. The rate-anomaly gate of the ingest family (the
    seen filter catches exact reposts, the near-dup gates catch
    content; this catches a client or bot hammering the pipe, judged
    on the event-time axis so a delayed flush doesn't fake a burst).

    State is the per-user set of event times still inside any FUTURE
    event's trailing frame: rows (user_id, epoch_us) with epoch_us >
    max_seen - (window_s + late_s) — KB-to-MB sized for real rates,
    swap-rewritten atomically per trigger (the budget-gate state
    pattern, with its last_batch_id replay fence). An accepted event's
    frame lower bound (epoch - window) is >= the retention horizon by
    construction, so the trailing count over state ∪ batch is EXACT
    for every event no later than late_s behind the stream's max seen
    time; older stragglers are dropped from the output (and from
    state) rather than undercounted — the same watermark trade the
    windowed-aggregation jobs document.

    Semantics delta vs the batch operator, documented as with the
    other twins: fed the same events in event-time order (any trigger
    slicing), the outputs are row-identical — the parity test replays
    the events table in two waves and compares. Out-of-order delivery
    beyond late_s is where they diverge: the batch form (global sort)
    still counts such events; the stream has already published the
    trigger their frame belonged to.
    """
    from pyspark.sql import Window

    from ..operators.analytics import BURST_MIN_EVENTS, BURST_WINDOW_S

    window_s = BURST_WINDOW_S if window_s is None else window_s
    min_events = BURST_MIN_EVENTS if min_events is None else min_events
    win_us = window_s * 1_000_000
    late_us = late_s * 1_000_000
    ts = F.to_timestamp(F.col("j.ts"))
    events = _decode_json(
        raw,
        "event_id long, user_id long, ts string",
        ("event_id", "user_id", ts),
        ("event_id", "user_id", F.unix_micros(ts).alias("epoch_us")),
    )

    def flag(batch: DataFrame, prior: DataFrame, batch_id: int):
        prior = prior.localCheckpoint(eager=True)  # count pass + state merge
        wm = prior.agg((F.max("epoch_us") - late_us).alias("wm")).first()["wm"]
        fresh = (
            batch if wm is None else batch.filter(F.col("epoch_us") >= wm)
        ).localCheckpoint(eager=True)  # count pass + state merge
        w = (
            Window.partitionBy("user_id")
            .orderBy("epoch_us")
            .rangeBetween(-(win_us - 1), 0)
        )
        flagged = (
            prior.select(
                "user_id", "epoch_us", F.lit(None).cast("long").alias("event_id")
            )
            .unionByName(fresh.select("user_id", "epoch_us", "event_id"))
            .withColumn("n_burst", F.count(F.lit(1)).over(w).cast("long"))
            # prior rows fed the frames; only the trigger's own events
            # are output rows
            .filter(F.col("event_id").isNotNull())
            .filter(F.col("n_burst") >= min_events)
            .select("event_id", "user_id", "n_burst")
        )
        merged = prior.unionByName(fresh.select("user_id", "epoch_us"))
        horizon = merged.agg(
            (F.max("epoch_us") - (win_us + late_us)).alias("h")
        )
        state = (
            merged.crossJoin(F.broadcast(horizon))  # 1-row normalizer
            .filter(F.col("epoch_us") > F.col("h"))
            .select("user_id", "epoch_us")
        )
        return state, flagged

    return _fold_job(
        events,
        checkpoint,
        out + ".state",
        "user_id long, epoch_us long",
        flag,
        out=out,
        available_now=available_now,
    )


def stickiness_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    late_days: int = 2,
    retain_snapshots: int = 8,
    available_now: bool = False,
) -> StreamingQuery:
    """Stickiness-on-ingest: the streaming twin of
    `operators/analytics.dau_wau_stickiness` — keep the per-day
    DAU/WAU engagement ratio live as events arrive, so the dashboard
    reads a current snapshot instead of re-scanning the corpus
    (the same state-IS-the-answer shape as weighted_sample_job, with
    burst_flags_job's event-time horizon trade).

    State is the DISTINCT (day, user_id) relation still inside any
    publishable report day's trailing week: rows with
    day >= max_day_seen − (6 + late_days) — bounded by
    users × (7 + late_days) regardless of event volume (new events
    for an already-seen pair are absorbed by the DISTINCT, so a
    hot-user firehose adds nothing). Swap-rewritten atomically per
    trigger with the standard last_batch_id replay fence.

    Each trigger publishes the snapshot of report days
    >= max_day_seen − late_days to ingest_batch=N (newest
    retain_snapshots dirs kept): exactly the days whose trailing-week
    window is COMPLETE given the state horizon — for report day d the
    oldest contributing pair day is d−6 >= max_day − 6 − late_days,
    which the horizon retains by construction. Days older than
    late_days behind the stream's max seen day stop being published
    (their last published value was complete); events arriving more
    than late_days late are dropped from state rather than silently
    undercounting a window — the watermark trade every event-time job
    in this module documents.

    Fed the same events in event-time order (any trigger slicing),
    the final snapshot's rows equal `dau_wau_stickiness` restricted
    to the publishable days — the parity test replays the events
    table in waves with late_days spanning the fixture and compares
    row for row.
    """
    ts = F.to_timestamp(F.col("j.ts"))
    events = _decode_json(
        raw,
        "event_id long, user_id long, ts string",
        ("user_id", ts),
        (F.to_date(ts).alias("day"), "user_id"),
    )

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        merged = prior.unionByName(batch).distinct()
        maxd = merged.agg(F.max("day").alias("max_day"))
        state = (
            merged.crossJoin(F.broadcast(maxd))  # 1-row normalizer
            .filter(F.col("day") >= F.date_sub("max_day", 6 + late_days))
            .select("day", "user_id")
        )
        return state, report

    def report(state: DataFrame) -> DataFrame:
        maxd = state.agg(F.max("day").alias("max_day"))
        contributes = state.crossJoin(F.broadcast(maxd)).select(  # 1-row normalizer
            "user_id",
            "day",
            "max_day",
            F.explode(
                F.sequence(F.col("day"), F.date_add("day", 6))
            ).alias("report_day"),
        )
        return (
            contributes.groupBy("report_day")
            .agg(
                F.countDistinct("user_id").cast("long").alias("wau"),
                F.countDistinct(
                    F.when(F.col("day") == F.col("report_day"), F.col("user_id"))
                )
                .cast("long")
                .alias("dau"),
                F.max("max_day").alias("max_day"),
            )
            .filter(
                (F.col("dau") > 0)
                & (F.col("report_day") >= F.date_sub("max_day", late_days))
                & (F.col("report_day") <= F.col("max_day"))
            )
            .select(
                F.date_format("report_day", "yyyyMMdd").alias("day"),
                "dau",
                "wau",
                (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
            )
        )

    return _fold_job(
        events,
        checkpoint,
        out + ".state",
        "day date, user_id long",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def latency_quantiles_job(
    raw: DataFrame,
    orders: DataFrame,
    out: str,
    checkpoint: str,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live fulfillment-SLA quantiles: the streaming twin of
    `operators/analytics.fulfillment_latency` — maintain the
    (priority, latency-days) HISTOGRAM as lineitem shipments arrive
    and publish the exact p50/p90/p99/max per priority every trigger.

    Why this streams exactly: the batch op's whole design is that
    latency in days is a BOUNDED INTEGER DOMAIN, so its sufficient
    statistic is a tiny count histogram — and counts are an
    associative, commutative merge. State is |priorities| × |distinct
    days| rows (hundreds) regardless of how many billions of
    lineitems flow past; every trigger folds the micro-batch's
    map-side-combined counts into it, and any trigger slicing of the
    same rows yields the batch answer exactly (the parity test
    replays the lineitem table in waves). The replay fence makes the
    fold idempotent under redelivery — additive state would otherwise
    double-count, so unlike the top-k/distinct twins the fence is
    CORRECTNESS here, not just efficiency.

    The orders side (orderkey → orderdate, priority) is a STATIC
    dimension joined per trigger — the stream-static join every
    enrichment job in this module uses. At 100 TB the dim join runs
    orderkey-co-partitioned (or against a bucketed orders table);
    locally Spark broadcasts it.

    Output per trigger: one row per priority (n_items, p50/p90/p99,
    max), snapshot-written to ingest_batch=N like the seed-set and
    stickiness jobs (each snapshot is a complete answer).
    """
    from ..operators.analytics import fulfillment_latency_report

    shipdate = F.to_date(F.col("j.l_shipdate"))
    ship = _decode_json(
        raw,
        "l_orderkey long, l_shipdate string",
        ("l_orderkey", shipdate),
        ("l_orderkey", shipdate.alias("l_shipdate")),
    )
    dim = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = (
            batch.join(dim, batch.l_orderkey == dim.o_orderkey)
            .select(
                F.col("o_orderpriority").alias("priority"),
                F.datediff("l_shipdate", "o_orderdate").cast("long").alias(
                    "days"
                ),
            )
            .groupBy("priority", "days")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        state = _add(prior, delta, ["priority", "days"], "cnt")
        return state, fulfillment_latency_report

    return _fold_job(
        ship,
        checkpoint,
        out + ".state",
        "priority string, days long, cnt long",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def balance_deciles_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live credit-risk banding: the streaming twin of
    `operators/analytics.customer_balance_deciles` — maintain the
    (segment, balance) HISTOGRAM as customer records arrive and
    publish the exact per-segment deciles (d1..d9 plus n and min/max)
    every trigger. Third member of the histogram-selection family
    (fulfillment latency, token length, now balances), and the third
    proof that the discipline streams for free: the batch op's whole
    design is that balances are a CENTS-GRANULAR domain capped at
    ~1.1M distinct values, so the sufficient statistic is a bounded
    count relation and counts merge associatively.

    State is |segments| × |distinct balances| rows regardless of how
    many customers flow past; every trigger folds the micro-batch's
    map-side-combined counts into it, and any trigger slicing of the
    same rows yields the batch answer exactly (wave-replay parity
    test). Like the latency job — and unlike the idempotent top-k /
    DISTINCT twins — the state fold is ADDITIVE, so the last_batch_id
    replay fence is a CORRECTNESS guard, not an optimization:
    a redelivered trigger must not re-fold.

    Output per trigger: one row per segment, snapshot-written to
    ingest_batch=N (newest retain_snapshots dirs kept — every
    snapshot is a complete answer).
    """
    from ..operators.analytics import balance_deciles_report

    cust = _decode_json(
        raw,
        "c_custkey long, c_mktsegment string, c_acctbal double",
        ("c_mktsegment", "c_acctbal"),
        ("c_mktsegment", "c_acctbal"),
    )

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = batch.groupBy("c_mktsegment", "c_acctbal").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        keys = ["c_mktsegment", "c_acctbal"]
        return _add(prior, delta, keys, "cnt"), balance_deciles_report

    return _fold_job(
        cust,
        checkpoint,
        out + ".state",
        "c_mktsegment string, c_acctbal double, cnt long",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def revenue_gini_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    supplier_dim: DataFrame = None,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live market-concentration monitor: the streaming twin of
    `operators/analytics.supplier_revenue_gini` — maintain per-supplier
    revenue sums as shipment lines arrive and publish the per-nation
    Gini coefficient (sorted-rank identity) every trigger. Lands the
    round before its batch op promotes, the same playbook as the
    latency-quantiles and balance-deciles twins.

    Two-layer shape: the corpus-sized work per trigger is one
    map-side-combined (suppkey → decimal revenue) aggregate over the
    micro-batch plus a broadcast join against the STATIC supplier→
    nation dim (stream-static, the reference's dimension-decode
    pattern); the state it folds into is POPULATION-bounded — one row
    per supplier that ever shipped, regardless of line volume — and
    the per-trigger Gini is a rank window over that tiny relation.
    Revenue sums are exact decimals, so any trigger slicing of the
    same rows equals the batch answer bit-for-bit (wave-replay parity
    pinned). The fold is ADDITIVE, so the last_batch_id replay fence
    is a CORRECTNESS guard: a redelivered trigger must not re-fold
    (restart-no-double-count pinned).

    Output per trigger: one row per nation (n_suppliers,
    total_revenue, gini — NULL on a non-positive total, the batch
    op's guard), snapshot-written to ingest_batch=N with the newest
    `retain_snapshots` kept."""
    from ..operators.analytics import revenue_gini_report

    if supplier_dim is None:
        raise ValueError(
            "revenue_gini_job needs the static supplier→nation dim "
            "(columns s_suppkey, nation)"
        )
    REV = "decimal(28,4)"
    lines = _decode_json(
        raw,
        "l_suppkey long, l_extendedprice decimal(12,2), l_discount decimal(4,2)",
        ("l_suppkey", "l_extendedprice", "l_discount"),
        (
            "l_suppkey",
            (
                F.col("j.l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - F.col("j.l_discount"))
            ).alias("r"),
        ),
    )
    dim = supplier_dim.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"), "nation"
    )

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = (
            batch.groupBy("l_suppkey")
            .agg(F.sum("r").alias("revenue"))
            .join(
                F.broadcast(dim),
                F.col("l_suppkey") == F.col("s_suppkey"),
            )
            .select(
                "nation",
                "s_suppkey",
                F.col("revenue").cast(REV).alias("revenue"),
            )
        )
        state = _add(prior, delta, ["nation", "s_suppkey"], "revenue", REV)
        return state, revenue_gini_report

    return _fold_job(
        lines,
        checkpoint,
        out + ".state",
        f"nation string, s_suppkey long, revenue {REV}",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def activity_gini_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live traffic-concentration monitor: the streaming twin of
    `operators/analytics.user_activity_gini` — maintain per-(type,
    user) event counts as events arrive and publish the per-type Gini
    + top-decile share every trigger, via the IDENTICAL
    `activity_gini_report` stage the batch op runs (parity by shared
    code, pinned by wave-replay anyway). Lands the round before its
    batch op promotes — the playbook's fourth instance.

    Shape: per-trigger corpus work is one map-side-combined (type,
    user) count over the micro-batch; state is POPULATION-bounded
    (one long per user per type it ever emitted, regardless of event
    volume) and folds ADDITIVELY under the last_batch_id replay fence
    (a correctness guard — a redelivered trigger must not re-count).
    The per-trigger report then runs the histogram-Gini arithmetic
    over the state's (type, count) histogram — |distinct counts| rows
    per type, no population sort, the same plan live as at rest.

    Output per trigger: one row per event_type (n_users,
    total_events, gini, top_decile_share), snapshot-written to
    ingest_batch=N with the newest `retain_snapshots` kept."""
    from ..operators.analytics import activity_gini_report

    ev = _decode_json(
        raw,
        "event_id long, user_id long, event_type string",
        ("user_id", "event_type"),
        ("event_type", "user_id"),
    )

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = batch.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return _add(prior, delta, ["event_type", "user_id"], "c"), activity_gini_report

    return _fold_job(
        ev,
        checkpoint,
        out + ".state",
        "event_type string, user_id long, c long",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def _daily_count_snapshot_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    report,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Shared machinery of the calendar-count tripwire twins
    (`daily_mad_job`, `daily_cusum_job`): fold per-day event counts
    additively under the last_batch_id replay fence, then publish
    `report(day-grain state)` as the trigger's snapshot. The re-screen
    recomputes every day's verdict per trigger because the BASELINE
    (median/MAD, or the global mean the CUSUM accumulates against)
    shifts as data arrives — the whole output is |days| rows, so the
    full-snapshot publish is the cheap and correct choice (the same
    argument as the quantile twins). State is CALENDAR-bounded: one
    long per day ever seen — decades < 10⁴ rows."""
    day = F.to_date(F.col("j.ts"))
    ev = _decode_json(raw, "event_id long, ts string", (day,), (day.alias("day"),))

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = batch.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        return _add(prior, delta, ["day"], "cnt"), report

    return _fold_job(
        ev,
        checkpoint,
        out + ".state",
        "day date, cnt long",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def daily_mad_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    k: int = 3,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live robust volume tripwire: the streaming twin of
    `operators/analytics.daily_mad_anomalies` — the IDENTICAL
    `mad_report` stage over the shared calendar-count fold (parity by
    shared code; wave-replay pinned anyway). This is the screen an
    ingest pipeline actually wants live: the trailing-mean variant
    goes blind for a week after each incident, while the median
    baseline barely moves — so a backfill burst today is flagged
    today AND yesterday's verdicts stay correct.

    Output per trigger: one row per day (cnt, median_cnt, mad,
    is_anomaly, robust_z), snapshot-written to ingest_batch=N with
    the newest `retain_snapshots` kept."""
    from ..operators.analytics import mad_report

    return _daily_count_snapshot_job(
        raw,
        out,
        checkpoint,
        lambda daily: mad_report(daily, k),
        available_now,
        retain_snapshots,
    )


def daily_cusum_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    slack_den: int = 20,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live level-shift tripwire: the streaming twin of the R17-queued
    `operators/analytics.cusum_level_shift` — the IDENTICAL
    `cusum_report` stage over the same calendar-count fold the MAD
    twin uses (one shared `_daily_count_snapshot_job`; parity by
    shared code on BOTH axes). The pair is the complete live screen:
    MAD flags the point spike the day it lands, CUSUM accumulates the
    quiet 20% volume sag a dropped producer causes — the failure mode
    a per-day outlier test never reaches — and both stay integer-exact
    under replay because the fold is additive day counts beneath a
    last_batch_id fence.

    Output per trigger: one row per day (cnt, cusum_pos, cusum_neg,
    shift_flag), snapshot-written to ingest_batch=N with the newest
    `retain_snapshots` kept."""
    from ..operators.analytics import cusum_report

    return _daily_count_snapshot_job(
        raw,
        out,
        checkpoint,
        lambda daily: cusum_report(daily, slack_den),
        available_now,
        retain_snapshots,
    )


def ab_fdr_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live multi-metric experiment readout: the streaming twin of the
    R19-queued `operators/analytics.ab_fdr_bh` — the IDENTICAL
    `fdr_bh_report` stage re-screened per trigger over folded state
    (stream/batch parity by shared code, the cusum_report pattern).
    This is the monitor an experimentation platform actually runs:
    per-event-type 24h-activation z-tests with Benjamini–Hochberg
    step-up control, recomputed as users and types arrive, so the
    dashboard's "significant" column already prices the number of
    metrics being watched.

    State is the (user_id, event_type, min_ts) pair-minimum relation:
    MIN is idempotent AND commutative, so the fold is replay-safe by
    algebra — a redelivered trigger folds to the same state — and the
    last_batch_id fence still guards it (uniform with the additive
    twins, and it spares the re-fold work). A user's first-seen
    timestamp, the arm populations, the full type dictionary, and the
    activation set all derive exactly from the folded pair minimums,
    which is what makes the whole BH verdict recomputable live —
    including the case where a LATE-arriving earlier event lowers a
    user's first_ts and correctly revokes activations the batch op
    would also revoke. State size is (users × types observed) rows;
    the report output is |types| rows per trigger.

    Output per trigger: one row per event type (n_a, conv_a, n_b,
    conv_b, z, m_tests, bh_rank, crit, rejected), snapshot-written to
    ingest_batch=N with the newest `retain_snapshots` kept."""
    from ..operators.analytics import fdr_bh_report

    ts = F.to_timestamp_ntz(F.col("j.ts"))
    ev = _decode_json(
        raw,
        "event_id long, user_id long, event_type string, ts string",
        ("user_id", "event_type", ts),
        ("user_id", "event_type", ts.alias("ts")),
    )

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = batch.groupBy("user_id", "event_type").agg(
            F.min("ts").alias("min_ts")
        )
        state = (
            prior.unionByName(delta)
            .groupBy("user_id", "event_type")
            .agg(F.min("min_ts").alias("min_ts"))
        )
        return state, fdr_bh_report

    return _fold_job(
        ev,
        checkpoint,
        out + ".state",
        "user_id long, event_type string, min_ts timestamp_ntz",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def privacy_audit_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    k: int = 5,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live privacy-audit trio: k-anonymity, l-diversity, and
    t-closeness re-screened per trigger over ONE folded
    (event_type, day, user_id, n_cu) pair-count state — the release
    gate a PII-governed ingest pipeline wants continuously, not at
    publish time (a class that is k-anonymous at dawn can fall below
    k by noon as the day's class fills in, and yesterday's verdicts
    legitimately move as the GLOBAL distribution t-closeness compares
    against shifts). The three audits run through the IDENTICAL batch
    report functions via their pair_counts= pass-throughs
    (stream/batch parity by shared code — the fdr_bh_report pattern):
    class sizes are the fold's per-class count sums, diversity its
    per-class row count, and the TVD arithmetic consumes the pair
    grain directly.

    State is additive counts under the last_batch_id replay fence
    (the calendar-twin fold, keyed one level finer); size is the
    distinct (class, user) inventory. Output per trigger: the melted
    trio — (diagnostic, k, t, n1, aux, ratio, flag) —
      kanon  k=class_size          n1=n_classes  flag=violates_k
      ldiv   k=n_distinct_sensitive n1=n_classes  flag=violates_l
      tclose k=event_type t=day     n1=n_rows, aux=sum_abs_dev,
                                    ratio=tvd, flag=violates_t
    snapshot-written to ingest_batch=N with the newest
    `retain_snapshots` kept."""
    from ..operators.pii import (
        k_anonymity_report,
        l_diversity_report,
        t_closeness_report,
    )

    qi = ["event_type", "day"]
    ts = F.to_timestamp_ntz(F.col("j.ts"))
    ev = _decode_json(
        raw,
        "event_id long, user_id long, event_type string, ts string",
        ("user_id", "event_type", ts),
        (
            "event_type",
            F.date_format(ts, "yyyy-MM-dd").alias("day"),
            F.col("j.user_id").alias("sv"),
        ),
    )

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = batch.groupBy(*qi, "sv").agg(
            F.count(F.lit(1)).cast("long").alias("n_cu")
        )
        return _add(prior, delta, [*qi, "sv"], "n_cu"), report

    def report(state: DataFrame) -> DataFrame:
        ns = F.lit(None).cast("string")
        nd = F.lit(None).cast("double")
        kanon = k_anonymity_report(
            state, qi, k=k, pair_counts=state
        ).select(
            F.lit("kanon").alias("diagnostic"),
            F.col("class_size").cast("string").alias("k"),
            ns.alias("t"),
            F.col("n_classes").cast("long").alias("n1"),
            nd.alias("aux"),
            nd.alias("ratio"),
            F.col("violates_k").alias("flag"),
        )
        ldiv = l_diversity_report(
            state, qi, "sv", pair_counts=state
        ).select(
            F.lit("ldiv").alias("diagnostic"),
            F.col("n_distinct_sensitive").cast("string").alias("k"),
            ns.alias("t"),
            F.col("n_classes").cast("long").alias("n1"),
            nd.alias("aux"),
            nd.alias("ratio"),
            F.col("violates_l").alias("flag"),
        )
        tclose = t_closeness_report(
            state, qi, "sv", pair_counts=state
        ).select(
            F.lit("tclose").alias("diagnostic"),
            F.col("event_type").alias("k"),
            F.col("day").alias("t"),
            F.col("n_rows").cast("long").alias("n1"),
            F.col("sum_abs_dev").alias("aux"),
            F.col("tvd").alias("ratio"),
            F.col("violates_t").alias("flag"),
        )
        return kanon.unionByName(ldiv).unionByName(tclose)

    return _fold_job(
        ev,
        checkpoint,
        out + ".state",
        "event_type string, day string, sv long, n_cu long",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def heavy_hitters_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    capacity: int = 256,
    available_now: bool = False,
) -> StreamingQuery:
    """Live token heavy-hitters tracker — the streaming face of
    `operators/textops.token_heavy_hitters`: a single persistent
    Misra-Gries summary of ≤`capacity` counters folded across
    triggers, so "what's trending over the whole stream" is
    answerable at any moment from O(capacity) state, independent of
    vocabulary size. Batch mode gets exactness from its second pass;
    a stream can't recount the past, so this job keeps the classic
    mergeable-summary guarantee instead and REPORTS ITS OWN ERROR
    BAR: every decrement unit removes ≥ capacity+1 units of mass, so
    any key's undercount is ≤ D/(capacity+1) where D = n_tokens −
    Σcounters (both maintained exactly). Published per trigger:
    est (the lower bound), err_bound (ceil of the bound above),
    `guaranteed` (est alone clears the 1/capacity share threshold —
    sound, no false positives), and `is_candidate` (est + err_bound
    clears it — complete, no false negatives). The TRUE heavy-hitter
    set always sits between the two flags; tests pin both directions.

    Merge per trigger: batch wordcount (map-side combined) unioned
    into the stored counters, then ONE rank-chosen trim — m is the
    (capacity+1)-th largest count, survivors keep cnt − m — all
    window work on ≤ capacity + |batch vocab| rows. The fold is
    ADDITIVE, so the last_batch_id fence drops redelivered triggers
    (the countmin job's replay discipline; same scoping caveat: a
    fresh checkpoint against an existing sink reads as redelivery).

    The snapshot ALWAYS carries one NULL-token sentinel row holding
    (n_tokens, last_batch_id) — ADVICE r13: a trigger whose rank-trim
    keeps zero counters (top capacity+1 all tied) used to write an
    empty snapshot, silently disabling the fence and resetting the
    running token total on the next trigger. Keeping the totals in
    the same atomically-swapped file (rather than a sidecar) means a
    crash can never separate the fold from its fence. Readers of the
    counter set filter `token IS NOT NULL`."""
    from pyspark.sql import Window

    from ..functions import text as T

    docs = _decode_json(
        raw, "doc_id string, text string, source string", ("text",), ("text",)
    )

    def merge(batch: DataFrame, prior: DataFrame, batch_id: int):
        spark = batch.sparkSession
        delta = (
            batch.select(F.explode(T.tokens("text")).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        n_delta = delta.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long")
        ).first()[0]
        n_prior = prior.agg(F.max("n_tokens")).first()[0] or 0
        counts = _add(
            prior.filter(F.col("token").isNotNull()).select(
                "token", F.col("est").alias("cnt")
            ),
            delta,
            ["token"],
            "cnt",
        )
        n_total = n_prior + n_delta
        w_rank = Window.orderBy(F.desc("cnt"), F.asc("token"))
        trimmed = (
            counts.withColumn("rn", F.row_number().over(w_rank))
            .withColumn(
                "m",
                F.coalesce(
                    F.max(
                        F.when(
                            F.col("rn") == capacity + 1, F.col("cnt")
                        )
                    ).over(Window.partitionBy()),
                    F.lit(0).cast("long"),
                ),
            )
            .filter(F.col("cnt") > F.col("m"))
            .select("token", (F.col("cnt") - F.col("m")).alias("est"))
        )
        kept = trimmed.withColumn("n_tokens", F.lit(n_total).cast("long"))
        # D = mass decremented so far; per-key undercount <= D/(cap+1)
        err = (
            F.col("n_tokens")
            - F.sum("est").over(Window.partitionBy())
            + F.lit(capacity)
        ).cast("long") / F.lit(capacity + 1)
        err_bound = F.floor(err).cast("long")
        report = kept.select(
            "token",
            "est",
            "n_tokens",
            err_bound.alias("err_bound"),
            (F.col("est") * capacity > F.col("n_tokens")).alias(
                "guaranteed"
            ),
            (
                (F.col("est") + err_bound) * capacity > F.col("n_tokens")
            ).alias("is_candidate"),
        )
        # sentinel: totals + fence survive even a counter-free trim
        sentinel = spark.range(1).select(
            F.lit(None).cast("string").alias("token"),
            F.lit(None).cast("long").alias("est"),
            F.lit(n_total).cast("long").alias("n_tokens"),
            F.lit(None).cast("long").alias("err_bound"),
            F.lit(None).cast("boolean").alias("guaranteed"),
            F.lit(None).cast("boolean").alias("is_candidate"),
        )
        # <= capacity + 1 rows: the skeleton's single-file state IS the sink
        return report.unionByName(sentinel), None

    return _fold_job(
        docs,
        checkpoint,
        out_path,
        "token string, est long, n_tokens long, err_bound long, "
        "guaranteed boolean, is_candidate boolean",
        merge,
        available_now=available_now,
    )


def activation_survival_job(
    raw: DataFrame,
    out: str,
    checkpoint: str,
    horizon_days: int = 14,
    available_now: bool = False,
    retain_snapshots: int = 8,
) -> StreamingQuery:
    """Live Kaplan-Meier activation curve: the streaming twin of the
    R18-queued `operators/analytics.activation_survival` — maintain
    per-user (first_seen, first_purchase) timestamps as events arrive
    and re-estimate the survival curve every trigger via the
    IDENTICAL `survival_report` stage (parity by shared code). The
    distinguishing property in this job family: the state fold is
    min/min/max — IDEMPOTENT, not additive — so a redelivered trigger
    re-folds to the same state: the skeleton's last_batch_id fence only
    spares the re-fold work here, it guards no correctness. The re-estimate
    runs every trigger because censoring times legitimately move as
    the observation window extends: yesterday's censored user is
    today's day-3 activation.

    Shape: per-trigger corpus work is one map-side-combined per-user
    min pass over the micro-batch; state is POPULATION-bounded (one
    row per user ever seen — the stickiness job's envelope); the KM
    table is ≤horizon+1 rows. Output per trigger: the survival table,
    snapshot-written to ingest_batch=N."""
    from ..operators.analytics import survival_report

    ts = F.to_timestamp(F.col("j.ts"))
    ev = _decode_json(
        raw,
        "event_id string, user_id string, event_type string, ts string",
        ("user_id", ts),
        (
            F.col("j.user_id").cast("long").alias("user_id"),
            "event_type",
            F.unix_micros(ts).alias("us"),
        ),
    )

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        delta = batch.groupBy("user_id").agg(
            F.min("us").alias("first_us"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("us"))
            ).alias("purchase_us"),
            F.max("us").alias("last_us"),
        )
        state = (
            prior.unionByName(delta)
            .groupBy("user_id")
            .agg(
                F.min("first_us").alias("first_us"),
                F.min("purchase_us").alias("purchase_us"),
                F.max("last_us").alias("last_us"),
            )
        )
        return state, report

    def report(state: DataFrame) -> DataFrame:
        obs_end = state.agg(F.max("last_us").alias("end_us"))
        return survival_report(
            state.select("user_id", "first_us", "purchase_us"),
            obs_end,
            horizon_days,
        )

    return _fold_job(
        ev,
        checkpoint,
        out + ".state",
        "user_id long, first_us long, purchase_us long, last_us long",
        step,
        out=out,
        retain_snapshots=retain_snapshots,
        available_now=available_now,
    )


def ols_monitor_job(
    raw: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Live OLS feed monitor: the streaming twin of the R18-queued
    `operators/analytics.price_qty_ols` — maintain the five raw
    moments (plus n) as (quantity, price) pairs arrive and re-solve
    the closed form every trigger via the IDENTICAL `ols_estimates`
    stage. The family's minimal-state member: the ENTIRE state is SIX
    NUMBERS regardless of volume — the textbook constant-memory
    streaming statistic — so per-trigger cost is exactly the
    micro-batch's map-side moment pass plus an O(1) solve, flat by
    construction. This is the live form of the broken-feed check: a
    pricing regression whose slope or r² jumps between triggers means
    the upstream feed changed shape mid-stream.

    Moments are ADDITIVE (decimal sums), so the sink carries
    last_batch_id and redelivered triggers are dropped (the countmin
    replay discipline, same fresh-checkpoint scoping caveat)."""
    from ..operators.analytics import ols_estimates

    qty = F.col("j.quantity").cast("double")
    price = F.col("j.price").cast("double")
    rows = _decode_json(
        raw,
        "rid string, quantity string, price string",
        (qty, price),
        (qty.alias("l_quantity"), price.alias("l_extendedprice")),
    )
    dec = "decimal(38,0)"
    sums = ["sx", "sy", "sxy", "sxx", "syy"]

    def step(batch: DataFrame, prior: DataFrame, batch_id: int):
        x = F.col("l_quantity").cast("long")
        y = F.round(F.col("l_extendedprice") * 100).cast("long")
        delta = batch.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(x.cast(dec)).alias("sx"),
            F.sum(y.cast(dec)).alias("sy"),
            F.sum((x * y).cast(dec)).alias("sxy"),
            F.sum((x * x).cast(dec)).alias("sxx"),
            F.sum((y * y).cast(dec)).alias("syy"),
        )
        moments = (
            prior.select("n", *sums)
            .unionByName(delta)
            .agg(
                F.sum("n").cast("long").alias("n"),
                *[F.sum(c).cast(dec).alias(c) for c in sums],
            )
        )
        # 1-row x 1-row normalizer: estimates + refoldable moments
        return ols_estimates(moments).crossJoin(moments.select(*sums)), None

    return _fold_job(
        rows,
        checkpoint,
        out_path,
        "n long, slope_cents_per_unit double, intercept_cents double, r2 double, "
        + ", ".join(f"{c} {dec}" for c in sums),
        step,
        available_now=available_now,
    )
