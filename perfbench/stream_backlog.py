"""stream_backlog: the reference streaming jobs drain a seeded backlog.

Six queries, one after another, each over its topic directory with one
file per trigger (`maxFilesPerTrigger=1`, `availableNow`) and run once
over the whole backlog. A query's first WARMUP_FILES triggers warm it up
and create its sinks and state; they are untimed, so every timed trigger
merges into existing state. Round k is the sum of the six queries' k-th
timed `triggerExecution`: the time one 3-second batch of input takes to
reach every result table.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime, timezone
from urllib.parse import urlparse

from . import checks
from .inputs import Backlog, backlog

# (job, topic) in run order
JOBS = (
    ("register_windowed_job", "register"),
    ("register_totals_job", "register"),
    ("quiz_mastery_job", "qz"),
    ("page_flow_job", "page"),
    ("rawlog_archive_job", "rawlog"),
    ("activity_gini_job", "activity"),
)
UPSERT_KEYS = {
    "register_totals_job": ["platform"],
    "quiz_mastery_job": ["uid", "courseid", "pointid"],
}
# The upsert key of an input line: the platform code (one per platform
# name), or the first three quiz fields.
LINE_KEY = {
    "register_totals_job": lambda line: line.split("\t")[1],
    "quiz_mastery_job": lambda line: tuple(line.split("\t")[:3]),
}
# A trigger's phases in MicroBatchExecution's order, with the layer each
# one's time belongs to.
PHASES = (
    ("streaming.sources.offsets", "latestOffset"),
    ("streaming.jobs.commit", "walCommit"),
    ("streaming.sources.offsets", "getBatch"),
    ("streaming.jobs.planning", "queryPlanning"),
    ("streaming.jobs.add_batch", "addBatch"),
    ("streaming.jobs.commit", "commitOffsets"),
)
# A query's second trigger is the first to merge into existing state
# and still runs up to 1.5 times its third (register_windowed_job: 6.1
# against 4.1 s); from the third on, trigger times stop falling.
WARMUP_FILES = 2


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class TimedUpsert:
    """The parquet_upsert callable, timed per trigger from outside: the
    span covers exactly the sink's own foreachBatch body."""

    def __init__(self, job: str, path: str) -> None:
        from edu_online_spark.streaming.sinks import parquet_upsert

        self.path = path
        self.inner = parquet_upsert(path, UPSERT_KEYS[job])
        self.calls: list[dict] = []

    def __call__(self, batch, batch_id: int) -> None:
        start = time.time()
        self.inner(batch, batch_id)
        end = time.time()
        self.calls.append(
            {"batch_id": batch_id, "start": start, "end": end,
             "rewritten": _rows_written_since(self.path, start)}
        )


def _rows_written_since(path: str, since: float) -> int:
    """Rows in the sink's parquet files written at or after `since`
    (the buckets this trigger rewrote), read from file footers."""
    import pyarrow.parquet as pq

    rows = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(".parquet") and os.stat(p).st_mtime >= since - 0.001:
                rows += pq.ParquetFile(p).metadata.num_rows
    return rows


def _start(spark, job: str, src: str, out: str, ckpt: str, sink=None):
    from edu_online_spark.streaming import jobs
    from edu_online_spark.streaming.sources import file_stream

    raw = file_stream(spark, src, max_files_per_trigger=1)
    fn = getattr(jobs, job)
    if sink is not None:
        return fn(raw, out, ckpt, available_now=True, sink=sink)
    return fn(raw, out, ckpt, available_now=True)


def _drain(spark, root: str, data: Backlog, tracer) -> dict:
    """Run each job's query once over the whole backlog, one job after
    another. Per job: `warm` runs from the query's start to the end of
    its last warm-up trigger, `timed` from there to the query's end (the
    final empty trigger and the shutdown count)."""
    n = len(next(iter(data.files.values())))
    for topic in {t for _, t in JOBS}:
        data.write(os.path.join(root, "in"), topic)
    results = {}
    for job, topic in JOBS:
        out, ckpt = os.path.join(root, "out", job), os.path.join(root, "ckpt", job)
        sink = TimedUpsert(job, out) if tracer.enabled and job in UPSERT_KEYS else None
        start = time.time()
        q = _start(spark, job, os.path.join(root, "in", topic), out, ckpt, sink)
        progress = _await(q)
        end = time.time()
        if len(progress) != n:
            raise RuntimeError(f"{job}: {len(progress)} data triggers for {n} files")
        last = progress[WARMUP_FILES - 1]
        warm_end = _epoch(last["timestamp"]) + last["durationMs"]["triggerExecution"] / 1e3
        results[job] = {"start": start, "warm_end": warm_end, "end": end,
                        "progress": progress[WARMUP_FILES:], "all_progress": progress,
                        "out": out, "ckpt": ckpt, "sink": sink}
        if tracer.enabled:
            results[job]["spark_jobs"] = len(
                spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))) / n
            warm = tracer.add("session.warmup", start, warm_end, job=job)
            drain = tracer.add("streaming.jobs.drain", warm_end, end, job=job)
            _trace_triggers(tracer, job, progress[:WARMUP_FILES], sink, warm)
            _trace_triggers(tracer, job, progress[WARMUP_FILES:], sink, drain)
    return results


def _await(q) -> list:
    """Wait for an availableNow query; returns its data triggers' progress."""
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{q.name or q.id} failed: {q.exception()}")
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def _trace_triggers(tracer, job: str, progress, sink, parent: int) -> None:
    """One span per trigger with its phases as children, laid out in
    MicroBatchExecution's order from the durations the progress reports;
    the sink's measured calls nest under addBatch by batch id."""
    calls = {c["batch_id"]: c for c in (sink.calls if sink else [])}
    for p in progress:
        d = p["durationMs"]
        t0 = _epoch(p["timestamp"])
        trig = tracer.add("streaming.jobs.trigger", t0, t0 + d["triggerExecution"] / 1e3,
                          parent, job=job, batch_id=p["batchId"], rows=p["numInputRows"],
                          state=[(s["operatorName"], s["numRowsTotal"], s["numRowsUpdated"])
                                 for s in p["stateOperators"]])
        t = t0
        for name, phase in PHASES:
            dur = d.get(phase, 0) / 1e3
            sid = tracer.add(name, t, t + dur, trig, job=job, phase=phase)
            if phase == "addBatch" and p["batchId"] in calls:
                c = calls[p["batchId"]]
                # the sink runs inside addBatch; place it there with its
                # measured length (the two clocks are not the same clock)
                tracer.add("streaming.sinks.upsert", t, t + min(c["end"] - c["start"], dur),
                           sid, job=job, rewritten=c["rewritten"])
            t += dur


def run(spark, run_dir: str, seed: int, rounds: int, tracer) -> dict:
    data = backlog(seed, WARMUP_FILES + rounds)
    res = _drain(spark, run_dir, data, tracer)
    per_round = [
        sum(res[job]["progress"][k]["durationMs"]["triggerExecution"] for job, _ in JOBS) / 1e3
        for k in range(rounds)
    ]
    rows = sum(p["numInputRows"] for r in res.values() for p in r["progress"])
    problems = checks.stream_outputs(res, data)
    out = {
        "warmup_s": sum(r["warm_end"] - r["start"] for r in res.values()),
        "round_s": per_round,
        "latency_p50_s": statistics.median(per_round),
        "throughput_per_s": rows / sum(r["end"] - r["warm_end"] for r in res.values()),
        "attempted": rounds * len(JOBS),
        "failed": 0,
        "problems": problems,
        "triggers_s": {job: [round(p["durationMs"]["triggerExecution"] / 1e3, 2)
                             for p in r["all_progress"]] for job, r in res.items()},
    }
    if tracer.enabled:
        out["layers"] = _layer_metrics(res)
    return out


def _keys_in_batch(ckpt: str, batch_id: int, key) -> int:
    """Distinct upsert keys among the input lines of one trigger: the
    rows the sink changed. The file source's log in the checkpoint
    names the files each batch read (one JSON entry per file after a
    version line)."""
    with open(os.path.join(ckpt, "sources", "0", str(batch_id))) as f:
        entries = [json.loads(line) for line in f.read().splitlines()[1:]]
    keys = set()
    for e in entries:
        with open(urlparse(e["path"]).path) as f:
            keys.update(key(line) for line in f.read().splitlines())
    return len(keys)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _layer_metrics(res: dict) -> dict[str, float]:
    m: dict[str, float] = {}
    allp = [p for r in res.values() for p in r["progress"]]
    d = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)  # noqa: E731
    m["streaming.sources.offsets_ms"] = _med(d(p, "latestOffset", "getBatch") for p in allp)
    m["streaming.jobs.planning_ms"] = _med(d(p, "queryPlanning") for p in allp)
    m["streaming.jobs.commit_ms"] = _med(d(p, "walCommit", "commitOffsets") for p in allp)
    files = 0
    for job, r in res.items():
        ps = r["progress"]
        m[f"streaming.jobs.trigger_ms.{job}"] = _med(d(p, "triggerExecution") for p in ps)
        m[f"streaming.jobs.add_batch_ms.{job}"] = _med(d(p, "addBatch") for p in ps)
        m[f"streaming.jobs.spark_jobs_per_trigger.{job}"] = r["spark_jobs"]
        if ps[0]["stateOperators"]:
            m[f"streaming.jobs.state_commit_ms.{job}"] = _med(
                sum(s["commitTimeMs"] for s in p["stateOperators"]) for p in ps
            )
            m[f"streaming.jobs.state_rows.{job}"] = float(
                sum(s["numRowsTotal"] for s in ps[-1]["stateOperators"])
            )
        if r["sink"] is not None:
            timed = {p["batchId"] for p in ps}
            calls = [c for c in r["sink"].calls if c["batch_id"] in timed]
            m[f"streaming.sinks.upsert_ms.{job}"] = _med((c["end"] - c["start"]) * 1e3 for c in calls)
            m[f"streaming.sinks.rewrite_ratio.{job}"] = _med(
                c["rewritten"] / _keys_in_batch(r["ckpt"], c["batch_id"], LINE_KEY[job])
                for c in calls
            )
        for _, _, fs in os.walk(r["out"]):
            files += sum(f.endswith(".parquet") for f in fs)
    m["streaming.sinks.files"] = float(files)
    return m
