"""Correctness checks, computed apart from the engine.

Streaming sinks are read back with DuckDB and compared with results
computed in plain Python from the generated lines; batch results are
compared with each query's DuckDB oracle through tools/parity.py. Every
checker is also fed a deliberately perturbed copy of the real result and
must reject it, so a checker that accepts anything fails the run.
"""

from __future__ import annotations

import glob
import json
import math
import os
from collections import Counter, defaultdict
from datetime import datetime, timezone

import duckdb
import pandas as pd

PLATFORMS = {"1": "PC", "2": "APP"}


def diff_frames(expected: pd.DataFrame, actual: pd.DataFrame, keys: list[str]) -> list[str]:
    """Rows matched on `keys`; every other column equal (floats to a
    relative 1e-9). Returns the problems found, empty when equal."""
    cols = [c for c in expected.columns if c not in keys]
    missing = [c for c in expected.columns if c not in actual.columns]
    if missing:
        return [f"columns missing: {missing}"]
    e = expected.set_index(keys).sort_index()
    a = actual[list(expected.columns)].set_index(keys).sort_index()
    if a.index.has_duplicates:
        return [f"duplicate keys: {a.index[a.index.duplicated()][:3].tolist()}"]
    if not e.index.equals(a.index):
        only_e = e.index.difference(a.index)[:3].tolist()
        only_a = a.index.difference(e.index)[:3].tolist()
        return [f"key sets differ ({len(e)} vs {len(a)} rows): missing {only_e}, extra {only_a}"]
    problems = []
    for c in cols:
        x, y = e[c], a[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            bad = ~pd.Series(
                [math.isclose(float(u), float(v), rel_tol=1e-9, abs_tol=1e-12) for u, v in zip(x, y)],
                index=x.index,
            )
        else:
            bad = x.astype(str) != y.astype(str)
        if bad.any():
            k = bad[bad].index[0]
            problems.append(f"col {c}: {int(bad.sum())} mismatches, first at {k}: "
                            f"expected {x[k]!r} got {y[k]!r}")
    return problems


def perturb(df: pd.DataFrame, keys: list[str] | tuple = ()) -> pd.DataFrame:
    """A copy with one value changed in the first non-key column."""
    out = df.copy()
    col = next(c for c in out.columns if c not in keys)
    if out[col].dtype.kind in "iuf":
        out.loc[out.index[0], col] += 1
    else:
        out[col] = out[col].astype(str)
        out.loc[out.index[0], col] += "~"
    return out


def checked(name: str, expected: pd.DataFrame, actual: pd.DataFrame, keys: list[str]) -> list[str]:
    """Compare, then prove the comparison rejects a perturbed result."""
    problems = [f"{name}: {p}" for p in diff_frames(expected, actual, keys)]
    if not diff_frames(expected, perturb(actual, keys), keys):
        problems.append(f"{name}: checker accepted a perturbed result")
    return problems


# ---------------------------------------------------------------------------
# stream_backlog
# ---------------------------------------------------------------------------

def _sink(path: str, select: str) -> pd.DataFrame:
    files = [f for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
             if "/_spark_metadata/" not in f]
    if not files:
        raise RuntimeError(f"sink {path} holds no parquet files")
    con = duckdb.connect()
    try:
        rel = con.execute(
            f"SELECT {select} FROM read_parquet({files!r}, hive_partitioning = true, "
            "union_by_name = true)"
        )
        return rel.df()
    finally:
        con.close()


def _epoch(stamp: str) -> int:
    return int(datetime.strptime(stamp, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc).timestamp())


def _register(lines):
    for line in lines:
        uid, code, stamp = line.split("\t")
        yield uid, PLATFORMS.get(code, "Other"), _epoch(stamp)


def expected_windows(lines) -> pd.DataFrame:
    c: Counter = Counter()
    for _, plat, ts in _register(lines):
        for k in range(10):  # 60 s windows sliding by 6 s
            c[(ts // 6 * 6 - 6 * k, plat)] += 1
    return pd.DataFrame([(w, p, n) for (w, p), n in c.items()],
                        columns=["window_start", "platform", "cnt"])


def expected_totals(lines) -> pd.DataFrame:
    c = Counter(p for _, p, _ in _register(lines))
    return pd.DataFrame(sorted(c.items()), columns=["platform", "total"])


def expected_mastery(lines) -> pd.DataFrame:
    acc = defaultdict(lambda: [0, 0, set()])
    for line in lines:
        uid, course, point, q, ok, _ = line.split("\t")
        a = acc[(int(uid), int(course), int(point))]
        a[0] += 1
        a[1] += ok == "1"
        a[2].add(q)
    rows = []
    for (u, c, p), (n, ok, qs) in acc.items():
        rate = ok / n
        rows.append((u, c, p, n, ok, len(qs), rate, len(qs) / 30.0 * rate))
    return pd.DataFrame(rows, columns=["uid", "courseid", "pointid", "qz_sum", "qz_istrue",
                                       "qz_count", "correct_rate", "mastery_rate"])


def expected_flows(lines) -> pd.DataFrame:
    c = Counter()
    for line in lines:
        j = json.loads(line)
        c[(j["last_page_id"], j["page_id"])] += 1
    return pd.DataFrame([(a, b, n) for (a, b), n in c.items()],
                        columns=["last_page_id", "page_id", "cnt"])


def expected_archive(lines) -> pd.DataFrame:
    return pd.DataFrame(sorted(Counter(lines).items()), columns=["value", "n"])


def expected_gini(lines) -> pd.DataFrame:
    per = defaultdict(Counter)
    for line in lines:
        j = json.loads(line)
        per[j["event_type"]][j["user_id"]] += 1
    rows = []
    for t, users in per.items():
        x = sorted(users.values())
        n, total = len(x), sum(x)
        gini = 2 * sum(i * v for i, v in enumerate(x, 1)) / (n * total) - (n + 1) / n
        rows.append((t, n, total, gini))
    return pd.DataFrame(rows, columns=["event_type", "n_users", "total_events", "gini"])


def stream_outputs(res: dict, data) -> list[str]:
    reg, out = data.lines("register"), {j: r["out"] for j, r in res.items()}
    newest = max(glob.glob(os.path.join(out["activity_gini_job"], "ingest_batch=*")),
                 key=lambda d: int(d.rsplit("=", 1)[1]))
    problems = []
    problems += checked(
        "register_windowed_job", expected_windows(reg),
        _sink(out["register_windowed_job"],
              "CAST(epoch(window_start) AS BIGINT) AS window_start, platform, cnt"),
        ["window_start", "platform"])
    problems += checked("register_totals_job", expected_totals(reg),
                        _sink(out["register_totals_job"], "platform, total"), ["platform"])
    problems += checked(
        "quiz_mastery_job", expected_mastery(data.lines("qz")),
        _sink(out["quiz_mastery_job"], "uid, courseid, pointid, qz_sum, qz_istrue, qz_count, "
              "correct_rate, mastery_rate"),
        ["uid", "courseid", "pointid"])
    problems += checked(
        "page_flow_job", expected_flows(data.lines("page")),
        _sink(out["page_flow_job"], "last_page_id, page_id, cnt")
        .groupby(["last_page_id", "page_id"], as_index=False)["cnt"].sum(),
        ["last_page_id", "page_id"])
    problems += checked(
        "rawlog_archive_job", expected_archive(data.lines("rawlog")),
        _sink(out["rawlog_archive_job"], "value").groupby("value", as_index=False).size()
        .rename(columns={"size": "n"}),
        ["value"])
    problems += checked("activity_gini_job", expected_gini(data.lines("activity")),
                        _sink(newest, "event_type, n_users, total_events, gini"),
                        ["event_type"])
    return problems


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------

class _Frame:
    """Stands in for a Spark DataFrame where parity.compare wants one."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def batch_result(name: str, result: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """parity.compare against the DuckDB oracle, then the same compare on
    a perturbed copy, which must fail."""
    from tools.parity import compare

    problems = [f"{name}: {p}" for p in compare(name, _Frame(result), oracle)]
    if not compare(name, _Frame(perturb(result)), oracle):
        problems.append(f"{name}: checker accepted a perturbed result")
    return problems
