"""Seeded input generators for the benchmark workloads.

Everything the engine reads is made here from the run's seed, inside the
run directory: the same seed gives byte-identical inputs, and no input
depends on files a previous run left behind.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_scale import LANG_W, LANGS, N_SOURCES, gen_documents

# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

# Tables the oracle helper (tools/parity.run_oracle) maps besides
# `documents`. No curation query or oracle reads them, so each is an
# empty placeholder file.
OTHER_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                "events", "embeddings")
# gen_scale's default seed, the one its sf-shaped corpora use.
CORPUS_SEED = 7


def documents(seed: int, n: int) -> pa.Table:
    """tools/gen_scale's document corpus with fixed texts, relabelled by
    the seed: a permutation of the doc ids, and fresh languages and
    sources. Which documents share passages decides how much work the
    near-dup and winnowing stages do, and that varies too much between
    small random corpora to compare runs; relabelling keeps it while
    still changing the order ids take along every duplicate family."""
    texts = gen_documents(n, seed=CORPUS_SEED).column("text").to_pylist()
    rng = np.random.default_rng([seed, 1])
    texts = [texts[i] for i in np.argsort(rng.permutation(n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_W).tolist(), type=pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, n)],
                               type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, n_docs: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    # gen_scale's layout: 32 row groups, so the scan splits across cores
    pq.write_table(documents(seed, n_docs), f"{out_dir}/documents.parquet",
                   row_group_size=max(n_docs // 32, 1))
    empty = pa.table({"placeholder": pa.array([], pa.int32())})
    for name in OTHER_TABLES:
        pq.write_table(empty, f"{out_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Streaming backlog
# ---------------------------------------------------------------------------

# Rows per trigger: the reference's ingest cap per topic for one 3 s
# batch over 3 Kafka partitions (BASELINE.md: maxRatePerPartition 100
# for register and qz, 30 for page, 20 for the raw log; "×3 partitions").
# The activity topic has no reference counterpart; it takes the page
# cap, as its events are page-level views, clicks and purchases.
ROWS_PER_TRIGGER = {"register": 900, "qz": 900, "page": 270, "rawlog": 180, "activity": 270}
ACTIVITY_TYPES = ["purchase", "view", "click"]
BASE_TIME = datetime(2026, 3, 2, 8, 0, 0)
FILE_SPAN_S = 3  # the reference's batch interval: one file per 3 s of event time
MAX_DISORDER_S = 25  # below the jobs' 30 s watermark, so no row is late
# User skew, an assumption (the reference ships no traffic sample):
# Zipf a = 1.3 over 2000 users, so a few users send most events.
N_USERS = 2000
ZIPF_A = 1.3


@dataclass(frozen=True)
class Backlog:
    """Generated stream lines per topic, one inner list per file."""

    files: dict[str, list[list[str]]]

    def lines(self, topic: str) -> list[str]:
        return [line for f in self.files[topic] for line in f]

    def write(self, root: str, topic: str) -> str:
        """Write every file of `topic` under root/topic/."""
        d = os.path.join(root, topic)
        os.makedirs(d, exist_ok=True)
        for i, lines in enumerate(self.files[topic]):
            with open(os.path.join(d, f"part-{i:05d}.txt"), "w") as f:
                f.write("\n".join(lines) + "\n")
        return d


def _page_line(u: int, pages) -> str:
    a, b, c = pages
    return json.dumps({"uid": str(u), "app_id": "1", "device_id": f"d{u % 97}",
                       "ip": f"10.0.{u % 256}.{u % 7}", "last_page_id": str(a),
                       "page_id": str(b), "next_page_id": str(c)})


def backlog(seed: int, n_files: int) -> Backlog:
    """Zipf-skewed users and event times that run FILE_SPAN_S per file
    with up to MAX_DISORDER_S of backward jitter, so rows arrive out of
    order but never behind the watermark."""
    rng = np.random.default_rng([seed, 2])
    files: dict[str, list[list[str]]] = {t: [] for t in ROWS_PER_TRIGGER}
    event_id = 0

    def draw(i: int, topic: str):
        n = ROWS_PER_TRIGGER[topic]
        users = (rng.zipf(ZIPF_A, n) - 1) % N_USERS
        base = i * FILE_SPAN_S + np.sort(rng.uniform(0, FILE_SPAN_S, n))
        secs = np.maximum(base - rng.uniform(0, MAX_DISORDER_S, n), 0)
        stamps = [(BASE_TIME + timedelta(seconds=int(x))).strftime("%Y-%m-%d %H:%M:%S")
                  for x in secs]
        return n, users, stamps

    for i in range(n_files):
        n, users, stamps = draw(i, "register")
        files["register"].append(
            [f"{u}\t{p}\t{t}" for u, p, t in zip(users, rng.integers(1, 4, n), stamps)]
        )
        n, users, stamps = draw(i, "qz")
        cols = zip(users, rng.integers(0, 5, n), rng.integers(0, 7, n), rng.integers(0, 30, n),
                   rng.random(n) < 0.6, stamps)
        files["qz"].append(
            [f"{u}\t{c}\t{p}\tq{q}\t{int(ok)}\t{t}" for u, c, p, q, ok, t in cols]
        )
        for topic in ("page", "rawlog"):
            n, users, _ = draw(i, topic)
            files[topic].append(
                [_page_line(u, p) for u, p in zip(users, rng.integers(0, 12, (n, 3)))]
            )
        n, users, _ = draw(i, "activity")
        files["activity"].append(
            [json.dumps({"event_id": event_id + j, "user_id": int(u), "event_type": str(k)})
             for j, (u, k) in enumerate(zip(users, rng.choice(ACTIVITY_TYPES, n)))]
        )
        event_id += n
    return Backlog(files)
