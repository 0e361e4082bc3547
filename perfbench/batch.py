"""batch_curation: repeated passes over the corpus-curation queries on a
seeded document table.

A round is one pass over QUERIES on N_DOCS documents. Each query is
forced with a `noop` write, so every output column is computed (a
`count()` would let Catalyst prune columns). The results checked against
each query's DuckDB oracle are collected once, in the first warm-up
pass, from the same table.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from . import checks
from .inputs import write_tables

# The curation pipeline runs the quality gates (Arrow UDF batches),
# MinHash-LSH pairs and the near-dup connected-components loop inside
# it. `dedup_minhash_lsh` and `docs_winnowing_clusters` are left out of
# the timed rounds to fit the run budget; the traced run still times
# `minhash_lsh_pairs` and `near_dup_clusters` directly.
QUERIES = ("corpus_end_to_end_curation",)
# The timed table has sf0.01's 500 documents. On sf0.1's 5000 a pass
# takes about twice as long (7-7.5 s against 3.1-3.4 s, 4 cores) and the
# run would not fit the benchmark's run budget; on 2000 it costs the same
# as on 500, because per-job fixed cost dominates both.
N_DOCS = 500
# Passes before the timed rounds: the first collects the results for the
# oracle check (and compiles), then WARM_PASSES `noop` passes. Pass times
# fall for about ten passes while the JIT compiles (in one process, 4
# cores: 13.9, then 4.9, 4.0, 3.7, 3.6, 3.4, 3.1 s, and 2.4-2.8 s from
# the eleventh on), and the spread between runs, (q3 - q1) / median,
# falls with them: over ten runs on a quiet host 0.26 for the third pass,
# 0.22 for the fourth and 0.07 for the fifth; over ten on a busier host
# 0.30 for the fifth and 0.14 for the sixth. The timed round is therefore
# the sixth pass; a later one, or more of them, would not fit the run
# budget.
WARM_PASSES = 4
# The known fault: star contraction moves a chain's minimum id two hops
# per round, so a 200-doc chain whose ids increase along it needs ~100
# rounds, past near_dup_clusters' 64-round cap; past ~12 rounds each
# round's planning takes longer than the last, so the call stalls
# before it can raise. A converging variant (contraction on xxhash64 of
# the id) returned on this chain in 5.2-9.3 s at this point of a run,
# with the oracle check beside it; the deadline is 1.5 times the
# slowest of those.
CHAIN_DOCS = 200
CHAIN_DEADLINE_S = 14.0


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pass(spark, sf_dir: str, names, fns, tracer, group: bool = False) -> float:
    sc = spark.sparkContext
    t0 = time.perf_counter()
    for name in names:
        with tracer.span("operators.query", query=name):
            if group:
                sc.setJobGroup(name, name)
            _force(fns[name](spark, sf_dir))
    if group:
        sc.setJobGroup("perfbench", "perfbench")
    return time.perf_counter() - t0


def _warm(spark, sf_dir: str, names, fns, plans: dict | None):
    """Warm-up: one pass that collects each query's result for the
    oracle check (and compiles), then WARM_PASSES passes as the timed
    rounds run them. With `plans`, the first pass also records each
    formatted plan (building a curation query runs its eager stages, so
    the plan is taken from the frame the pass collects). Returns the
    results and the pass times."""
    from edu_online_spark.plans.inspect import explain_str

    results = {}
    t0 = time.perf_counter()
    for name in names:
        df = fns[name](spark, sf_dir)
        if plans is not None:
            plans[name] = explain_str(df, "formatted")
        results[name] = df.toPandas()
    times = [time.perf_counter() - t0]
    for _ in range(WARM_PASSES):
        t0 = time.perf_counter()
        for name in names:
            _force(fns[name](spark, sf_dir))
        times.append(time.perf_counter() - t0)
    return results, times


def run(spark, run_dir: str, seed: int, rounds: int, tracer) -> dict:
    from edu_online_spark import registry

    sf_dir = os.path.join(run_dir, "tables")
    write_tables(sf_dir, seed, N_DOCS)
    names, fns = QUERIES, registry.queries()
    with tracer.span("session.warmup", workload="batch_curation"):
        t0 = time.perf_counter()
        plans: dict | None = {} if tracer.enabled else None
        results, warm_passes = _warm(spark, sf_dir, names, fns, plans)
        warmup_s = time.perf_counter() - t0

    per_round = []
    for _ in range(rounds):
        with tracer.span("operators.round"):
            per_round.append(_pass(spark, sf_dir, names, fns, tracer, group=tracer.enabled))
    n_queries = rounds * len(names)
    layers = _layer_metrics(spark, sf_dir, names, plans, tracer) if tracer.enabled else {}

    # The chain call stalls inside the JVM on one core; the oracle check
    # runs beside it, outside the timed rounds.
    chain = ChainCall(spark)
    problems = _check(sf_dir, results)
    chain_res = chain.result(tracer)
    if chain_res["problem"]:
        problems.append(chain_res["problem"])
    return {
        "warmup_s": warmup_s,
        "round_s": per_round,
        "warm_pass_s": warm_passes,
        "latency_p50_s": statistics.median(per_round),
        "throughput_per_s": statistics.median(len(names) / r for r in per_round),
        "attempted": n_queries + 1,
        "failed": 0 if chain_res["ok"] else 1,
        "problems": problems,
        "chain": chain_res,
        "layers": layers,
    }


def _check(sf_dir: str, results: dict) -> list[str]:
    from edu_online_spark import registry
    from tools.parity import run_oracle

    oracles = registry.oracle_sql()
    problems = []
    for name, result in results.items():
        problems += checks.batch_result(name, result, run_oracle(oracles[name], sf_dir))
    return problems


class ChainCall:
    """near_dup_clusters over the pairs (i, i+1) of a sorted chain, in a
    thread with a deadline. ok is True only for the union-find answer
    (every doc in the component of doc 0)."""

    def __init__(self, spark) -> None:
        from edu_online_spark.operators.dedup import near_dup_clusters

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(CHAIN_DOCS - 1)], "doc_a long, doc_b long"
        )
        self.box: dict = {}

        def call() -> None:
            try:
                self.box["rows"] = near_dup_clusters(pairs).collect()
            except Exception as exc:  # the fault under test surfaces here
                try:
                    msg = str(exc)[:200]
                except Exception:  # the gateway is gone: the run already ended
                    msg = ""
                self.box["error"] = f"{type(exc).__name__}: {msg}"
            self.box["end"] = time.time()

        self.worker = threading.Thread(target=call, daemon=True)
        self.start = time.time()
        self.worker.start()

    def result(self, tracer) -> dict:
        self.worker.join(max(0.0, self.start + CHAIN_DEADLINE_S - time.time()))
        end = self.box.get("end", time.time())
        if self.worker.is_alive():  # report the deadline, the most it was given
            end = self.start + CHAIN_DEADLINE_S
        tracer.add("operators.dedup.chain_clusters", self.start, end)
        out = {"ok": False, "ms": (end - self.start) * 1e3, "problem": None}
        if self.worker.is_alive():
            return {**out, "outcome": f"no result within {CHAIN_DEADLINE_S:.0f} s"}
        if "error" in self.box:
            return {**out, "outcome": self.box["error"]}
        got = {r["doc_id"]: r["cluster_rep"] for r in self.box["rows"]}
        ok = got == {i: 0 for i in range(CHAIN_DOCS)}
        return {**out, "ok": ok, "outcome": "returned",
                "problem": None if ok else "near_dup_clusters: wrong components on the chain"}


def _layer_metrics(spark, sf_dir, names, plans, tracer) -> dict[str, float]:
    m: dict[str, float] = {}
    sc = spark.sparkContext
    status = sc.statusTracker()
    qspans = [s for s in tracer.spans if s.name == "operators.query"]
    for name in names:
        m[f"operators.query_ms.{name}"] = statistics.median(
            (s.end - s.start) * 1e3 for s in qspans if s.attrs["query"] == name
        )
        jobs = status.getJobIdsForGroup(name)
        stages = [sid for j in jobs if (ji := status.getJobInfo(j)) for sid in ji.stageIds]
        tasks = sum(si.numTasks for s in stages if (si := status.getStageInfo(s)))
        n_rounds = sum(1 for s in qspans if s.attrs["query"] == name)
        m[f"operators.spark_jobs.{name}"] = len(jobs) / n_rounds
        m[f"operators.tasks.{name}"] = tasks / n_rounds
        m[f"plans.exchanges.{name}"] = float(
            sum(1 for line in plans[name].splitlines() if line.startswith("(") and "Exchange" in line)
        )
    m.update(_load_table_ms(spark, sf_dir, tracer))
    m.update(_dedup_layers(spark, sf_dir, tracer))
    return m


def _load_table_ms(spark, sf_dir, tracer, repeats: int = 3) -> dict[str, float]:
    """Median of a few `load_table` calls: file listing, footer and
    schema reads, with no scan."""
    from edu_online_spark.sources.tables import load_table

    times = []
    for _ in range(repeats):
        with tracer.span("sources.load_table", table="documents") as sp:
            load_table(spark, sf_dir, "documents")
        times.append((sp.end - sp.start) * 1e3)
    return {"sources.load_table_ms.documents": statistics.median(times)}


def _dedup_layers(spark, sf_dir, tracer) -> dict[str, float]:
    """The curation pipeline's heavy stages, called directly once each."""
    from edu_online_spark.operators.dedup import minhash_lsh_pairs, near_dup_clusters
    from edu_online_spark.operators.textops import gopher_quality_rules
    from edu_online_spark.sources.tables import load_table

    sc = spark.sparkContext
    docs = load_table(spark, sf_dir, "documents")
    m = {}
    with tracer.span("operators.textops.gopher_quality_rules") as sp:
        _force(gopher_quality_rules(docs))
    m["operators.textops.gopher_quality_rules_ms"] = (sp.end - sp.start) * 1e3
    with tracer.span("operators.dedup.minhash_lsh_pairs") as sp:
        pairs = minhash_lsh_pairs(docs).localCheckpoint(eager=True)
    m["operators.dedup.minhash_lsh_pairs_ms"] = (sp.end - sp.start) * 1e3
    m["operators.dedup.pairs"] = float(pairs.count())
    sc.setJobGroup("near_dup_clusters", "near_dup_clusters")
    with tracer.span("operators.dedup.near_dup_clusters") as sp:
        near_dup_clusters(pairs.select("doc_a", "doc_b"))
    sc.setJobGroup("perfbench", "perfbench")
    m["operators.dedup.near_dup_clusters_ms"] = (sp.end - sp.start) * 1e3
    m["operators.dedup.near_dup_clusters_jobs"] = float(
        len(sc.statusTracker().getJobIdsForGroup("near_dup_clusters"))
    )
    return m
