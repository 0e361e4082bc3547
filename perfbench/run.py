"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_backlog --seed 1 --seconds 8 --trace 0

Run from the root of an edu-online-spark checkout. One workload per
process: the inputs are generated from --seed into a fresh run directory
under .perfbench_runs/, the engine session is started and warmed, whole
rounds are timed, the outputs are checked against computations made
apart from the engine, and the run directory is deleted. The last line
of stdout is one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer metrics of
BENCHMARK.json with --trace 1).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("stream_backlog", "batch_curation")
# Run time each timed round is budgeted, on a 4-core box. A run times a
# fixed number of whole rounds, ceil(seconds / budget) and at least
# MIN_ROUNDS, so every run of a workload attempts the same operations.
# A curation round is one pass of about 3.5 s, but it is budgeted 8 s:
# the run spends the rest on the untimed passes before it.
NOMINAL_ROUND_S = {"stream_backlog": 14.0, "batch_curation": 8.0}
MIN_ROUNDS = 1


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "edu_online_spark", "session.py")):
        print("perfbench: no edu_online_spark package here; run from the checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.makedirs(os.path.join(root, ".perfbench_runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(root, ".perfbench_runs"))
    try:
        result, code = _run(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return code


def _run(args, root: str, run_dir: str):
    from perfbench.trace import Tracer

    # Deployment and display settings only; every engine tuning default
    # stays unset, so a later change to one shows in the figures.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, len(os.sched_getaffinity(0)))))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    rounds = max(MIN_ROUNDS, math.ceil(args.seconds / NOMINAL_ROUND_S[args.workload]))
    tracer = Tracer(bool(args.trace))
    ticks0 = _cpu_ticks()

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from edu_online_spark.session import get_spark

        spark = get_spark(extra={
            # no hsperfdata file under /tmp: every write stays in the run dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    _print_settings(spark, args)
    try:
        if args.workload == "stream_backlog":
            from perfbench import stream_backlog

            res = stream_backlog.run(spark, run_dir, args.seed, rounds, tracer)
        else:
            from perfbench import batch

            res = batch.run(spark, run_dir, args.seed, rounds, tracer)
        peak_rss_mb = _vm_hwm_mb(jvm.pid)
    finally:
        _stop(spark, jvm)

    setup_s = start_s + res["warmup_s"]
    print(f"perfbench: rounds={[round(x, 3) for x in res['round_s']]} "
          f"start_s={start_s:.2f} warmup_s={res['warmup_s']:.2f}", flush=True)
    if "warm_pass_s" in res:
        print(f"perfbench: warm-up passes {[round(x, 3) for x in res['warm_pass_s']]}", flush=True)
    for job, ts in res.get("triggers_s", {}).items():
        print(f"perfbench: triggers {job} {ts}", flush=True)
    if "chain" in res:
        print("perfbench: near_dup_clusters on the sorted chain: "
              f"{res['chain']['outcome']} after {res['chain']['ms']:.0f} ms", flush=True)
    busy, steal = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    hz = os.sysconf("SC_CLK_TCK")
    print(f"perfbench: host steal {steal / hz:.1f} s against {busy / hz:.1f} s of busy CPU "
          "over the run", flush=True)
    for p in res["problems"]:
        print(f"perfbench: CHECK FAILED {p}", flush=True)
    correct = not res["problems"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (res["latency_p50_s"], "s"),
        "throughput_per_s": (res["throughput_per_s"], "1/s"),
    }
    if args.trace:
        metrics = _per_layer(root, res, start_s, peak_rss_mb, tracer, args, e2e)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
              "metrics": metrics}
    return result, 0 if correct else 1


def _print_settings(spark, args) -> None:
    import pyspark

    sc = spark.sparkContext
    print("perfbench: " + json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
    }), flush=True)


def _cpu_ticks() -> tuple[int, int]:
    """Busy and steal clock ticks of the whole machine. Steal is time the
    hypervisor ran other guests on this machine's virtual CPUs: runs it
    hits read slower for reasons outside the program."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[0] + t[1] + t[2], t[7]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark, jvm: subprocess.Popen) -> None:
    """Stop the session and wait for the JVM to exit; the gateway exits
    on EOF, which also ends a call still stalled inside it."""
    spark.stop()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def _per_layer(root, res, start_s, peak_rss_mb, tracer, args, e2e) -> dict:
    names = {m["name"]: m["unit"] for m in _benchmark(root)["per_layer"]}
    values = dict(res.get("layers", {}))
    values["session.start_s"] = start_s
    values["session.warmup_s"] = res["warmup_s"]
    values["session.jvm_peak_rss_mb"] = peak_rss_mb
    if "chain" in res:
        values["operators.dedup.chain_clusters_ms"] = res["chain"]["ms"]
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    tracer.dump(path)
    print("perfbench: traced end-to-end " + " ".join(
        f"{k}={v:.4f}{u}" for k, (v, u) in e2e.items()), flush=True)
    print(f"perfbench: layer self time (s), {len(tracer.spans)} spans in {path}", flush=True)
    for layer, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
        print(f"perfbench:   {layer:<28} {s:9.3f}", flush=True)
    # a workload reports 0 for the layers it does not exercise
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}


def _benchmark(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
