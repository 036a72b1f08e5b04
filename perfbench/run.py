#!/usr/bin/env python3
"""Telemetry-pipeline benchmark: one workload, one seed, one JSON result.

Run from the repository root:

    python3 perfbench/run.py --workload narrow_100ms --seed 1 --seconds 20 --trace 0

The process generates the workload's inputs from the seed, starts one Spark
session and makes a cold run (the first in the session). It then repeats
steady runs until ``--seconds`` have passed since the cold run began and the
workload's ``min_steady`` runs were made, and checks every output against
the generator's expectations. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced runs (at least one of each) and
reports the per-layer metrics and the tracing overhead. The last line of
standard output is the JSON result; everything before it is a readable
summary. Scratch files live in ``.perfbench_work/`` under the current
directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
DRIVER_MEM = "3g"
E2E_UNITS = {
    "wall_s": "s", "lines_per_s": "1/s", "setup_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "batch_ms_p50": "ms", "batch_ms_tail": "ms",
}


def tail(xs: list[float]) -> tuple[str, float]:
    """The highest whole percentile with at least ten samples beyond it.
    Below 20 samples no percentile above the median has ten beyond it, and
    the maximum of a handful is mostly noise, so the median is reported."""
    if len(xs) < 20:
        return "p50", statistics.median(xs)
    pct = 100 - -(-1000 // len(xs))  # floor(100 * (1 - 10 / n))
    return f"p{pct}", statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DERBY"] = os.path.join(work, "derby")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(spark) -> float:
    """Stop the session and its JVM; return the JVM's peak RSS in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    rss = _rss_mb(proc.pid) if proc is not None else 0.0
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    return rss


def _attempt(fn, runs: list, failures: list) -> None:
    """Make one run; a raised error or a failed output check is a failure."""
    try:
        r = fn()
    except Exception as e:  # a failing run is counted, not fatal
        failures.append(f"{type(e).__name__}: {e}"[:500])
        return
    runs.append(r)
    if r.errors:
        failures.append("; ".join(r.errors[:5]))


def measure(args, work: str) -> dict:
    import gen
    import workloads
    from solarboat_data_pipeline_spark import get_spark

    w = workloads.WORKLOADS[args.workload]
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inputs = gen.generate(w.spec, args.seed, os.path.join(work, "inputs"))
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{w.name}")
    start_s = time.perf_counter() - t0
    attempted, failures, cold, steady, traced = 0, [], [], [], []
    try:
        bench = workloads.Bench(spark, w, inputs, work)
        build_s = bench.prepare()
        t_begin = time.perf_counter()
        _attempt(bench.run, cold, failures)
        attempted += 1
        while (attempted == 1 or (not args.trace and attempted <= w.min_steady)
               or time.perf_counter() - t_begin < args.seconds):
            _attempt(bench.run, steady, failures)
            attempted += 1
            if args.trace:
                _attempt(bench.traced, traced, failures)
                attempted += 1
    finally:
        jvm_rss = _stop(spark)
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if not cold or not steady or (args.trace and not traced):
        raise RuntimeError("no successful run: " + " | ".join(failures))

    lines = w.spec.lines
    cpus = len(os.sched_getaffinity(0))
    wall = statistics.median(r.wall_s for r in steady)
    batch_ms = [b for r in steady for b in r.batch_ms]
    tail_label, tail_ms = tail(batch_ms)
    e2e = {
        "wall_s": wall,
        "lines_per_s": lines / wall,
        "setup_s": start_s + statistics.median(gen_s),
        "cpu_s": statistics.median(r.cpu_s for r in steady),
        "peak_rss_mb": jvm_rss + py_rss,
        "batch_ms_p50": statistics.median(batch_ms),
        "batch_ms_tail": tail_ms,
    }
    print(f"workload {w.name} seed {args.seed}: {lines} lines, {cpus} cores, "
          f"{len(steady)} steady runs, {len(batch_ms)} batches "
          f"(tail = {tail_label}), session start {start_s:.2f} s, "
          f"stream build {build_s:.2f} s, cold run {cold[0].wall_s:.3f} s")
    walls = [r.wall_s for r in steady]
    print(f"  wall_s median {wall:.3f}, max {max(walls):.3f}, n {len(walls)}; "
          f"{lines / wall / cpus:.1f} lines/s/core "
          f"({wall * cpus / lines * 1e3:.4f} ms/line/core)")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:12.4f} {E2E_UNITS[k]}")
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures)}
    for f in failures:
        print(f"  FAILED: {f}")
    if not args.trace:
        result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]}
                             for k, v in e2e.items()}
        return result

    units = workloads.per_layer_units()
    layers = {k: 0.0 for k in units}
    for k in units:
        vals = [r.layers[k] for r in traced if k in r.layers]
        if vals:
            layers[k] = statistics.median(vals)
    layers["session.start_s"] = start_s
    layers["session.cold_run_s"] = cold[0].wall_s
    if w.kind == "stream":
        layers["stream.build_s"] = build_s
    layers["trace.total_s"] = statistics.median(r.wall_s for r in traced)
    layers["trace.overhead_s"] = layers["trace.total_s"] - wall
    print(f"  traced total {layers['trace.total_s']:.3f} s vs untraced wall "
          f"{wall:.3f} s: overhead {layers['trace.overhead_s']:+.3f} s")
    for k, v in layers.items():
        print(f"  {k:<34} {v:12.4f} {units[k]}")
    print("spans " + json.dumps([s for r in traced for s in r.spans]))
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    return result


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [HERE, ROOT]
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    bad = [k for k, m in result["metrics"].items() if not math.isfinite(m["value"])]
    if bad:
        raise RuntimeError(f"non-finite metrics {bad}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
