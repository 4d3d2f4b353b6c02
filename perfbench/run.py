"""Crawl-engine benchmark: one workload per run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_wide_bloom --seed 1 --seconds 8 --trace 0

Each run starts one Spark driver on ``local[$SPARK_GRAFT_CPUS]`` with fixed
shuffle partitions, generates the workload's inputs from ``--seed`` (three
times; ``setup_s`` is the median), runs a short untimed warm-up, then
repeats the workload's closed-loop job until the timed jobs add up to
``--seconds`` and there are at least the workload's ``min_jobs`` of them;
metrics are medians over the jobs. The first timed job's output gets the
full check, and every later one must repeat its exact counts. ``--trace 1``
instead runs the job twice after the warm-up, untraced and traced, and
reports the per-layer metrics and the tracing overhead (traced minus
untraced wall). Everything is written under
``.bench_work/`` in the current directory and removed at exit.

The last stdout line is
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
SHUFFLE_PARTITIONS = 4
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _start_spark():
    """The engine's own session factory, with every file kept under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from dotnetspider_spark.session import get_spark

    # more task threads than CPUs would time the scheduler, not the engine
    usable = len(os.sched_getaffinity(0))
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or usable), usable)
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed, pre-touched heap: peak RSS then moves with off-heap
            # and Python memory, not with when the collector grew the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _measure(workload, seconds: float, trace: bool, counters) -> tuple[dict, dict, int]:
    """(metrics, counts, operations) of one run."""
    from perfbench.trace import Tracer
    from perfbench.workloads import expect_same

    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        workload.setup()
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    workload.warmup()
    print(f"setups_s={[round(x, 3) for x in setups]} warmup_s={time.perf_counter() - t0:.3f}",
          flush=True)

    if trace:
        untraced = workload.job()
        tracer = Tracer(counters)
        traced = workload.job(tracer)
        tracer.close()
        metrics = workload.trace_metrics(untraced, traced, tracer)
        metrics.update(tracer.spark_metrics())
        metrics["trace.overhead_s"] = traced.wall_s - untraced.wall_s
        return metrics, untraced.counts, untraced.ops + traced.ops

    # closed loop: the first job's output gets the full check, every later
    # job must repeat its exact counts; metrics are medians over the jobs
    reps = []
    t0 = time.perf_counter()
    while len(reps) < workload.min_jobs or sum(r.wall_s for r in reps) < seconds:
        rep = workload.job(check=not reps)
        if reps:
            expect_same(reps[0], rep)
        reps.append(rep)
    steps = [s for r in reps for s in r.step_walls]
    items = sum(r.items for r in reps)
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(r.wall_s for r in reps),
        "items_per_s": statistics.median(r.items / r.wall_s for r in reps),
        "iter_s_p50": statistics.median(steps),
        "state_bytes_per_item": statistics.median(r.state_bytes / r.items for r in reps),
        "peak_rss_mb": counters.peak_rss_mb(),
    }
    print(f"reps={len(reps)} items={items} measure_s={time.perf_counter() - t0:.3f} "
          f"walls={[round(r.wall_s, 3) for r in reps]} steps={[round(x, 3) for x in steps]}",
          flush=True)
    return metrics, reps[0].counts, sum(r.ops for r in reps)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dotnetspider_spark")):
        print("perfbench: run from the repository root (dotnetspider_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.counters import SparkCounters
    from perfbench.workloads import WORKLOADS, CheckFailed, reset

    spec = _spec()
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    reset(WORK)
    t0 = time.perf_counter()
    spark = _start_spark()
    print(f"spark_start_s={time.perf_counter() - t0:.3f}", flush=True)
    ok, ops, metrics, counts = True, 0, {}, {}
    try:
        counters = SparkCounters(spark)
        workload = WORKLOADS[args.workload](spark, counters, args.seed, f"{WORK}/{args.workload}")
        metrics, counts, ops = _measure(workload, args.seconds, bool(args.trace), counters)
    except CheckFailed as e:
        ok = False
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
    except Exception:
        ok = False
        traceback.print_exc()
    finally:
        t0 = time.perf_counter()
        _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"stop_s={time.perf_counter() - t0:.3f}", flush=True)

    if ok:
        # a layer the workload never calls did no work: report 0
        metrics = {name: float(metrics.get(name, 0.0)) for name in units}
    attempted = max(ops, 1)
    failed = 0 if ok else attempted
    print(f"COUNTS {json.dumps(counts, sort_keys=True)}")
    print(f"error_frac={failed / attempted}")
    for name in units:
        if name in metrics:
            print(f"  {name:48s} {metrics[name]:>16.6g} {units[name]}")
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items() if k in units},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
