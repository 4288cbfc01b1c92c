#!/usr/bin/env python3
"""Run one workload of the pyspark-cdc benchmark and print its metrics.

    python3 perfbench/run.py --workload stream_sync --seed 7 --seconds 10 --trace 0

Run it from the root of a checkout. The last stdout line is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is a report of everything measured,
including the metrics no gate uses. Every file the run writes — logs,
lakes, Spark's scratch space, JVM temp files — stays inside the checkout;
the run's own directory is removed at the end. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_cpus() -> int:
    return len(os.sched_getaffinity(0))


def confine_temp_files(work: str) -> None:
    """Point every temp-file location the JVM, Spark and Python use into
    ``work`` (the JVM's perf-data file goes nowhere). Must run before the
    JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    )


def start_spark(cpus: int, work: str):
    from pyspark_cdc.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            # the whole run's jobs and stages must stay in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM process to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(spark, workload, seed, seconds, trace, scale, work, cache) -> dict:
    """One run in an existing session: returns the result JSON object and
    the report."""
    from perfbench.layers import layer_metrics
    from perfbench.workloads import WORKLOADS, Run

    run = Run(spark, workload, seed, seconds, trace, scale, work, cache)
    WORKLOADS[workload](run)
    gated, reported = run.end_to_end()
    for key, vals in (("end_to_end", gated), ("workload_only", reported)):
        run.report[key] = {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}
    run.report["samples"] = {k: len(v) for k, v in run.samples.items()}
    run.report["problems"] = run.problems
    if trace:
        metrics = layer_metrics(run.tracer, spark.sparkContext, run.trace_ms)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        run.tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"spans-{workload}-{seed}.jsonl"))
    else:
        metrics = gated
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"result": result, "report": run.report}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=local_cpus())
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (the JVM calibration expression)
        import pyspark_cdc  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    confine_temp_files(work)
    t0 = time.perf_counter()
    spark = start_spark(args.cpus, work)
    jvm_start_s = time.perf_counter() - t0
    try:
        out = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            "full", work, os.path.join(ROOT, ".perfbench_cache"),
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out["report"].update(workload=args.workload, seed=args.seed,
                         cpus=args.cpus, jvm_start_s=jvm_start_s)
    print("perfbench report: " + json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
