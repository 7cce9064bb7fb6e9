#!/usr/bin/env python3
"""Ingest-and-prep benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload offline_backfill --seed 1 --seconds 3 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans and every figure it took to
``.perfbench/trace/<workload>-<seed>.json``. Inputs, outputs and Spark's
scratch space live under ``.perfbench/work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "scicat_ingestor_spark")
# The session runs on local[$SPARK_GRAFT_CPUS], pinned here so that every
# machine measures the same parallelism. Two task slots leave the JIT
# compiler, the driver and the Python workers spare cores on a 4-core
# box: set-up and rounds there were shorter and steadier than at 4.
CPUS = 2


def _environment(work: str) -> None:
    """Point the session, its Python workers and every scratch file at
    this checkout. Executor-side ``mapInPandas`` imports the package, so
    the repository root goes on the workers' ``PYTHONPATH`` too."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: temp files and perf data
    # stay out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def _start_session(work: str):
    from scicat_ingestor_spark.session import get_session

    return get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_session() -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("offline_backfill", "online_replay", "corpus_prep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: no package at {PACKAGE}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work)
        import workloads

        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, lambda: _start_session(work)
        )
    finally:
        try:
            _stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for fault in result["faults"]:
        print(f"perfbench: FAULT {fault}", file=sys.stderr)
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({**result, "workload": args.workload, "seed": args.seed, "written": time.time()}, fh, indent=1)
        metrics = {k: (v, workloads.LAYER_METRICS[k]) for k, v in metrics.items()}
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
