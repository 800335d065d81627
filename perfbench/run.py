#!/usr/bin/env python3
"""spark-graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload {stream_trickle,batch_queries}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Inputs are generated from ``--seed``
into a fresh directory under ``.perfbench_runs/`` that the run
removes when it ends; index artifacts, Spark's local dirs, the JVM's
temp dir and every checkpoint live there too, so no run reuses
another's artifacts or writes into the source tree.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The exit code is 0 only
if every output check passed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafkatoclickhouse_spark"
WORKLOADS = ("stream_trickle", "batch_queries")
DRIVER_MEM_MB = 3072


def isolate(work: str) -> None:
    """Environment for the JVM and Spark's Python workers; must be
    set before the session starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{min(DRIVER_MEM_MB, total_mb // 4)}m",
            "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "index"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )


def start_session(work: str):
    from kafkatoclickhouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import queries
    import streams
    from layers import Stopwatch
    from result import Result, per_layer

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    result = Result()
    spark = None
    try:
        isolate(work)
        sw = Stopwatch()
        spark = start_session(work)
        result.setup(sw)
        fn = {
            "stream_trickle": streams.trickle,
            "batch_queries": queries.run,
        }[args.workload]
        fn(spark, args.seed, args.seconds, bool(args.trace), work, result)
    except Exception:  # noqa: BLE001 - a crash is a failed operation
        traceback.print_exc()
        result.problem("the workload raised")
        result.attempt(1, 1)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(runs)
            except OSError:
                pass
    result.emit(bool(args.trace), per_layer(queries.QUERIES))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
