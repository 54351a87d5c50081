"""Benchmark entry point.

    python3 perfbench/run.py --workload point_session --seed 1 --seconds 16 --trace 0

Run from the repository root.  Starts its own Spark session with pinned
settings (``local[nproc]``, fixed driver heap, no console progress,
scratch space under ``.perfbench_work/``), runs one workload from
``workloads.py``, checks its outputs, and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a run with span tracing on.  The exit code is 0
only when every output check passed.  Diagnostics (versions, seed,
check errors) go to standard error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
WORKDIR = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
WALL_LIMIT_S = 170  # a run is refused after 180 s


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(cores: int):
    """The benchmark's own Spark settings: nothing is read from the
    package's or the caller's defaults."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORKDIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORKDIR, "local")
    # the JVMs would otherwise write performance counters under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed, pre-touched heap: no heap resizing inside a run
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        .config("spark.sql.warehouse.dir", os.path.join(WORKDIR, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class WallLimit(Exception):
    pass


def _on_alarm(signum, frame):
    raise WallLimit(f"run exceeded {WALL_LIMIT_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fails fast (no Spark, no result) outside a checkout of the package
    import fabstir_vectordb_spark

    if not os.path.abspath(fabstir_vectordb_spark.__file__).startswith(ROOT + os.sep):
        print("run from the root of a checkout of the package", file=sys.stderr)
        return 2
    import numpy
    import pyspark

    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(WALL_LIMIT_S)
    shutil.rmtree(WORKDIR, ignore_errors=True)
    cores = nproc()
    t0 = time.perf_counter()
    spark = start_spark(cores)
    spark_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else None
        outcome = workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, tracer, args.scale, spark_start_s, WORKDIR
        )
    finally:
        signal.alarm(0)
        stop_spark(spark)
        shutil.rmtree(WORKDIR, ignore_errors=True)

    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": cores,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "numpy": numpy.__version__, "driver_memory": DRIVER_MEMORY,
    }
    print(json.dumps({"run": env}))
    print(json.dumps({"samples": outcome.samples}, default=float), file=sys.stderr)
    for err in outcome.errors[:50]:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    table = workloads.PER_LAYER if args.trace else workloads.E2E
    measured = outcome.layers if args.trace else outcome.e2e
    if args.trace:
        measured["spark.start_s"] = spark_start_s
    unknown = set(measured) - set(table)
    if unknown:
        raise KeyError(f"metrics missing from the metric table: {sorted(unknown)}")
    # a layer the workload does not reach reports 0
    metrics = {name: float(measured.get(name, 0.0)) for name in table}
    if not all(math.isfinite(v) for v in metrics.values()):
        print(f"non-finite metric (every op failed?): {metrics}", file=sys.stderr)
        return 3
    correct = not outcome.errors
    result = {
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": table[k]} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
