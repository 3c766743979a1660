#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ask,batch} --seed N \\
        --seconds S --trace {0,1} [--tiny]

Run from the repository root.  Builds the workload's inputs from the
seed, starts the engine's SparkSession on ``local[<cpus>]``, sets up
``SETUP_REPS`` times (the first set-up launches the JVM and counts
towards ``cold_s``; each later one stops the session and builds a fresh
one in the same JVM, and ``setup_s`` is their median), runs the
workload for ``--seconds``, reads peak memory, checks every answer, and
prints as its LAST stdout line

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, spans recorded around every layer call).  The line
before it carries the host sentinels and, in a traced run, the
module-level breakdown.  Work files live under ``.bench_work/`` in the
current directory.  Exit code 2 means the program could not be
imported; 1 means the workload raised.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5
DRIVER_MEMORY = "1g"

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "cold_s": "s", "warm_s": "s", "side_s": "s"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ask", "batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes (seconds of work)")
    return p.parse_args(argv)


class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.work = os.path.join(os.getcwd(), ".bench_work", args.workload)


def _environment(ctx: Ctx) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    working directory; fix the driver heap so peak memory is steady."""
    shutil.rmtree(ctx.work, ignore_errors=True)
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    # driver JVM options (not the launcher's): a fixed-size heap (-Xms =
    # the driver memory) keeps peak RSS from tracking the collector's
    # run-to-run heap-growth decisions; no hsperfdata files in /tmp
    submit = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{submit} -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData".strip()
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData".strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = tmp


def _workload(name: str, ctx: Ctx):
    if name == "ask":
        from ask import Ask

        return Ask(ctx)
    from batch import Batch

    return Batch(ctx)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the input
    generation before it does not count as the program's peak."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    ctx = Ctx(args)
    sys.path.insert(0, ROOT)
    try:
        import csv_query_engine_spark.engine  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    _environment(ctx)

    from common import Tracer, median, peak_rss_mb

    from csv_query_engine_spark.session import get_spark

    t_import = time.perf_counter()
    wl = _workload(args.workload, ctx)
    _reset_peak_rss()
    t_inputs = time.perf_counter()
    setups: list[float] = []
    spark = None
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench_{args.workload}")
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
        t_setup = time.perf_counter()
        tracer = Tracer(spark, ctx.trace)
        res = wl.run(spark, tracer, ctx.seconds)
        rss_py, rss_jvm = peak_rss_mb()
        t_run = time.perf_counter()
    finally:
        if spark is not None:
            _stop(spark)
    t_stop = time.perf_counter()
    # the oracle checks run in this process after the peak was read
    res["failed"] += wl.check()
    phases = {
        "import": t_import - t_start,
        "inputs": t_inputs - t_import,
        "setup": t_setup - t_inputs,
        "run": t_run - t_setup,
        "stop": t_stop - t_run,
        "check": time.perf_counter() - t_stop,
    }
    extra = {
        "phases_s": phases,
        "samples": res["samples"],
        "setup_reps_s": setups,
        "rss.python_mb": rss_py,
        "rss.jvm_mb": rss_jvm,
        **res["host"],
        **res.get("extra", {}),
    }
    if ctx.trace:
        tracer.dump(os.path.join(ctx.work, "trace.json"))
        extra["layers"] = res["layers"]["modules"]
        metrics = {**res["layers"]["generic"], **res["host"]}
        out = {k: {"value": v, "unit": _layer_unit(k)} for k, v in sorted(metrics.items())}
    else:
        e2e = {"setup_s": median(setups[1:]), "peak_rss_mb": rss_py + rss_jvm, **res["e2e"]}
        # a cold start runs from the fresh JVM's get_spark() to the first
        # answer of every operation
        e2e["cold_s"] += setups[0]
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"breakdown": extra}))
    result = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": out,
    }
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("share", "spread")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
