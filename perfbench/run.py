#!/usr/bin/env python3
"""Tier-pipeline benchmark: one workload per process.

Usage, from the repository root::

    python3 perfbench/run.py --workload extend --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``extend`` and ``point_read`` are the ones
BENCHMARK.json lists; ``backfill`` runs the same way by hand. ``--trace 0``
measures the end-to-end metrics; ``--trace 1`` runs two measured passes in
lockstep, one untraced and one with the program's public calls wrapped
(each op once per pass, back to back, alternating which pass goes first),
and reports the per-layer metrics. The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}``.

The environment is pinned here: ``local[n]`` with ``n = min(4, cpus)``
and as many shuffle partitions (``get_spark`` defaults to 32, its
"~cores for local mode" on a larger host), 3g of driver memory, a UTC
session (``get_spark``), one client thread,
and every scratch file (Spark local dirs, JVM and Python temp files, the
pipelines, the event log) under ``perfbench/.work/`` in the checkout,
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "3g"


def pin_environment(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work directory; return the Spark confs that go with it. Must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no hsperfdata files: the JVMs would write them to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (it
    exits on end of input, which takes its Python workers with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def run(args, work: str) -> dict:
    from workloads import WORKLOADS, Run

    conf = pin_environment(work)
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = min(CORES, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    from c3s_sm_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench:{args.workload}",
                      master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    session_s = time.perf_counter() - t0

    try:
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        bench = Run(spark, work, args.seed, args.seconds, args.size, tracer)
        setup, measure = WORKLOADS[args.workload]
        setup(bench)
        setup_s = time.perf_counter() - t0

        labels = ["untraced"]
        if tracer is not None:
            labels.append("traced")
            tracer.install()
        try:
            passes = measure(bench, labels)
        finally:
            if tracer is not None:
                tracer.uninstall()
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    main = passes[labels[-1]]

    attempted = sum(len(m.op_s) for m in passes.values())
    failed = sum(m.failed for m in passes.values())
    for m in passes.values():
        for err in m.errors:
            print(f"perfbench: check failed: {err}", file=sys.stderr)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(main.op_s),
        "failed_op_share": failed / attempted,
        "peak_rss_mb": rss,
        "setup_parts_s": {"session_s": session_s, **bench.setup_parts},
        **main.details,
    }
    if tracer is not None:
        tracer.dump(os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json"))
        metrics = tracer.metrics(log_dir, passes["untraced"], main, session_s)
        units = {}
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(main.op_s) * 1e3,
            "op_mean_ms": main.wall_s / len(main.op_s) * 1e3,
            "stored_bytes_per_point": main.details["stored_bytes_per_point"],
        }
        units = END_TO_END_UNITS
    print(json.dumps({"detail": detail}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units.get(k) or layer_unit(k)}
            for k, v in metrics.items()
        },
    }


END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_mean_ms": "ms",
    "stored_bytes_per_point": "bytes",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("skew", "ratio", "share")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backfill", "extend", "point_read"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: a dozen documents, for the harness self-test")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "c3s_sm_spark", "plans", "pipeline.py")):
        print(f"perfbench: no c3s_sm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
