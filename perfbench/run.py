#!/usr/bin/env python3
"""Benchmark runner for the artemia_airflow_spark engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0

Run from the repository root.  One process runs one workload: it builds
the Spark session through ``session.build_session``, writes the seeded
inputs, computes the DuckDB oracle, runs a first pass, then further
passes until ``--seconds`` have gone by, and checks every pass against
the oracle outside the timed region.  The last line of standard output
is one JSON object: ``correct``, ``attempted`` and ``failed`` (passes)
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Everything else goes to standard
error.  See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

import layers
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"  # the engine defaults to 24g, more than a 15 GB shared host has


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def pin_environment(work: str) -> None:
    """Pin what the session reads from the environment; must run before
    pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # Python workers are launched outside this interpreter and must
    # import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    return conf


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its driver
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- never leave it running
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def storage_mem_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) for i in infos)


def run_passes(wl, seconds: float, tracer=None):
    """First pass, then passes until ``seconds`` have gone by."""
    passes = []  # (k, start, end, ok, extras)
    window_end = None
    k = 0
    while window_end is None or time.time() < window_end:
        ok, extras, result = False, {}, None
        # release the previous pass's DataFrames and let Spark's context
        # cleaner drop their checkpoint blocks, so each pass starts alike
        gc.collect()
        wl.spark._jvm.java.lang.System.gc()
        start = time.time()
        try:
            if tracer is None:
                result = wl.run_pass(k)
            else:
                tracer.pass_id = k
                with tracer.span("pass"):
                    result = wl.run_pass(k)
                tracer.pass_id = None
        except Exception as exc:  # noqa: BLE001 -- a failed pass is counted
            print(f"pass {k} failed: {exc!r}", file=sys.stderr)
        end = time.time()
        if result is not None:
            ok = wl.check(result)
            if not ok:
                print(f"pass {k} result misses the oracle", file=sys.stderr)
            if tracer is not None:
                extras = dict(wl.pass_extras(k, result))
                extras["spark.storage_mem_bytes"] = storage_mem_bytes(wl.spark)
        print(f"pass {k}: {end - start:.3f} s ok={ok}", file=sys.stderr)
        passes.append((k, start, end, ok, extras))
        if window_end is None:
            window_end = time.time() + seconds
        k += 1
    return passes


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(setup_s: float, passes) -> dict:
    times = [end - start for _, start, end, _, _ in passes]
    return {
        "setup_s": metric(setup_s, "s"),
        "first_pass_s": metric(times[0], "s"),
        "pass_s": metric(statistics.median(times[1:] or times), "s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "artemia_airflow_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    # the JSON line goes to the saved stdout; everything else, the JVM's
    # output included, goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    cache_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(cache_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        pin_environment(work)
        from artemia_airflow_spark.session import build_session

        spark = build_session("perfbench", extra_conf=session_conf(work, args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        start_s = process_age_s()
        t0 = time.time()
        from artemia_airflow_spark.plans.registry import load_all_query_modules

        load_all_query_modules()
        registry_s = time.time() - t0
        spark.range(10).count()
        setup_s = process_age_s()
        print(f"setup {setup_s:.3f} s", file=sys.stderr)

        data_dir = os.path.join(work, "data")
        os.makedirs(data_dir)
        wl = WORKLOADS[args.workload](spark, data_dir, args.seed, work, cache_dir)
        if args.trace:
            tracer = layers.install(spark, wl)
            passes = run_passes(wl, args.seconds, tracer)
            peak = jvm_peak_rss_mb(spark)
            shutdown(spark)
            spark = None
            metrics = layers.report(
                tracer, passes, os.path.join(work, "events"),
                session={"session.start_s": start_s,
                         "session.registry_load_s": registry_s},
                jvm_peak_rss_mb=peak,
                dump=os.path.join(cache_dir,
                                  f"trace-{args.workload}-{args.seed}.json"),
            )
        else:
            passes = run_passes(wl, args.seconds)
            metrics = end_to_end(setup_s, passes)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for p in passes if not p[3])
    out = {"correct": failed == 0, "attempted": len(passes), "failed": failed,
           "metrics": metrics}
    os.write(result_fd, (json.dumps(out) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
