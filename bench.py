#!/usr/bin/env python
"""Bench harness (driver contract, BASELINE.md §engine-bench).

Runs every declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with the `noop` sink — full execution
(scan -> shuffle -> agg) without driver-side row transfer, so the
timing measures the engine, not py4j serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Queries that write real output or drive non-query machinery; excluded
# from the headline timing set (they bench I/O, not the engine).
SKIP = {
    "q_sink_parquet",
    "q_sink_partitioned",
    "q_sink_bucketed",
    "q_source_json",
    "q_source_http",
    "q_source_http_ds",
    "q_merge_acid",  # creates + merges a real on-disk table (benches I/O)
    "q_ledger_health",  # records a real on-disk run ledger (benches I/O)
    "q_runs_report",  # records a real on-disk run ledger (benches I/O)
    "q_schema_evolution",  # creates + evolves a real on-disk table (I/O)
    "q_sql_timetravel",  # creates + deletes a real on-disk table (I/O)
    "q_dedup_incremental",  # seeds + appends a real on-disk hash state (I/O)
    "q_sim_index_persisted",  # commits + reloads a real on-disk index (I/O)
    "q_corpus_release",  # commits a table + writes the sharded export (I/O)
}


def emit_report(
    timings: dict[str, float],
    errors: dict[str, str],
    sf_val,
    regressions: dict,
    watch: dict,
    out_path: str,
    missing: list[str] | None = None,
    stdout=None,
    stderr=None,
    codegen_compiles: dict[str, int] | None = None,
) -> None:
    """Write the full record to `out_path` and the one-line JSON to stdout.

    Ordering contract (VERDICT r17 item 1): the one-line JSON is the
    LAST thing emitted on a merged stdout+stderr capture.  The driver
    parses the final output line as JSON; r16's PERF comparison was
    lost because the stderr REGRESSIONS line used to be printed AFTER
    the stdout JSON and a merged-stream capture ended with it.  So:
    file first, then the (optional) stderr regression note, flushed,
    then the stdout JSON, flushed — nothing after.

    `codegen_compiles` ({face: generated classes its last repetition
    compiled}) goes to the file only; the stdout line does not change.
    """
    stdout = stdout if stdout is not None else sys.stdout
    stderr = stderr if stderr is not None else sys.stderr

    full = {
        "metric": "sum_sec_all_declared_queries",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
        "baseline_round": 1,
        "regressions_vs_baseline": regressions,
        "watch_ratio_only": watch,
        "errors": errors,
        "queries_missing_from_baseline": missing or [],
        "codegen_compiles": codegen_compiles or {},
    }
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    if regressions:
        stderr.write("REGRESSIONS vs r1 baseline: " + json.dumps(regressions) + "\n")
        stderr.flush()

    out = {
        "metric": "sum_sec_all_declared_queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "queries": {k: round(v, 3) for k, v in timings.items()},
    }
    if errors:
        out["errors"] = sorted(errors)
    stdout.write(json.dumps(out, separators=(",", ":")) + "\n")
    stdout.flush()


def main() -> None:
    from artemia_airflow_spark.session import build_session, codegen_compiles

    import __spark_entry__ as entrymod

    spark = build_session("aas-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = {k: v for k, v in entrymod.queries().items() if k not in SKIP}

    # JVM/codegen warm-up on a trivial plan so q1 doesn't pay startup.
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    # Python-worker warm-up: fork + numpy/pandas import on every core,
    # so the first pandas-UDF query isn't charged ~10s of cold start.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(n_cores * 4, numPartitions=n_cores).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    # Best-of-3 per query: one measurement is hostage to transient
    # machine noise (observed 20x outliers on an idle box, and 3-7x
    # outliers that survived best-of-2); the min of three runs is a
    # far better estimator of the plan's true cost.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Generated classes the last repetition compiled, read outside the
    # timed region.  A face whose classes stay in Spark's codegen cache
    # compiles ~0 on a repeat (a few whole-stage classes can recompile
    # when AQE numbers its codegen stages differently); a count near the
    # first run's means the cache is thrashing.
    compiles: dict[str, int] = {}

    def _reset(spark) -> None:
        """Return the JVM to an isolated-run state between queries.

        System.gc() alone is not enough: the iterative queries
        (q_dedup_clusters et al.) leave eager-localCheckpoint RDD
        blocks pinned in the block manager for as long as Python holds
        DataFrame references, and that heap pressure inflated the
        queries that happen to run right after them (q_fn_array read
        6.4x in-suite vs 1.8x isolated in r4).  Order matters:
        unpersist leftover RDDs, drop Python-side refs so py4j frees
        the JVM handles, then full GC.
        """
        import gc

        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:  # noqa: BLE001 — cleanup must never kill the bench
            pass
        gc.collect()
        spark._jvm.System.gc()

    for name in sorted(qs):
        best = float("inf")
        try:
            # Explicit full reset between queries: a single long-lived
            # local JVM accumulates heap pressure over the 100+ query
            # suite, and late-suite queries were measured 3-10x their
            # isolated cost purely from position (SCALE.md bench
            # methodology note).
            _reset(spark)
            for _ in range(3):
                spark.catalog.clearCache()
                compiled = codegen_compiles(spark)
                t0 = time.perf_counter()
                qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                compiled = codegen_compiles(spark) - compiled
            timings[name] = round(best, 4)
            compiles[name] = compiled
        except Exception as e:  # noqa: BLE001 — one broken query must
            # not zero out the whole bench (round 3 lost its entire
            # BENCH record to a single fixture-schema error).
            errors[name] = f"{type(e).__name__}: {e}"[:300]

    spark.stop()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Regression tracking vs the round-1 baseline (VERDICT r1 item 8):
    # flag any query >2x its baseline time AND >1s absolute slower.
    # The absolute floor matters: back-to-back best-of-2 runs on this
    # box show 3-5x swings on sub-second queries (JVM/GC jitter), so a
    # ratio alone reports phantom regressions on queries that cost
    # nothing; >1s of real added wall-clock is the signal worth reading.
    baseline_path = os.path.join(REPO, "BENCH_BASELINE.json")
    baseline: dict[str, float] = {}
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            baseline = json.load(f).get("queries", {})
    regressions = {
        name: {"now": t, "baseline": baseline[name], "ratio": round(t / baseline[name], 2)}
        for name, t in timings.items()
        if name in baseline and baseline[name] > 0
        and t > 2 * baseline[name] and t - baseline[name] > 1.0
    }
    # Softer watch list: ratio-only >2x with no absolute floor.  The
    # floor keeps phantom sub-second jitter out of `regressions`, but
    # r2 showed a real 3-4x cluster hiding under it — surface those
    # too so a drift never goes unreported.
    watch = {
        name: {"now": t, "baseline": baseline[name], "ratio": round(t / baseline[name], 2)}
        for name, t in timings.items()
        if name in baseline and baseline[name] > 0
        and t > 2 * baseline[name] and name not in regressions
    }

    # Full-precision record + regression table -> file (judge-readable);
    # stdout gets ONE short JSON line only (driver tail-capture is
    # limited — r1's long line was truncated and parsed: null).
    # BENCH_FULL.json is the DRIVER's artifact (VERDICT r11 "wrong" #3:
    # builder quiet-window reruns kept overwriting the normative
    # record).  Local adjudication runs must set SPARK_GRAFT_BENCH_OUT
    # to a scratch path; committed adjudications live in
    # BENCH_ADJUDICATION.json / SCALE.md, never here.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "BENCH_FULL.json")
    )
    emit_report(
        timings,
        errors,
        sf_val,
        regressions,
        watch,
        out_path,
        missing=sorted(set(timings) - set(baseline)),
        codegen_compiles=compiles,
    )


if __name__ == "__main__":
    main()
