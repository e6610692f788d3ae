"""Mergeable quantile sketch (B92): bounded-error percentiles whose
partial state merges associatively — the quantile analogue of the HLL
rollup (B61, relational2.py) for 100 TB dashboards.

Exact percentiles need a global sort (or Spark's approx_percentile,
whose internal GK sketch is not exposed as a mergeable COLUMN you can
store and fold later).  This module uses the classic fixed-bin
histogram sketch in RELATIONAL form: the partial state for a group is
its (bin, count) rows — integer counts, so merging partials is
union + sum (exact, associative, order-independent), and a day's 100 TB
partition folds into a running rollup without rescanning history
(pair with merge_rollup, operators/cdc.py).  Quantile estimates
interpolate within the crossing bin; the error is bounded by one bin
width of the declared [lo, hi) domain — a QUANTIFIED guarantee
(tests/test_accuracy.py) rather than a black-box approximation.

Every step is codegen expressions over exact integers (bin ids,
counts) and deterministic double arithmetic derived from them, so the
declared query is ORACLE-CHECKED — DuckDB reproduces the identical
histogram and interpolation bit-for-bit.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from artemia_airflow_spark.functions import core as _core
from artemia_airflow_spark.functions.core import cut


class MetricSpec(NamedTuple):
    """One metric of a stacked (multi-column, single-scan) histogram
    sketch: bin ``value_col`` over [lo, hi) with ``bins`` buckets and
    answer quantile ``q`` for it."""

    metric: str
    value_col: str
    q: float
    lo: float
    hi: float
    bins: int = 256


def histogram_partials(
    df: DataFrame, value_col: str, group_cols: list[str], *,
    lo: float, hi: float, bins: int = 256,
) -> DataFrame:
    """Per-group histogram partial state: (group..., bin, cnt) rows.

    ``bin`` 0..bins-1 covers [lo, hi) uniformly; non-NULL values
    outside the domain clamp into the edge bins (totals over non-NULL
    values are preserved — the estimate for quantiles that land there
    degrades to the domain edge, the documented contract of a
    bounded-domain sketch).  NULL values are EXCLUDED, matching
    SQL-standard percentile semantics — without the filter Spark's
    null-skipping ``greatest`` silently binned NULLs at the lo edge,
    dragging every estimate toward lo on nullable columns (r6 review
    finding).  One map-side-combined shuffle of at most
    |groups| x bins rows."""
    if not hi > lo:
        raise ValueError("need hi > lo")
    v = F.col(value_col).cast("double")
    width = (hi - lo) / bins
    # clamp in LONG, cast to int only AFTER: floor() yields LONG, and a
    # pre-clamp int cast wraps for |v-lo| > ~2^31*width (non-ANSI), which
    # could land a huge positive value in bin 0 instead of the top edge
    # bin (ADVICE r6)
    bin_col = F.least(
        F.lit(bins - 1).cast("long"),
        F.greatest(F.lit(0).cast("long"), F.floor((v - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    return (
        df.filter(v.isNotNull())
        .select(*group_cols, bin_col.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def merge_histogram_partials(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold two partial states: union + sum (exact integer counts —
    associative and order-independent at any partitioning)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bin")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def quantile_estimate(
    partials: DataFrame, group_cols: list[str], q: float, *,
    lo: float, hi: float, bins: int = 256, out_col: str = "quantile_est",
) -> DataFrame:
    """Per-group quantile estimate from partial state.

    Deterministic crossing rule: target rank r = max(1, ceil(q * n))
    (exact integers), the estimate interpolates inside the first bin
    whose cumulative count reaches r:
        est = lo + (bin + (r - cum_before) / cnt) * width
    All inputs to the double arithmetic are exact integers, so the
    result is bit-identical across engines and partitionings.  Error
    bound: |est - true quantile| <= (hi-lo)/bins for in-domain values.
    """
    return quantile_estimates(
        partials, group_cols, [q], lo=lo, hi=hi, bins=bins, out_col=out_col
    ).drop("q")


def quantile_estimates(
    partials: DataFrame, group_cols: list[str], qs: list[float], *,
    lo: float, hi: float, bins: int = 256, out_col: str = "quantile_est",
) -> DataFrame:
    """Multi-quantile variant: ALL requested quantiles resolve from ONE
    pass over the partial state (cumulative window computed once, then
    a broadcast cross join with the |qs|-row quantile list) — the
    single-q form consumed the partials subtree once per quantile,
    which re-executed the whole upstream aggregation per q (Spark does
    not dedupe common subplans).  Adds a ``q`` column."""
    width = (hi - lo) / bins
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = Window.partitionBy(*group_cols)
    cum = partials.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(totals).alias("n"),
    )
    spark = partials.sparkSession
    qdf = spark.createDataFrame([(float(x),) for x in qs], "q double")
    joined = cum.crossJoin(F.broadcast(qdf))
    r = F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    crossing = (
        joined.filter(F.col("cum") >= r)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(*group_cols, "q").orderBy("bin")
            ),
        )
        .filter(F.col("__rk") == 1)
    )
    frac = (r - (F.col("cum") - F.col("cnt"))).cast("double") / F.col("cnt")
    return crossing.select(
        *group_cols,
        "q",
        (F.lit(lo) + (F.col("bin") + frac) * F.lit(width)).alias(out_col),
    )


def _check_specs(specs: list[MetricSpec]) -> None:
    """Shared stacked-spec validation: non-empty, unique metric names
    (duplicates silently blend histograms / drop estimates — r12
    review), valid domains, at least one bin (bins<=0 would divide by
    zero or clamp everything into a negative edge bin)."""
    if not specs:
        raise ValueError("need at least one MetricSpec")
    names = [s.metric for s in specs]
    if len(names) != len(set(names)):
        raise ValueError(f"duplicate metric names in specs: {names}")
    for s in specs:
        if not s.hi > s.lo:
            raise ValueError(f"need hi > lo for metric {s.metric!r}")
        if s.bins < 1:
            raise ValueError(f"need bins >= 1 for metric {s.metric!r}")


def histogram_partials_stacked(
    df: DataFrame, specs: list[MetricSpec], group_cols: list[str],
) -> DataFrame:
    """Multi-metric histogram partials from ONE scan of ``df``:
    (group..., metric, bin, cnt) rows.

    The single-metric form scans the input once per metric — Spark does
    not dedupe common subplans, so two ``histogram_partials`` calls
    over the same 100 TB table are two full table scans (VERDICT r11
    "What's wrong" #1).  Here every metric's bin id is computed in the
    same projection and stacked via an inline 2..k-element
    array-of-structs explode (Generate supports whole-stage codegen),
    then ONE map-side-combined aggregation shuffles at most
    |groups| x |metrics| x bins rows.  Per-metric NULL semantics match
    the single-metric form: a NULL value yields a NULL bin (guarded
    BEFORE the clamp — Spark's ``greatest`` skips NULLs, which would
    silently bin NULLs at the lo edge) and is dropped for that metric
    only."""
    _check_specs(specs)
    entries = []
    for s in specs:
        v = F.col(s.value_col).cast("double")
        width = (s.hi - s.lo) / s.bins
        bin_col = F.least(
            F.lit(s.bins - 1).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor((v - F.lit(s.lo)) / F.lit(width)),
            ),
        ).cast("int")
        entries.append(
            F.struct(
                F.lit(s.metric).alias("metric"),
                F.when(v.isNotNull(), bin_col).alias("bin"),
            )
        )
    return (
        df.select(*group_cols, F.explode(F.array(*entries)).alias("__m"))
        .select(*group_cols, F.col("__m.metric").alias("metric"),
                F.col("__m.bin").alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy(*group_cols, "metric", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def quantile_estimates_stacked(
    partials: DataFrame, specs: list[MetricSpec], group_cols: list[str],
    *, out_col: str = "quantile_est",
) -> DataFrame:
    """Per-(group, metric) quantile estimates from stacked partial
    state, one pass: the cumulative window runs once partitioned by
    (group..., metric), each metric's (q, lo, width) arrives via a
    broadcast |metrics|-row join, and the crossing rule + interpolation
    are the exact-integer-fed double arithmetic of
    ``quantile_estimates`` — bit-identical across engines and to the
    single-metric form (same op order: lo + (bin + frac) * width).

    One quantile per metric: the crossing window partitions by
    (group, metric), so duplicate metric names would silently keep one
    arbitrary estimate — rejected up front, like the partials builder
    (for several quantiles of ONE column use ``quantile_estimates``,
    whose window partitions by q)."""
    _check_specs(specs)
    spark = partials.sparkSession
    spec_df = spark.createDataFrame(
        [(s.metric, float(s.q), float(s.lo), (s.hi - s.lo) / s.bins)
         for s in specs],
        "metric string, q double, lo double, width double",
    )
    w = (
        Window.partitionBy(*group_cols, "metric")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = Window.partitionBy(*group_cols, "metric")
    cum = partials.select(
        *group_cols,
        "metric",
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(totals).alias("n"),
    )
    joined = cum.join(F.broadcast(spec_df), "metric")
    r = F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    crossing = (
        joined.filter(F.col("cum") >= r)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(*group_cols, "metric").orderBy("bin")
            ),
        )
        .filter(F.col("__rk") == 1)
    )
    frac = (r - (F.col("cum") - F.col("cnt"))).cast("double") / F.col("cnt")
    return crossing.select(
        *group_cols,
        "metric",
        (F.col("lo") + (F.col("bin") + frac) * F.col("width")).alias(out_col),
    )


def _register_queries() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    LO, HI, BINS = 0.0, 600_000.0, 256

    @declared(
        "q_quantile_sketch",
        oracle=f"""
        WITH part AS (
          SELECT o_orderpriority,
                 least({BINS - 1}, greatest(0,
                   CAST(floor(CAST(o_totalprice AS DOUBLE)
                              / ({HI!r} / {BINS})) AS INT))) AS bin,
                 COUNT(*) AS cnt
          FROM orders GROUP BY 1, 2
        ), cum AS (
          SELECT o_orderpriority, bin, cnt,
                 SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
          FROM part
        ), est AS (
          SELECT o_orderpriority, CAST(qq AS DOUBLE) AS q,
                 CAST(0.0 + (bin + CAST(greatest(1, CAST(ceil(qq * n) AS BIGINT))
                                        - (cum - cnt) AS DOUBLE) / cnt)
                      * ({HI!r} / {BINS}) AS DOUBLE) AS est,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority, qq
                                    ORDER BY bin) AS rk
          FROM cum CROSS JOIN (VALUES (0.5), (0.95)) t(qq)
          WHERE cum >= greatest(1, CAST(ceil(qq * n) AS BIGINT))
        )
        SELECT o_orderpriority, q,
               CAST(floor(est * 100 + 0.5) AS BIGINT) AS est_cents
        FROM est WHERE rk = 1
        """,
    )
    def q_quantile_sketch(spark, sf_dir):
        """B92, ORACLE-CHECKED: p50/p95 of o_totalprice per order
        priority estimated from the mergeable fixed-bin histogram
        sketch — the partial state a 100 TB rollup would store and
        fold daily.  Estimates are emitted as cents-scaled ints; the
        oracle reproduces the identical histogram + crossing-rule
        interpolation (exact integer counts -> deterministic doubles),
        and the merge/accuracy properties are pinned separately in
        tests (partials(half1) + partials(half2) == partials(all);
        |est - exact percentile| <= bin width)."""
        ensure_engine_conf(spark)
        o = scan(spark, sf_dir, "orders")
        part = histogram_partials(
            o, "o_totalprice", ["o_orderpriority"], lo=LO, hi=HI, bins=BINS
        )
        out = quantile_estimates(
            part, ["o_orderpriority"], [0.5, 0.95], lo=LO, hi=HI, bins=BINS
        )
        return out.select(
            "o_orderpriority",
            "q",
            F.floor(F.col("quantile_est") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("est_cents"),
        )


_register_queries()


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-quality profile in long form: one row per column with
    (column, n_rows, n_nulls, n_distinct) — the pre-flight check a
    pipeline runs before trusting a new data drop (null explosions and
    cardinality collapses are the two classic upstream-breakage
    signals).

    Exact tier: one aggregate per column, unioned — each is a
    map-side-combined COUNT/COUNT DISTINCT whose shuffle carries only
    per-partition partials, and the per-column passes are independent
    Spark jobs (a 100 TB profile over k columns is k cheap scans of
    ONE column each thanks to parquet column pruning, not k scans of
    the table).  For very wide tables swap n_distinct to
    approx_count_distinct and fold all columns into one pass — the
    documented approximate tier (B21's sketch), traded here for exact
    oracle-checkable counts."""
    from functools import reduce

    parts = [
        df.agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(F.col(c))).cast("bigint").alias("n_nulls"),
            F.countDistinct(F.col(c)).cast("bigint").alias("n_distinct"),
        )
        for c in cols
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _register_profile_query() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    _COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderpriority"]

    @declared(
        "q_profile",
        # single source of truth: the oracle iterates the SAME _COLS the
        # Spark side profiles, so the lists can never silently diverge
        oracle=" UNION ALL ".join(
            f"""
            SELECT '{c}' AS column, COUNT(*) AS n_rows,
                   COUNT(*) - COUNT({c}) AS n_nulls,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
            FROM orders
            """
            for c in _COLS
        ),
    )
    def q_profile(spark, sf_dir):
        """Per-column data-quality profile of orders (exact tier),
        ORACLE-CHECKED: null and distinct counts per column in long
        form — all BIGINT, engine-portable by construction."""
        ensure_engine_conf(spark)
        o = scan(spark, sf_dir, "orders")
        return profile_columns(o, _COLS)


_register_profile_query()


# ---------------------------------------------------------------------------
# Rule-based data-quality validation (the engine face of the TxTable
# CHECK-constraint tier, sources/txtable.py::_enforce_constraints):
# named SQL predicates over a batch, one aggregation pass, violation
# counts per rule.  The profiler (B93) describes the data; this GATES
# it — the pre-ingest pattern every 100 TB pipeline runs.
# ---------------------------------------------------------------------------

def validation_report(
    df: DataFrame, rules: dict[str, str], *, total_col: str = "n_rows"
) -> DataFrame:
    """One row per rule: (rule, n_violations, n_rows).  SQL-standard
    CHECK semantics — a row violates only when the predicate evaluates
    FALSE (NULL passes).  ONE scan builds every count (a single
    partial+final aggregate); the per-rule rows come from stack() over
    the 1-row aggregate, so rule count never multiplies scan cost."""
    from artemia_airflow_spark.functions.core import (
        check_rule_name,
        check_violation_count,
    )

    # total_col is interpolated verbatim into selectExpr and the
    # empty-report DDL schema below — hold it to the same
    # identifier-safe contract as rule names, and keep it off the two
    # fixed output columns (ADVICE r7: 'count(*)' or 'rule' here
    # produced a confusing parse error / duplicate column)
    check_rule_name(total_col)
    if total_col in ("rule", "n_violations"):
        raise ValueError(
            f"total_col {total_col!r} collides with a fixed report column"
        )
    if not rules:
        # stack(0, ...) is a parse error; an empty ruleset is an empty
        # report, not an exception (r7 review finding)
        return df.sparkSession.createDataFrame(
            [], f"rule string, n_violations bigint, {total_col} bigint"
        )
    for name in rules:
        # rule names are interpolated into selectExpr below — restrict
        # to identifier-safe names instead of escaping (a quote in a
        # name is a config typo, not a use case)
        check_rule_name(name)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__total")] + [
        check_violation_count(pred).cast("bigint").alias(f"__v_{i}")
        for i, (name, pred) in enumerate(rules.items())
    ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', __v_{i}" for i, name in enumerate(rules)
    )
    return one.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)",
        f"__total AS {total_col}",
    )


def _register_validate() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    # single source of truth for both engines, like q_profile's _COLS
    _RULES = {
        "totalprice_positive": "o_totalprice > 0",
        "totalprice_ceiling": "o_totalprice <= 400000",
        "priority_known": ("o_orderpriority IN ('1-URGENT', '2-HIGH', "
                           "'3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')"),
        "status_known": "o_orderstatus IN ('O', 'F', 'P')",
        "orderdate_set": "o_orderdate IS NOT NULL",
    }

    @declared(
        "q_validate",
        oracle=" UNION ALL ".join(
            f"""
            SELECT '{name}' AS rule,
                   CAST(SUM(CASE WHEN NOT COALESCE(({pred}), TRUE)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                   COUNT(*) AS n_rows
            FROM orders
            """
            for name, pred in _RULES.items()
        ),
    )
    def q_validate(spark, sf_dir):
        """Rule-based validation gate over orders: 5 named CHECK
        predicates, ONE scan (the oracle's UNION ALL re-scans per rule;
        Spark stacks a single 1-row aggregate — same rows, 5x less
        I/O, the 100 TB-side win)."""
        ensure_engine_conf(spark)
        return validation_report(scan(spark, sf_dir, "orders"), _RULES)


_register_validate()


def kmv_distinct_state(
    df: DataFrame, value_col: str, group_cols: list[str], *, k: int = 64
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch state per group:
    the k-th smallest md5 hash of the distinct values (round 9) —
    the approx-distinct family's PORTABLE twin next to the engine-
    native HLL rollup (B61) and approx_count_distinct (B21).

    An order statistic of per-value hashes is order-independent and
    md5 is engine-universal, so unlike HLL registers this sketch state
    is value-for-value reproducible in ANY engine: the driver oracle
    attests the exact k-th hash.  The estimator (k-1)/frac(kth_hash)
    and its accuracy bound live in tests/test_accuracy.py.

    Shape: distinct (group, hash) — one map-side-combined shuffle on
    fixed-width digests — then ONE window per group for the k-th
    order statistic.  Returns (group..., n_exact BIGINT, kth_hash
    string; kth_hash = the max hash when a group has fewer than k
    distinct values, where the estimate degrades to exact — the
    standard KMV convention)."""
    # NULL values are excluded (SQL count-distinct semantics) BEFORE
    # ranking: Spark windows sort NULLS FIRST while DuckDB sorts NULLS
    # LAST, so a surviving NULL hash would shift the k-th order
    # statistic differently in each engine (r9 review, reproduced)
    h = df.select(
        *group_cols,
        F.md5(F.col(value_col).cast("string")).alias("__h"),
    ).filter(F.col("__h").isNotNull()).distinct()
    w = Window.partitionBy(*group_cols).orderBy("__h")
    wn = Window.partitionBy(*group_cols)
    ranked = h.select(
        *group_cols,
        "__h",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    return ranked.groupBy(*group_cols).agg(
        F.max("__n").alias("n_exact"),
        F.max(
            F.when(
                F.col("__rn") == F.least(F.lit(k), F.col("__n")), F.col("__h")
            )
        ).alias("kth_hash"),
    )


def _register_kmv() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_agg_kmv_portable",
        oracle="""
        WITH h AS (
          SELECT DISTINCT event_type,
                 md5(CAST(user_id AS VARCHAR)) AS h
          FROM events
          WHERE user_id IS NOT NULL
        ), r AS (
          SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM h
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_exact,
               MAX(CASE WHEN rn = LEAST(64, n) THEN h END) AS kth_hash
        FROM r GROUP BY event_type
        """,
    )
    def q_agg_kmv_portable(spark, sf_dir):
        """B21/B61's approx-distinct family as a FULL hash-match oracle
        (round 9): per-event-type KMV sketch state (k=64) over
        user_id — DuckDB reproduces the exact k-th minimum hash, so
        the driver attests the sketch's entire decision path
        (hashing, dedup, order statistic) value-for-value; estimator
        accuracy is pinned separately (tests/test_accuracy.py).  The
        engine-native HLL tiers keep their rows-only checks."""
        ensure_engine_conf(spark)
        e = scan(spark, sf_dir, "events")
        return kmv_distinct_state(e, "user_id", ["event_type"], k=64)


_register_kmv()


def cms_state(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    *,
    depth: int = 4,
    bucket_hex: int = 2,
) -> DataFrame:
    """Count-Min Sketch state per group: ``depth`` independent counter
    rows of ``16^bucket_hex`` buckets, keyed by a 2-hex-char prefix of
    the salted md5 digest (no hex->int conversion, so the bucket
    function is value-for-value reproducible in any engine — the
    portable-oracle recipe of the MinHash/KMV family).

    The returned relation (group..., j, bucket, cnt) IS the sketch:
    mergeable by union + sum (counters are additive), O(depth * width)
    rows per group regardless of corpus size, point-queryable via
    :func:`cms_estimate`.  This is the heavy-hitters / frequency
    sibling of the KMV distinct sketch (B61) and the mergeable
    histogram quantile sketch (B92).

    Shape: occurrences collapse to (group, value, count) FIRST — a
    map-side-combined aggregate whose exchange is vocabulary-sized —
    and only then does the Inline generate hash each DISTINCT value
    ``depth`` times into the counter cells (summing the pre-counts).
    The md5 cost is therefore vocabulary-bound, not corpus-bound: a
    10x corpus with the same vocabulary pays 10x only in the cheap
    codegen count, not in hashing (measured: the occurrence-hashing
    shape grew ~7x wall for 10x data; this shape re-hashes nothing).
    """
    val = F.col(value_col).cast("string")
    per_value = (
        df.filter(val.isNotNull())
        .groupBy(*list(group_cols or []), val.alias("__val"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return cms_state_from_counts(
        per_value, "__val", "__c", group_cols,
        depth=depth, bucket_hex=bucket_hex,
    )


def cms_state_from_counts(
    counts: DataFrame,
    value_col: str,
    count_col: str,
    group_cols: list[str] | None = None,
    *,
    depth: int = 4,
    bucket_hex: int = 2,
) -> DataFrame:
    """CMS state from a PRE-AGGREGATED (value, count) relation — the
    seam under :func:`cms_state` (r17b): counter additivity makes the
    result cell-identical to inserting the raw occurrences, so a caller
    that already holds per-value counts (the heavy-hitters face shares
    ONE token-count aggregate between its exact top-k and the sketch)
    skips a second corpus tokenize pass."""
    group_cols = list(group_cols or [])
    width = 16 ** bucket_hex
    if depth < 1 or width < 2:
        raise ValueError("depth must be >= 1 and bucket_hex >= 1")
    val = F.col(value_col).cast("string")
    per_value = counts.filter(val.isNotNull()).select(
        *group_cols,
        F.col(count_col).alias("__c"),
        _cms_bucket_rows(val, depth, bucket_hex),
    )
    return (
        per_value.groupBy(*group_cols, "j", "bucket")
        .agg(F.sum("__c").alias("cnt"))
    )


def _cms_bucket_rows(val: "F.Column", depth: int, bucket_hex: int) -> "F.Column":
    """The ONE definition of the CMS bucket function, shared by insert
    (:func:`cms_state`) and probe (:func:`cms_estimate`): an inline
    generator of (j, bucket) rows where bucket = first ``bucket_hex``
    hex chars of md5(j ':' value).  Insert and probe MUST hash
    identically or every estimate silently degrades to collision
    noise — keeping the expression in one place makes that structural,
    not a convention."""
    return F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit(str(j)), val)), 1, bucket_hex
                    ).alias("bucket"),
                )
                for j in range(depth)
            ]
        )
    )


def cms_merge(a: DataFrame, b: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge two CMS states built with the same (depth, bucket_hex):
    union + per-cell sum.  Counter additivity makes the sketch exactly
    mergeable — cms(A ∪ B) == merge(cms(A), cms(B)) cell-for-cell
    (pinned in tests), which is what makes it safe to build per
    partition/shard/day and roll up."""
    group_cols = list(group_cols or [])
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    bucket_hex: int = 2,
) -> DataFrame:
    """Point-query a CMS state: for each key, the minimum counter over
    the ``depth`` rows at the key's buckets — the classic CMS
    over-estimate (never under).  An EMPTY cell counts as 0 (LEFT join
    + coalesce): a key with any un-hit bucket estimates 0, and every
    non-NULL probe key returns exactly one row.  NULL keys are
    excluded, mirroring :func:`cms_state`'s insert-side exclusion.
    The sketch relation is bounded (depth * width rows), so it
    broadcasts; probing N keys costs one broadcast hash join, never a
    corpus pass."""
    val = F.col(key_col).cast("string")
    probes = keys.filter(val.isNotNull()).select(
        key_col, _cms_bucket_rows(val, depth, bucket_hex)
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def _register_cms() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_sketch_cms_portable",
        oracle="""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
          FROM documents
        ), cms AS (
          SELECT j,
                 substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 2) AS bucket,
                 COUNT(*) AS cnt
          FROM toks CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
          GROUP BY 1, 2
        ), tc AS (
          SELECT token, COUNT(*) AS c FROM toks GROUP BY token
        ), top AS (
          SELECT token, c FROM tc ORDER BY c DESC, token LIMIT 20
        ), probes AS (
          SELECT token, unnest(range(0, 4)) AS j FROM top
        ), est AS (
          SELECT p.token, MIN(m.cnt) AS cms_est
          FROM probes p JOIN cms m
            ON m.j = p.j
           AND m.bucket = substr(md5(CAST(p.j AS VARCHAR) || ':' || p.token), 1, 2)
          GROUP BY p.token
        )
        SELECT top.token,
               CAST(top.c AS BIGINT) AS exact_cnt,
               CAST(est.cms_est AS BIGINT) AS cms_est
        FROM top JOIN est USING (token)
        """,
    )
    def q_sketch_cms_portable(spark, sf_dir):
        """Count-Min heavy-hitters sketch, FULL hash-match oracle: the
        top-20 exact tokens (deterministic count-desc/token tiebreak)
        probed against the CMS built over the same corpus — DuckDB
        reproduces every counter cell and every min-over-rows
        estimate, so the driver attests the sketch's entire mechanism
        (salted bucketing, additive counters, point query).  CMS
        over-estimate and merge laws are pinned in unit tests."""
        from artemia_airflow_spark.operators.text import tokenize

        ensure_engine_conf(spark)
        d = scan(spark, sf_dir, "documents")
        toks = tokenize(d, "text")
        # ONE corpus tokenize pass (r17b): the sketch's per-value
        # pre-count and the exact top-20 are the SAME token-count
        # aggregate, but as separate lineage branches the tokenize ran
        # twice (counter additivity makes the sketch built from counts
        # cell-identical — cms_state_from_counts).  The checkpoint is
        # vocabulary-sized, not corpus-sized.
        # kept, sf0.1 cut -> none: 0.02 -> 0.01 MB read, 0.01 -> 0.01 MB shuffled,
        # 0.40 -> 0.47 s
        tok_counts = cut(
            toks.filter(F.col("token").isNotNull())
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("exact_cnt")),
            "sketches.q_sketch_cms_portable.tok_counts",
        )
        sketch = cms_state_from_counts(
            tok_counts, "token", "exact_cnt", depth=4, bucket_hex=2
        )
        top = tok_counts.orderBy(F.col("exact_cnt").desc(), "token").limit(20)
        est = cms_estimate(sketch, top.select("token"), "token", depth=4, bucket_hex=2)
        return top.join(est, "token").select("token", "exact_cnt", "cms_est")


_register_cms()


def frequency_drift(
    df: DataFrame,
    key_col: str,
    cohort_col,
    *,
    min_count: int = 0,
) -> DataFrame:
    """Categorical-distribution drift between two cohorts of one
    relation (A/B exposure, old-vs-new snapshot, suspect shard): per
    key, both cohort counts plus two engine-portable statistics —
    ``rate_ratio_e6`` (cohort-0 share over cohort-1 share, NULL when
    the key is absent from cohort 1) and ``absdiff_e9``
    (|share_0 - share_1|, the per-key L1 contribution; SUM it for the
    total-variation distance x2).  The shares are single
    correctly-rounded divide chains over exact integer counts, half-up
    quantized per key BEFORE any summation — the portable-oracle
    discipline.

    An entirely-empty cohort makes every share undefined: both
    statistics come back NULL for every key (guarded — Spark 4's ANSI
    mode would otherwise throw DIVIDE_BY_ZERO on the share, r12
    review) while the raw counts still report.

    Scale shape: ONE corpus scan into a single map-side-combined
    conditional aggregate keyed on ``key`` (one shuffle — a
    (key, cohort) pre-count would pay a second exchange for nothing);
    everything after runs on the key-sized relation (cohort totals
    attach via unpartitioned windows over it — the `_with_global`
    recipe, never a corpus-sized window or a second scan).
    """
    cohort = cohort_col if not isinstance(cohort_col, str) else F.col(cohort_col)
    g = cohort.cast("int")
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.coalesce(F.sum(F.when(g == 0, F.lit(1))), F.lit(0)).alias("c_a"),
        F.coalesce(F.sum(F.when(g == 1, F.lit(1))), F.lit(0)).alias("c_b"),
    )
    w = Window.partitionBy()
    per_key = per_key.withColumns(
        {"n_a": F.sum("c_a").over(w), "n_b": F.sum("c_b").over(w)}
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    share_a = F.col("c_a").cast("double") / F.col("n_a")
    share_b = F.col("c_b").cast("double") / F.col("n_b")
    ratio = F.when(
        both & (F.col("c_b") > 0),
        F.floor(share_a / share_b * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("bigint"),
    )
    absdiff = F.when(
        both,
        F.floor(
            F.abs(share_a - share_b) * F.lit(1_000_000_000.0) + F.lit(0.5)
        ).cast("bigint"),
    )
    return (
        per_key.filter((F.col("c_a") + F.col("c_b")) >= min_count)
        .select(
            "key", "c_a", "c_b",
            ratio.alias("rate_ratio_e6"),
            absdiff.alias("absdiff_e9"),
        )
    )


def _register_drift_query() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_drift_report",
        oracle="""
        WITH counts AS (
          SELECT event_type AS key, CAST(user_id % 2 AS INT) AS g,
                 COUNT(*) AS c
          FROM events GROUP BY 1, 2
        ), per_key AS (
          SELECT key,
                 coalesce(SUM(c) FILTER (WHERE g = 0), 0) AS c_a,
                 coalesce(SUM(c) FILTER (WHERE g = 1), 0) AS c_b
          FROM counts GROUP BY key
        ), tot AS (
          SELECT key, c_a, c_b,
                 SUM(c_a) OVER () AS n_a, SUM(c_b) OVER () AS n_b
          FROM per_key
        )
        SELECT key, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
               CASE WHEN n_a > 0 AND n_b > 0 AND c_b > 0 THEN CAST(floor(
                 (CAST(c_a AS DOUBLE) / n_a) / (CAST(c_b AS DOUBLE) / n_b)
                 * 1000000.0 + 0.5) AS BIGINT) END AS rate_ratio_e6,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 CAST(floor(abs(CAST(c_a AS DOUBLE) / n_a
                                - CAST(c_b AS DOUBLE) / n_b)
                            * 1000000000.0 + 0.5) AS BIGINT)
               END AS absdiff_e9
        FROM tot
        """,
    )
    def q_drift_report(spark, sf_dir):
        """Cohort drift report, FULL hash-match oracle: event-type
        distributions of the user_id-parity cohorts compared per key —
        exact counts plus quantized share-ratio and L1-contribution
        statistics, every float op a correctly-rounded divide/subtract
        chain mirrored in DuckDB.  The production face of 'did the new
        ingestion shard change the event mix'."""
        ensure_engine_conf(spark)
        e = scan(spark, sf_dir, "events")
        return frequency_drift(e, "event_type", F.col("user_id") % 2)


_register_drift_query()


def corr_matrix(
    df: DataFrame, cols: list[str], *, scale: int = 100
) -> DataFrame:
    """Pairwise Pearson correlation over EXACT sufficient statistics:
    inputs are half-up quantized to ``scale``-scaled integers held as
    decimal(19,0)/decimal(38,0), so every sum (Sx, Sxx, Sxy) is an
    exact, order-free aggregate — never the float accumulation
    ordering that makes builtin ``corr`` run-dependent at cluster
    scale — and r comes out of one correctly-rounded double chain,
    bit-identical cross-engine.  Zero-variance columns yield NULL r.

    Rows where ANY requested column is NULL are excluded up front
    (listwise deletion — the one policy under which every sum comes
    from the same row set; mixing per-sum NULL skipping with a global
    count would silently produce invalid r, r12 review).  ``n``
    reports the complete-row count.

    Scale shape: ONE column-pruned scan into a single 1-row
    map-side-combined aggregate carrying all k + k + k(k-1)/2 sums;
    the pair rows explode from that 1-row relation (no join, no
    second scan, no shuffle beyond the partial-aggregate combine).
    Overflow bound: |x*scale| < 1e12 keeps Sxy within decimal(38,0)
    at 1e14 rows.

    Returns (x_col, y_col, n, r_e6) per unordered column pair.
    """
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    complete = df
    for c in cols:
        complete = complete.filter(F.col(c).isNotNull())
    # positional aliases: name-derived ones (sp_{a}_{b}) collide for
    # column names containing underscores (r12 review)
    ints = [
        F.floor(F.col(c).cast("double") * scale + F.lit(0.5))
        .cast("decimal(19,0)")
        for c in cols
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(len(cols)):
        aggs.append(F.sum(ints[i]).alias(f"s_{i}"))
        aggs.append(F.sum(ints[i] * ints[i]).alias(f"ss_{i}"))
    pairs = [(i, j) for i in range(len(cols)) for j in range(i + 1, len(cols))]
    for i, j in pairs:
        aggs.append(F.sum(ints[i] * ints[j]).alias(f"sp_{i}_{j}"))
    one = complete.agg(*aggs)

    def r_e6(i: int, j: int):
        nd = F.col("n").cast("double")
        sx, sy = F.col(f"s_{i}").cast("double"), F.col(f"s_{j}").cast("double")
        ssa, ssb = F.col(f"ss_{i}").cast("double"), F.col(f"ss_{j}").cast("double")
        sxy = F.col(f"sp_{i}_{j}").cast("double")
        d1 = nd * ssa - sx * sx
        d2 = nd * ssb - sy * sy
        r = (nd * sxy - sx * sy) / (F.sqrt(d1) * F.sqrt(d2))
        return F.when(
            (d1 > 0) & (d2 > 0),
            F.floor(r * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint"),
        )

    rows = F.array(*[
        F.struct(
            F.lit(cols[i]).alias("x_col"), F.lit(cols[j]).alias("y_col"),
            F.col("n").alias("n"), r_e6(i, j).alias("r_e6"),
        )
        for i, j in pairs
    ])
    return one.select(F.explode(rows).alias("p")).select("p.*")


def _register_corr_query() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    _CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    def _pair_sql(a: str, b: str) -> str:
        return f"""
      SELECT '{a}' AS x_col, '{b}' AS y_col, CAST(n AS BIGINT) AS n,
             CASE WHEN CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)
                       - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE) > 0
                   AND CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)
                       - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE) > 0
             THEN CAST(floor(
               (CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)
                - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)
                       - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)
                         - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT)
             END AS r_e6
      FROM s"""

    sums = ", ".join(
        [f"SUM(x_{c}) AS s_{c}, SUM(x_{c} * x_{c}) AS ss_{c}"
         for c in _CORR_COLS]
        + [f"SUM(x_{a} * x_{b}) AS sp_{a}_{b}"
           for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]]
    )
    quant = ", ".join(
        f"CAST(floor(CAST({c} AS DOUBLE) * 100 + 0.5) AS HUGEINT) AS x_{c}"
        for c in _CORR_COLS
    )
    body = "\n      UNION ALL".join(
        _pair_sql(a, b)
        for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
    )
    oracle = f"""
    WITH q AS (SELECT {quant} FROM lineitem
               WHERE {" AND ".join(f"{c} IS NOT NULL" for c in _CORR_COLS)}),
    s AS (SELECT COUNT(*) AS n, {sums} FROM q)
    {body}
    """

    @declared("q_corr_matrix", oracle=oracle)
    def q_corr_matrix(spark, sf_dir):
        """Correlation matrix, FULL hash-match oracle: pairwise Pearson
        r over four lineitem measures from exact decimal sufficient
        statistics (cent-quantized ints; DuckDB mirrors with HUGEINT
        sums) — the sums are order-free so the statistic is
        reproducible run-to-run AND engine-to-engine, unlike builtin
        float corr.  One scan, one 1-row aggregate, six pair rows."""
        ensure_engine_conf(spark)
        li = scan(spark, sf_dir, "lineitem")
        return corr_matrix(li, _CORR_COLS, scale=100)


_register_corr_query()


def discretize_by_sketch(
    df: DataFrame, value_col: str, *,
    n_buckets: int, lo: float, hi: float, bins: int = 256,
    out_col: str = "bucket",
) -> DataFrame:
    """Quantile feature binning at scale: assign each row its
    ``n_buckets``-quantile bucket using edges from the mergeable
    histogram sketch — the ML-prep discretizer (equal-frequency bins
    for feature crosses, calibration buckets, stratified eval).

    A window-NTILE discretizer needs a GLOBAL ordering, which in Spark
    is an unpartitioned window — one reducer sorting the corpus.  This
    one is scale-correct: the sketch pass is a map-side-combined
    bins-sized aggregate, the n_buckets-1 edges broadcast as ONE row,
    and assignment is a per-row array scan (strict ``value > edge``
    count) inside codegen.  Bucket boundaries inherit the sketch's
    one-bin-width error bound — the standard trade for not sorting
    100 TB; every non-NULL value is binned (edges are exact doubles
    derived from exact integer state, so assignment is
    engine-portable and run-reproducible).  NULL values get a NULL
    bucket (they are excluded from the sketch, so binning them at the
    lo edge would inflate bucket 1 — the module's r6 NULL finding all
    over again).  Degenerate caveat: heavily tied data (or n_buckets
    close to ``bins``) can yield DUPLICATE edges, in which case the
    strict-greater count skips bucket ids and the skipped buckets stay
    empty — equal-frequency binning is not defined when one value
    exceeds a full quantile's mass; raise ``bins`` or lower
    ``n_buckets`` for such columns.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    partials = histogram_partials(df, value_col, [], lo=lo, hi=hi, bins=bins)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edges = quantile_estimates(
        partials, [], qs, lo=lo, hi=hi, bins=bins, out_col="__edge"
    )
    edge_row = edges.agg(
        F.sort_array(F.collect_list("__edge")).alias("__edges")
    )
    v = F.col(value_col).cast("double")
    bucket = F.when(
        v.isNotNull(),
        (F.size(F.filter(F.col("__edges"), lambda e: v > e)) + F.lit(1))
        .cast("int"),
    )
    return (
        df.crossJoin(F.broadcast(edge_row))
        .withColumn(out_col, bucket)
        .drop("__edges")
    )


def _register_discretize_query() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    LO, HI, BINS = 0.0, 600_000.0, 256

    @declared(
        "q_feature_bins",
        oracle=f"""
        WITH part AS (
          SELECT least({BINS - 1}, greatest(0,
                   CAST(floor(CAST(o_totalprice AS DOUBLE)
                              / ({HI!r} / {BINS})) AS INT))) AS bin,
                 COUNT(*) AS cnt
          FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
        ), cum AS (
          SELECT bin, cnt,
                 SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                   AS cum,
                 SUM(cnt) OVER () AS n
          FROM part
        ), est AS (
          SELECT CAST(0.0 + (bin
                   + CAST(greatest(1, CAST(ceil(qq * n) AS BIGINT))
                          - (cum - cnt) AS DOUBLE) / cnt)
                      * ({HI!r} / {BINS}) AS DOUBLE) AS edge,
                 ROW_NUMBER() OVER (PARTITION BY qq ORDER BY bin) AS rk
          FROM cum CROSS JOIN (VALUES (0.25), (0.5), (0.75)) t(qq)
          WHERE cum >= greatest(1, CAST(ceil(qq * n) AS BIGINT))
        ), edges AS (SELECT edge FROM est WHERE rk = 1
        ), b AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v,
                 CASE WHEN o_totalprice IS NOT NULL THEN
                   1 + (SELECT COUNT(*) FROM edges e
                        WHERE CAST(o.o_totalprice AS DOUBLE) > e.edge)
                 END AS bucket
          FROM orders o
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(floor(v * 100 + 0.5)) AS BIGINT) AS min_cents,
               CAST(MAX(floor(v * 100 + 0.5)) AS BIGINT) AS max_cents
        FROM b GROUP BY bucket
        """,
    )
    def q_feature_bins(spark, sf_dir):
        """Quantile discretizer, FULL hash-match oracle: orders bin
        into price quartiles via sketch-derived edges (never a global
        sort); per bucket the row count and exact cent-quantized
        min/max attest both the edge computation and every row's
        assignment.  DuckDB replays the histogram, the interpolated
        quartile edges, and the strict-greater bucket scan
        value-for-value."""
        ensure_engine_conf(spark)
        o = scan(spark, sf_dir, "orders")
        binned = discretize_by_sketch(
            o, "o_totalprice", n_buckets=4, lo=LO, hi=HI, bins=BINS
        )
        cents = F.floor(
            F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)
        ).cast("bigint")
        return binned.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
        )


_register_discretize_query()


def mad_outliers(
    df: DataFrame, value_col: str, group_cols: list[str], *, k: int = 3,
) -> DataFrame:
    """Robust per-group outlier profile via median / MAD (median
    absolute deviation — Hampel's rule, public statistics): per group
    the exact median, the exact MAD, and how many rows sit more than
    ``k`` MADs from the median.  The standard distribution-free
    anomaly gate for pipeline monitoring — unlike mean/stddev z-scores
    it does not let the outliers drag the threshold toward themselves.

    Engine-exact arithmetic: values e6-quantize (``floor(v*1e6+0.5)``)
    then DOUBLE to even integers ``v2 = 2*v_e6``, so every percentile
    interpolation lands on an exactly-representable integer (both
    engines use the p*(n-1) convention; the midpoint of two even
    integers is an integer) — median rides at 2x scale (``med_x2_e6``)
    and MAD at 4x (``mad_x4_e6``), and the flag ``2*dev2 > k*mad4`` is
    pure BIGINT, so no float threshold can tie-break differently
    across engines.  NULL values are excluded up front.

    Scale shape: exact medians buffer each group's values inside the
    percentile aggregate, so the fact relation is scanned three times
    (median -> MAD -> flags) with the tiny per-group stats BROADCAST
    back between passes — no corpus-sized shuffle join, but the two
    percentile exchanges do carry the full value column.  That is the
    inherent price of EXACT robust statistics; at 100 TB, swap the
    percentile calls for the mergeable quantile sketch (B92) and keep
    this face as the audit tier on bounded slices.  The tiny med/mad
    relations are lineage-truncated so each downstream consumer does
    NOT re-expand the upstream percentile pass (Spark never dedupes
    common subplans — the _with_global lesson; without the cut the
    static plan held SEVEN fact scans, r13 plan audit).
    """
    v2 = (F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5))
          .cast("bigint") * F.lit(2)).alias("__v2")
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, v2)
    )
    # kept, sf0.1 cut -> none: 0.89 -> 1.89 MB read, 0.87 -> 1.87 MB shuffled
    med = cut(
        rows.groupBy(*group_cols).agg(
            F.expr("CAST(percentile(__v2, 0.5D) AS BIGINT)")
            .alias("med_x2_e6"),
            F.count(F.lit(1)).alias("n"),
        ),
        "sketches.mad_outliers.med",
    )
    dev = rows.join(F.broadcast(med), group_cols).withColumn(
        "__dev2", F.abs(F.col("__v2") - F.col("med_x2_e6"))
    )
    # kept, sf0.1 cut -> none: 0.89 -> 1.26 MB read, 0.87 -> 0.87 MB shuffled
    mad = cut(
        dev.groupBy(*group_cols).agg(
            F.expr("CAST(percentile(2 * __dev2, 0.5D) AS BIGINT)")
            .alias("mad_x4_e6"),
        ),
        "sketches.mad_outliers.mad",
    )
    stats = med.join(mad, group_cols)
    flagged = (
        rows.join(F.broadcast(stats), group_cols)
        .withColumn(
            "__out",
            (F.lit(2) * F.abs(F.col("__v2") - F.col("med_x2_e6"))
             > F.lit(k) * F.col("mad_x4_e6")).cast("int"),
        )
        .groupBy(*group_cols)
        .agg(F.sum("__out").cast("bigint").alias("n_outliers"))
    )
    return stats.join(flagged, group_cols).select(
        *group_cols, "n", "med_x2_e6", "mad_x4_e6", "n_outliers"
    )


def _register_mad_query():
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_outliers_mad",
        oracle="""
        WITH rows_q AS (
          SELECT event_type,
                 CAST(floor(value * 1000000 + 0.5) AS BIGINT) * 2 AS v2
          FROM events WHERE value IS NOT NULL
        ), med AS (
          SELECT event_type,
                 CAST(quantile_cont(v2, 0.5) AS BIGINT) AS med_x2_e6,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM rows_q GROUP BY event_type
        ), mad AS (
          SELECT r.event_type,
                 CAST(quantile_cont(2 * abs(r.v2 - m.med_x2_e6), 0.5)
                      AS BIGINT) AS mad_x4_e6
          FROM rows_q r JOIN med m USING (event_type)
          GROUP BY r.event_type
        ), flags AS (
          SELECT r.event_type,
                 CAST(SUM(CASE WHEN 2 * abs(r.v2 - m.med_x2_e6)
                                    > 3 * d.mad_x4_e6
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          FROM rows_q r JOIN med m USING (event_type)
                        JOIN mad d USING (event_type)
          GROUP BY r.event_type
        )
        SELECT m.event_type, m.n, m.med_x2_e6, d.mad_x4_e6, f.n_outliers
        FROM med m JOIN mad d USING (event_type)
                   JOIN flags f USING (event_type)
        """,
    )
    def q_outliers_mad(spark, sf_dir):
        """Robust MAD outlier profile per event type, FULL hash-match
        oracle: exact 2x-scaled median, 4x-scaled MAD, and the
        Hampel-rule (k=3) outlier count — all-BIGINT thresholding, so
        DuckDB attests medians, MADs, and every flag decision
        value-for-value."""
        ensure_engine_conf(spark)
        e = scan(spark, sf_dir, "events")
        return mad_outliers(e, "value", ["event_type"], k=3)


_register_mad_query()


def psi_drift(
    df: DataFrame, value_col: str, cohort_col: str, group_cols: list[str],
    *, n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index per group between two cohorts (the
    industry-standard numeric drift score; PSI < 0.1 stable, > 0.25
    action): equal-width bins over the group's combined value range,
    Laplace-smoothed bin shares, ``PSI = sum_b (pA-pB) * ln(pA/pB)``.
    The NUMERIC-feature sibling of the categorical frequency drift
    report (B123) — same monitoring seam, continuous columns.

    ``cohort_col`` must be a boolean column (true = cohort A).  Rows
    with NULL values are excluded.

    Engine-exact: values e6-quantize, the bin index is pure BIGINT
    (``(v6 - min6) * n_bins DIV (max6 - min6 + 1)`` — the +1 keeps the
    top value in the last bin and degenerate min==max groups in bin
    0), and each bin's PSI term is computed from EXACT integer counts
    (both engines divide/ln the identical arguments) then e9-floored
    BEFORE the per-group sum, so the total is an order-free integer
    aggregate (the DSIR contribution recipe).  ALL ``n_bins`` bins
    contribute — a bin empty in BOTH cohorts still carries a nonzero
    smoothed term whenever the cohort sizes differ (its pseudo-count
    shares 1/(ta+n) vs 1/(tb+n) diverge), so the count relation joins
    onto the full group x bin grid rather than only observed bins
    (r13 review: skipping them silently deviated from the documented
    formula).

    Scale shape: two fact passes — a per-group min/max aggregate
    broadcast back, then the (group, cohort, bin) count aggregate
    (<= groups x 2 x n_bins rows, map-side combined); totals ride the
    tiny bin relation as unpartitioned-by-cohort window sums.  The
    min/max relation is lineage-truncated so the binning pass does not
    re-expand the range pass (common-subplan rule).
    """
    v6 = F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, F.col(cohort_col).alias("__a"), v6.alias("__v6"))
    )
    # kept: tests/test_plans.py::test_mad_and_psi_plans_do_not_reexpand_stat_passes pins it
    rng = cut(
        rows.groupBy(*group_cols).agg(
            F.min("__v6").alias("__mn"), F.max("__v6").alias("__mx")
        ),
        "sketches.psi_drift.rng",
    )
    binned = (
        rows.join(F.broadcast(rng), group_cols)
        .selectExpr(
            *group_cols, "__a",
            f"(__v6 - __mn) * {n_bins} DIV (__mx - __mn + 1) AS bin",
        )
    )
    counts = binned.groupBy(*group_cols, "bin").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).cast("bigint")
        .alias("cb"),
    )
    grid = rng.select(
        *group_cols,
        F.explode(
            F.sequence(F.lit(0).cast("bigint"),
                       F.lit(n_bins - 1).cast("bigint"))
        ).alias("bin"),
    )
    counts = (
        grid.join(counts, [*group_cols, "bin"], "left")
        .select(
            *group_cols, "bin",
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    wg = Window.partitionBy(*group_cols)
    full = counts.withColumn("ta", F.sum("ca").over(wg)).withColumn(
        "tb", F.sum("cb").over(wg)
    )
    nb = F.lit(n_bins)
    pa = (F.col("ca") + 1).cast("double") / (F.col("ta") + nb).cast("double")
    pb = (F.col("cb") + 1).cast("double") / (F.col("tb") + nb).cast("double")
    lnr = F.log(
        ((F.col("ca") + 1) * (F.col("tb") + nb)).cast("double")
        / ((F.col("cb") + 1) * (F.col("ta") + nb)).cast("double")
    )
    term = F.floor((pa - pb) * lnr * F.lit(1_000_000_000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        full.withColumn("__t", term)
        .groupBy(*group_cols)
        .agg(
            F.max("ta").alias("n_a"),
            F.max("tb").alias("n_b"),
            F.sum("__t").alias("psi_e9"),
        )
    )


def _register_psi_query():
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_drift_psi",
        oracle="""
        WITH bounds AS (
          SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
          FROM events
        ), rows_q AS (
          SELECT event_type,
                 epoch_us(ts) < mid AS a,
                 CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6
          FROM events CROSS JOIN bounds WHERE value IS NOT NULL
        ), rng AS (
          SELECT event_type, MIN(v6) AS mn, MAX(v6) AS mx
          FROM rows_q GROUP BY event_type
        ), counts AS (
          SELECT r.event_type,
                 (r.v6 - g.mn) * 10 // (g.mx - g.mn + 1) AS bin,
                 CAST(SUM(CASE WHEN r.a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(SUM(CASE WHEN r.a THEN 0 ELSE 1 END) AS BIGINT) AS cb
          FROM rows_q r JOIN rng g USING (event_type)
          GROUP BY r.event_type, (r.v6 - g.mn) * 10 // (g.mx - g.mn + 1)
        ), grid AS (
          SELECT event_type, CAST(unnest(range(0, 10)) AS BIGINT) AS bin
          FROM rng
        ), counts_full AS (
          SELECT g.event_type, g.bin,
                 COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
          FROM grid g LEFT JOIN counts c
            ON c.event_type = g.event_type AND c.bin = g.bin
        ), full_t AS (
          SELECT event_type, ca, cb,
                 SUM(ca) OVER (PARTITION BY event_type) AS ta,
                 SUM(cb) OVER (PARTITION BY event_type) AS tb
          FROM counts_full
        ), terms AS (
          SELECT event_type, ta, tb,
                 CAST(floor(
                   (CAST(ca + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)
                    - CAST(cb + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))
                   * ln(CAST((ca + 1) * (tb + 10) AS DOUBLE)
                        / CAST((cb + 1) * (ta + 10) AS DOUBLE))
                   * 1000000000.0 + 0.5) AS BIGINT) AS t
          FROM full_t
        )
        SELECT event_type, CAST(MAX(ta) AS BIGINT) AS n_a,
               CAST(MAX(tb) AS BIGINT) AS n_b,
               CAST(SUM(t) AS BIGINT) AS psi_e9
        FROM terms GROUP BY event_type
        """,
    )
    def q_drift_psi(spark, sf_dir):
        """PSI numeric drift per event type, FULL hash-match oracle:
        first-half vs second-half time cohorts (exact integer epoch
        midpoint), 10 equal-width e6-integer bins, per-bin smoothed
        terms e9-floored before an order-free integer sum — DuckDB
        attests every bin count and the PSI itself value-for-value."""
        ensure_engine_conf(spark)
        e = scan(spark, sf_dir, "events")
        mid = e.agg(
            F.expr(
                "(MIN(unix_micros(ts)) + MAX(unix_micros(ts))) DIV 2"
            ).alias("mid")
        )
        rows = e.crossJoin(F.broadcast(mid)).withColumn(
            "__cohort_a", F.unix_micros("ts") < F.col("mid")
        )
        return psi_drift(rows, "value", "__cohort_a", ["event_type"])


_register_psi_query()


def ols_trend(
    df: DataFrame, x_col, y_col, group_cols: list[str],
) -> DataFrame:
    """Per-group least-squares trend line from EXACT sufficient
    statistics (the corr-matrix recipe pointed at slope/intercept
    instead of r): callers pass integer-valued x/y columns (already
    quantized — seconds, cents); all five sums (n, Sx, Sy, Sxx, Sxy)
    accumulate as decimal(38,0) so they are order-free exact integers,
    and slope/intercept come out of one correctly-rounded double chain
    — bit-identical cross-engine, unlike float regr_slope.

    slope_e6 = e6-floored dy/dx; icept_e2 = e2-floored intercept (y
    units at x = 0).  Zero-x-variance groups yield NULLs (no line).

    Scale shape: ONE column-pruned scan into a groups-sized map-side-
    combined aggregate; no join, no second pass.  Overflow: |x|,|y|
    < 1e9 keeps Sxy within decimal(38,0) at 1e19 rows.
    """
    xi = F.col(x_col).cast("decimal(19,0)")
    yi = F.col(y_col).cast("decimal(19,0)")
    g = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xi).alias("sx"), F.sum(yi).alias("sy"),
            F.sum(xi * xi).alias("sxx"), F.sum(xi * yi).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    den = nd * sxx - sx * sx
    slope = (nd * sxy - sx * sy) / den
    icept = (sy - slope * sx) / nd
    return g.select(
        *group_cols,
        F.col("n").cast("bigint").alias("n"),
        F.when(den > 0, F.floor(slope * F.lit(1_000_000.0) + F.lit(0.5))
               .cast("bigint")).alias("slope_e6"),
        F.when(den > 0, F.floor(icept * F.lit(100.0) + F.lit(0.5))
               .cast("bigint")).alias("icept_e2"),
    )


def _register_trend_query():
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_trend_ols",
        oracle="""
        WITH t0 AS (
          SELECT MIN(epoch_us(ts)) AS t_min FROM events
        ), rows_q AS (
          SELECT event_type,
                 (epoch_us(ts) - t_min) // 1000000 AS x,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
          FROM events CROSS JOIN t0 WHERE value IS NOT NULL
        ), g AS (
          SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy
          FROM rows_q GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                    THEN CAST(floor(
                      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) END AS slope_e6,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                    THEN CAST(floor(
                      (CAST(sy AS DOUBLE)
                       - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
               END AS icept_e2
        FROM g
        """,
    )
    def q_trend_ols(spark, sf_dir):
        """Per-event-type value trend (cents per second since corpus
        start), FULL hash-match oracle: exact decimal sufficient
        statistics, one correctly-rounded double chain for slope and
        intercept — DuckDB attests both coefficients value-for-value
        (regr_slope's float accumulation could not be pinned)."""
        ensure_engine_conf(spark)
        e = scan(spark, sf_dir, "events")
        t0 = e.agg(F.min(F.unix_micros("ts")).alias("t_min"))
        rows = (
            e.crossJoin(F.broadcast(t0))
            .filter(F.col("value").isNotNull())
            .select(
                "event_type",
                F.expr("(unix_micros(ts) - t_min) DIV 1000000").alias("x"),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                .alias("y"),
            )
        )
        return ols_trend(rows, "x", "y", ["event_type"])


_register_trend_query()


def mutual_information(
    df: DataFrame, x_col: str, y_col: str,
) -> DataFrame:
    """Mutual information + marginal entropies of two categorical
    columns (nats, e9-quantized) — the categorical association
    statistic next to the numeric corr matrix: "does source predict
    language" as one number, the standard leakage/redundancy probe
    before stratifying or mixing on a column pair.  NULL categories
    count as real levels (they carry mass).

    Engine-exact: cell/margin/total counts are exact integers; each
    cell's ``(n_xy/N) * ln(n_xy*N / (n_x*n_y))`` takes ONE ln of a
    double built from exact integer products (< 2^63 up to ~3e9 rows
    per margin pair) and e9-floors BEFORE the order-free integer sum
    (the PSI/DSIR contribution recipe); entropies mirror it.

    Scale shape: ONE fact scan into the (x, y) cell aggregate
    (map-side combined, |X| x |Y| rows); every margin/total rides the
    cell relation via windows — no second corpus pass, no join.
    """
    cells = df.groupBy(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    wx = Window.partitionBy("__x")
    wy = Window.partitionBy("__y")
    wall = Window.partitionBy()
    m = (
        cells.withColumn("nx", F.sum("nxy").over(wx))
        .withColumn("ny", F.sum("nxy").over(wy))
        .withColumn("n", F.sum("nxy").over(wall))
    )
    term = F.floor(
        (F.col("nxy").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("nxy") * F.col("n")).cast("double")
            / (F.col("nx") * F.col("ny")).cast("double")
        )
        * F.lit(1_000_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    hx_term = F.floor(
        (F.col("nxy").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("n").cast("double") / F.col("nx").cast("double"))
        * F.lit(1_000_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    hy_term = F.floor(
        (F.col("nxy").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("n").cast("double") / F.col("ny").cast("double"))
        * F.lit(1_000_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    # entropies distribute over cells (sum of per-cell mass x marginal
    # surprisal == classic marginal form), so ONE aggregate covers all
    # three statistics without re-deriving margin relations
    return m.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(term).alias("mi_e9"),
        F.sum(hx_term).alias("h_x_e9"),
        F.sum(hy_term).alias("h_y_e9"),
    )


def _register_mi_query():
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_mutual_info",
        oracle="""
        WITH cells AS (
          SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS nxy
          FROM documents GROUP BY lang, source
        ), m AS (
          SELECT nxy,
                 SUM(nxy) OVER (PARTITION BY x) AS nx,
                 SUM(nxy) OVER (PARTITION BY y) AS ny,
                 SUM(nxy) OVER () AS n
          FROM cells
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(
                 (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE))
                 * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS mi_e9,
               CAST(SUM(CAST(floor(
                 (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(n AS DOUBLE) / CAST(nx AS DOUBLE))
                 * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_x_e9,
               CAST(SUM(CAST(floor(
                 (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(n AS DOUBLE) / CAST(ny AS DOUBLE))
                 * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_y_e9
        FROM m
        """,
    )
    def q_mutual_info(spark, sf_dir):
        """Mutual information between document language and source,
        FULL hash-match oracle: exact integer cell/margin counts, one
        e9-floored ln contribution per cell, order-free integer sums —
        DuckDB attests MI and both entropies value-for-value."""
        ensure_engine_conf(spark)
        d = scan(spark, sf_dir, "documents")
        return mutual_information(d, "lang", "source")


_register_mi_query()


# int64 stays safe while t1*t2 < 2^62 (every downstream product is
# bounded by 2*t1*t2); module-level so the guard test can lower it.
_JS_MAX_T1T2 = 2 ** 62


def js_token_divergence(
    df: DataFrame, text_col: str, is_a_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's token unigram
    distributions (r14) — the LEXICAL sibling of PSI (numeric drift,
    B137) and mutual information (categorical association, B140):
    "how differently do these two sources speak", the statistic that
    drives mixture design and recrawl drift alarms.  Symmetric,
    bounded by ln 2 nats, finite even for tokens one side has never
    seen (unlike KL) — the standard corpus-comparison measure
    (Lin 1991, public).

    ``JS = (sum_t p_t ln(p_t/m_t))/2 + (sum_t q_t ln(q_t/m_t))/2``
    with ``m = (p+q)/2``.  Written over exact integer counts:
    ``p_t/m_t = 2*ca*T2 / (ca*T2 + cb*T1)`` — ONE ln of an exact
    rational per (token, side), e6-floored, weighted by the integer
    count ``ca`` and summed order-free (the DSIR contribution
    recipe), then the two sums take one exact-int64->double division
    each by their corpus totals.  Headroom (r14 review: the PER-TOKEN
    PRODUCTS bind long before the side sums): the top token has
    ca ~ O(t1), so ``2*ca*t2 ~ 2*t1*t2`` must stay under 2^63 —
    roughly 2e9 tokens per side; the side sums (<= 7e5 * T) bind only
    at ~1.3e13.  The bound is ENFORCED in-plan (ADVICE r14): a
    raise_error guard on ``t1*t2 < 2^62`` fails loud instead of
    silently wrapping.  Beyond it, widen the ln arguments and term
    products to DECIMAL(38,0) — a mechanical change trading nothing
    but the test oracle's bit-parity.

    Both sides must be non-empty (an empty side has no distribution
    to compare — ln(0) would poison the sum; callers gate upstream).

    Tokenization: ``\\s+`` split, lowercased, empty tokens dropped
    (the vocabulary_stats convention).

    Scale shape: ONE corpus scan — explode feeds a map-side-combined
    (token) count aggregate carrying both sides' counts as
    conditional sums; the vocab-sized count relation is
    lineage-truncated once and re-read by the totals row and the term
    aggregate (never a second corpus pass); everything after the
    vocab aggregate is 1-row arithmetic.

    Returns ONE row: token totals, type counts (per side + shared),
    and ``js_e6``.
    """
    toks = df.select(
        F.col(is_a_col).alias("__a"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    # kept, sf0.1 cut -> none: 0.02 -> 0.01 MB read, 0.00 -> 0.00 MB shuffled, 0.46 -> 0.53 s
    counts = cut(
        toks.groupBy("token").agg(
            F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("__a"), 0).otherwise(1)).cast("bigint")
            .alias("cb"),
        ),
        "sketches.js_token_divergence.counts",
    )
    tot = counts.agg(
        F.sum("ca").alias("t1"), F.sum("cb").alias("t2"),
        F.sum(F.when(F.col("ca") > 0, 1).otherwise(0)).cast("bigint")
        .alias("n_types_a"),
        F.sum(F.when(F.col("cb") > 0, 1).otherwise(0)).cast("bigint")
        .alias("n_types_b"),
        F.sum(F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1).otherwise(0))
        .cast("bigint").alias("n_types_shared"),
    )
    # In-plan headroom guard (ADVICE r14): every downstream product is
    # bounded by 2*t1*t2, so int64 is safe iff t1*t2 < 2^62.  The guard
    # rides t1 itself (not a prunable side column) and fails loud the
    # moment the corpus outgrows the documented bound, instead of
    # silently wrapping the per-token products.
    tot = tot.withColumn(
        "t1",
        F.when(
            F.col("t1").cast("decimal(20,0)") * F.col("t2")
            > F.lit(_JS_MAX_T1T2).cast("decimal(38,0)"),
            F.raise_error(F.concat(
                F.lit("js_token_divergence: token totals t1*t2 ("),
                F.col("t1").cast("string"), F.lit(" * "),
                F.col("t2").cast("string"),
                F.lit(") exceed the int64 headroom 2^62 — shard the"
                      " corpus or rescale counts before comparing"),
            )).cast("bigint"),
        ).otherwise(F.col("t1")),
    )
    den = (F.col("ca") * F.col("t2") + F.col("cb") * F.col("t1"))
    ln6_a = F.floor(
        F.log((2 * F.col("ca") * F.col("t2")).cast("double")
              / den.cast("double")) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    ln6_b = F.floor(
        F.log((2 * F.col("cb") * F.col("t1")).cast("double")
              / den.cast("double")) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    sums = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("ca") > 0, F.col("ca") * ln6_a).otherwise(F.lit(0))
            .alias("sa"),
            F.when(F.col("cb") > 0, F.col("cb") * ln6_b).otherwise(F.lit(0))
            .alias("sb"),
        )
        .agg(F.sum("sa").alias("sa"), F.sum("sb").alias("sb"))
    )
    return (
        tot.crossJoin(F.broadcast(sums))
        .select(
            F.col("t1").alias("n_tokens_a"),
            F.col("t2").alias("n_tokens_b"),
            "n_types_a", "n_types_b", "n_types_shared",
            F.floor(
                (F.col("sa").cast("double") / F.col("t1").cast("double")
                 + F.col("sb").cast("double") / F.col("t2").cast("double"))
                / 2 + F.lit(0.5)
            ).cast("bigint").alias("js_e6"),
        )
    )


def _register_js_query():
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_divergence_js",
        oracle="""
        WITH toks AS (
          SELECT lang = 'en' AS is_a,
                 unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
          FROM documents
        ), counts AS (
          SELECT token,
                 CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
          FROM toks WHERE token <> '' GROUP BY token
        ), tot AS (
          SELECT CAST(SUM(ca) AS BIGINT) AS t1,
                 CAST(SUM(cb) AS BIGINT) AS t2,
                 CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_types_a,
                 CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_types_b,
                 CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_types_shared
          FROM counts
        ), sums AS (
          SELECT
            CAST(SUM(CASE WHEN ca > 0 THEN ca * CAST(floor(ln(
                   CAST(2 * ca * t2 AS DOUBLE)
                   / CAST(ca * t2 + cb * t1 AS DOUBLE)
                 ) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
              AS sa,
            CAST(SUM(CASE WHEN cb > 0 THEN cb * CAST(floor(ln(
                   CAST(2 * cb * t1 AS DOUBLE)
                   / CAST(ca * t2 + cb * t1 AS DOUBLE)
                 ) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
              AS sb
          FROM counts CROSS JOIN tot
        )
        SELECT t1 AS n_tokens_a, t2 AS n_tokens_b,
               n_types_a, n_types_b, n_types_shared,
               CAST(floor(
                 (CAST(sa AS DOUBLE) / CAST(t1 AS DOUBLE)
                  + CAST(sb AS DOUBLE) / CAST(t2 AS DOUBLE)) / 2 + 0.5
               ) AS BIGINT) AS js_e6
        FROM tot CROSS JOIN sums
        """,
    )
    def q_divergence_js(spark, sf_dir):
        """Token-distribution JS divergence, FULL hash-match oracle:
        English vs non-English documents compared as unigram
        distributions — exact integer counts, one e6-floored ln of an
        exact rational per (token, side), order-free integer sums, two
        final exact-int divisions; DuckDB attests the whole statistic
        (and the type-overlap panel) value-for-value."""
        ensure_engine_conf(spark)
        d = scan(spark, sf_dir, "documents")
        return js_token_divergence(
            d.withColumn("__is_a", F.col("lang") == "en"), "text", "__is_a"
        )


_register_js_query()


def calibration_curve(
    df: DataFrame, score_col: str, label_col: str, *, n_bins: int = 10,
) -> DataFrame:
    """Score-calibration curve (r14): equal-width bins over the
    observed integer score range, and per bin the positive-label rate
    — "does a higher quality score actually mean more target-like" in
    one relation; THE acceptance check for any learned/heuristic
    scorer before it gates a corpus (reliability-diagram recipe,
    public).  Pairs with B150: the classifier emits log-odds, this
    face audits them against the labels.

    Exactness: the bin index is the budget-cut recipe
    (``(s - mn) * n DIV (mx - mn + 1)``), rates and means are integer
    divisions — every cell attestable.  Output per non-empty bin:
    (bin, n, n_pos, pos_rate_e6, mean_score_e6).

    Scale shape: a 1-row min/max broadcast attach, then ONE
    map-side-combined bin aggregate — bins-sized output.
    """
    stats = df.agg(F.min(score_col).alias("__mn"), F.max(score_col).alias("__mx"))
    nb = int(n_bins)
    return (
        df.select(F.col(score_col), F.col(label_col).alias("__pos"))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "bin",
            F.expr(f"({score_col} - __mn) * {nb} DIV (__mx - __mn + 1)")
            .cast("bigint"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__pos"), 1).otherwise(0)).cast("bigint")
            .alias("n_pos"),
            _core.guarded_e6_ratio(
                "sum(CASE WHEN __pos THEN 1 ELSE 0 END)", "count(1)",
                op="score_calibration",
            ).alias("pos_rate_e6"),
            F.expr(f"sum({score_col}) DIV count(1)").cast("bigint")
            .alias("mean_score_e6"),
        )
    )


def _register_calibration_query():
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_select_calibration",
        oracle="""
        WITH toks AS (
          SELECT doc_id, lang = 'en' AS is_t,
                 regexp_split_to_array(lower(text), '\\s+') AS a
          FROM documents
        ), feats AS (
          SELECT doc_id, is_t, unnest(a) AS feat FROM toks
          UNION ALL
          SELECT doc_id, is_t,
                 a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS feat
          FROM toks, unnest(range(1, len(a))) AS t(i)
        ), db AS (
          SELECT DISTINCT doc_id, is_t, substr(md5(feat), 1, 2) AS bucket
          FROM feats
        ), bs AS (
          SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_all,
                 CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_t
          FROM db GROUP BY bucket
        ), pri AS (
          SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS BIGINT) AS ndt,
                 CAST(COUNT(*) AS BIGINT) AS nd,
                 CAST(floor(ln(
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1
                        AS DOUBLE)
                   / CAST(COUNT(*)
                          - SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          + 1 AS DOUBLE)
                 ) * 1000000.0 + 0.5) AS BIGINT) AS bias6
          FROM documents
        ), contrib AS (
          SELECT bucket,
                 CAST(floor(ln(
                   CAST((n_t + 1) * (nd - ndt + 2) AS DOUBLE)
                   / CAST((n_all - n_t + 1) * (ndt + 2) AS DOUBLE)
                 ) * 1000000.0 + 0.5) AS BIGINT) AS w6,
                 bias6
          FROM bs CROSS JOIN pri
        ), sc AS (
          SELECT d.doc_id, MAX(d.is_t) AS is_t,
                 CAST(SUM(w6) + MAX(bias6) AS BIGINT) AS score_e6
          FROM db d JOIN contrib USING (bucket) GROUP BY d.doc_id
        ), stats AS (
          SELECT MIN(score_e6) AS mn, MAX(score_e6) AS mx FROM sc
        ), binned AS (
          SELECT (score_e6 - mn) * 10 // (mx - mn + 1) AS bin,
                 is_t, score_e6
          FROM sc CROSS JOIN stats
        )
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos,
               CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS pos_rate_e6,
               CAST(SUM(score_e6) // COUNT(*) AS BIGINT)
                 AS mean_score_e6
        FROM binned GROUP BY bin
        """,
    )
    def q_select_calibration(spark, sf_dir):
        """Classifier calibration curve, FULL hash-match oracle: the
        B150 NB log-odds scores binned into deciles of their observed
        range with per-bin positive (English) rates — monotone rising
        rates mean the scorer orders documents correctly; DuckDB
        recomputes scores AND the curve value-for-value."""
        from artemia_airflow_spark.operators.selection import (
            classifier_scores,
        )

        ensure_engine_conf(spark)
        d = scan(spark, sf_dir, "documents")
        scored = classifier_scores(
            d.withColumn("__is_t", F.col("lang") == "en"),
            "text", "doc_id", "__is_t", keep_target=True,
        )
        # calibration_curve consumes its input twice (min/max stats,
        # then binning) and Spark does not dedupe common subplans —
        # materialize the doc-grain scores so the classifier join/agg
        # executes once (r17; guide §3.3/§5)
        # kept, sf0.1 cut -> none: 69.61 -> 133.03 MB read, 4.38 -> 4.58 MB shuffled
        scored = cut(scored, "sketches.q_select_calibration.scored")
        return calibration_curve(scored, "score_e6", "is_target")


_register_calibration_query()
