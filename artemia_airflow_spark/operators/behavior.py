"""Behavioral / event-stream batch analytics: gap sessionization,
ordered funnels, retention cohorts.

Reference parity: the reference's DAGs poll an external events feed and
delegate all behavioral rollups to an external repo
(dags/update_tr_from_ex_dag.py:88-90); these operators are the engine's
in-house replacement for that delegated surface — the three canonical
event-log reports every product pipeline runs (sessions, funnels,
cohort retention).

Scale notes (one shuffle each): all three operators hash-partition the
events fact ONCE on ``user_id`` and keep every later step —
chained window functions, the per-(user, session) / per-(user, stage)
aggregate — inside that partitioning.  ``HashPartitioning(user_id)``
satisfies ``ClusteredDistribution(user_id, session_idx)`` (a subset of
the grouping keys clusters the data), so Catalyst inserts no second
exchange; at 100 TB the cost is a single fact-sized shuffle plus
in-partition sorts.  Money-like sums go through DECIMAL so partial
aggregation order cannot perturb the result (the TPC-H idiom).
All comparisons use ``unix_micros``/``epoch_us`` — exact int64
microseconds in both engines, no floating-point epoch math.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.functions.core import (
    DRIVER_TIER_MAX_EDGES,
    cut,
    guarded_e6_ratio,
)
from artemia_airflow_spark.plans.registry import declared
from artemia_airflow_spark.session import ensure_engine_conf

_VALUE_DEC = "decimal(28,6)"


def session_event_index(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 3600,
    order_tiebreak: str = "event_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-EVENT session assignment — the ONE definition of the gap
    boundary (strictly-greater than ``gap_s``; r13 review: the
    covisitation face had re-implemented this inline, so a boundary
    change could silently desynchronize the faces).  Returns the
    events with a 1-based per-user ``session_idx`` column; both the
    per-session aggregate face (:func:`sessionize`) and the basket
    faces consume it.  Lag + running sum share one window spec, so
    the single user_id exchange rule holds."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    micros = F.unix_micros(F.col(ts_col))
    prev = F.lag(micros).over(w)
    is_new = F.when(
        prev.isNull() | ((micros - prev) > F.lit(int(gap_s) * 1_000_000)), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.select(
            F.col(user_col),
            F.col(ts_col),
            F.col(order_tiebreak),
            *[F.col(c) for c in (keep_cols or [])],
            is_new.alias("__new"),
        )
        .withColumn("session_idx", F.sum("__new").over(run))
        .drop("__new")
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 3600,
    order_tiebreak: str = "event_id",
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-based batch sessionization: a new session starts when the
    time since the user's previous event exceeds ``gap_s``.

    Returns one row per (user, session): ``session_idx`` (1-based per
    user), ``session_start``, ``session_end``, ``n_events`` and
    ``total_value`` (DECIMAL sum, exact under any partial-agg order).

    Determinism: the lag/running-sum windows order by
    ``(ts, order_tiebreak)``, but the session BOUNDARIES depend only on
    ts — two events with equal ts have gap 0 and always share a
    session, so tie order cannot change the output.

    Scale: lag, running sum and the final aggregate all live in the
    single ``user_id`` hash partitioning — one exchange total.  The
    streaming face of the same semantics is
    streaming/windows.py session_window (B47); this is the batch face.
    """
    flagged = session_event_index(
        events, user_col, ts_col, gap_s, order_tiebreak,
        keep_cols=[value_col] if value_col else [],
    )
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast(_VALUE_DEC)).cast("double").alias("total_value")
        )
    return flagged.groupBy(user_col, "session_idx").agg(*aggs)


def _chained_entry_times(
    events: DataFrame,
    stages: list[str],
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Per-user earliest-valid-chain entry times (t0..t{k-1}) — the
    ONE implementation of the ``min ts >= previous stage`` chain
    shared by the funnel count face, the latency face, and the
    stage-value face (r13 review: a hand-maintained copy was the only
    thing keeping their who-converted answers identical)."""
    cur = _with_chain_columns(
        events.select(user_col, ts_col, type_col),
        stages, user_col, ts_col, type_col,
    )
    return cur.groupBy(user_col).agg(
        *[F.min(f"__t{i}").alias(f"t{i}") for i in range(len(stages))]
    )


def _with_chain_columns(
    df: DataFrame,
    stages: list[str],
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Append the chained ``__t0..__t{k-1}`` entry-time window columns
    to an existing per-event relation (all windows partition by
    ``user_col`` only, so they compose with other same-partitioning
    windows without a second exchange)."""
    w = Window.partitionBy(user_col)
    prev_entry = None
    for i, stage in enumerate(stages):
        cond = F.col(type_col) == stage
        if prev_entry is not None:
            cond = cond & (F.col(ts_col) >= F.col(prev_entry))
        entry = f"__t{i}"
        df = df.withColumn(
            entry, F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev_entry = entry
    return df


def funnel(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: for each user, stage k counts only if an event of
    ``stages[k]`` occurs at-or-after the user's entry time for stage
    k-1 (earliest valid chain, the standard "min ts ≥ previous stage"
    semantics).  Returns (stage_idx, stage, n_users) with n_users
    monotonically non-increasing by construction.

    Plan: ``len(stages)`` chained unbounded MIN windows over the SAME
    ``user_id`` partitioning (one exchange, one in-partition sort),
    then a per-user collapse and a tiny stage-count aggregate.  No
    self-joins — the classic k-way join funnel shape would shuffle the
    fact k times; this shape shuffles it once regardless of k.
    """
    per_user = _chained_entry_times(
        events, stages, user_col, ts_col, type_col
    )
    # stage reached = deepest non-null entry time (chain construction
    # guarantees t_i null => t_{i+1} null).
    reached = per_user.select(
        _chain_depth([f"t{i}" for i in range(len(stages))]).alias("depth")
    )
    # Collapse to a depth histogram (≤ len(stages)+1 rows, map-side
    # partial agg) BEFORE the non-equi suffix-sum join: the broadcast
    # nested loop then touches |stages| x |stages| rows instead of
    # |stages| x |users| — the only non-equi comparison in the plan is
    # aggregate-sized at any corpus scale.
    depth_hist = reached.groupBy("depth").agg(F.count(F.lit(1)).alias("__n"))
    return _funnel_counts_from_depth_hist(depth_hist, stages)


def _chain_depth(entry_cols: list[str]):
    """Funnel depth = number of non-null chained entry times (chain
    construction guarantees t_i null => t_{i+1} null)."""
    return sum(
        (F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in entry_cols),
        F.lit(0),
    )


def _funnel_counts_from_depth_hist(
    depth_hist: DataFrame, stages: list[str]
) -> DataFrame:
    """(stage_idx, stage, n_users) from a (depth, __n) histogram — the
    ONE suffix-sum tail shared by :func:`funnel` and
    :func:`behavior_pipeline`.  LEFT join from the stage dim: a stage
    no user reached must still report n_users=0 (consumers index rows
    by stage), not vanish."""
    stage_dim = [(i + 1, s) for i, s in enumerate(stages)]
    dims = depth_hist.sparkSession.createDataFrame(
        stage_dim, "stage_idx INT, stage STRING"
    )
    return (
        dims.join(F.broadcast(depth_hist), F.col("depth") >= F.col("stage_idx"), "left")
        .groupBy("stage_idx", "stage")
        .agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("n_users"))
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention cohorts: cohort = Monday-truncated week of the
    user's first event; one output row per (cohort_week, week_offset)
    with the distinct active users.  week_offset is exact integer
    arithmetic on microsecond epochs of week-truncated timestamps
    (both engines truncate to Monday 00:00), never calendar diffs.

    Plan: first-event window + offset derivation share the single
    ``user_id`` exchange; the (cohort, offset) aggregate is the only
    further shuffle and its cardinality is weeks², not fact-sized.
    """
    w = Window.partitionBy(user_col)
    week = F.date_trunc("week", F.col(ts_col))
    first_week = F.date_trunc("week", F.min(F.col(ts_col)).over(w))
    enriched = events.select(
        F.col(user_col),
        first_week.cast("date").alias("cohort_week"),
        ((F.unix_micros(week) - F.unix_micros(first_week)) / F.lit(604_800_000_000))
        .cast("int")
        .alias("week_offset"),
    )
    return (
        enriched.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


@declared(
    "q_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN prev_us IS NULL
                       OR epoch_us(ts) - prev_us > CAST(3600 AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, session_idx
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap sessionization over events (1h gap), ORACLE-CHECKED:
    session boundaries via exact int64 microsecond gaps, value sums via
    DECIMAL — every column bit-stable cross-engine."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return sessionize(e, gap_s=3600)


@declared(
    "q_funnel",
    oracle="""
    WITH l0 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t0
      FROM events
    ), l1 AS (
      SELECT user_id, ts, event_type, t0,
             MIN(CASE WHEN event_type = 'view' AND ts >= t0 THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM l0
    ), l2 AS (
      SELECT user_id, ts, event_type, t0, t1,
             MIN(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
      FROM l1
    ), l3 AS (
      SELECT user_id, t0, t1, t2,
             MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3
      FROM l2
    ), per_user AS (
      SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1,
             MIN(t2) AS t2, MIN(t3) AS t3
      FROM l3 GROUP BY user_id
    ), depth AS (
      SELECT (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS depth
      FROM per_user
    ), dims AS (
      SELECT * FROM (VALUES (1, 'signup'), (2, 'view'),
                            (3, 'click'), (4, 'purchase')) AS v(stage_idx, stage)
    )
    SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
           CAST(COUNT(depth) AS BIGINT) AS n_users
    FROM dims LEFT JOIN depth ON depth >= stage_idx
    GROUP BY stage_idx, stage
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 4-stage funnel (signup→view→click→purchase),
    ORACLE-CHECKED: chained MIN windows over one user_id exchange; the
    ts>=prev chain is exact timestamp comparison in both engines."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return funnel(e, ["signup", "view", "click", "purchase"])


@declared(
    "q_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, ts,
             date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS cohort_week
      FROM events
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week,
           CAST((epoch_us(date_trunc('week', ts)) - epoch_us(cohort_week))
                / 604800000000 AS INT) AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM firsts GROUP BY 1, 2
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix, ORACLE-CHECKED: Monday-truncated
    first-event cohorts, exact integer week offsets, distinct-user
    counts."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return retention_cohorts(e)


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (prev_type, next_type) pair, the transition
    count and row-normalized probability.  The standard behavioral
    model behind next-action prediction and funnel-leak diagnosis.

    Determinism: sequence order is (ts, tiebreak), so tied timestamps
    have a stable successor in both engines.

    Scale: the lag window shares the behavioral family's single
    user_id exchange; the (prev, next) aggregate is |event_types|²
    rows, and the row total attaches via an unpartitioned-by-prev
    window over that tiny relation — no second fact pass.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    pairs = events.select(
        F.lag(F.col(type_col)).over(w).alias("prev_type"),
        F.col(type_col).alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_total = F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(F.col("n_transitions") / row_total, 6).alias("p_transition"),
    )


@declared(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    ), counts AS (
      SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n_transitions,
           round(n_transitions / SUM(n_transitions)
                   OVER (PARTITION BY prev_type), 6) AS p_transition
    FROM counts
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event transition matrix, ORACLE-CHECKED: exact
    integer transition counts; probabilities are one division of
    identical integers in both engines, rounded at 6dp."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return event_transitions(e)


def pagerank_types(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    *,
    iters: int = 3,
) -> DataFrame:
    """PageRank over the event-type transition graph (Brin & Page
    1998, public): nodes = distinct event types, edge weights = the
    B114 first-order transition counts, damping 0.85, ``iters`` power
    iterations from the uniform vector — "which action is the
    behavioral hub" as a first-class rank instead of eyeballing the
    transition matrix.  Dangling nodes (no out-transitions)
    redistribute their mass uniformly, the standard convention.

    ALL arithmetic is non-negative BIGINT so every engine reproduces
    the ranks bit-for-bit: edge probabilities e6-quantize via
    ``(cnt * 1e6) DIV out``, ranks live at e9 scale, and each
    iteration is ``pr' = (0.15e9 DIV n) + (85 * (inc + dm DIV n))
    DIV 100`` with ``inc`` an order-free integer sum — no float adds,
    so parallel aggregation order cannot perturb the result (the
    corr-matrix sufficient-statistics precedent).  A NULL type is a
    node that matches no edge endpoint: it receives no transition
    mass and counts as dangling.

    Scale shape: the corpus is touched once, distributed — the
    behavioral family's single user_id exchange for lag pairs,
    map-side-combined into one ``(src, dst)`` count whose ``src IS
    NULL`` rows (each user's first event) keep every type as some
    row's ``dst``, so the same relation carries the node set; the
    e6 probabilities are computed there, under the JVM's headroom
    guard.  That relation is collected under the hard
    ``DRIVER_TIER_MAX_EDGES`` cap and the iterations run on the
    driver in Python integers.  The bounded-vocabulary contract
    (|types|^2 edges fit the driver) is what makes type-level
    PageRank safe at 100 TB; a graph past the cap raises, since an
    unbounded-node-id graph belongs to the connected-components
    machinery instead.

    Overflow headroom under ANSI mode: cnt*1e6 stays under 2^63 up to
    ~9.2e12 transitions per (src,dst) pair — beyond any per-pair count
    at 100 TB; pr*prob_e6 <= 1e9 * 1e6 = 1e15.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    counts = events.select(
        F.lag(F.col(type_col)).over(w).alias("src"),
        F.col(type_col).alias("dst"),
    ).groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    out_total = F.sum("cnt").over(Window.partitionBy("src"))
    rows = counts.select("src", "dst", "cnt", out_total.alias("__out")).select(
        "src", "dst",
        guarded_e6_ratio("cnt", "__out", op="transition_probs").alias("prob_e6"),
    ).limit(DRIVER_TIER_MAX_EDGES + 1).collect()
    if len(rows) > DRIVER_TIER_MAX_EDGES:
        raise ValueError(
            "pagerank_types: the type transition graph exceeds "
            f"{DRIVER_TIER_MAX_EDGES} edges, breaking the bounded-vocabulary "
            "contract (|types|^2 edges fit the driver) — rank an "
            "unbounded-node-id graph with the connected-components machinery"
        )
    # NULL endpoints match no node: a NULL dst's mass leaves the graph,
    # and the NULL node is no src, so it is dangling (the SQL join rule)
    nodes = {r.dst for r in rows}
    srcs = {r.src for r in rows if r.src is not None}
    edges = [(r.src, r.dst, r.prob_e6) for r in rows
             if r.src is not None and r.dst is not None]
    n = len(nodes)  # no events: no node, so no division runs below
    pr = {v: 1_000_000_000 // n for v in nodes}
    for _ in range(iters):
        inc: dict = {}
        for s, d, p in edges:
            inc[d] = inc.get(d, 0) + pr[s] * p // 1_000_000
        dm = sum(pr[v] for v in nodes if v not in srcs)
        pr = {v: 150_000_000 // n + 85 * (inc.get(v, 0) + dm // n) // 100
              for v in nodes}
    ranked = sorted(pr, key=lambda v: (-pr[v], v is not None, v))
    type_t = events.schema[type_col].dataType.simpleString()
    return events.sparkSession.createDataFrame(
        pd.DataFrame({
            type_col: ranked,
            "pr_e9": [pr[v] for v in ranked],
            "rank": range(1, len(ranked) + 1),
        }),
        f"`{type_col}` {type_t}, pr_e9 bigint, rank bigint",
    )


_PAGERANK_ITER_SQL = """
    inc{k} AS (
      SELECT ep.dst AS node, SUM((p.pr * ep.prob_e6) // 1000000) AS inc
      FROM eprob ep JOIN pr{j} p ON ep.src = p.node GROUP BY ep.dst
    ), d{k} AS (
      SELECT COALESCE(SUM(p.pr), 0) AS dm FROM pr{j} p
      WHERE p.node NOT IN (SELECT src FROM eprob)
    ), pr{k} AS (
      SELECT nd.node,
             (150000000 // m.n)
             + (85 * (COALESCE(i.inc, 0) + d.dm // m.n)) // 100 AS pr
      FROM nodes nd CROSS JOIN meta m CROSS JOIN d{k} d
      LEFT JOIN inc{k} i ON nd.node = i.node
    )"""


@declared(
    "q_graph_pagerank",
    oracle="""
    WITH seq AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS src,
             event_type AS dst
      FROM events
    ), edges AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE src IS NOT NULL GROUP BY src, dst
    ), eprob AS (
      SELECT src, dst,
             (cnt * 1000000) // SUM(cnt) OVER (PARTITION BY src) AS prob_e6
      FROM edges
    ), nodes AS (
      SELECT DISTINCT event_type AS node FROM events
    ), meta AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
    ), pr0 AS (
      SELECT node, 1000000000 // n AS pr FROM nodes CROSS JOIN meta
    ),""" + ",".join(
        _PAGERANK_ITER_SQL.format(k=k, j=k - 1) for k in (1, 2, 3)
    ) + """
    SELECT node AS event_type, CAST(pr AS BIGINT) AS pr_e9,
           ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rank
    FROM pr3
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type PageRank, FULL hash-match oracle: 3 power
    iterations of damping-0.85 PageRank over the B114 transition
    graph in pure BIGINT arithmetic — DuckDB unrolls the identical
    three iterations as CTEs, so the driver attests every rank and
    every e9-scaled score value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return pagerank_types(e)


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    *,
    lookback_s: int = 3600,
) -> DataFrame:
    """Last-touch conversion attribution: credit each conversion event
    to the most recent PRECEDING non-conversion event by the same user
    within ``lookback_s`` seconds; conversions with no touch inside
    the window report as ``unattributed``.  The standard
    marketing/behavioral credit model, and the missing consumer of the
    funnel/transition pair: funnels say users DO convert, attribution
    says which touchpoint gets the credit.

    Determinism: the carried touch is ``last(..., ignorenulls) OVER
    (user, ts, tiebreak ROWS ... 1 PRECEDING)`` — the frame excludes
    the current row, so a conversion can never credit itself, and the
    tie order matches every other behavioral face.  Age math is exact
    int64 microseconds (``unix_micros``/``epoch_us``), never float.

    Scale shape: ONE user_id exchange shared by both carried-touch
    windows (same partition + order), then a channel-sized aggregate;
    conversion value sums ride DECIMAL(18,2) cents as BIGINT.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col) != conversion_type
    touch_type = F.last(
        F.when(is_touch, F.col(type_col)), ignorenulls=True
    ).over(w)
    touch_us = F.last(
        F.when(is_touch, F.unix_micros(F.col(ts_col))), ignorenulls=True
    ).over(w)
    conv = (
        events.select(
            F.col(type_col),
            F.col(value_col),
            F.unix_micros(F.col(ts_col)).alias("__us"),
            touch_type.alias("__tt"),
            touch_us.alias("__tus"),
        )
        .filter(F.col(type_col) == conversion_type)
        .select(
            F.when(
                F.col("__tus").isNotNull()
                & (F.col("__us") - F.col("__tus")
                   <= F.lit(int(lookback_s) * 1_000_000)),
                F.col("__tt"),
            ).otherwise(F.lit("unattributed")).alias("channel"),
            F.col(value_col),
        )
    )
    return conv.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint"))
        .alias("value_cents"),
    )


@declared(
    "q_attribution",
    oracle="""
    WITH carried AS (
      SELECT event_type, value, epoch_us(ts) AS us,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS tt,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS tus
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN tus IS NOT NULL AND us - tus <= 3600000000
                THEN tt ELSE 'unattributed' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM carried WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution of purchases, FULL hash-match oracle:
    per-channel conversion counts and cent-quantized value credited
    to the most recent preceding non-purchase event within 1 hour —
    exact microsecond age math, so DuckDB attests every credit
    decision value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return last_touch_attribution(e, "purchase", lookback_s=3600)


def interevent_gaps(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Per-type inter-arrival profile: exact median and p90 of the gap
    (in microseconds) between consecutive SAME-TYPE events of the same
    user, plus gap count — the churn/engagement primitive ("how often
    does a user come back to X"), and the empirical base for session
    gap thresholds (B107's gap_s should sit past the typical p90).

    Exact percentiles stay engine-identical via the MAD face's
    even-integer trick: gaps double to even ints so every p*(n-1)
    interpolation lands on an exact integer — median at 2x
    (``med_x2_us``), p90 at 10x (``p90_x10_us``, since a p90 fraction
    is k/10 an exact value needs the 10x scale: 2*(...) interpolates
    tenths, so scale by 10 instead).  Gap math is int64 microseconds.

    Scale shape: ONE (user, type) exchange for the lag window (the
    behavioral family's key plus type — same order columns), then a
    types-sized percentile aggregate; the buffered-values caveat of
    exact percentiles applies as in B133 (sketch tier is the 100 TB
    path).
    """
    w = Window.partitionBy(user_col, type_col).orderBy(
        ts_col, order_tiebreak
    )
    us = F.unix_micros(F.col(ts_col))
    gaps = (
        events.select(
            F.col(type_col),
            (us - F.lag(us).over(w)).alias("__gap"),
        )
        .filter(F.col("__gap").isNotNull())
        # 10x: both the 0.5*(n-1) and 0.9*(n-1) interpolation points
        # have fractional parts in tenths, so 10x-scaled integers make
        # every interpolated value an exact integer double
        .withColumn("__g10", F.col("__gap") * 10)
    )
    # floor(x + 0.5), not a truncating CAST: the interpolated value is
    # integer-valued mathematically, but 0.9 is not a binary fraction,
    # so the double can sit one ulp under the integer — half-up
    # rounding absorbs the drift on both engines (the q_agg_percentile
    # ROUND precedent)
    return gaps.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("CAST(floor(percentile(__g10, 0.5D) / 5 + 0.5) AS BIGINT)")
        .alias("med_x2_us"),
        F.expr("CAST(floor(percentile(__g10, 0.9D) + 0.5) AS BIGINT)")
        .alias("p90_x10_us"),
    )


@declared(
    "q_interevent_gaps",
    oracle="""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id, event_type
                ORDER BY ts, event_id)) * 10 AS g10
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(floor(quantile_cont(g10, 0.5) / 5 + 0.5) AS BIGINT)
             AS med_x2_us,
           CAST(floor(quantile_cont(g10, 0.9) + 0.5) AS BIGINT)
             AS p90_x10_us
    FROM g WHERE g10 IS NOT NULL
    GROUP BY event_type
    """,
)
def q_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival medians/p90s, FULL hash-match oracle:
    exact integer-microsecond gaps at 10x scale so both interpolated
    percentiles are exact integers in both engines."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return interevent_gaps(e)


def active_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    *,
    window_days: int = 7,
) -> DataFrame:
    """Daily / rolling-window active users + stickiness (DAU/WAU) —
    the standard engagement panel.  Days are exact epoch-day integers
    (``unix_micros DIV 86400e6`` — the behavioral family's no-float
    timestamp rule), the rolling distinct is computed by fanning each
    (user, day) fact out to the ``window_days`` report days it covers
    (a bounded map-side explode — never a distinct-over-window, which
    Spark cannot express, and never a per-day self-join), and
    stickiness is one integer DIV at e6.

    Only days with at least one event report (their WAU still counts
    the full lookback).  Output: (day, dau, wau, stickiness_e6).

    Scale shape: ONE (user, day) distinct exchange feeds both
    aggregates; the fan-out multiplies that already-collapsed relation
    (users x active-days, tiny next to the event corpus) by
    window_days before the second distinct.  At 100 TB the fact
    relation never shuffles twice and nothing is user-partitioned, so
    hot users cost nothing extra.
    """
    day = F.expr(f"unix_micros({ts_col}) DIV 86400000000")
    # kept, sf0.1 cut -> none: 7.37 -> 0.90 MB read, 0.65 -> 0.89 MB shuffled
    # 100x: 11.98 -> 14.47 s, 882 -> 275 MB read, 209 -> 274 MB shuffled
    ud = cut(
        events.select(F.col(user_col).alias("u"), day.alias("day"))
        .distinct(),
        "behavior.active_users.ud",
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    fan = (
        ud.select(
            "u", "day",
            F.explode(F.sequence(F.lit(0), F.lit(window_days - 1)))
            .alias("__off"),
        )
        .select("u", (F.col("day") + F.col("__off")).alias("day"))
        .distinct()
    )
    wau = fan.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            guarded_e6_ratio("dau", "wau", op="active_users")
            .alias("stickiness_e6"),
        )
    )


@declared(
    "q_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS day
      FROM events
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ), fan AS (
      SELECT DISTINCT u, day + off AS day
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS off)
    ), wau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM fan GROUP BY day
    )
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_e6
    FROM dau d JOIN wau w USING (day)
    """,
)
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/stickiness engagement panel, FULL hash-match oracle:
    exact epoch-day integers, fan-out rolling distinct, integer-DIV
    stickiness — DuckDB attests every day's counts value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return active_users(e)


def covisitation_lift(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    *,
    gap_s: int = 3600,
) -> DataFrame:
    """Session-level co-visitation lift: for each unordered event-type
    pair, in how many (user, session) baskets both occur, and the lift
    ``P(a,b) / (P(a) P(b))`` — "users who do X in a session also do Y",
    the classic market-basket association at the granularity the B107
    sessionizer defines.  Lift > 1 = the pair co-occurs more than
    independence predicts.

    All counts are exact integers over distinct (session, type) facts;
    lift is ONE integer expression ``n_ab * n_sessions * 1e6 DIV
    (n_a * n_b)`` — exact in both engines, overflow-safe to ~3e9
    sessions per pair product.

    Scale shape: the B107 single user_id exchange assigns sessions;
    the distinct (user, session, type) relation (<= |types| rows per
    session) self-joins on its OWN session key — per-session work is
    |types|^2-bounded, so no basket can blow up the pair stage (the
    bounded-vocabulary contract, as with B114/B132); margins ride the
    same collapsed relation.
    """
    st = (
        session_event_index(
            events, user_col, ts_col, gap_s, order_tiebreak,
            keep_cols=[type_col],
        )
        .select(
            F.col(user_col).alias("u"),
            F.col("session_idx").alias("sidx"),
            F.col(type_col).alias("t"),
        )
        .distinct()
    )
    # 3 consumers: pairs x2 + margins
    # kept, sf0.1 cut -> none: 42.34 -> 9.26 MB read, 3.13 -> 6.85 MB shuffled
    st = cut(st, "behavior.covisitation_lift.st")
    a = st.withColumnsRenamed({"t": "type_a"})
    b = st.withColumnsRenamed({"t": "type_b"})
    pairs = (
        a.join(b, ["u", "sidx"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    margins = st.groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    # lazy 1-row total via broadcast cross join (r13 review: an eager
    # .count() here ran a full distinct job at PLAN-BUILD time and
    # froze the total into the plan as a literal)
    total = (
        st.select("u", "sidx").distinct()
        .agg(F.count(F.lit(1)).alias("__n_sessions"))
    )
    # decimal numerator (r13 review): n_both * total * 1e6 passes 2^63
    # at ~3e6 sessions for a ubiquitous pair — decimal(38,0) carries
    # it exactly to ~3e12 sessions; DIV of exact integers stays exact
    return (
        pairs.join(F.broadcast(margins.withColumnsRenamed(
            {"t": "type_a", "n_t": "n_a"})), "type_a")
        .join(F.broadcast(margins.withColumnsRenamed(
            {"t": "type_b", "n_t": "n_b"})), "type_b")
        .crossJoin(F.broadcast(total))
        .select(
            "type_a", "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr(
                "CAST(n_both AS DECIMAL(38,0)) * __n_sessions * 1000000"
                " DIV (CAST(n_a AS BIGINT) * n_b)"
            ).cast("bigint").alias("lift_e6"),
        )
    )


@declared(
    "q_covisitation",
    oracle="""
    WITH ordered AS (
      SELECT user_id AS u, event_type AS t,
             CASE WHEN lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                     > CAST(3600 AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END AS is_new,
             ts, event_id
      FROM events
    ), st AS (
      SELECT DISTINCT u, t,
             SUM(is_new) OVER (PARTITION BY u ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sidx
      FROM ordered
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        (SELECT DISTINCT u, sidx FROM st)
    ), pairs AS (
      SELECT a.t AS type_a, b.t AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM st a JOIN st b ON a.u = b.u AND a.sidx = b.sidx
                          AND a.t < b.t
      GROUP BY a.t, b.t
    ), margins AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_t FROM st GROUP BY t
    )
    SELECT p.type_a, p.type_b, p.n_both,
           CAST(CAST(p.n_both AS HUGEINT) * tot.n * 1000000
                // (CAST(ma.n_t AS BIGINT) * mb.n_t)
                AS BIGINT) AS lift_e6
    FROM pairs p
    JOIN margins ma ON ma.t = p.type_a
    JOIN margins mb ON mb.t = p.type_b
    CROSS JOIN tot
    """,
)
def q_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session co-visitation lift matrix, FULL hash-match oracle:
    exact (session, type) basket facts under the B107 gap sessions,
    integer lift — DuckDB attests every pair count and lift
    value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return covisitation_lift(e)


def funnel_stage_latency(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert between consecutive funnel stages: for each
    stage pair (k -> k+1), how many users made the transition and the
    exact median / p90 of the transition time — the diagnosis layer on
    top of the B108 funnel counts ("users DO drop between view and
    purchase; how long do the converters take?").

    Entry times use the identical earliest-valid-chain windows as
    :func:`funnel` (``min ts >= previous stage``), so the latency face
    can never disagree with the count face about who converted.
    Percentiles ride the inter-event-gap recipe: second-granular gaps
    at 10x scale make both interpolation points exact integers
    (median reported at 2x — ``med_x2_s`` — and p90 at 10x —
    ``p90_x10_s``), half-up floored against ulp drift.

    Scale shape: the chained MIN windows share the B108 single
    user_id exchange; the per-pair percentile aggregate is
    |stages|-sized (the exact-percentile buffering caveat of B133
    applies per stage pair; B92 sketch is the 100 TB tier).
    """
    if len(stages) < 2:
        raise ValueError(
            "funnel_stage_latency needs at least two stages — there is "
            "no transition to time with fewer (r13 review: the sibling "
            "funnel() accepts one stage, so make the contract explicit "
            "here rather than crash on a None frame)"
        )
    per_user = _chained_entry_times(
        events, stages, user_col, ts_col, type_col
    )
    gaps = None
    for i in range(len(stages) - 1):
        g = per_user.select(
            F.lit(i + 1).cast("int").alias("stage_idx"),
            F.lit(f"{stages[i]}->{stages[i + 1]}").alias("transition"),
            # integer DIV, not /1e6-then-cast: a correctly-rounded
            # double division can land one ulp ABOVE the true quotient
            # and truncate to the next second where // floors
            F.expr(
                f"(unix_micros(t{i + 1}) - unix_micros(t{i}))"
                " DIV 1000000"
            ).alias("__gap_s"),
        ).filter(F.col("__gap_s").isNotNull())
        gaps = g if gaps is None else gaps.unionAll(g)
    gaps = gaps.withColumn("__g10", F.col("__gap_s") * 10)
    return gaps.groupBy("stage_idx", "transition").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("CAST(floor(percentile(__g10, 0.5D) / 5 + 0.5) AS BIGINT)")
        .alias("med_x2_s"),
        F.expr("CAST(floor(percentile(__g10, 0.9D) + 0.5) AS BIGINT)")
        .alias("p90_x10_s"),
    )


@declared(
    "q_funnel_latency",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_type FROM events
    ), w0 AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
      FROM base GROUP BY user_id
    ), w1 AS (
      SELECT b.user_id,
             MIN(CASE WHEN b.event_type = 'view' AND b.ts >= w0.t0
                      THEN b.ts END) AS t1
      FROM base b JOIN w0 ON w0.user_id = b.user_id GROUP BY b.user_id
    ), w2 AS (
      SELECT b.user_id,
             MIN(CASE WHEN b.event_type = 'click' AND b.ts >= w1.t1
                      THEN b.ts END) AS t2
      FROM base b JOIN w1 ON w1.user_id = b.user_id GROUP BY b.user_id
    ), w3 AS (
      SELECT b.user_id,
             MIN(CASE WHEN b.event_type = 'purchase' AND b.ts >= w2.t2
                      THEN b.ts END) AS t3
      FROM base b JOIN w2 ON w2.user_id = b.user_id GROUP BY b.user_id
    ), ent AS (
      SELECT w0.user_id, w0.t0, w1.t1, w2.t2, w3.t3
      FROM w0 JOIN w1 USING (user_id) JOIN w2 USING (user_id)
              JOIN w3 USING (user_id)
    ), gaps AS (
      SELECT 1 AS stage_idx, 'signup->view' AS transition,
             (epoch_us(t1) - epoch_us(t0)) // 1000000 * 10 AS g10
      FROM ent WHERE t0 IS NOT NULL AND t1 IS NOT NULL
      UNION ALL
      SELECT 2, 'view->click',
             (epoch_us(t2) - epoch_us(t1)) // 1000000 * 10
      FROM ent WHERE t1 IS NOT NULL AND t2 IS NOT NULL
      UNION ALL
      SELECT 3, 'click->purchase',
             (epoch_us(t3) - epoch_us(t2)) // 1000000 * 10
      FROM ent WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    )
    SELECT CAST(stage_idx AS INT) AS stage_idx, transition,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(floor(quantile_cont(g10, 0.5) / 5 + 0.5) AS BIGINT)
             AS med_x2_s,
           CAST(floor(quantile_cont(g10, 0.9) + 0.5) AS BIGINT)
             AS p90_x10_s
    FROM gaps GROUP BY stage_idx, transition
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel stage-transition latency, FULL hash-match oracle: per
    consecutive stage pair of the B108 signup->view->click->purchase
    funnel, converter counts and exact second-granular median/p90
    transition times (10x-scaled interpolation, half-up floored)."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return funnel_stage_latency(
        e, ["signup", "view", "click", "purchase"]
    )


def session_attribution(
    events: DataFrame,
    conversion_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    *,
    gap_s: int = 3600,
) -> DataFrame:
    """Session-grain last-touch attribution (r14, VERDICT r13 #6 —
    closes the funnel/session/attribution triangle): credit each
    CONVERTED SESSION to one channel, instead of crediting raw
    conversion events with a fixed-seconds lookback like
    :func:`last_touch_attribution`.

    Semantics: events get their B107 session via
    :func:`session_event_index` (the ONE gap-boundary definition);
    each conversion's touch is the most recent preceding
    non-conversion event by the same user, and it earns credit only
    if it lies in the SAME session (session-scoped lookback — the
    carried touch's session index must equal the conversion's, which
    also proves it precedes the conversion since session_idx is
    monotone per user).  A session's channel is its FIRST conversion's
    channel (by (ts, tiebreak) — deterministic), its value the
    cent-quantized sum of all its conversions.  Output: per channel,
    converted-session count, conversion count, and credited value.

    Scale shape: the session index, the carried-touch window, the
    per-session rollup, and the first-conversion rank all live inside
    the ONE ``user_id`` hash partitioning — ``hashpartitioning(user)``
    satisfies the clustered distribution of every (user, session_idx)
    window/aggregate downstream, so Catalyst adds sorts, never a
    second corpus exchange; the only other exchange is channel-sized.
    """
    idx = session_event_index(
        events, user_col, ts_col, gap_s, order_tiebreak,
        keep_cols=[type_col, value_col],
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col) != conversion_type
    carried_t = F.last(
        F.when(is_touch, F.col(type_col)), ignorenulls=True
    ).over(w)
    carried_s = F.last(
        F.when(is_touch, F.col("session_idx")), ignorenulls=True
    ).over(w)
    conv = (
        idx.select(
            F.col(user_col),
            F.col("session_idx"),
            F.col(type_col),
            F.col(value_col),
            F.col(order_tiebreak),
            F.unix_micros(F.col(ts_col)).alias("__us"),
            carried_t.alias("__tt"),
            carried_s.alias("__tsess"),
        )
        .filter(F.col(type_col) == conversion_type)
        .select(
            user_col, "session_idx", value_col, "__us", order_tiebreak,
            F.when(
                F.col("__tsess") == F.col("session_idx"), F.col("__tt")
            ).otherwise(F.lit("unattributed")).alias("channel"),
        )
    )
    ws = Window.partitionBy(user_col, "session_idx").orderBy(
        "__us", order_tiebreak
    )
    sess = (
        conv.withColumn("__rn", F.row_number().over(ws))
        .groupBy(user_col, "session_idx")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("channel")))
            .alias("channel"),
            F.count(F.lit(1)).alias("n_conv"),
            F.sum(F.floor(F.col(value_col) * 100 + F.lit(0.5))
                  .cast("bigint")).alias("cents"),
        )
    )
    return sess.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_conv").cast("bigint").alias("n_conversions"),
        F.sum("cents").cast("bigint").alias("value_cents"),
    )


@declared(
    "q_attribution_session",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type, value, event_id,
             epoch_us(ts) AS us,
             lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                          OR us - prev_us > CAST(3600 AS BIGINT) * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT user_id, ts, event_type, value, event_id, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    ), carried AS (
      SELECT user_id, session_idx, event_type, value, event_id, us,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS tt,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN session_idx END IGNORE NULLS)
               OVER w AS tsess
      FROM sess
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), conv AS (
      SELECT user_id, session_idx, value, us, event_id,
             CASE WHEN tsess = session_idx THEN tt
                  ELSE 'unattributed' END AS channel
      FROM carried WHERE event_type = 'purchase'
    ), per_sess AS (
      SELECT user_id, session_idx,
             MAX(CASE WHEN rn = 1 THEN channel END) AS channel,
             CAST(COUNT(*) AS BIGINT) AS n_conv,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY user_id, session_idx
              ORDER BY us, event_id) AS rn
            FROM conv) t
      GROUP BY user_id, session_idx
    )
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_conv) AS BIGINT) AS n_conversions,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM per_sess GROUP BY channel
    """,
)
def q_attribution_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain last-touch attribution of purchases, FULL
    hash-match oracle: each converted 1h-gap session credited to the
    channel of its first purchase's same-session preceding touch —
    per-channel session counts, conversion counts, and cent-exact
    credited value; session boundaries, credit decisions, and sums
    all integer-exact so DuckDB attests them value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return session_attribution(e, "purchase", gap_s=3600)


def funnel_stage_value(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    *,
    gap_s: int = 3600,
) -> DataFrame:
    """Value-weighted funnel (r15, VERDICT r14 #6 — the behavioral→
    revenue report at the funnel grain): each funnel stage reports not
    just how many users reached it but how much SESSION-ATTRIBUTED
    conversion value those users generated — "users who made it to
    stage k are worth X", the report a growth team actually reads.

    Semantics — a composition, not a re-derivation: stage reach uses
    the B108 earliest-valid-chain (:func:`_with_chain_columns`, the
    one shared chain implementation), and a conversion's value counts
    only if it is ATTRIBUTED under the B151 rule — its most recent
    preceding event by the same user is a non-conversion touch in the
    SAME B107 gap session.  Per stage: users who reached it, their
    attributed conversion count, and cent-exact attributed value —
    all three monotonically non-increasing with depth by construction.

    Scale shape: the session index, the carried-touch window, the k
    chained entry-time windows, and the per-user collapse ALL live in
    the ONE ``user_id`` hash partitioning (every window partitions by
    user, so Catalyst adds sorts, never a second corpus exchange);
    the per-user relation collapses to a depth histogram (≤ k+1 rows)
    BEFORE the only non-equi join, which is therefore stage×depth
    sized at any corpus scale — the B108 shape, carrying two more
    int64 sums.
    """
    conversion_type = stages[-1]
    idx = session_event_index(
        events, user_col, ts_col, gap_s, order_tiebreak,
        keep_cols=[type_col, value_col],
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col) != conversion_type
    carried_s = F.last(
        F.when(is_touch, F.col("session_idx")), ignorenulls=True
    ).over(w)
    enriched = _with_chain_columns(
        idx.withColumn("__tsess", carried_s),
        stages, user_col, ts_col, type_col,
    )
    attributed = (F.col(type_col) == conversion_type) & (
        F.col("__tsess") == F.col("session_idx")
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
    per_user = enriched.groupBy(user_col).agg(
        *[F.min(f"__t{i}").alias(f"t{i}") for i in range(len(stages))],
        F.sum(F.when(attributed, 1).otherwise(0)).cast("bigint")
        .alias("__nc"),
        F.sum(F.when(attributed, cents).otherwise(F.lit(0)))
        .cast("bigint").alias("__cents"),
    )
    depth = _chain_depth([f"t{i}" for i in range(len(stages))])
    hist = (
        per_user.select(depth.alias("depth"), "__nc", "__cents")
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__nc").alias("__c"),
            F.sum("__cents").alias("__v"),
        )
    )
    stage_dim = [(i + 1, s) for i, s in enumerate(stages)]
    dims = events.sparkSession.createDataFrame(
        stage_dim, "stage_idx INT, stage STRING"
    )
    return (
        dims.join(
            F.broadcast(hist),
            F.col("depth") >= F.col("stage_idx"), "left",
        )
        .groupBy("stage_idx", "stage")
        .agg(
            F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint")
            .alias("n_users"),
            F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint")
            .alias("n_conversions"),
            F.coalesce(F.sum("__v"), F.lit(0)).cast("bigint")
            .alias("value_cents"),
        )
    )


@declared(
    "q_funnel_value",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type, value, event_id,
             epoch_us(ts) AS us,
             lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_type, value, event_id,
             SUM(CASE WHEN prev_us IS NULL
                           OR us - prev_us > CAST(3600 AS BIGINT) * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM ordered
    ), carried AS (
      SELECT user_id, ts, event_type, value, session_idx,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN session_idx END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS tsess
      FROM sess
    ), attr AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                                AND tsess = session_idx
                           THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                                AND tsess = session_idx
                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cents
      FROM carried GROUP BY user_id
    ), l0 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t0
      FROM events
    ), l1 AS (
      SELECT user_id, ts, event_type, t0,
             MIN(CASE WHEN event_type = 'view' AND ts >= t0 THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM l0
    ), l2 AS (
      SELECT user_id, ts, event_type, t0, t1,
             MIN(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
      FROM l1
    ), l3 AS (
      SELECT user_id, t0, t1, t2,
             MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3
      FROM l2
    ), chain AS (
      SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1,
             MIN(t2) AS t2, MIN(t3) AS t3
      FROM l3 GROUP BY user_id
    ), pu AS (
      SELECT c.user_id,
             (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS depth,
             a.nc, a.cents
      FROM chain c JOIN attr a USING (user_id)
    ), dims AS (
      SELECT * FROM (VALUES (1, 'signup'), (2, 'view'),
                            (3, 'click'), (4, 'purchase'))
             AS v(stage_idx, stage)
    )
    SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
           CAST(COUNT(pu.depth) AS BIGINT) AS n_users,
           CAST(COALESCE(SUM(pu.nc), 0) AS BIGINT) AS n_conversions,
           CAST(COALESCE(SUM(pu.cents), 0) AS BIGINT) AS value_cents
    FROM dims LEFT JOIN pu ON pu.depth >= dims.stage_idx
    GROUP BY stage_idx, stage
    """,
)
def q_funnel_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted 4-stage funnel (signup→view→click→purchase),
    FULL hash-match oracle: per stage, the users who reached it plus
    the count and cent-exact value of their SESSION-ATTRIBUTED
    purchases (B151's same-session preceding-touch rule) — the B108
    chain and B151 attribution composed on one user_id exchange,
    attested value-for-value by DuckDB."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return funnel_stage_value(e, ["signup", "view", "click", "purchase"])


def decayed_engagement(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    *,
    half_life_days: int = 1,
    horizon_days: int = 20,
) -> DataFrame:
    """Recency-weighted engagement score per user (r14): each event
    contributes its cent value halved once per ``half_life_days``
    elapsed since the event (day granularity, stepwise), events older
    than ``horizon_days`` contribute nothing — the standard
    exponential-decay engagement/recency score, written so BOTH
    engines compute it EXACTLY.

    The trick: weights are powers of TWO attached by integer shift —
    ``cents << ((horizon - age_days) DIV half_life_days)`` — so the
    per-user score is a plain int64 sum with zero transcendentals
    (exp/pow are libm-lottery; a left shift is not).  Scores are a
    constant ``2^(horizon/half_life)`` multiple of the textbook
    sum(v * 2^(-age/h)) form, so ratios and rankings are identical.

    Headroom: cents * 2^20 <= ~2^34 per event at test values, int64-
    safe past 2^28 events per user; widen to DECIMAL partials (or
    lower ``horizon_days``) for corpora beyond that.

    Reference time is the corpus max timestamp (reproducible — wall
    clock would make the statistic unattestable); production callers
    pass a frozen ``as_of`` by filtering upstream.

    Scale shape: a 1-row max-ts aggregate over the pruned ts column
    broadcast back (constant attach, no shuffle), then ONE map-side
    weighted sum per user — a single user-keyed exchange of partial
    sums; the top-k face cuts with TakeOrderedAndProject.

    Returns (user, score) for every user seen in events.
    """
    us = F.unix_micros(F.col(ts_col))
    ref = events.select(us.alias("__us")).agg(F.max("__us").alias("__mx"))
    age_days = F.expr("(__mx - __eus) DIV 86400000000")
    # shiftleft with a COLUMN bit count must go through SQL (the
    # PySpark wrapper only takes a literal numBits)
    weight = F.expr(
        "shiftleft(CAST(1 AS BIGINT), "
        f"CAST(({int(horizon_days)} - (__mx - __eus) DIV 86400000000)"
        f" DIV {int(half_life_days)} AS INT))"
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
    contrib = F.when(
        age_days <= F.lit(int(horizon_days)), cents * weight
    ).otherwise(F.lit(0))
    return (
        events.select(F.col(user_col), F.col(value_col), us.alias("__eus"))
        .crossJoin(F.broadcast(ref))
        .groupBy(user_col)
        .agg(F.sum(contrib).alias("score"))
    )


@declared(
    "q_engagement_decay",
    oracle="""
    WITH ref AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
    per AS (
      SELECT user_id,
             CAST(SUM(CASE
               WHEN (mx - epoch_us(ts)) // 86400000000 <= 20
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    * (CAST(1 AS BIGINT) <<
                       CAST(20 - (mx - epoch_us(ts)) // 86400000000 AS INT))
               ELSE 0 END) AS BIGINT) AS score
      FROM events CROSS JOIN ref GROUP BY user_id
    ), ranked AS (
      SELECT user_id, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rank
      FROM per
    )
    SELECT user_id, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def q_engagement_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement top-20, FULL hash-match oracle:
    per-user cent values decayed by a power-of-two shift per elapsed
    day (20-day horizon, 1-day half-life) — zero transcendentals, the
    whole statistic is int64 arithmetic, so DuckDB attests every score
    and the ranking value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    per = decayed_engagement(e)
    ranked = per.orderBy(F.col("score").desc(), F.col("user_id")).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("user_id"))
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


def rate_anomalies(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    *,
    bucket_s: int = 3600,
    trailing: int = 12,
    min_history: int = 8,
    z_threshold_e6: int = 3_000_000,
) -> DataFrame:
    """Event-rate spike detection (r14): per (type, time bucket)
    counts scored against the TRAILING window of up to ``trailing``
    prior buckets — the ops-monitoring z-score alarm ("did purchases
    spike 3 sigma this hour"), written engine-exact.

    The z-score never divides by a float mean/std: with w trailing
    counts of sum S and sum-of-squares Q, ``z = (w*x - S) /
    sqrt(w*Q - S*S)`` — numerator and radicand are EXACT int64, the
    sqrt is IEEE-correctly-rounded in both engines, so the e6-floored
    z is bit-stable.  Buckets with fewer than ``min_history`` trailing
    observations, or zero trailing variance, score NULL (never NaN /
    a division error).

    Trailing buckets are selected by a RANGE frame on the integer
    bucket index, so a silent hour does not shift the window onto
    stale data; note the statistic is over OBSERVED buckets — a type
    whose rate drops to literally zero emits no bucket row (compose
    with the gap-fill operator upstream for true zero-count
    semantics; documented trade).

    Scale shape: one map-side-combined (type, bucket) count exchange
    collapses the corpus; every window after that runs on the
    bucket-grain relation (types x time buckets — bounded), so the
    second (type-keyed) exchange is metadata-sized.

    Returns per type: n_buckets, n_scored, n_anomalies, max_z_e6.
    """
    b = events.select(
        F.col(type_col),
        F.expr(f"unix_micros({ts_col}) DIV {int(bucket_s) * 1_000_000}")
        .alias("bucket"),
    ).groupBy(type_col, "bucket").agg(F.count(F.lit(1)).alias("x"))
    wt = (
        Window.partitionBy(type_col)
        .orderBy("bucket")
        .rangeBetween(-int(trailing), -1)
    )
    scored = b.select(
        type_col, "bucket", "x",
        F.count("x").over(wt).alias("w"),
        F.sum("x").over(wt).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wt).alias("q"),
    )
    den = F.col("w") * F.col("q") - F.col("s") * F.col("s")
    z = F.when(
        (F.col("w") >= int(min_history)) & (den > 0),
        F.floor(
            (F.col("w") * F.col("x") - F.col("s")).cast("double")
            / F.sqrt(den.cast("double"))
            * F.lit(1_000_000.0) + F.lit(0.5)
        ).cast("bigint"),
    )
    return (
        scored.withColumn("z_e6", z)
        .groupBy(type_col)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("z_e6").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_scored"),
            F.sum(
                F.when(F.col("z_e6") > int(z_threshold_e6), 1).otherwise(0)
            ).cast("bigint").alias("n_anomalies"),
            F.max("z_e6").alias("max_z_e6"),
        )
    )


@declared(
    "q_rate_anomalies",
    oracle="""
    WITH b AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
    ), scored AS (
      SELECT event_type, x,
             COUNT(x) OVER w AS w,
             SUM(x) OVER w AS s,
             SUM(x * x) OVER w AS q
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   RANGE BETWEEN 12 PRECEDING AND 1 PRECEDING)
    ), z AS (
      SELECT event_type,
             CASE WHEN w >= 8 AND w * q - s * s > 0 THEN
               CAST(floor(
                 CAST(w * x - s AS DOUBLE)
                 / sqrt(CAST(w * q - s * s AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT)
             END AS z_e6
      FROM scored
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN z_e6 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN z_e6 > 3000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           MAX(z_e6) AS max_z_e6
    FROM z GROUP BY event_type
    """,
)
def q_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate spike detection, FULL hash-match oracle: per
    type, buckets scored 3-sigma against their trailing 12 observed
    hours — exact integer z-score algebra under one correctly-rounded
    sqrt, so DuckDB attests every alarm decision value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return rate_anomalies(e)


def weekly_churn(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Week-over-week churn / retention / resurrection panel (r14) —
    the lifecycle decomposition next to the DAU/WAU levels (B147):
    per calendar-agnostic week index (epoch microseconds DIV one week
    — deterministic, no ISO-week engine quirks), every active user is
    exactly one of NEW (first week ever), RETAINED (also active the
    immediately previous week), or RESURRECTED (last active 2+ weeks
    ago); CHURNED INTO a week = the previous week's actives who did
    not return = prev active - retained.

    Scale shape: ONE user_id exchange — per-user week ordering both
    dedupes (user, week) pairs (lag equality filter; no second
    distinct exchange) and carries the previous distinct week; the
    weekly rollup and its trailing-active lag then run on the
    week-grain relation (bounded).  All counts exact integers.
    """
    wk = F.expr(f"unix_micros({ts_col}) DIV {7 * 86_400_000_000}")
    w1 = Window.partitionBy(user_col).orderBy("week", order_tiebreak)
    rows = (
        events.select(F.col(user_col), F.col(order_tiebreak),
                      wk.alias("week"))
        .withColumn("__prev_any", F.lag("week").over(w1))
        .filter(
            F.col("__prev_any").isNull()
            | (F.col("__prev_any") != F.col("week"))
        )
    )
    w2 = Window.partitionBy(user_col).orderBy("week")
    uw = rows.select(
        user_col, "week", F.lag("week").over(w2).alias("prev_week")
    )
    weekly = uw.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("prev_week").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("prev_week") == F.col("week") - 1, 1)
              .otherwise(0)).cast("bigint").alias("n_retained"),
        F.sum(F.when(F.col("prev_week") <= F.col("week") - 2, 1)
              .otherwise(0)).cast("bigint").alias("n_resurrected"),
    )
    w3 = Window.orderBy("week")
    prev_active = F.lag("n_active").over(w3)
    return weekly.select(
        "week", "n_active", "n_new", "n_retained", "n_resurrected",
        F.when(
            F.lag("week").over(w3) == F.col("week") - 1,
            prev_active - F.col("n_retained"),
        ).otherwise(F.coalesce(prev_active, F.lit(0)))
        .cast("bigint").alias("n_churned_from_prev"),
    )


@declared(
    "q_churn_weekly",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
      FROM events
    ), flagged AS (
      SELECT user_id, week,
             lag(week) OVER (PARTITION BY user_id ORDER BY week)
               AS prev_week
      FROM uw
    ), weekly AS (
      SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN prev_week <= week - 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_resurrected
      FROM flagged GROUP BY week
    )
    SELECT week, n_active, n_new, n_retained, n_resurrected,
           CAST(CASE WHEN lag(week) OVER (ORDER BY week) = week - 1
                THEN lag(n_active) OVER (ORDER BY week) - n_retained
                ELSE COALESCE(lag(n_active) OVER (ORDER BY week), 0)
                END AS BIGINT) AS n_churned_from_prev
    FROM weekly
    """,
)
def q_churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn/retention/resurrection panel, FULL hash-match
    oracle: per epoch-week actives decomposed into new, retained, and
    resurrected, plus how many of the previous week's actives churned
    — exact integer week indices and counts, attested value-for-value
    (the oracle dedupes (user, week) with DISTINCT; the engine gets
    the same set from its lag-equality filter inside one exchange)."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return weekly_churn(e)


def value_percentiles_daily(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-(type, day) value-distribution panel (r14): exact median
    and p90 of event value plus count and total — the daily
    monitoring table under every revenue/latency dashboard ("did
    p90 order value move yesterday"), at day granularity where the
    rate-anomaly face (B157) watches counts.

    Exactness: cent values are integers and percentiles ride the B133
    recipe — 10x-scaled integers make every interpolated value an
    exact integer double, half-up floored against the one-ulp drift
    of non-binary quantile fractions (median reported at 2x, p90 at
    10x; consumers divide back).

    Scale shape: ONE (type, day) exchange; the exact-percentile
    buffering caveat of B133 applies per (type, day) cell — cells are
    day-bounded, and the quantile-sketch tier (B92) is the 100 TB
    path when they are not.
    """
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
    rows = events.select(
        F.col(type_col),
        F.expr(f"unix_micros({ts_col}) DIV 86400000000").alias("day"),
        (cents * 10).alias("__c10"),
    )
    return rows.groupBy(type_col, "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("CAST(sum(__c10) DIV 10 AS BIGINT)").alias("value_cents"),
        F.expr("CAST(floor(percentile(__c10, 0.5D) / 5 + 0.5) AS BIGINT)")
        .alias("med_cents_x2"),
        F.expr("CAST(floor(percentile(__c10, 0.9D) + 0.5) AS BIGINT)")
        .alias("p90_cents_x10"),
    )


@declared(
    "q_value_percentiles_daily",
    oracle="""
    WITH rows_ AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) * 10 AS c10
      FROM events
    )
    SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(c10) // 10 AS BIGINT) AS value_cents,
           CAST(floor(quantile_cont(c10, 0.5) / 5 + 0.5) AS BIGINT)
             AS med_cents_x2,
           CAST(floor(quantile_cont(c10, 0.9) + 0.5) AS BIGINT)
             AS p90_cents_x10
    FROM rows_ GROUP BY event_type, day
    """,
)
def q_value_percentiles_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type value percentiles, FULL hash-match oracle:
    count, cent-exact total, and exact interpolated median/p90 (2x
    and 10x integer scaling) per (event_type, day) — every cell
    attested value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return value_percentiles_daily(e)


def user_features(
    events: DataFrame,
    type_counts: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    gap_s: int = 3600,
) -> DataFrame:
    """Per-user behavioral feature table (r14): the bread-and-butter
    feature-store export under churn/propensity models — one row per
    user with event totals, session count (the B107 index), active
    days, first/last seen, cent-exact value, and a conditional count
    per requested event type.  Everything integer/epoch-exact.

    Scale shape: the session index and the per-user rollup share the
    ONE user_id exchange (the B107 contract); active days are a
    distinct-count over day indices inside the same aggregate.  A
    predicate on the user column pushes below the window because
    per-user features are user-independent.
    """
    idx = session_event_index(
        events, user_col, ts_col, gap_s,
        keep_cols=[type_col, value_col],
    )
    us = F.unix_micros(F.col(ts_col))
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.max("session_idx").cast("bigint").alias("n_sessions"),
        F.countDistinct(F.expr(f"unix_micros({ts_col}) DIV 86400000000"))
        .cast("bigint").alias("n_active_days"),
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
        F.sum(F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint"))
        .alias("value_cents"),
    ]
    for t in type_counts:
        aggs.append(
            F.sum(F.when(F.col(type_col) == t, 1).otherwise(0))
            .cast("bigint").alias(f"n_{t}"),
        )
    return idx.groupBy(user_col).agg(*aggs)


@declared(
    "q_user_features",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type, value, event_id,
             lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events WHERE user_id < 50
    ), flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                          OR epoch_us(ts) - prev_us
                             > CAST(3600 AS BIGINT) * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT user_id, ts, event_type, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(session_idx) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
             AS n_active_days,
           MIN(epoch_us(ts)) AS first_us,
           MAX(epoch_us(ts)) AS last_us,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase
    FROM sess GROUP BY user_id
    """,
)
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature export, FULL hash-match oracle: totals,
    session count, active days, first/last seen, cent-exact value,
    and view/click/purchase counts for a bounded user slice —
    every feature integer-exact and attested value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return user_features(e, ["view", "click", "purchase"])


def winsorized_mean(
    events: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
    *,
    lo_q: float = 0.1,
    hi_q: float = 0.9,
) -> DataFrame:
    """Winsorized (clamped) mean value per group (r14): values below
    the group's lo_q percentile or above its hi_q percentile are
    clamped to those bounds before averaging — the robust mean that
    tolerates fat-tailed value distributions where MAD (B133) flags
    outliers and the plain mean chases them.

    Exactness: values ride the 10x-cent integer recipe; the
    percentile BOUNDS are half-up floored to BIGINTs (a defined
    0.1-cent rounding of the interpolated bound), so the clamp
    compares integers to integers and the clamped sum is an
    order-free int64 aggregate; the winsorized mean is one integer
    division (reported at 10x cents).

    Scale shape: two passes over the one (group) exchange — bounds
    aggregate (exact-percentile buffering per group, the B133
    caveat; B92's sketch is the unbounded tier), broadcast back,
    then the clamped sum.
    """
    cents10 = (
        F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint") * 10
    )
    rows = events.select(F.col(type_col), cents10.alias("__c10"))
    bounds = rows.groupBy(type_col).agg(
        F.expr(f"CAST(floor(percentile(__c10, {lo_q}D) + 0.5) AS BIGINT)")
        .alias("__lo"),
        F.expr(f"CAST(floor(percentile(__c10, {hi_q}D) + 0.5) AS BIGINT)")
        .alias("__hi"),
    )
    return (
        rows.join(F.broadcast(bounds), type_col)
        .groupBy(type_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("__lo").alias("lo_cents_x10"),
            F.max("__hi").alias("hi_cents_x10"),
            F.expr(
                "sum(least(greatest(__c10, __lo), __hi)) DIV count(1)"
            ).cast("bigint").alias("wmean_cents_x10"),
        )
    )


@declared(
    "q_value_winsorized",
    oracle="""
    WITH rows_ AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) * 10 AS c10
      FROM events
    ), bounds AS (
      SELECT event_type,
             CAST(floor(quantile_cont(c10, 0.1) + 0.5) AS BIGINT) AS lo,
             CAST(floor(quantile_cont(c10, 0.9) + 0.5) AS BIGINT) AS hi
      FROM rows_ GROUP BY event_type
    )
    SELECT r.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           MAX(lo) AS lo_cents_x10, MAX(hi) AS hi_cents_x10,
           CAST(SUM(least(greatest(c10, lo), hi)) // COUNT(*) AS BIGINT)
             AS wmean_cents_x10
    FROM rows_ r JOIN bounds b USING (event_type)
    GROUP BY r.event_type
    """,
)
def q_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean value per type, FULL hash-match oracle: values
    clamped at the exact p10/p90 (10x-integer interpolation, bounds
    half-up floored) before an order-free integer mean — the robust
    companion to the daily percentile panel, attested
    value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return winsorized_mean(e)


# -- composed behavioral pipeline (r17, B185) ---------------------------


def behavior_pipeline(
    events: DataFrame,
    stages: list[str],
    conversion_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    *,
    gap_s: int = 3600,
    audit: list | None = None,
) -> DataFrame:
    """The composed behavioral pipeline (r17, VERDICT r16 #7 — the
    events-family analogue of the corpus capstone): gap sessionization
    (B107), ordered funnel (B108), session-grain last-touch
    attribution (B151) and weekly retention cohorts (B109) computed in
    ONE dataflow and returned as a long-format report —
    ``(section, item, pos, m1, m2, m3)`` with sections ``sessions``
    (count / events / cent-exact value), ``funnel`` (per stage,
    n_users), ``attribution`` (per channel: sessions / conversions /
    credited cents) and ``retention`` (per (cohort_week, offset):
    active users).  Every section reproduces its standalone face's
    values exactly (the WITH-chain oracle composes those faces'
    VERBATIM recipes), so a hash match is evidence the behavioral
    operators COMPOSE.

    Scale design — the whole point of the composition: the events
    fact is scanned ONCE and hash-partitioned on ``user_id`` ONCE.
    All per-event derivations ride that single exchange as chained
    windows (session boundary lag+running-sum, the carried-touch
    lookback, the first-conversion ordinal, the funnel entry-time
    chain, the cohort first-week — ``HashPartitioning(user_id)``
    satisfies every one of their distributions), and the ONE
    ``groupBy(user, session_idx)`` collapse to session grain also
    rides it (clustered-distribution subset rule).  The session-grain
    store is then lineage-truncated (the capstone stage-store design —
    Spark re-expands common subplans, and four panels consume it), so
    the four panel aggregates touch session-grain data only: a global
    sum, a depth histogram via distinct-user count, a channel rollup,
    and the (cohort, week) distinct-user matrix.  No second
    fact-sized exchange exists anywhere — pinned by the plan test via
    the ``audit`` hook (stage plan: one events scan, one
    hashpartitioning(user_id); final plan: zero of both).

    Retention rides the collapse as ``collect_set(week_offset)`` per
    session, exploded back at session grain — the distinct
    (user, week) relation without a second pass over events.  The set
    size is the session's calendar span in weeks + 1 (gap
    sessionization bounds inter-event GAPS, not session length, so a
    continuously-active user can span many weeks); explode is correct
    at any size, the sets are merely small in practice.
    """
    k = len(stages)
    w_ord = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    w_user = Window.partitionBy(user_col)
    micros = F.unix_micros(F.col(ts_col))
    prev = F.lag(micros).over(w_ord)
    is_new = F.when(
        prev.isNull() | ((micros - prev) > F.lit(int(gap_s) * 1_000_000)), 1
    ).otherwise(0)
    week = F.date_trunc("week", F.col(ts_col))
    first_week = F.date_trunc("week", F.min(F.col(ts_col)).over(w_user))
    base = _with_chain_columns(
        events.select(
            user_col, ts_col, type_col, value_col, order_tiebreak
        ),
        stages, user_col, ts_col, type_col,
    ).select(
        user_col, ts_col, type_col, value_col, order_tiebreak,
        *[f"__t{i}" for i in range(k)],
        is_new.alias("__new"),
        first_week.alias("__cohort_week"),
        ((F.unix_micros(week) - F.unix_micros(first_week))
         / F.lit(604_800_000_000)).cast("long").alias("__wk"),
    )
    run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = base.withColumn(
        "session_idx", F.sum("__new").over(run)
    )
    look = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    is_touch = F.col(type_col) != conversion_type
    is_conv = F.col(type_col) == conversion_type
    w_conv = (
        Window.partitionBy(user_col, "session_idx")
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = with_sess.select(
        user_col, type_col, value_col, "session_idx",
        *[f"__t{i}" for i in range(k)],
        "__cohort_week", "__wk",
        F.last(F.when(is_touch, F.col(type_col)), ignorenulls=True)
        .over(look).alias("__tt"),
        F.last(F.when(is_touch, F.col("session_idx")), ignorenulls=True)
        .over(look).alias("__tsess"),
        F.sum(F.when(is_conv, 1).otherwise(0)).over(w_conv)
        .alias("__cord"),
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
    channel = F.when(
        F.col("__tsess") == F.col("session_idx"), F.col("__tt")
    ).otherwise(F.lit("unattributed"))
    sess = enriched.groupBy(user_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("cents"),
        *[F.min(f"__t{i}").alias(f"t{i}") for i in range(k)],
        F.min("__cohort_week").alias("cohort_week"),
        F.collect_set("__wk").alias("weeks"),
        F.sum(F.when(is_conv, 1).otherwise(0)).alias("n_conv"),
        F.sum(F.when(is_conv, cents)).alias("conv_cents"),
        F.max(F.when(is_conv & (F.col("__cord") == 1), channel))
        .alias("channel"),
    )
    from artemia_airflow_spark.operators.dedup import stage_fn

    sess = stage_fn(audit)(sess, "session-store")

    def _panel(section: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(section).alias("section"), "item", "pos",
            "m1", "m2", "m3",
        )

    zero = F.lit(0).cast("bigint")
    sessions_panel = _panel("sessions", sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("m1"),
        F.sum("n_events").cast("bigint").alias("m2"),
        F.sum("cents").cast("bigint").alias("m3"),
    ).select(F.lit("all").alias("item"), zero.alias("pos"),
             "m1", "m2", "m3"))
    # funnel: depth is user-constant across the user's sessions, so a
    # distinct-user count per depth replaces a second groupBy(user) —
    # the exchange carries distinct (depth, user) pairs, never keyed
    # on user_id alone.  distinct-then-count, NOT countDistinct: a
    # NULL user is a real per-user group in the standalone funnel and
    # the oracle, and countDistinct would silently drop it
    depth_hist = (
        sess.select(
            F.col(user_col),
            _chain_depth([f"t{i}" for i in range(k)]).alias("depth"),
        )
        .distinct()
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    funnel_panel = _panel("funnel", _funnel_counts_from_depth_hist(
        depth_hist, stages,
    ).select(F.col("stage").alias("item"),
             F.col("stage_idx").cast("bigint").alias("pos"),
             F.col("n_users").cast("bigint").alias("m1"),
             zero.alias("m2"), zero.alias("m3")))
    attribution_panel = _panel("attribution", sess.filter(
        F.col("n_conv") > 0
    ).groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("m1"),
        F.sum("n_conv").cast("bigint").alias("m2"),
        F.sum("conv_cents").cast("bigint").alias("m3"),
    ).select(F.col("channel").alias("item"), zero.alias("pos"),
             "m1", "m2", "m3"))
    retention_panel = _panel("retention", sess.select(
        F.col(user_col), "cohort_week", F.explode("weeks").alias("pos")
    ).groupBy("cohort_week", "pos").agg(
        F.countDistinct(user_col).cast("bigint").alias("m1"),
    ).select(F.col("cohort_week").cast("date").cast("string").alias("item"),
             F.col("pos").cast("bigint").alias("pos"),
             "m1", zero.alias("m2"), zero.alias("m3")))
    return (
        sessions_panel.unionByName(funnel_panel)
        .unionByName(attribution_panel)
        .unionByName(retention_panel)
    )


@declared(
    "q_behavior_pipeline",
    oracle="""
    WITH ordered AS (
  SELECT user_id, ts, event_type, value, event_id,
         epoch_us(ts) AS us,
         lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL
                      OR us - prev_us > CAST(3600 AS BIGINT) * 1000000
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sess AS (
  SELECT user_id, ts, event_type, value, event_id, us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
), sess_rows AS (
  SELECT user_id, session_idx,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM sess GROUP BY user_id, session_idx
), sessions_panel AS (
  SELECT 'sessions' AS section, 'all' AS item, CAST(0 AS BIGINT) AS pos,
         CAST(COUNT(*) AS BIGINT) AS m1,
         CAST(SUM(n_events) AS BIGINT) AS m2,
         CAST(SUM(cents) AS BIGINT) AS m3
  FROM sess_rows
), l0 AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t0
  FROM events
), l1 AS (
  SELECT user_id, ts, event_type, t0,
         MIN(CASE WHEN event_type = 'view' AND ts >= t0 THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM l0
), l2 AS (
  SELECT user_id, ts, event_type, t0, t1,
         MIN(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM l1
), l3 AS (
  SELECT user_id, t0, t1, t2,
         MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
           OVER (PARTITION BY user_id) AS t3
  FROM l2
), per_user AS (
  SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1,
         MIN(t2) AS t2, MIN(t3) AS t3
  FROM l3 GROUP BY user_id
), depth AS (
  SELECT (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS depth
  FROM per_user
), dims AS (
  SELECT * FROM (VALUES (1, 'signup'), (2, 'view'),
                        (3, 'click'), (4, 'purchase')) AS v(stage_idx, stage)
), funnel_panel AS (
  SELECT 'funnel' AS section, stage AS item, CAST(stage_idx AS BIGINT) AS pos,
         CAST(COUNT(depth) AS BIGINT) AS m1,
         CAST(0 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m3
  FROM dims LEFT JOIN depth ON depth >= stage_idx
  GROUP BY stage_idx, stage
), carried AS (
  SELECT user_id, session_idx, event_type, value, event_id, us,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER w AS tt,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN session_idx END IGNORE NULLS)
           OVER w AS tsess
  FROM sess
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), conv AS (
  SELECT user_id, session_idx, value, us, event_id,
         CASE WHEN tsess = session_idx THEN tt
              ELSE 'unattributed' END AS channel
  FROM carried WHERE event_type = 'purchase'
), per_sess AS (
  SELECT user_id, session_idx,
         MAX(CASE WHEN rn = 1 THEN channel END) AS channel,
         CAST(COUNT(*) AS BIGINT) AS n_conv,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, session_idx
          ORDER BY us, event_id) AS rn
        FROM conv) t
  GROUP BY user_id, session_idx
), attribution_panel AS (
  SELECT 'attribution' AS section, channel AS item, CAST(0 AS BIGINT) AS pos,
         CAST(COUNT(*) AS BIGINT) AS m1,
         CAST(SUM(n_conv) AS BIGINT) AS m2,
         CAST(SUM(cents) AS BIGINT) AS m3
  FROM per_sess GROUP BY channel
), firsts AS (
  SELECT user_id, ts,
         date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS cohort_week
  FROM events
), retention_panel AS (
  SELECT 'retention' AS section,
         CAST(CAST(cohort_week AS DATE) AS VARCHAR) AS item,
         CAST((epoch_us(date_trunc('week', ts)) - epoch_us(cohort_week))
              / 604800000000 AS BIGINT) AS pos,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS m1,
         CAST(0 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m3
  FROM firsts GROUP BY 1, 2, 3
)
SELECT * FROM sessions_panel
UNION ALL SELECT * FROM funnel_panel
UNION ALL SELECT * FROM attribution_panel
UNION ALL SELECT * FROM retention_panel
    """,
)
def q_behavior_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed behavioral pipeline, FULL hash-match oracle:
    sessionize + funnel + session-attribution + retention off ONE
    events scan and ONE user_id exchange, reported as the long-format
    (section, item, pos, m1, m2, m3) panel.  The oracle WITH-chain
    composes the VERBATIM recipes of q_sessionize, q_funnel,
    q_attribution_session and q_retention, so a hash match attests
    that the four standalone faces and the composed single-exchange
    dataflow agree value-for-value."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return behavior_pipeline(
        e, ["signup", "view", "click", "purchase"], "purchase",
        gap_s=3600,
    )
