"""Physical-plan regression tests: the scale properties SCALE.md claims
must stay true as the engine evolves (pushdown, pruning, broadcast,
top-k, subquery rewrite — checked by plan inspection, not timing)."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE


def _formatted_plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_ORACLE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_is_pushed_to_parquet(spark):
    p = _formatted_plan(spark, "q_filter")
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_quantity", p)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", p)


def test_projection_prunes_columns(spark):
    p = _formatted_plan(spark, "q_project")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"c_custkey", "c_name", "c_nationkey", "c_acctbal"}


def test_dimension_join_broadcasts(spark):
    assert "BroadcastHashJoin" in _formatted_plan(spark, "q_join_broadcast")


def test_topk_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in _formatted_plan(spark, "q_topk")


def test_in_subquery_rewrites_to_semi_join(spark):
    assert "LeftSemi" in _formatted_plan(spark, "q_subq_in")


def test_flagship_has_partial_aggregation(spark):
    p = _formatted_plan(spark, "q_agg_group")
    # partial + final HashAggregate pair around the exchange
    assert len(re.findall(r"HashAggregate", p)) >= 2
    assert "Exchange" in p


def test_no_cartesian_in_equi_joins(spark):
    for name in ("q_join_inner", "q_join_left", "q_join_range", "q_join_asof"):
        p = _formatted_plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_embed_pairs_block_local_no_join_no_collect(spark):
    """q_dedup_embed (label-blocked scale tier): the O(n_block^2) pair
    space must be computed inside the per-group numpy kernel — the plan
    is a FlatMapGroupsInPandas over ONE hash exchange on the blocking
    key, with no join and no driver-side collect anywhere."""
    p = _formatted_plan(spark, "q_dedup_embed")
    assert "FlatMapGroupsInPandas" in p
    assert "Join" not in p, p


def test_percentile_prunes_to_referenced_columns(spark):
    p = _formatted_plan(spark, "q_agg_percentile")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_returnflag", "l_quantity", "l_extendedprice"}


def test_lsh_neardup_shuffle_carries_ids_not_vectors(spark):
    """q_dedup_embed_lsh: the candidate self-join and pair dedup must
    not carry the embedding arrays — vectors re-attach afterwards via
    broadcast join (plan shows BroadcastHashJoin for the re-attach,
    and the hash-partitioned exchanges' output columns contain no
    embedding/vector column)."""
    p = _formatted_plan(spark, "q_dedup_embed_lsh")
    assert "BroadcastHashJoin" in p
    for m in re.finditer(r"Exchange hashpartitioning[^\n]*", p):
        assert "__v" not in m.group(0), m.group(0)


def test_ivf_routing_plan_constant_in_cells(spark):
    """q_sim_ivf probe->cell routing must not bake per-cell literal
    centroid arrays into the plan (O(n_cells x dim) plan growth that
    blows compile/codegen at production quantizer sizes): routing is an
    Arrow-batched argmin over a broadcast centroid matrix, so the plan
    carries at most the cosine re-rank's zip_with — constant in
    n_cells."""
    p = _formatted_plan(spark, "q_sim_ivf")
    assert p.count("zip_with") <= 3, p.count("zip_with")
    assert "ArrowEvalPython" in p or "BatchEvalPython" in p, p


def test_stratified_sample_is_filter_only(spark):
    """Hash-threshold stratified sampling compiles to a per-row filter
    on a Lehmer-style multiplicative hash of doc_id (portable BIGINT
    arithmetic, round-5 oracle upgrade) — no join, no mid-plan driver
    collect (the old sampleBy face needed a distinct-lang round-trip),
    deterministic across runs."""
    p = _formatted_plan(spark, "q_sample_stratified")
    assert "Join" not in p
    assert "48271" in p, p


def _plan_without_autobroadcast(spark, name: str) -> str:
    """Formatted plan with Catalyst's size-based auto-broadcast disabled,
    so the only BroadcastHashJoins left are from explicit F.broadcast
    hints — this exposes exactly which edges the code pins."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return _formatted_plan(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_tpch_composites_broadcast_dims_only(spark):
    """q_tpch_q3/q5/q10: broadcast hints must be pinned ONLY on true
    dims (nation/region — bounded at 25/5 rows at every sf).  Orders,
    customer AND supplier are sf-linear, so with auto-broadcast
    disabled their join edges must plan as shuffle joins
    (SortMergeJoin) — a pinned broadcast there is the plan that dies
    at 100x scale.  Expected hint counts: q3 none, q5 two (nation,
    region), q10 one (nation), q7 two (the two nation aliases)."""
    expected_hinted = {"q_tpch_q3": 0, "q_tpch_q5": 2, "q_tpch_q10": 1,
                       "q_tpch_q7": 2, "q_tpch_q4": 0, "q_tpch_q17": 0,
                       "q_tpch_q18": 0, "q_tpch_q19": 0, "q_tpch_q21": 0,
                       "q_tpch_q13": 0, "q_tpch_q8": 3}
    for name, n_hints in expected_hinted.items():
        p = _plan_without_autobroadcast(spark, name)
        # formatted explain shows each node twice (tree + detail); count
        # the "(N) BroadcastHashJoin" detail headers, one per node
        n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", p))
        assert n_bhj == n_hints, (name, n_bhj, n_hints)
        # the fact edges (lineitem-orders, orders-customer) shuffle
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, name


def test_tpch_topk_plans_as_take_ordered(spark):
    """LIMIT-over-ORDER BY must compile to TakeOrderedAndProject
    (per-partition top-k + driver merge), not a global sort."""
    for name in ("q_tpch_q3", "q_tpch_q10"):
        p = _formatted_plan(spark, name)
        assert "TakeOrderedAndProject" in p, name


def test_pq_candidate_cut_is_two_phase(spark):
    """The PQ ADC candidate cut must NOT hand the per-probe window a
    full-corpus partition (VERDICT r9 #2): a map-side MapInPandas
    partial top-r runs on the scored relation BEFORE the exchange
    feeding the final window, with no shuffle between the ADC scoring
    kernel and the cut — so the exchange carries at most r x batches
    rows per probe.  (Spark 4's WindowGroupLimit Partial rewrite also
    bounds this exchange when it fires; the explicit cut makes the
    guarantee independent of that optimizer rule.)"""
    df = entrymod.queries()["q_sim_pq"](spark, SF_ORACLE)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    i_cut = p.find("MapInPandas cut")
    i_adc = p.find("ArrowEvalPython [adc")
    assert i_cut != -1 and i_adc != -1, p
    # simple mode prints root-first, so the scoring kernel (upstream)
    # appears BELOW the cut, and nothing between them shuffles
    assert i_cut < i_adc
    assert "Exchange hashpartitioning" not in p[i_cut:i_adc]


def test_lsh_rerank_is_two_phase(spark):
    """The SRP-LSH rerank must route through the shared map-side
    partial top-k before the final per-probe window (VERDICT r10 #2):
    at recall-grade tunings (bits=4/tables=16) the candidate set per
    probe approaches the whole corpus, so a bare window here would
    recreate the single-reducer sort the PQ cut removed.  Pin: the
    MapInPandas cut exists; nothing between the cut and the candidate
    distinct (the first HashAggregate below it) shuffles; and the
    final window is fed by exactly one exchange — the per-probe hash
    partitioning of the already-bounded cut output."""
    df = entrymod.queries()["q_sim_ann_lsh"](spark, SF_ORACLE)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    i_cut = p.find("MapInPandas cut")
    assert i_cut != -1, p
    # root-first: the window (consumer) prints above the cut, with one
    # exchange between them — the bounded per-probe repartition
    i_win = p.find("Window")
    assert -1 < i_win < i_cut, p
    assert p[i_win:i_cut].count("Exchange hashpartitioning") == 1, p
    # below the cut, the cosine scoring projection sits directly on the
    # candidate distinct — no shuffle between scoring and the cut
    i_agg = p.find("HashAggregate", i_cut)
    assert i_agg != -1, p
    assert "Exchange" not in p[i_cut:i_agg], p


def test_tfidf_shuffle_joins_dfreq_and_keeps_lineage_lazy(spark):
    """q_text_tfidf: the vocabulary-sized doc-frequency table must NOT
    be pinned broadcast — with auto-broadcast disabled the tf x dfreq
    edge plans as a shuffle join; the only broadcast left is the 1-row
    corpus-count aggregate (BroadcastNestedLoopJoin from the hinted
    crossJoin), which replaced the old mid-plan df.count() action."""
    p = _plan_without_autobroadcast(spark, "q_text_tfidf")
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 0, p
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1, p


def test_partitioned_sink_read_prunes_partitions(spark):
    """q_sink_partitioned: the month-range filter must land in the
    scan's PartitionFilters (directory pruning — 12 of ~80 month
    partitions read), not be evaluated post-scan."""
    p = _formatted_plan(spark, "q_sink_partitioned")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m, p
    assert "o_month" in m.group(1), m.group(1)


def test_partitioned_read_dynamic_pruning(spark):
    """DPP (§4.2): joining the month-partitioned orders to a small
    filtered dim on the partition column must inject a runtime
    dynamicpruning subquery into the scan's PartitionFilters, so only
    the dim-selected month directories are read."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from artemia_airflow_spark.sources.files import write_partitioned_by_month
    from tests.conftest import SF_ORACLE

    out = os.path.join(tempfile.gettempdir(), "aas_dpp_orders")
    write_partitioned_by_month(spark, SF_ORACLE, out)
    fact = spark.read.parquet(out)
    dim = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.lit(12))
            ).alias("m")
        )
        .select(F.format_string("1995-%02d", "m").alias("o_month"))
        .filter(F.col("o_month") <= "1995-03")
    )
    old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        joined = fact.join(F.broadcast(dim), "o_month").groupBy("o_month").count()
        p = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", old)
    assert "dynamicpruning" in p.lower(), p


def test_gapfill_calendar_is_generated_not_scanned(spark):
    """q_gapfill: exactly one parquet scan (orders) — the calendar
    side comes from explode(sequence), and the join broadcasts."""
    p = _formatted_plan(spark, "q_gapfill")
    assert p.count("Location: InMemoryFileIndex") == 1
    assert "BroadcastHashJoin" in p


def test_bucketed_join_has_no_input_shuffle(spark):
    """q_sink_bucketed: both fact tables are bucketed 16 ways on the
    order key, so the join must read bucket i against bucket i with no
    Exchange below the join — the only exchange left is the small
    post-join aggregation.  At fixture scale size-based auto-broadcast
    would hide the bucketed join, so it is disabled — at 100 TB neither
    side broadcasts and the bucketed shuffle-free plan is what runs."""
    p = _plan_without_autobroadcast(spark, "q_sink_bucketed")
    join = re.search(r"SortMergeJoin|ShuffledHashJoin", p)
    assert join, p
    # no Exchange may feed the join: every Exchange in the plan must sit
    # ABOVE it (formatted plans list operators leaves-last, so exchanges
    # feeding the join would appear after the join line with higher ids)
    tree = p.split("\n\n")[0]
    join_line = next(
        i for i, ln in enumerate(tree.splitlines())
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
    )
    below = "\n".join(tree.splitlines()[join_line:])
    assert "Exchange" not in below, below
    assert "SelectedBucketsCount" in p or "Bucketed: true" in p, p


def test_asof_join_plans_as_partial_agg_not_window(spark):
    """q_join_asof (agg strategy): the per-left-row top-1 must compile
    to a partial/final aggregate pair around the exchange (map-side
    combine of the join fan-out — struct max plans as SortAggregate
    since a struct buffer isn't hash-aggregable), not a Window (which
    shuffles every joined row)."""
    import re

    p = _formatted_plan(spark, "q_join_asof")
    assert "Window" not in p, p
    assert len(re.findall(r"(?:Sort|Hash)Aggregate", p)) >= 2, p


def test_tpch_q6_pushes_every_predicate(spark):
    """q_tpch_q6: all three predicates (shipdate range, discount range,
    quantity bound) must reach the parquet scan — the query's whole
    100 TB cost model is row-group skipping."""
    p = _formatted_plan(spark, "q_tpch_q6")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, p
    f = m.group(1)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in f, (frag, f)


def test_chunking_is_codegen_no_shuffle_no_python(spark):
    """B90 scale claim: document chunking is a pure map-side codegen
    pipeline — no Exchange (shuffle), no Python eval node, and the
    scan reads only the two referenced columns."""
    p = _formatted_plan(spark, "q_text_chunk")
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


def test_stream_enrich_broadcasts_and_reads_minimal_dim(spark):
    """B91 scale claim: the dimension side is broadcast (stream side
    never shuffles for the join) and the dim scan is pruned to the
    join key + attached columns."""
    p = _formatted_plan(spark, "q_stream_enrich")
    assert "BroadcastHashJoin" in p, p
    m = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    dim_side = [s for s in m if "c_custkey" in s]
    # pruned BELOW the operator's attach set: the query only consumes
    # c_mktsegment, so Catalyst drops c_nationkey from the dim scan too
    assert dim_side and {
        c.split(":")[0] for c in dim_side[0].split(",")
    } == {"c_custkey", "c_mktsegment"}


def test_quantile_sketch_is_jvm_only_single_scan(spark):
    """B92 scale claim: the sketch query is pure JVM (no Python eval
    nodes) and reads the fact table ONCE — the multi-q fusion keeps
    both quantiles on one partials pass."""
    p = _formatted_plan(spark, "q_quantile_sketch")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert p.count("orders.parquet") == 1, p.count("orders.parquet")


def test_percentile_portable_is_single_scan(spark):
    """Round-12 rework (VERDICT r11 #1): the portable percentile twin
    binned each metric on its own histogram_partials pass — TWO full
    lineitem scans (Spark does not dedupe common subplans).  The
    stacked sketch must read lineitem ONCE, prune to the three
    referenced columns, and stay pure JVM."""
    p = _formatted_plan(spark, "q_agg_approx_percentile_portable")
    assert p.count("lineitem.parquet") == 1, p.count("lineitem.parquet")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_returnflag", "l_quantity", "l_extendedprice"}


def test_profile_scans_prune_to_one_column_each(spark):
    """B93 scale claim: each per-column profile pass reads exactly its
    one column (parquet column pruning — k columns cost k one-column
    scans, not k table scans)."""
    p = _formatted_plan(spark, "q_profile")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert len(schemas) == 5, schemas
    for s_ in schemas:
        cols = [c for c in s_.split(",") if c]
        assert len(cols) == 1, s_


def test_sql_text_plans_like_dataframe_flagship(spark):
    """Raw-SQL surface (q_sql_text): Catalyst plans SQL text through the
    same optimizer as the DataFrame API, so the flagship as text keeps
    the flagship's plan properties — pushed date filter, pruned scan,
    partial+final HashAggregate around the exchange (same pin as
    test_flagship_has_partial_aggregation)."""
    p = _formatted_plan(spark, "q_sql_text")
    assert len(re.findall(r"HashAggregate", p)) >= 2
    assert "Exchange" in p
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", p)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_returnflag", "l_linestatus", "l_shipdate",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    }


def test_sql_window_face_plan(spark):
    """q_sql_window: both OVER clauses (row_number rank + running
    decimal sum) plan from ONE hash-partitioned exchange on the nation
    key — two Window operators, exactly one non-broadcast Exchange —
    with the nation dim broadcast, same family as the DataFrame window
    pins."""
    p = _formatted_plan(spark, "q_sql_window")
    assert len(re.findall(r"\(\d+\) Window", p)) == 2
    assert "BroadcastHashJoin" in p
    non_bcast = re.findall(r"\(\d+\) Exchange", p)
    assert len(non_bcast) == 1, p  # one window shuffle, reused by both specs
    assert "CartesianProduct" not in p


def test_sql_subq_corr_face_plan(spark):
    """q_sql_subq_corr: the correlated COUNT decorrelates to
    aggregate-then-left-outer-join — the o_totalprice threshold is
    pushed to the orders scan BEFORE the aggregate, the aggregate is
    partial+final, and there is no nested-loop join (the shape the
    non-equi variant degenerates to — documented in sqltext.py)."""
    p = _formatted_plan(spark, "q_sql_subq_corr")
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(o_totalprice,150000", p)
    assert len(re.findall(r"HashAggregate", p)) >= 2
    assert "LeftOuter" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_sql_setop_face_plan(spark):
    """q_sql_setop: INTERSECT plans as a LeftSemi join, EXCEPT as a
    LeftAnti, both status filters reach their orders scans, and the
    final distinct is a partial+final HashAggregate — no
    CartesianProduct anywhere."""
    p = _formatted_plan(spark, "q_sql_setop")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,O\)", p)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,F\)", p)
    assert len(re.findall(r"HashAggregate", p)) >= 2
    assert "CartesianProduct" not in p


def test_validate_builds_all_rules_from_one_scan(spark):
    """q_validate: 5 rules, ONE orders scan — the rule rows stack from
    a single 1-row aggregate (the oracle's UNION ALL shape would scan
    per rule; the engine side must not)."""
    df = entrymod.queries()["q_validate"](spark, SF_ORACLE)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert p.count("orders.parquet") == 1, p
    assert len(re.findall(r"HashAggregate", p)) >= 2  # partial+final


def test_derived_partsupp_composites_plan_shapes(spark):
    """Round-7 TPC-H family pins.  Every plan may contain ONE
    BroadcastNestedLoopJoin: the partsupp derivation's 1-row
    supplier-count broadcast (a scalar, not a data join) — but never a
    CartesianProduct, and each query keeps its family's signature
    operator: Q2/Q11 the window rewrite, Q9/Q20 the left-semi gates,
    Q9 the pushed p_name contains-filter, Q2 the top-k TakeOrdered."""
    plans = {
        name: _formatted_plan(spark, name)
        for name in ("q_tpch_q2", "q_tpch_q9", "q_tpch_q11", "q_tpch_q16", "q_tpch_q20")
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
        assert n_bnlj <= 1, (name, n_bnlj)  # the 1-row count only
    assert "Window" in plans["q_tpch_q2"] and "TakeOrderedAndProject" in plans["q_tpch_q2"]
    assert "LeftSemi" in plans["q_tpch_q9"]
    assert re.search(r"PushedFilters: \[[^\]]*StringContains\(p_name,red\)", plans["q_tpch_q9"])
    assert "LeftSemi" in plans["q_tpch_q20"]
    assert "Window" in plans["q_tpch_q11"]
    assert len(re.findall(r"HashAggregate", plans["q_tpch_q16"])) >= 2


def test_q12_fact_fact_join_shape(spark):
    """q_tpch_q12 pin: the orders-lineitem join must stay an equi-join
    (shuffle or AQE-upgraded broadcast — never a cartesian), with
    partial+final aggregation and the derived-column filters applied
    BEFORE the join (lineitem side prefiltered, not joined raw)."""
    p = _formatted_plan(spark, "q_tpch_q12")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 0
    assert len(re.findall(r"HashAggregate", p)) >= 2
    # the ship_mode/day predicates are a Filter under the lineitem scan
    # side, upstream of the join (formatted explain puts the condition
    # on its own "Condition :" line under the node header)
    assert re.search(
        r"\(\d+\) Filter\n(?:[^\n]*\n){0,2}Condition : [^\n]*MAIL", p
    ), "lineitem prefilter missing"


def test_portable_oracle_tiers_stay_jvm_side(spark):
    """The round-9 portable-md5 tiers are pure expression plans: md5/
    substring/CASE/window only — NO Python evaluation node anywhere
    (the whole point of expression-derived hashes is paying zero
    Arrow/Python tax for oracle checkability)."""
    for name in (
        "q_dedup_simhash_portable",
        "q_dedup_minhash_portable",
        "q_dedup_substring_portable",
        "q_decontaminate_bloom_portable",
        "q_agg_kmv_portable",
        # ngram-verify: the gram frame is an eager localCheckpoint, so
        # the pin covers the visible band/pair/verify subtree (the
        # checkpointed gram pass is the same expression-only
        # word_ngrams the other tiers pin)
        "q_dedup_ngram_portable",
    ):
        p = _formatted_plan(spark, name)
        # (codegen spans only print in a FINAL AQE plan, so the pin is
        # the absence of any Python evaluation node, which formatted
        # plans always show)
        assert "EvalPython" not in p, f"{name} plan runs Python"


def test_kmv_reads_only_its_two_columns(spark):
    """KMV sketch state scans (event_type, user_id) and nothing else —
    column pruning reaches the events scan."""
    p = _formatted_plan(spark, "q_agg_kmv_portable")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"event_type", "user_id"}


def test_lsh_candidate_distinct_carries_ids_not_vectors(spark):
    """r11: lsh_topk's candidate dedup must aggregate on the ID PAIR
    only — the exchange feeding the distinct carries no embedding
    arrays (vectors re-attach afterwards: corpus hash join + broadcast
    probes), mirroring the q_dedup_embed_lsh shuffle contract."""
    import re as _re

    df = entrymod.queries()["q_sim_ann_lsh"](spark, SF_ORACLE)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # every distinct-aggregate key list in the plan: none may contain
    # an embedding/probe_vec column.  Guard against a vacuous pass: the
    # id-pair distinct MUST show up as at least one key list naming the
    # ids (r11 review — if Spark's formatted-explain key format ever
    # changes, this pin must fail loudly, not silently assert nothing).
    key_lists = [m.group(1) for m in
                 _re.finditer(r"Keys \[\d+\]: \[([^\]]*)\]", p)]
    assert any("vec_id" in k and "probe_id" in k for k in key_lists), p
    for k in key_lists:
        assert "embedding" not in k, k
        assert "probe_vec" not in k, k
    # the probe-vector re-attach is an explicit broadcast
    assert "BroadcastHashJoin" in p


def test_sq8_packed_encode_never_explodes_corpus(spark):
    """q_embed_quantize_packed: exactly ONE Generate in the plan — the
    quantizer TRAINER's posexplode.  The encode side must stay
    unexploded (arrays_zip + transform over the broadcast one-row
    quantizer arrays), which is the packed path's whole scale claim:
    no |corpus| x dim shuffle to produce the binary codes."""
    p = _formatted_plan(spark, "q_embed_quantize_packed")
    n_gen = len(re.findall(r"\(\d+\) Generate", p))
    assert n_gen == 1, (n_gen, p[:2000])
    assert "CartesianProduct" not in p


def test_fuzzy_join_is_codegen_plus_hash_joins(spark):
    """q_join_fuzzy: the SymSpell blocking claim in the plan — variant
    generation is two Generates (left/right deletion explodes), the
    candidate meet is an equi-join, and nothing plans as a cartesian
    or nested-loop product."""
    p = _formatted_plan(spark, "q_join_fuzzy")
    assert len(re.findall(r"\(\d+\) Generate", p)) == 2, p[:2000]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_semantic_portable_pairs_meet_in_equi_join(spark):
    """q_dedup_semantic_portable: within-cell pairs must meet in an
    ordinary equi-join on the bucket id (the O(n^2/k) SemDeDup trade)
    — never a cartesian/nested-loop all-pairs."""
    p = _formatted_plan(spark, "q_dedup_semantic_portable")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_multimodal_pipeline_portable_plan(spark):
    """q_multimodal_pipeline_portable (r12): the composed chain must
    stay three Arrow hops (decode -> resize -> frame-sample, all
    MapInPandas/mapInPandas — never row-at-a-time Python), with no
    join anywhere (payload rides through the stages; a doc_id re-join
    would shuffle the blobs a second time) and the only exchanges the
    two rollup aggregations."""
    p = _formatted_plan(spark, "q_multimodal_pipeline_portable")
    n_arrow = len(re.findall(r"\(\d+\) MapInPandas", p))
    assert n_arrow == 3, (n_arrow, p[:2000])
    assert "BatchEvalPython" not in p
    assert "Join" not in p, p[:2000]


def test_pack_firstfit_plan_is_one_grouped_arrow_pass(spark):
    """q_pack_firstfit (r12 oracle upgrade): per-shard sequential
    packing must plan as ONE FlatMapGroupsInPandas over a hash
    exchange on the shard key — parallelism = shards, no join, no
    row-at-a-time Python."""
    p = _formatted_plan(spark, "q_pack_firstfit")
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", p)) == 1, p[:2000]
    assert "BatchEvalPython" not in p
    assert "Join" not in p, p[:2000]


def test_pq_portable_plan_mirrors_production_shape(spark):
    """q_sim_pq_portable / q_sim_ivf_pq_portable (r12): the portable
    twins must keep the production PQ scale shape — the
    codebook/centroid/LUT relations arrive via broadcast joins, the
    ADC cut runs the shared two-phase machinery (an Arrow mapInPandas
    partial cut before the final window), and nothing plans as a
    cartesian or nested-loop product."""
    for name in ("q_sim_pq_portable", "q_sim_ivf_pq_portable"):
        p = _formatted_plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BroadcastHashJoin" in p, name
        # the production _bounded_topk partial cut is an Arrow mapInPandas
        assert "MapInPandas" in p or "FlatMapGroupsInPandas" in p, (
            name, p[:2000])


def test_behavioral_ops_single_fact_exchange(spark):
    """q_sessionize / q_funnel / q_retention (r12): each behavioral
    operator must hash-partition the events fact exactly ONCE (on
    user_id) — the chained windows and the per-(user, ...) aggregate
    reuse that partitioning (HashPartitioning(user_id) satisfies the
    grouping's ClusteredDistribution).  Any further exchange must be
    aggregate-sized (stage/cohort keys), never a second fact shuffle,
    and nothing may plan as a cartesian product."""
    for name, agg_keys in (
        ("q_sessionize", ()),  # session agg reuses user_id partitioning
        ("q_funnel", ("stage_idx",)),
        ("q_retention", ("cohort_week",)),
    ):
        p = _formatted_plan(spark, name)
        # formatted mode puts Exchange args on their own "Arguments:"
        # line — count fact repartitionings by key, not by operator name
        fact_exchanges = re.findall(r"hashpartitioning\(user_id", p)
        assert len(fact_exchanges) == 1, (name, p[:2000])
        assert "CartesianProduct" not in p, name
        if name == "q_funnel":
            # the suffix-sum join (depth >= stage_idx) is non-equi BY
            # SEMANTICS, but both sides are aggregate-sized (depth
            # histogram x stage dim, <= |stages|+1 rows each) — the
            # BNLJ must sit ABOVE the depth HashAggregate, never
            # against the per-user relation.
            assert "BroadcastNestedLoopJoin" in p
            # ...and the depth histogram aggregate exists for it to sit on
            assert re.search(r"Keys \[1\]: \[depth", p), p[:2000]
        else:
            assert "BroadcastNestedLoopJoin" not in p, name
        for k in agg_keys:
            assert re.search(rf"hashpartitioning\({k}", p), (name, k)


def test_dedup_segments_two_pass_no_third_scan(spark):
    """q_dedup_segments (r12): the segment explode + frequency agg may
    execute the scan lineage at most TWICE (Spark does not dedupe
    common subplans — the tf-idf shape); the per-doc conditional
    reassembly must add no third scan, no extra Generate, and no
    cartesian."""
    p = _formatted_plan(spark, "q_dedup_segments")
    assert p.count("documents.parquet") <= 2, p[:1500]
    assert len(re.findall(r"\(\d+\) Generate", p)) == 2, p[:1500]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_filtered_similarity_pushes_label_to_scan(spark):
    """q_sim_topk_filtered (r12): the metadata predicate must reach the
    parquet scan (PushedFilters shows label + vec_id), so filtered
    retrieval reads |matching| rows, not |corpus| — and the two-phase
    cut machinery stays (MapInPandas partial before the final
    window)."""
    p = _formatted_plan(spark, "q_sim_topk_filtered")
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(label,3\)", p), p[:1500]
    assert "MapInPandas" in p, p[:1500]


def test_bm25_plan_broadcasts_and_bounds_scans(spark):
    """q_retrieval_bm25 (r12): the query relation and corpus scalars
    broadcast; the corpus parquet appears at most 4x in the initial
    plan (tf explode, dfreq over the same aggregate, unexploded
    totals, query-term derivation — dfreq shares tf's aggregate
    exchange at runtime), and nothing goes cartesian."""
    p = _formatted_plan(spark, "q_retrieval_bm25")
    assert p.count("documents.parquet") <= 4, p[:1500]
    assert p.count("BroadcastHashJoin") >= 2, p[:1500]
    assert "CartesianProduct" not in p


def test_collocations_plan_two_scans_three_generates(spark):
    """q_text_collocations (r12): exactly two corpus scans (unigrams,
    zipped bigrams) and three Generates (unigram explode, pair
    explode, the 2-row melt) — the unigram relation is joined once,
    never twice."""
    p = _formatted_plan(spark, "q_text_collocations")
    assert p.count("documents.parquet") == 2, p[:1500]
    assert len(re.findall(r"\(\d+\) Generate", p)) == 3, p[:1500]
    assert "CartesianProduct" not in p


def test_matryoshka_audit_plan_two_scans(spark):
    """q_embed_matryoshka (r12): the retention audit reads embeddings
    at most twice (v6 components + the label attach) with a single
    posexplode Generate."""
    p = _formatted_plan(spark, "q_embed_matryoshka")
    assert p.count("embeddings.parquet") <= 2, p[:1500]
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1, p[:1500]


def test_mmr_selection_is_one_cogrouped_arrow_pass(spark):
    """q_retrieval_mmr (r12): greedy selection runs as ONE cogrouped
    Arrow pass (FlatMapCoGroupsInPandas) over bounded per-probe
    relations — not a stage-per-pick plan — and nothing goes
    cartesian."""
    p = _formatted_plan(spark, "q_retrieval_mmr")
    assert "FlatMapCoGroupsInPandas" in p, p[:1500]
    assert "CartesianProduct" not in p


def test_postings_exchange_is_bounded_by_partial_cut(spark):
    """q_text_postings (r13, VERDICT r12 wrong #2): the capped posting
    list must NOT plan as a global per-token ranking window over the
    full (doc, token) relation — the map-side partial top-k (an Arrow
    MapInPandas cut, the similarity-family machinery) must sit below
    the token exchange so a stop word's postings never serialize one
    reducer.  doc_freq stays a plain partially-aggregated count (a
    pre-exchange HashAggregate on token), and the two vocabulary-sized
    relations meet in an equi-join, never a cartesian."""
    p = _formatted_plan(spark, "q_text_postings")
    assert "MapInPandas" in p, p[:2000]
    # the partial cut feeds the window; the window's exchange is the
    # one hashpartitioning(token...) BELOW the row_number sort — and
    # doc_freq's aggregate contributes the other; no third fact-sized
    # token exchange exists
    assert len(re.findall(r"hashpartitioning\(token", p)) == 2, p[:2000]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivf_portable_routing_stays_broadcast_and_pruned(spark):
    """q_sim_ivf_portable (r13): the routing-only twin must keep the
    production IVF scale shape — centroids and the |probes| x 3
    routing relation arrive via broadcast joins, candidate pruning is
    a cell equi-join (never a cartesian/nested-loop product), and no
    corpus-sized relation feeds a global window."""
    p = _formatted_plan(spark, "q_sim_ivf_portable")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3, p[:2000]


def test_dsir_single_doc_bucket_exchange_and_broadcast_contrib(spark):
    """q_select_dsir (r13): the (doc, bucket) aggregate is the ONE
    corpus-sized exchange (<= 256 rows per doc, map-side combined);
    the 256-row contribution table arrives via broadcast; the final
    cut is a TakeOrderedAndProject, and nothing goes cartesian.  The
    scan lineage may execute at most twice (bucket stats + weights —
    the BM25 shared-aggregate precedent; AQE reuses the identical
    exchange at runtime)."""
    p = _formatted_plan(spark, "q_select_dsir")
    assert p.count("documents.parquet") <= 2, p[:1500]
    assert "BroadcastHashJoin" in p, p[:1500]
    assert "TakeOrderedAndProject" in p, p[:1500]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_weighted_sample_is_map_side_plus_take_ordered(spark):
    """q_sample_weighted (r13): the A-ES key is map-side codegen over
    the scan (no exchange before the cut other than the top-k's own
    singlePartition gather) and the 50-row cut plans as
    TakeOrderedAndProject — a 100 TB corpus never globally sorts."""
    p = _formatted_plan(spark, "q_sample_weighted")
    assert "TakeOrderedAndProject" in p, p[:1500]
    assert p.count("documents.parquet") == 1, p[:1500]
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_pagerank_iterations_never_rescan_the_fact_table(spark):
    """q_graph_pagerank (r13): edges/nodes are lineage-truncated after
    the single user_id exchange + distinct-type aggregate, so the
    final 3-iteration plan contains NO events.parquet scan at all —
    iterations run over node/edge-sized checkpointed relations with
    broadcast joins only (no shuffle join can appear at |types| scale)."""
    p = _formatted_plan(spark, "q_graph_pagerank")
    assert "events.parquet" not in p, p[:1500]
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_kmeans_iterations_run_on_checkpointed_comps(spark):
    """q_cluster_kmeans (r13): the component relation is lineage-
    truncated once, so the 2-iteration + final-assignment plan never
    rescans embeddings.parquet; centroid relations enter every join
    as broadcasts and nothing goes cartesian."""
    p = _formatted_plan(spark, "q_cluster_kmeans")
    assert "embeddings.parquet" not in p, p[:1500]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_attribution_shares_one_user_exchange(spark):
    """q_attribution (r13): both carried-touch windows share the ONE
    user_id exchange (same partition + order), so the plan contains
    exactly one hashpartitioning(user_id ...) exchange and no join."""
    p = _formatted_plan(spark, "q_attribution")
    assert p.count("hashpartitioning(user_id") == 1, p[:2000]
    assert "Join" not in p, p[:2000]


def test_cluster_balanced_sample_uses_partial_cut(spark):
    """q_sample_cluster_balanced (r13): the per-cluster cut rides the
    map-side partial top-k (Arrow MapInPandas below the cell
    exchange), the component relation is checkpointed (no
    embeddings.parquet rescan), and nothing goes cartesian — a dense
    cluster's membership never serializes one reducer."""
    p = _formatted_plan(spark, "q_sample_cluster_balanced")
    assert "MapInPandas" in p, p[:2000]
    assert "embeddings.parquet" not in p, p[:1500]
    assert "CartesianProduct" not in p


def test_mad_and_psi_plans_do_not_reexpand_stat_passes(spark):
    """q_outliers_mad / q_drift_psi (r13 plan audit): the tiny
    per-group stat relations are lineage-truncated, so downstream
    consumers re-expand NEITHER the percentile passes (MAD's static
    plan held seven fact scans before the cut) nor the range pass —
    the final plans carry at most the flags pass (MAD: 1 scan) and
    the midpoint + binning passes (PSI: 2 scans)."""
    p = _formatted_plan(spark, "q_outliers_mad")
    assert p.count("events.parquet") <= 1, p[:1500]
    p = _formatted_plan(spark, "q_drift_psi")
    assert p.count("events.parquet") <= 2, p[:1500]


def test_weighted_group_sample_uses_partial_cut(spark):
    """q_sample_weighted_group (r13): the per-stratum cut rides the
    map-side partial top-k (Arrow MapInPandas below the lang
    exchange), one documents scan, no join — the dominant language's
    corpus never serializes one reducer."""
    p = _formatted_plan(spark, "q_sample_weighted_group")
    assert "MapInPandas" in p, p[:2000]
    assert p.count("documents.parquet") == 1, p[:1500]
    assert "Join" not in p


def test_classifier_presence_exchange_broadcast_weights_pruned_priors(spark):
    """q_select_classifier (r14): the distinct (doc, bucket) presence
    relation is the one corpus-sized exchange and feeds both the
    256-row doc frequencies and the per-doc score (the DSIR seam);
    the weight table and priors arrive via BroadcastHashJoin (the
    1-row prior joins the 256-row stats on a literal key, never the
    corpus, and never as a nested-loop); the cut plans as
    TakeOrderedAndProject.  documents.parquet may appear at most
    thrice: bucket stats + scores (the shared lineage printed twice,
    AQE reuses the exchange) + the column-pruned 1-row prior scan."""
    p = _formatted_plan(spark, "q_select_classifier")
    assert p.count("documents.parquet") <= 3, p[:1500]
    assert "BroadcastHashJoin" in p, p[:1500]
    assert "TakeOrderedAndProject" in p, p[:1500]
    assert "CartesianProduct" not in p
    # exactly ONE nested-loop join: the 1-row prior attached to the
    # 256-row bucket stats (bounded both sides) -- never the corpus
    assert p.count("BroadcastNestedLoopJoin Cross") == 1, p[:1500]
    assert "SortMergeJoin" not in p


def test_session_attribution_shares_one_user_exchange(spark):
    """q_attribution_session (r14): the session index, carried-touch
    window, per-(user, session) rollup, and first-conversion rank all
    ride ONE hashpartitioning(user_id) exchange — hashpartitioning
    on user satisfies every (user, session_idx) clustered
    distribution downstream, so Catalyst adds sorts, never a second
    corpus exchange; the only other exchange is channel-sized; no join
    appears at all."""
    p = _formatted_plan(spark, "q_attribution_session")
    assert p.count("hashpartitioning(user_id") == 1, p[:2000]
    assert "Join" not in p, p[:2000]
    assert "CartesianProduct" not in p


def test_r15_panel_faces_single_scan_no_corpus_join(spark):
    """The r15 one-pass panels (epoch plan, influence, compression)
    each scan documents ONCE and join nothing — the per-source
    aggregate plus unpartitioned-window totals shape; langid-quality's
    only joins are broadcast margins of the lineage-truncated
    confusion; embed-outliers reads embeddings at most twice (stats
    pass truncated + score pass) with broadcast-only joins."""
    for name in ("q_mix_epoch_plan", "q_select_influence",
                 "q_text_compression"):
        p = _formatted_plan(spark, name)
        assert p.count("documents.parquet") == 1, (name, p[:1500])
        assert "Join" not in p, (name, p[:1500])
    p = _formatted_plan(spark, "q_text_langid_quality")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    p = _formatted_plan(spark, "q_embed_outliers")
    assert p.count("embeddings.parquet") <= 2, p[:1500]
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_r15_late_faces_plan_shapes(spark):
    """The three late r15 faces: curriculum reads documents ONCE in
    the query plan (the score histogram is lineage-truncated and the
    md5-argmin rides the rollup aggregate — no third-scan ranking
    window) and joins nothing corpus-sized; the two brute-tier audit
    faces never degrade to a CartesianProduct (their all-pairs work
    flows through component equi-joins / the broadcast candidate
    cross)."""
    p = _formatted_plan(spark, "q_curriculum")
    assert p.count("documents.parquet") == 1, p[:1500]
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    for name in ("q_pairs_triplets", "q_sim_recall_portable"):
        p = _formatted_plan(spark, name)
        assert "CartesianProduct" not in p, (name, p[:1500])


def test_funnel_value_single_user_exchange(spark):
    """q_funnel_value (r15): the session index, carried-touch window,
    four chained entry-time windows, and the per-user collapse all
    ride ONE hashpartitioning(user_id) exchange over ONE events scan;
    the only join is the broadcast nested-loop of the 4-row stage dim
    against the ≤5-row depth histogram — never the corpus."""
    p = _formatted_plan(spark, "q_funnel_value")
    assert p.count("hashpartitioning(user_id") == 1, p[:2000]
    assert p.count("events.parquet") == 1, p[:2000]
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_weekly_churn_single_user_exchange_dedup_in_window(spark):
    """q_churn_weekly (r14): the (user, week) dedup happens via a
    lag-equality filter INSIDE the one user_id partitioning (no
    separate distinct exchange on (user, week)); everything after is
    week-grain.  Exactly one hashpartitioning(user_id ...) exchange,
    no join anywhere."""
    p = _formatted_plan(spark, "q_churn_weekly")
    assert p.count("hashpartitioning(user_id") == 1, p[:2000]
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_rate_anomalies_bucket_grain_after_one_corpus_exchange(spark):
    """q_rate_anomalies (r14): the corpus collapses through ONE
    map-side-combined (type, bucket) count aggregate; the trailing
    window's type-keyed exchange then carries only the bucket-grain
    relation.  events.parquet scans once; no join."""
    p = _formatted_plan(spark, "q_rate_anomalies")
    assert p.count("events.parquet") == 1, p[:2000]
    assert "Join" not in p


def test_budget_select_two_phase_never_sorts_the_corpus(spark):
    """q_select_budget (r14): the two-phase cut's FINAL plan scans the
    corpus exactly twice (higher-bin map-side filter + threshold-bin
    boundary window) — the tiny stats/budget/threshold relations are
    lineage-truncated so they cannot re-expand multiplicatively (10
    scans before the cut), and no corpus-wide sort/merge join or
    cartesian appears; the only global Sort ranks the threshold bin."""
    p = _formatted_plan(spark, "q_select_budget")
    assert p.count("documents.parquet") == 2, p[:2000]
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_curriculum_two_phase_unpartitioned_window_is_bin_grain(spark):
    """q_curriculum (r16, VERDICT r15 #4): the quantile thresholds run
    the token-budget two-phase recipe — the ONLY unpartitioned window
    ranks the fixed <=1024-row BIN histogram (windowspec ordered by
    __bin, fed by the bin-grain aggregate), exact score-grain ranking
    happens strictly inside the quantile-indexed boundary window
    (partitioned by k), and no unpartitioned window ever orders the
    distinct-score relation.  documents scans once (the histogram is
    lineage-truncated); no corpus-sized join shape appears."""
    import re

    p = _formatted_plan(spark, "q_curriculum")
    assert p.count("documents.parquet") == 1, p[:2000]
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    # the unpartitioned running sum orders __bin (bounded by the fixed
    # grid), and the score ordering appears only under the k partition
    assert re.search(r"windowspecdefinition\(__bin#\d+L ASC", p), p[:2000]
    assert re.search(r"windowspecdefinition\(k#\d+, score_e6#\d+L ASC", p), p[:2000]
    assert not re.search(r"windowspecdefinition\(score_e6#\d+L ASC", p), (
        "an unpartitioned window orders the distinct-score relation"
    )


def test_corpus_pipeline_no_stage_rescans_the_corpus(spark):
    """q_corpus_pipeline (r16, VERDICT r15 #3; stage list r18): the
    composed capstone materializes every fan-out stage (lineage
    truncation = the stage-store design), so the raw corpus is scanned
    exactly ONCE for the train side (the scrub+langid stage) and ONCE
    for the eval side (the eval-grams branch, materialized on a second
    driver thread — guide §2.6); every other stage — exact dedup
    (which now subsumes the single-consumer classifier gate, r18),
    near-dup LSH, decontaminate, mix+split+pack — and the final
    manifest plan read ONLY the previous stage's materialization,
    never the parquet source again."""
    from artemia_airflow_spark.catalog import scan as cat_scan
    from artemia_airflow_spark.operators.curation import corpus_pipeline
    from pyspark.sql import functions as F

    d = cat_scan(spark, SF_ORACLE, "documents")
    audit: list = []
    manifest = corpus_pipeline(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        audit=audit,
    )
    names = [n for n, _ in audit]
    assert names == [
        "eval-grams", "scrub+langid", "exact-dedup", "near-dedup",
        "decontaminate", "mix+split+pack",
    ], names
    expected_scans = {
        "eval-grams": 1,       # the ONE eval-side corpus scan
        "scrub+langid": 1,     # the ONE train-side corpus scan
        "exact-dedup": 0,      # reads the scrub+langid stage store only
        "near-dedup": 0,
        "decontaminate": 0,    # reads the materialized eval-grams branch
        "mix+split+pack": 0,
    }
    for name, plan in audit:
        got = plan.count("documents.parquet")
        assert got == expected_scans[name], (name, got, plan[:1200])
    final = manifest._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("extended"))
    assert final.count("documents.parquet") == 0, final[:1200]


def test_corpus_pipeline_repeat_reuses_generated_classes(spark):
    """A repeated q_corpus_pipeline run finds its generated classes in
    Spark's codegen cache instead of recompiling them.  The face needs
    ~138 classes; with Spark's default 100-entry LRU every repeat
    recompiled ~130 of them.  A repeat may still compile a few whole-stage
    classes: AQE numbers codegen stages in the order it plans query
    stages, which can vary between runs, and the stage id is part of the
    class text (measured 0, 4 or 8)."""
    from artemia_airflow_spark.session import codegen_compiles

    def run() -> int:
        before = codegen_compiles(spark)
        entrymod.queries()["q_corpus_pipeline"](spark, SF_ORACLE) \
            .write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    run()
    repeat = run()
    assert repeat <= 16, repeat


def _df_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_label_attach_shuffle_tier_above_cap(spark):
    """triplet_mining / knn_label_noise (VERDICT r16 item 3): above
    ``max_broadcast_labels`` the (id, label) relation must NOT be
    broadcast — with auto-broadcast disabled, the only
    BroadcastExchange left in the forced-shuffle plan is the bounded
    anchors/probes relation, and the label joins plan as shuffle
    joins.  Both tiers return identical rows (value-neutral)."""
    from artemia_airflow_spark.operators.similarity import (
        knn_label_noise, triplet_mining,
    )

    rows = [(i, "AB"[i % 2], [float(i), float(i % 7)]) for i in range(20)]
    d = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    kw = dict(id_col="vec_id", vec_col="embedding", label_col="label")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the tier choice itself: identity above the cap, broadcast at
        # or below it (both operators route through this one helper)
        from pyspark.sql import functions as SF

        from artemia_airflow_spark.operators.similarity import (
            _label_join_hint,
        )

        labels = d.select("vec_id", "label")
        assert _label_join_hint(labels, 0)(labels) is labels
        hinted = _label_join_hint(labels, 100)(labels)
        assert hinted is not labels  # F.broadcast wraps
        assert _label_join_hint(labels, 100) is SF.broadcast
        # knn_label_noise exposes the label joins in its final plan
        # (triplet_mining lineage-truncates d2, hiding them — its tier
        # is pinned by the shared helper above + value equality below):
        # shuffle tier = probes broadcast only; broadcast tier = +2.
        p = _df_plan(spark, knn_label_noise(
            d, **kw, n_probes=4, k=3, max_broadcast_labels=0))
        assert "SortMergeJoin" in p, p[:2000]
        pb = _df_plan(spark, knn_label_noise(d, **kw, n_probes=4, k=3))
        # exactly the two label-attachment joins move off broadcast
        # (count plan NODES — formatted output lists each node twice)
        def n_bcast(plan):
            return len(re.findall(r"\(\d+\) BroadcastExchange", plan))

        assert n_bcast(pb) - n_bcast(p) == 2, (p[:2000], pb[:2000])
        for fn, extra in ((triplet_mining, {"n_anchors": 4}),
                          (knn_label_noise, {"n_probes": 4, "k": 3})):
            shuffled = fn(d, **kw, **extra, max_broadcast_labels=0)
            broadcast = fn(d, **kw, **extra)
            srows = sorted(map(str, shuffled.collect()))
            brows = sorted(map(str, broadcast.collect()))
            assert srows == brows, fn.__name__
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_behavior_pipeline_single_user_exchange(spark):
    """q_behavior_pipeline (r17, B185): the four behavioral faces
    share ONE events scan and ONE hashpartitioning(user_id) exchange
    end-to-end — the session-store stage plan (captured via the audit
    hook, pre-truncation) shows exactly one of each, and the final
    four-panel plan reads only the truncated session store (zero
    events scans, zero user_id exchanges — the panel aggregates key on
    depth/channel/cohort, never on user_id alone)."""
    from artemia_airflow_spark.catalog import scan as cat_scan
    from artemia_airflow_spark.operators.behavior import behavior_pipeline

    e = cat_scan(spark, SF_ORACLE, "events")
    audit = []
    out = behavior_pipeline(
        e, ["signup", "view", "click", "purchase"], "purchase",
        audit=audit,
    )
    (name, stage_plan), = audit
    assert name == "session-store"
    # a SINGLE-KEY user_id exchange is the fact-sized shuffle; the
    # funnel panel's distinct-(user, depth) exchange keys on the PAIR
    # (hashpartitioning(user_id#N, depth#M, ...)) over session-grain
    # data and must not be confused with it
    user_exchange = re.compile(r"hashpartitioning\(user_id#\d+L?, \d+\)")
    assert stage_plan.count("events.parquet") == 1, stage_plan[:2000]
    assert len(user_exchange.findall(stage_plan)) == 1, stage_plan[:2000]
    final = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("extended"))
    assert final.count("events.parquet") == 0, final[:2000]
    assert not user_exchange.findall(final), final[:2000]
    assert "CartesianProduct" not in final
