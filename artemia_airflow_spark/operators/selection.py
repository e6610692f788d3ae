"""Targeted data selection for LLM training corpora (r13): DSIR-style
hashed n-gram importance weighting (Xie et al. 2023, "Data Selection
for Language Models via Importance Resampling" — public method).

Given a RAW corpus and a TARGET subset (the distribution you want more
of: a trusted domain, a language, a curated seed set), estimate bucket
multinomials over hashed unigram+bigram features for both, score every
raw document by its log importance ratio sum(count_b * (ln p_target_b
- ln p_raw_b)), and keep the top-k.  This is the standard cheap
alternative to model-based quality classifiers for steering a 100 TB
crawl toward a target domain.

Scale shape: ONE corpus scan — tokens and adjacent bigrams explode
from the same array, the md5 bucket is map-side codegen per
occurrence, and the first aggregate collapses to (doc, bucket) counts
(<= 256 rows per document crossing the exchange, map-side combined).
That aggregate is MATERIALIZED (localCheckpoint) because both
downstream consumers — the 256-row per-bucket statistics and the
per-document weights — read it and Spark does not dedupe common
subplans: the join-key isnotnull filter Catalyst pushes into one
branch makes the two subtrees unequal, so without the checkpoint the
whole scan+tokenize+md5+aggregate executed TWICE (r17, guide §3.3 /
§5; plans/r17/q_select_dsir_before.txt nodes 1-8 vs 9-15).  The
bucket log-ratio table is 256 rows and broadcasts, and the final cut
is a global TakeOrderedAndProject.  Nothing corpus-sized shuffles
twice and no vocabulary-sized relation ever exceeds the bucket count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.functions.core import cut
from artemia_airflow_spark.plans.registry import declared
from artemia_airflow_spark.session import ensure_engine_conf

_N_BUCKETS = 256  # 2 hex chars of md5 — the CMS/portable-oracle recipe


def dsir_weights(
    df: DataFrame, text_col: str, id_col: str, is_target_col: str,
) -> DataFrame:
    """Per-document DSIR importance weight (1e-6-scaled BIGINT).

    Features are whitespace unigrams + adjacent bigrams hashed to 256
    buckets via a 2-hex md5 prefix (engine-portable, the CMS bucket
    recipe).  Bucket probabilities are Laplace-smoothed (alpha=1);
    the per-bucket log ratio collapses to ONE ln of an exact rational
    ``((ct+1)*(Tr+256)) / ((cr+1)*(Tt+256))`` — integer products stay
    < 2^53 at every test SF, so the double division is correctly
    rounded and both engines feed ln the identical argument (one
    transcendental per bucket instead of two, half the libm surface;
    contributions e6-quantize BEFORE the per-doc sum so the weight is
    an order-free integer aggregate, the BM25 recipe).  At true 100 TB
    feature totals the integer products would pass 2^53: the weights
    remain correct (doubles carry the magnitude; ln is insensitive to
    the last ulp), only bit-for-bit cross-engine portability of the
    test oracle degrades.

    Returns (id_col, weight_e6).  Selection = order by (weight desc,
    id) and cut — :func:`q_select_dsir` keeps the top-k face; the
    paper's Gumbel-noise resampling drops in by adding a per-row
    perturbation before the cut.
    """
    from artemia_airflow_spark.functions.core import spread_for_compute

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # project to the three needed columns, then spread: a local
    # single-file scan arrives as ONE partition and serializes the
    # tokenize/md5 codegen onto one core (no-op at scale — guide §2.5)
    rows = spread_for_compute(
        df.select(F.col(id_col), F.col(is_target_col).alias("__t"),
                  F.col(text_col))
    ).select(
        id_col, "__t",
        F.explode(F.concat(toks, bigrams)).alias("__feat"),
    )
    # one exchange: (doc, bucket) counts, <= 256 rows per doc —
    # materialized because bs AND the join-back both consume it (the
    # pushed isnotnull(bucket) join-key filter breaks subtree
    # identity, so exchange reuse never fires and the corpus would
    # tokenize twice)
    # kept, sf0.1 cut -> none: 74.64 -> 10.30 MB read, 5.28 -> 9.44 MB shuffled
    db = cut(
        rows.select(
            id_col, "__t",
            F.substring(F.md5(F.col("__feat")), 1, 2).alias("bucket"),
        )
        .groupBy(id_col, "__t", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "selection.dsir_weights.db",
    )
    bs = db.groupBy("bucket").agg(
        F.sum("cnt").alias("cr"),
        F.sum(F.when(F.col("__t"), F.col("cnt")).otherwise(F.lit(0)))
        .alias("ct"),
    )
    # corpus totals ride the 256-row relation as unpartitioned window
    # sums (the _with_global recipe) — never a second corpus pass
    w_all = Window.partitionBy()
    bs = bs.withColumn("tr", F.sum("cr").over(w_all)).withColumn(
        "tt", F.sum("ct").over(w_all)
    )
    nb = F.lit(_N_BUCKETS)
    ratio = (
        (F.col("ct") + 1) * (F.col("tr") + nb)
    ).cast("double") / ((F.col("cr") + 1) * (F.col("tt") + nb)).cast("double")
    contrib = bs.select(
        "bucket",
        F.floor(F.log(ratio) * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("bigint").alias("c6"),
    )
    return (
        db.join(F.broadcast(contrib), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("c6")).alias("weight_e6"))
    )


@declared(
    "q_select_dsir",
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
      SELECT doc_id, is_t, substr(md5(feat), 1, 2) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM feats GROUP BY doc_id, is_t, substr(md5(feat), 1, 2)
    ), bs AS (
      SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr,
             CAST(SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS BIGINT) AS ct
      FROM db GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
      FROM bs
    ), contrib AS (
      SELECT bucket,
             CAST(floor(ln(
               CAST((ct + 1) * (tr + 256) AS DOUBLE)
               / CAST((cr + 1) * (tt + 256) AS DOUBLE)
             ) * 1000000.0 + 0.5) AS BIGINT) AS c6
      FROM bs CROSS JOIN tot
    ), w AS (
      SELECT doc_id, CAST(SUM(cnt * c6) AS BIGINT) AS weight_e6
      FROM db JOIN contrib USING (bucket) GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, weight_e6,
             ROW_NUMBER() OVER (ORDER BY weight_e6 DESC, doc_id) AS rank
      FROM w
    )
    SELECT doc_id, weight_e6, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def q_select_dsir(spark, sf_dir):
    """DSIR importance selection, FULL hash-match oracle: target =
    English documents, raw = the whole corpus; top-20 docs by hashed
    unigram+bigram log importance ratio.  Counts are exact integers,
    each bucket's contribution is ONE ln of an exactly-represented
    rational e6-floored to a BIGINT, and the per-doc weight is an
    order-free integer sum — so DuckDB attests weights and ranking
    value-for-value (the BM25/tfidf transcendental precedent)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    weights = dsir_weights(
        d.withColumn("__is_t", F.col("lang") == "en"),
        "text", "doc_id", "__is_t",
    )
    ranked = weights.orderBy(
        F.col("weight_e6").desc(), F.col("doc_id")
    ).limit(20)
    w = Window.orderBy(F.col("weight_e6").desc(), F.col("doc_id"))
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


def weighted_sample_keys(
    df: DataFrame, weight_col: str, id_col: str, *, salt: str = "ws",
) -> DataFrame:
    """A-ES weighted-sampling key per row (Efraimidis & Spirakis 2006,
    "Weighted random sampling with a reservoir" — public method): rank
    rows by ``u^(1/w)`` descending and the top-k is an exact weighted
    sample WITHOUT replacement.  The uniform is deterministic —
    ``u = (hx + 1) / 2^48`` from the first 12 hex chars of
    ``md5(salt ':' id)`` — so the sample is reproducible across runs
    AND engines (the stratified-sampling hash-threshold precedent,
    relational2.py), and re-salting draws an independent sample.

    Portability: the numerator is an exact integer <= 2^48 and the
    divisor a power of two, so ``u`` is the identical double in every
    IEEE engine; ranking uses ``ln(u)/w`` (same order as u^(1/w),
    one transcendental, no pow), e9-quantized via the engine-shared
    ``floor(x*1e9 + 0.5)`` so DuckDB attests keys value-for-value.
    Rows with weight <= 0 or NULL get a NULL key (never sampled) —
    A-ES has no mass for them; callers keep the contract visible.

    Scale shape: pure map-side codegen — one md5 + one ln per row, no
    exchange here at all; the selection cut downstream is
    ``ORDER BY key DESC LIMIT k`` which Spark plans as
    TakeOrderedAndProject (per-partition partial top-k, k rows to the
    driver), so a 100 TB corpus never globally sorts.
    """
    hx = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
        1, 12,
    )
    u = (F.conv(hx, 16, 10).cast("long") + F.lit(1)).cast("double") / F.lit(
        float(2**48)
    )
    w = F.col(weight_col).cast("double")
    key = F.when(
        w > 0,
        F.floor(F.log(u) / w * F.lit(1_000_000_000.0) + F.lit(0.5))
        .cast("bigint"),
    )
    return df.withColumn("key_e9", key)


@declared(
    "q_sample_weighted",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             CAST(floor(
               ln((CAST(concat('0x', substr(
                     md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) + 1) / 281474976710656.0)
               / CAST(n_chars AS DOUBLE) * 1000000000.0 + 0.5)
             AS BIGINT) AS key_e9
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT doc_id, source, n_chars, key_e9,
             ROW_NUMBER() OVER (ORDER BY key_e9 DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT doc_id, source, n_chars, key_e9, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 50
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement, FULL hash-match oracle:
    the 50 documents drawn with probability proportional to length
    (weight = n_chars) under the deterministic A-ES key — the
    curation move for "sample a fixed-token budget favoring long/high-
    quality docs" at corpus scale.  DuckDB computes the identical
    md5-uniform, single-ln key and ranking, so the driver attests the
    whole sampler value-for-value."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = weighted_sample_keys(d, "n_chars", "doc_id").select(
        "doc_id", "source", "n_chars", "key_e9"
    )
    top = keyed.orderBy(F.col("key_e9").desc(), F.col("doc_id")).limit(50)
    w = Window.orderBy(F.col("key_e9").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def hash_split(
    df: DataFrame, id_col: str, *, salt: str = "split",
    val_permille: int = 100, test_permille: int = 100,
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = the first 12
    md5 hex chars of ``salt ':' id`` mod 1000 (the stratified-sampling
    hash-threshold recipe) — test takes the lowest ``test_permille``
    buckets, val the next ``val_permille``, train the rest.  Hash
    splitting is the ONLY split that stays stable as the corpus grows:
    a doc's split never changes when other docs arrive, so eval sets
    stay frozen across recrawls (no reshuffling leakage), and
    re-salting draws an independent split.

    Scale shape: one md5 + one mod per row, map-side codegen, no
    exchange — the split column composes with any downstream write
    (`partitionBy("split")` gives physically separated sets).

    NULL ids get a NULL split (r13 review: ``concat_ws`` would
    otherwise silently collapse every NULL-id row into the one bucket
    of ``md5(salt)`` — and the engines disagree on NULL concat, so a
    silent assignment could never be attested).  Callers decide
    whether NULL-id rows are an error or a filter.
    """
    hx = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
        1, 12,
    )
    bucket = F.conv(hx, 16, 10).cast("long") % 1000
    return df.withColumn(
        "split",
        F.when(F.col(id_col).isNull(), F.lit(None).cast("string"))
        .when(bucket < test_permille, F.lit("test"))
        .when(bucket < test_permille + val_permille, F.lit("val"))
        .otherwise(F.lit("train")),
    )


@declared(
    "q_split_manifest",
    oracle="""
    WITH s AS (
      SELECT lang, n_chars,
             CASE WHEN b < 100 THEN 'test'
                  WHEN b < 200 THEN 'val' ELSE 'train' END AS split
      FROM (
        SELECT lang, n_chars,
               CAST(concat('0x', substr(
                 md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))
               AS BIGINT) % 1000 AS b
        FROM documents)
    )
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY split, lang
    """,
)
def q_split_manifest(spark, sf_dir):
    """Train/val/test split manifest, FULL hash-match oracle: per
    (split, lang) doc and char totals under the deterministic 80/10/10
    md5 split — DuckDB reproduces every assignment, so the manifest
    (and therefore membership of every frozen eval set) is attested
    value-for-value."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@declared(
    "q_sample_weighted_group",
    oracle="""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             CAST(floor(
               ln((CAST(concat('0x', substr(
                     md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) + 1) / 281474976710656.0)
               / CAST(n_chars AS DOUBLE) * 1000000000.0 + 0.5)
             AS BIGINT) AS key_e9
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT lang, doc_id, n_chars, key_e9,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY key_e9 DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT lang, doc_id, n_chars, key_e9, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q_sample_weighted_group(spark, sf_dir):
    """Per-stratum weighted sampling without replacement, FULL
    hash-match oracle: the 10 documents per language drawn with
    probability proportional to length under the SAME deterministic
    A-ES key as the global face (q_sample_weighted) — "equal-depth
    per-language eval slices, long docs favored" in one pass.

    Scale shape: the map-side A-ES key feeds the similarity family's
    grouped partial top-k BEFORE the per-stratum ranking window, so
    the lang exchange carries <= 10 x batches rows per stratum — the
    dominant language's corpus never serializes one reducer (the same
    bound every per-group cut in this engine rides)."""
    from artemia_airflow_spark.operators.similarity import (
        _grouped_partial_topk,
    )

    ensure_engine_conf(spark)
    m = 10
    d = scan(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = weighted_sample_keys(d, "n_chars", "doc_id").select(
        "lang", "doc_id", "n_chars", "key_e9"
    )
    part = _grouped_partial_topk(
        keyed, probe_id_col="lang", id_col="doc_id",
        score_col="key_e9", r=m,
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("key_e9").desc(), F.col("doc_id")
    )
    return (
        part.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= m)
    )


def classifier_scores(
    df: DataFrame, text_col: str, id_col: str, is_target_col: str,
    *, keep_target: bool = False,
) -> DataFrame:
    """Model-based quality score: a binarized Naive-Bayes log-odds
    linear classifier over the SAME 256 hashed unigram+bigram buckets
    as :func:`dsir_weights` — the fastText-style hashed linear scorer
    (public recipe: Wang & Manning 2012's NBSVM generative baseline;
    Joulin et al. 2016's hashed bag-of-ngrams features), closed-form
    "trained" in-plan from the target/non-target split instead of by
    driver-side gradient steps, so scoring stays fully distributed and
    engine-portable.

    Differences from DSIR (its importance-ratio sibling): the
    contrast is target vs NON-target (discriminative log-odds, not
    target vs all-raw), features are per-document bucket PRESENCE
    (binarized counts — the Bernoulli/NBSVM trick, robust to length
    and token repetition where DSIR's count features are length-
    sensitive), and the score carries the class-prior bias term, so
    ``score > 0`` IS the NB decision rule.  The sigmoid is monotone in
    the log-odds, so top-k by ``score_e6`` is exactly top-k by
    P(target | doc) without ever evaluating exp() — zero extra libm
    surface in the hash-matched face.

    Per-bucket weight (Laplace alpha=1 on doc frequencies):
    ``w_b = ln( ((n_t+1)/(N_t+2)) / ((n_n+1)/(N_n+2)) )`` — ONE ln of
    an exact rational ``(n_t+1)*(N_n+2) / ((n_n+1)*(N_t+2))`` (the
    DSIR single-ln precedent; integer products < 2^53 at every test
    SF), e6-floored to a BIGINT before the per-doc sum, which is then
    an order-free integer aggregate.  Bias = ``ln((N_t+1)/(N_n+1))``,
    same recipe.

    Scale shape: the per-(doc, bucket) PRESENCE relation (map-side
    partial-distinct, <= 256 rows per doc crossing its one exchange)
    feeds BOTH the 256-row per-bucket doc frequencies and the per-doc
    score aggregate, and is MATERIALIZED (localCheckpoint) for the
    same reason as :func:`dsir_weights`: Spark does not dedupe common
    subplans, so without it the corpus tokenized twice (r17, guide
    §3.3/§5); the doc-count priors are a 1-row
    aggregate over the is-target column only (a column-pruned third
    scan — trivial columnar IO at any scale) and ride a broadcast
    nested-loop attach onto the 256-row weight table (bounded on both
    sides), never onto the corpus.
    Tokenization mirrors dsir_weights exactly (raw \\s+ split, no
    empty-token filter) so the two selectors score the identical
    feature space.

    Returns (id_col, score_e6, pred_target) for every document.
    """
    from artemia_airflow_spark.functions.core import spread_for_compute

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    rows = spread_for_compute(
        df.select(F.col(id_col), F.col(is_target_col).alias("__t"),
                  F.col(text_col))
    ).select(
        id_col, "__t",
        F.explode(F.concat(toks, bigrams)).alias("__feat"),
    )
    # one exchange: distinct (doc, bucket) presence, <= 256 rows/doc —
    # materialized so bs and the join-back share one tokenize pass
    # (the dsir_weights rationale)
    # kept, sf0.1 cut -> none: 64.88 -> 16.45 MB read, 5.45 -> 5.45 MB shuffled,
    # 3.41 -> 3.92 s
    db = cut(rows.select(
        id_col, "__t",
        F.substring(F.md5(F.col("__feat")), 1, 2).alias("bucket"),
    ).distinct(), "selection.classifier_scores.db", eager=False)
    bs = db.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("bigint")
        .alias("n_t"),
    )
    # class priors: 1-row aggregate over the pruned is-target column
    pri = df.select(F.col(is_target_col).alias("__t")).agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("bigint")
        .alias("ndt"),
        F.count(F.lit(1)).alias("nd"),
    ).withColumn(
        "bias6",
        F.floor(
            F.log((F.col("ndt") + 1).cast("double")
                  / (F.col("nd") - F.col("ndt") + 1).cast("double"))
            * F.lit(1_000_000.0) + F.lit(0.5)
        ).cast("bigint"),
    )
    ratio = (
        (F.col("n_t") + 1) * (F.col("nd") - F.col("ndt") + 2)
    ).cast("double") / (
        (F.col("n_all") - F.col("n_t") + 1) * (F.col("ndt") + 2)
    ).cast("double")
    # 1-row prior onto 256-row stats: a broadcast nested-loop attach is
    # the right plan here (bounded on BOTH sides; a literal join key
    # would constant-fold into the same physical join anyway)
    contrib = (
        bs.crossJoin(F.broadcast(pri))
        .select(
            "bucket",
            F.floor(F.log(ratio) * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("bigint").alias("w6"),
            "bias6",
        )
    )
    aggs = [
        (F.sum("w6") + F.max("bias6")).cast("bigint").alias("score_e6"),
    ]
    if keep_target:
        # the label already flows through the presence relation —
        # carrying it here spares calibration-style consumers a
        # doc-grain rejoin onto the input (r14 review finding)
        aggs.append(F.max("__t").alias("is_target"))
    return (
        db.join(F.broadcast(contrib), "bucket")
        .groupBy(id_col)
        .agg(*aggs)
        .withColumn(
            "pred_target",
            F.when(F.col("score_e6") > 0, 1).otherwise(0).cast("bigint"),
        )
    )


@declared(
    "q_select_classifier",
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
             CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t
      FROM db GROUP BY bucket
    ), pri AS (
      SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS ndt,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(floor(ln(
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1
                    AS DOUBLE)
               / CAST(COUNT(*)
                      - SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1
                      AS DOUBLE)
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
      SELECT doc_id,
             CAST(SUM(w6) + MAX(bias6) AS BIGINT) AS score_e6
      FROM db JOIN contrib USING (bucket) GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, score_e6,
             CAST(CASE WHEN score_e6 > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS pred_target,
             ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS rank
      FROM sc
    )
    SELECT doc_id, score_e6, pred_target, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def q_select_classifier(spark, sf_dir):
    """Hashed linear quality classifier, FULL hash-match oracle:
    target = English documents; every doc scored by the closed-form
    binarized-NB log-odds (presence features over 256 md5 buckets,
    Laplace-smoothed doc frequencies, class-prior bias), top-20 by
    (score desc, doc_id).  Each bucket weight and the bias are ONE ln
    of an exact integer rational e6-floored BEFORE the order-free
    per-doc integer sum, so DuckDB attests scores, predictions, and
    ranking value-for-value (the DSIR/BM25 transcendental recipe)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    sc = classifier_scores(
        d.withColumn("__is_t", F.col("lang") == "en"),
        "text", "doc_id", "__is_t",
    )
    ranked = sc.orderBy(F.col("score_e6").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("score_e6").desc(), F.col("doc_id"))
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


def temporal_split(
    df: DataFrame, ts_col: str, *,
    train_permille: int = 800, embargo_s: int = 86400,
) -> DataFrame:
    """Temporal train/test split with an embargo gap (r14): train =
    the first ``train_permille``/1000 of the corpus's observed time
    span, then an ``embargo_s``-second buffer whose rows belong to
    NEITHER side, then test — the standard leakage guard for
    temporally-correlated data (a model must not see events adjacent
    in time to its eval set; the purged/embargoed split of the
    time-series CV literature, public method).  The hash split
    (:func:`hash_split`) keeps eval sets frozen as the corpus grows;
    THIS split answers the orthogonal question "does the model
    generalize FORWARD in time", and the embargo is what makes the
    answer honest.

    Boundaries are exact int64 microseconds: ``cutoff = min_us +
    (max_us - min_us) * train_permille DIV 1000``; train takes
    ``us <= cutoff``, embargo ``us <= cutoff + embargo_s * 1e6``,
    test the rest.  Adds a ``split`` column.

    Scale shape: one 1-row min/max aggregate over the pruned ts
    column, attached back map-side via a 1-row broadcast (a
    nested-loop join with a 1-row build side is a per-row constant
    attach — no shuffle, no row amplification); the split expression
    itself is codegen.  Two scans total, one of them single-column.
    """
    us = F.unix_micros(F.col(ts_col))
    stats = df.select(us.alias("__us")).agg(
        F.min("__us").alias("__mn"), F.max("__us").alias("__mx")
    )
    cutoff = (
        F.col("__mn")
        + F.expr(f"(__mx - __mn) * {int(train_permille)} DIV 1000")
    )
    emb_end = cutoff + F.lit(int(embargo_s) * 1_000_000)
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "split",
            F.when(us <= cutoff, F.lit("train"))
            .when(us <= emb_end, F.lit("embargo"))
            .otherwise(F.lit("test")),
        )
        .drop("__mn", "__mx")
    )


@declared(
    "q_split_temporal",
    oracle="""
    WITH stats AS (
      SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events
    ), tagged AS (
      SELECT event_type, user_id, value,
             CASE WHEN epoch_us(ts) <= mn + (mx - mn) * 800 // 1000
                  THEN 'train'
                  WHEN epoch_us(ts) <= mn + (mx - mn) * 800 // 1000
                                       + 86400000000
                  THEN 'embargo'
                  ELSE 'test' END AS split
      FROM events CROSS JOIN stats
    )
    SELECT split, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM tagged GROUP BY split, event_type
    """,
)
def q_split_temporal(spark, sf_dir):
    """Temporal embargo split manifest, FULL hash-match oracle: per
    (split, event_type) event/user/value totals under the 80%-of-span
    train cutoff with a 1-day embargo — boundaries are exact integer
    microseconds, so DuckDB attests every membership decision."""
    ensure_engine_conf(spark)
    e = scan(spark, sf_dir, "events")
    return (
        temporal_split(e, "ts")
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .alias("value_cents"),
        )
    )


_N_BUDGET_BINS = 1024


def token_budget_select(
    df: DataFrame, score_col: str, tokens_col: str, id_col: str,
    budget_tokens,
) -> DataFrame:
    """Token-budget corpus selection (r14): keep documents in
    (``score_col`` desc, ``id_col`` asc) order while the running token
    total stays within ``budget_tokens`` — THE fundamental pretraining
    cut ("the best N-token corpus this scorer can buy"; greedy
    knapsack with unit value density, optimal for a fixed ranking).

    The naive rule is a GLOBAL running sum — one reducer over the
    corpus, the exact shape this engine bans.  Implemented instead as
    an exact two-phase cut (the TDigest/threshold refinement idea):

    1. a 1024-bin equal-width histogram over the integer score
       (map-side, one aggregate exchange of <= 1024 x partitions
       rows) locates the THRESHOLD BIN — the bin where the
       budget runs out — via a running sum over <= 1024 rows;
    2. docs in strictly higher bins are selected by a map-side filter
       (equal scores always share a bin, so higher-bin membership is
       order-exact, never a tie split); only the threshold bin's docs
       pay a ranking window, consuming the leftover budget.

    The result is ROW-IDENTICAL to the naive global cut — the
    declared face's DuckDB oracle runs the naive version, so the
    hash match is an algebraic proof the two algorithms agree.

    Degradation note: the boundary window serializes the threshold
    bin through one task; a pathological corpus with most of its mass
    on ONE score value concentrates there (everything else stays
    distributed).  Scores with natural spread (quality e6 ints) keep
    the bin ~1/1024 of the corpus.

    ``budget_tokens`` may be an int or a 1-row single-column
    DataFrame (computed budgets, e.g. permille-of-total, stay in
    plan — no driver collect).  Returns the selected rows of ``df``.

    Token counts must be POSITIVE — enforced by an in-plan raise (the
    matryoshka guard precedent): a zero-token row costs nothing in
    the naive cut, so it rides the running sum's current value and
    can be selected at ANY rank once the budget is exactly exhausted
    — a shape the bin decomposition cannot reproduce (r14 review
    finding).  Callers with empty documents filter or floor them
    upstream.
    """
    if not isinstance(budget_tokens, DataFrame):
        budget_tokens = (
            df.sparkSession.range(1)
            .select(F.lit(int(budget_tokens)).alias("__budget"))
        )
    # the tiny stats and threshold relations are lineage-truncated:
    # Spark re-expands shared subplans into each consumer, and this
    # operator fans the corpus into THREE consumers — without the cuts
    # the static plan held 10 corpus scans (stats/threshold lineage
    # re-entering full and boundary multiplicatively); with them it
    # holds one per consumer.  The one-row budget needs no cut
    # (sf0.1 and 100x ablation, SCALE.md "Lineage cuts").
    budget = budget_tokens.select(
        F.col(budget_tokens.columns[0]).cast("bigint").alias("__budget")
    )
    df = df.withColumn(
        tokens_col,
        F.when(
            F.col(tokens_col).isNull() | (F.col(tokens_col) <= 0),
            F.raise_error(F.concat(
                F.lit(f"token_budget_select: {tokens_col!r} must be "
                      "positive, got "),
                F.coalesce(F.col(tokens_col).cast("string"),
                           F.lit("NULL")),
                F.lit(" — zero-token rows make the naive cut "
                      "rank-independent at exact exhaustion; filter or "
                      "floor them upstream"),
            )),
        ).otherwise(F.col(tokens_col)),
    )
    nb = _N_BUDGET_BINS
    # kept, sf0.1 cut -> none: 0.03 -> 0.04 MB read, 0.02 -> 0.02 MB shuffled
    stats = cut(
        df.agg(
            F.min(score_col).alias("__mn"), F.max(score_col).alias("__mx")
        ),
        "selection.token_budget_select.stats",
    )
    binned = df.crossJoin(F.broadcast(stats)).withColumn(
        "__bin",
        F.expr(f"({score_col} - __mn) * {nb} DIV (__mx - __mn + 1)"),
    ).drop("__mn", "__mx")
    hist = binned.groupBy("__bin").agg(
        F.sum(tokens_col).cast("bigint").alias("__btok")
    )
    wdesc = (
        Window.orderBy(F.col("__bin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "__above", F.coalesce(F.sum("__btok").over(wdesc), F.lit(0))
    ).crossJoin(F.broadcast(budget))
    # threshold bin: the LOWEST bin whose strictly-above mass still
    # leaves budget — bins above it are consumed whole, bins below it
    # start past the budget; the boundary window spends the remainder
    # kept, sf0.1 cut -> none: 0.03 -> 0.04 MB read, 0.02 -> 0.02 MB shuffled
    thr = cut(
        cum.filter(F.col("__above") < F.col("__budget"))
        .orderBy(F.col("__bin").asc())
        .limit(1)
        .select(
            F.col("__bin").alias("__tbin"),
            (F.col("__budget") - F.col("__above")).alias("__rem"),
        ),
        "selection.token_budget_select.thr",
    )
    tagged = binned.crossJoin(F.broadcast(thr))
    full = tagged.filter(F.col("__bin") > F.col("__tbin"))
    wb = (
        Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        tagged.filter(F.col("__bin") == F.col("__tbin"))
        .withColumn("__cum", F.sum(tokens_col).over(wb))
        .filter(F.col("__cum") <= F.col("__rem"))
        .drop("__cum")
    )
    drop = ["__bin", "__tbin", "__rem"]
    return full.drop(*drop).unionByName(boundary.drop(*drop))


@declared(
    "q_select_budget",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
               AS n_tok,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               * 1000000 // length(text) AS score_e6
      FROM documents WHERE length(text) > 0
    ), budget AS (
      SELECT SUM(n_tok) * 500 // 1000 AS b FROM scored
    ), ranked AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (ORDER BY score_e6 DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    ), sel AS (
      SELECT lang, n_tok FROM ranked CROSS JOIN budget WHERE cum <= b
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM sel GROUP BY lang
    """,
)
def q_select_budget(spark, sf_dir):
    """Token-budget selection manifest, FULL hash-match oracle: the
    best half-of-the-corpus token budget bought by alphabetic-density
    quality (exact integer e6 score), reported per language.  The
    ORACLE computes the naive global running-sum cut; the engine runs
    the two-phase histogram + boundary-bin algorithm — the hash match
    at 3 SFs proves the scalable algorithm selects the IDENTICAL
    document set."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents").filter(F.length("text") > 0)
    scored = d.select(
        "doc_id", "lang",
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
        .alias("n_tok"),
        F.expr(
            "length(regexp_replace(text, '[^A-Za-z]', ''))"
            " * 1000000 DIV length(text)"
        ).alias("score_e6"),
    )
    budget = scored.agg(F.expr("SUM(n_tok) * 500 DIV 1000").alias("b"))
    sel = token_budget_select(scored, "score_e6", "n_tok", "doc_id", budget)
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
