"""Corpus-curation operators for LLM training-data pipelines:
benchmark decontamination, deterministic sharding, domain-mixing
weights, and repetition-based quality scoring.

These extend the north-star text-analysis surface (BASELINE.json; the
reference delegates all data processing to an external scraper,
dags/update_tr_from_ex_dag.py:88-90) with the four curation steps every
large pretraining pipeline runs between "raw corpus" and "training
shards".  Everything is built-in-expression based — split/transform/
sequence/slice for n-grams, md5 for sharding — so the hot path stays in
whole-stage codegen and the only shuffles are the final aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.functions.core import (
    cut,
    guarded_e6_ratio,
    lehmer_bucket,
    overlap,
    spread_for_compute,
)
from artemia_airflow_spark.plans.registry import declared
from artemia_airflow_spark.session import ensure_engine_conf


def _tokens(text_col) -> "F.Column":
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), r"\s+")


def _tokens_sql(text_col: str) -> str:
    """:func:`_tokens` as SQL text, for SQL-text lambdas."""
    return f"split(lower(`{text_col}`), '\\\\s+')"


def _word_ngrams_sql(text_col: str, n: int) -> str:
    """SQL text of :func:`word_ngrams`, for callers that wrap the gram
    array in a further SQL-text lambda."""
    if n == 2:
        # Bigram fast path (the hot case — repetition scoring runs it
        # over every document): zip_with over two shifted slices does
        # ONE lambda evaluation per gram on pre-materialized inputs,
        # measured ~30% faster at sf0.1 than the generic
        # transform-over-sequence below, which re-slices the token
        # array per start index.  Equivalent including the short-doc
        # convention: for a 1-token doc the second slice is empty,
        # zip_with pads with NULL and concat_ws skips it, yielding the
        # single truncated gram.
        m = "greatest(size(__wg_t) - 1, 1)"
        grams = (
            f"zip_with(slice(__wg_t, 1, {m}), slice(__wg_t, 2, {m}), "
            "(__wg_a, __wg_b) -> concat_ws(' ', __wg_a, __wg_b))"
        )
    else:
        grams = (
            f"transform(sequence(1, greatest(size(__wg_t) - {n - 1}, 1)), "
            f"__wg_i -> array_join(slice(__wg_t, __wg_i, {n}), ' '))"
        )
    return (
        f"element_at(transform(array({_tokens_sql(text_col)}), "
        f"__wg_t -> {grams}), 1)"
    )


def word_ngrams(text_col: str, n: int) -> "F.Column":
    """All word n-grams of column ``text_col`` as an array<string>.

    Pure expression (sequence + transform + slice + array_join): stays
    inside the JVM, no Python, no shuffle.  The token array is bound once
    per row as a lambda variable, so a document is lowercased and split
    once, not once per gram.  A document shorter than ``n`` tokens
    yields its single truncated gram — same convention as the DuckDB
    oracles (list_slice truncates identically).

    SQL-text lambdas with names no other expression uses: several
    Python-lambda HOFs in one projection miscompute on Spark 4.1 (see
    ``dedup._minhash_portable_bands``).
    """
    return F.expr(_word_ngrams_sql(text_col, n))


def decontaminate(
    train: DataFrame, eval_df: DataFrame, text_col: str, id_col: str, *,
    n: int = 4, eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with the evaluation set.

    Physical shape: the eval side reduces to DISTINCT grams and is
    broadcast — the realistic case, since eval benchmarks are MBs while
    the training corpus is TBs; the 100 TB side is touched exactly
    once, map-side, with no shuffle of document text.  If the eval set
    ever outgrew broadcast, the same plan degrades gracefully to a
    shuffled semi-join on ``xxhash64(gram)`` (8-byte keys, not gram
    strings).

    ``eval_grams`` optionally supplies the DISTINCT eval gram relation
    pre-built (it must equal ``eval_df``'s ``n``-gram set — e.g. the
    same expression materialized early on another driver thread, the
    guide-§2.6 overlap seam used by :func:`corpus_survivors`); with it
    ``eval_df`` is not consumed.  Values are identical either way.

    Returns ``train`` plus a boolean ``contaminated`` column; a
    supplied ``eval_grams`` whose schema is not exactly one string
    column ``gram`` raises ``ValueError`` (a schema check, no job).
    """
    if eval_grams is None:
        eval_grams = (
            eval_df.select(
                F.explode(word_ngrams(text_col, n)).alias("gram")
            ).distinct()
        )
    elif [(f.name, f.dataType.simpleString()) for f in eval_grams.schema] != [
        ("gram", "string")
    ]:
        raise ValueError(
            "eval_grams must be exactly one string column 'gram', got "
            f"{eval_grams.schema.simpleString()}"
        )
    hits = (
        spread_for_compute(train)
        .select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram"))
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return train.join(hits, id_col, "left").fillna(False, ["contaminated"])


@declared(
    "q_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(t) - 3, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS gram
      FROM toks
    ), eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0
    ), contam AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN eval_grams e USING (gram)
      WHERE g.doc_id % 20 <> 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN contam c USING (doc_id)
    WHERE d.doc_id % 20 <> 0
    GROUP BY lang
    """,
)
def q_decontaminate(spark, sf_dir):
    """Decontamination rollup: train docs (doc_id % 20 != 0) checked
    for 4-gram overlap against the held-out eval split (doc_id % 20 ==
    0); per-lang document and contamination counts."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 20 != 0)
    eval_df = d.filter(F.col("doc_id") % 20 == 0)
    flagged = decontaminate(train, eval_df, "text", "doc_id", n=4)
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("contaminated"), 1)).alias("n_contaminated"),
    )


@declared(
    "q_shard",
    oracle="""
    SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT)
             AS n_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY shard
    """,
)
def q_shard(spark, sf_dir):
    """Deterministic training-shard assignment: shard = first hex char
    of md5(doc_id) — 16 uniform, engine-portable shards (md5 hex is
    identical everywhere, unlike engine-native hash functions).  At
    100 TB the same expression feeds ``write.partitionBy("shard")`` so
    every trainer reads its shard with partition pruning; here it rolls
    up per-shard doc/token/source balance, which is also the skew check
    you run before committing to a shard count."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return (
        d.withColumn("shard", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_tokens("text"))).alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@declared(
    "q_mix_weights",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), t AS (
      SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total,
             CAST(COUNT(*) AS DOUBLE) AS n_src
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           round(least(1.0, (total / n_src) / n_tokens), 6) AS weight
    FROM s, t
    """,
)
def q_mix_weights(spark, sf_dir):
    """Domain-mixing weights: per-source sampling weight that equalizes
    token budget across sources (weight = min(1, fair_share/tokens)) —
    the deterministic arithmetic behind temperature/uniform data-mixing
    schedules.  ONE corpus scan feeding one per-source aggregate; the
    corpus-wide totals attach to that |sources|-row frame via an
    unpartitioned window (see _with_global — the old agg+crossJoin
    totals re-executed the scan)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens("text"))).alias("n_tokens"),
    )
    s = _with_global(
        s,
        total=F.sum("n_tokens"),
        n_src=F.count(F.lit(1)),
    )
    # integer/integer `/` promotes to double in both engines — same
    # arithmetic as the oracle's explicit double casts
    fair = F.col("total") / F.col("n_src")
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.least(F.lit(1.0), fair / F.col("n_tokens")), 6).alias("weight"),
    )


def _with_global(df: DataFrame, **aggs: "F.Column") -> DataFrame:
    """Attach corpus-wide aggregates to a (tiny, post-aggregation)
    frame as columns via an unpartitioned window, instead of
    ``df.agg(...)`` + ``crossJoin(broadcast(...))`` — Spark does NOT
    dedupe common subplans, so the agg+crossJoin form RE-EXECUTES the
    whole upstream scan to produce the totals row (measured: every
    mixture query scanned the corpus 2x for its |sources|-row state).
    The single-partition window is safe exactly because ``df`` is
    already the per-group aggregate (|groups| rows), never raw data."""
    w = Window.partitionBy()
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out


@declared(
    "q_mix_temperature",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), m AS (
      SELECT CAST(MAX(n_tokens) AS BIGINT) AS max_tokens FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                AS BIGINT) AS sqrt_tokens_e6,
           CAST(floor(sqrt(CAST(max_tokens AS DOUBLE) / n_tokens) * 1000000
                      + 0.5) AS BIGINT) AS upsample_e6
    FROM s, m
    """,
)
def q_mix_temperature(spark, sf_dir):
    """Temperature-based mixture weights (sqrt / alpha=0.5 sampling —
    the multilingual up-sampling schedule of the XLM-R family at its
    engine-portable exponent): per-source unnormalized sampling mass
    sqrt(n_tokens) and the up-sampling factor vs the HEAD source
    sqrt(max_tokens/n_tokens), both as 1e6-scaled ints.

    Engine-portability is the design constraint here: a general
    pow(x, alpha) is not correctly rounded and differs across libm
    implementations (a silent oracle divergence), but IEEE-754 sqrt IS
    correctly rounded everywhere — and every other input is an exact
    integer aggregate, so the doubles fed to sqrt are bit-identical in
    both engines and no double SUM (partial-order-sensitive) appears
    anywhere.  Consumers normalize sqrt_tokens_e6 to probabilities
    client-side (|sources| rows).  Same two tiny shuffles as
    q_mix_weights; the corpus is read once."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(_tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    return _with_global(s, max_tokens=F.max("n_tokens")).select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("sqrt_tokens_e6"),
        F.floor(
            F.sqrt(F.col("max_tokens").cast("double") / F.col("n_tokens"))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("upsample_e6"),
    )


def substring_fingerprints(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 25, w: int = 16,
    spread: bool = True,
) -> DataFrame:
    """Winnowed exact-substring fingerprints: (id, gram) rows where
    ``gram`` is a verbatim ``k``-char substring selected by winnowing
    (Schleimer et al., SIGMOD'03) — in every window of ``w`` consecutive
    k-gram hashes, the minimum-hash gram is kept.

    Guarantee: any substring of length >= k + w - 1 (40 chars with
    defaults) shared VERBATIM by two documents yields at least one
    identical selected gram in both — so grouping on ``gram`` finds all
    long exact-substring overlaps, the suffix-array-style escalation
    beyond word-n-gram overlap for training corpora.

    Physical shape: one Arrow-batched ``mapInPandas`` stage (the same
    kernel pattern as the minhash/simhash signatures — a pure
    expression formulation was tried first and rejected: nested
    HOF slice-per-window evaluation is interpreted and O(len*w) array
    copies, ~100x slower than the vectorized rolling hash here).  The
    kernel is numpy-vectorized per document: byte-level polynomial
    k-gram hashes via Horner (k fused array ops), winnow minima via
    stride-tricks sliding windows.  Only the winnowed ~2/(w+1) density
    of (id, k-char gram) rows ever leaves the stage, so the downstream
    shuffle is a bounded fraction of corpus bytes, not O(text x
    positions).  Matching groups on the gram STRING itself, so hash
    collisions can never create false matches.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids: list = []
            grams: list[str] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                norm = " ".join(str(text).lower().split())
                data = norm.encode("utf-8", "ignore")
                if len(data) < k:
                    continue
                arr = np.frombuffer(data, dtype=np.uint8)
                win = np.lib.stride_tricks.sliding_window_view(arr, k)
                h = np.zeros(win.shape[0], dtype=np.uint64)
                for i in range(k):  # Horner fold, uint64 wraparound hashing
                    h = h * np.uint64(1099511628211) + win[:, i]
                if h.shape[0] >= w:
                    hw = np.lib.stride_tricks.sliding_window_view(h, w)
                    pos = np.unique(hw.argmin(axis=1) + np.arange(hw.shape[0]))
                else:
                    pos = np.array([int(h.argmin())])
                for p in pos:
                    ids.append(doc_id)
                    grams.append(data[p : p + k].decode("utf-8", "ignore"))
            yield pd.DataFrame({id_col: ids, "gram": grams})

    id_field = df.schema[id_col]
    # spread before the CPU-bound kernel (r18, guide §2.5): a
    # single-file scan arrives as ONE partition and the winnowing
    # kernel ran on one core (q_dedup_substring's whole fingerprint
    # pass was serial); round-robin repartition of the two input
    # columns is cheap relative to the hashing.  No-op at scale and
    # value-neutral — winnowing is per-document, partition-independent.
    # ``spread=False`` for structurally tiny inputs (the decontamination
    # eval split) where the repartition exchange costs more than the
    # serial kernel (measured +0.4s at sf0.1).
    narrow = df.select(id_col, text_col)
    if spread:
        narrow = spread_for_compute(narrow)
    return narrow.mapInPandas(
        kernel, f"{id_col} {id_field.dataType.simpleString()}, gram string"
    )


def exact_substring_overlap(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 25, w: int = 16
) -> DataFrame:
    """Cross-document exact-substring dedup signal: documents sharing
    any verbatim substring of length >= k + w - 1 with another document.

    Returns (id, n_shared_grams) for every involved document.  The
    heavy lifting is one groupBy on the winnowed gram string; gram
    groups hit by >= 2 distinct docs mark all their members.  At 100 TB
    the gram-group cardinality is corpus-sized but each row is ~40
    bytes, and the per-gram doc lists are exploded, never collected.
    """
    fps = substring_fingerprints(df, text_col, id_col, k=k, w=w)
    shared = (
        fps.groupBy("gram")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return shared


def decontaminate_substrings(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 25,
    w: int = 16,
) -> DataFrame:
    """Substring-level decontamination: flag training documents that
    contain any verbatim >= (k+w-1)-char substring of the eval set —
    the published escalation beyond word-n-gram overlap (exact-substring
    / suffix-array decontamination for pretraining corpora).

    Eval fingerprints reduce to DISTINCT grams and broadcast (eval
    benchmarks are MBs against a TB-scale train side); the train corpus
    is touched once map-side, then a broadcast semi-join on the gram
    string.  Returns ``train`` plus a boolean ``substr_contaminated``.
    """
    eval_grams = (
        # eval benchmarks are structurally bounded (MBs) — the spread
        # repartition costs more than the serial kernel here (r18 A/B)
        substring_fingerprints(eval_df, text_col, id_col, k=k, w=w, spread=False)
        .select("gram")
        .distinct()
    )
    hits = (
        # the spread moved inside substring_fingerprints (r18) — every
        # caller's kernel pass now parallelizes, not just this one
        substring_fingerprints(train, text_col, id_col, k=k, w=w)
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("substr_contaminated", F.lit(True))
    )
    return train.join(hits, id_col, "left").fillna(False, ["substr_contaminated"])


@declared("q_dedup_substring")
def q_dedup_substring(spark, sf_dir):
    """Exact-substring dedup tier (rows-only: winnowing selection is
    hash-order-dependent, not SQL-reproducible): per-lang count of
    documents sharing a verbatim >= 40-char substring with any other
    document, against total docs."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    overlap = exact_substring_overlap(d, "text", "doc_id")
    return (
        d.join(overlap, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.col("n_shared_grams")).alias("n_overlap_docs"),
        )
    )


@declared("q_decontaminate_substring")
def q_decontaminate_substring(spark, sf_dir):
    """Substring-level decontamination rollup (rows-only): train docs
    (doc_id % 20 != 0) flagged for verbatim >= 40-char overlap with the
    held-out eval split; per-lang counts."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 20 != 0)
    eval_df = d.filter(F.col("doc_id") % 20 == 0)
    flagged = decontaminate_substrings(train, eval_df, "text", "doc_id")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("substr_contaminated"), 1)).alias("n_contaminated"),
    )


@declared(
    "q_text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, lang,
             list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 1), ' ')) AS grams
      FROM toks
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(avg(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)), 6)
             AS avg_repetition
    FROM g GROUP BY lang
    """,
)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signal: per-document duplicate
    word-bigram fraction (1 - distinct/total), averaged per language.
    Pure map-side expression + one agg shuffle of (lang, double)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    grams = word_ngrams("text", 2)
    rep = 1.0 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams)
    return (
        spread_for_compute(d)
        .select("lang", rep.alias("rep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rep"), 6).alias("avg_repetition"),
        )
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Ordered (pattern, replacement) chain.  Patterns restricted to the
# Java-regex/RE2 common subset (no backrefs, no lookaround) so the
# DuckDB oracle can apply the identical chain.  SSN runs before PHONE:
# both are digit-dash shapes and the chain must be order-deterministic.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
]


def redact_pii(df: DataFrame, text_col: str, *, out_col: str | None = None) -> DataFrame:
    """Corpus-curation PII scrub: chained ``regexp_replace`` over the
    standard identifier shapes (email, SSN, IPv4, NANP phone).

    Pure Catalyst expressions — the whole chain runs inside whole-stage
    codegen, map-side only, no shuffle, no Python: at 100 TB this is a
    single scan-speed pass.  Replacement is global per pattern (Spark
    ``regexp_replace`` replaces every match)."""
    c = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col or text_col, c)


@declared(
    "q_pii_redact",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example ssn 123-45-6789 ip 10.0.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || ' tel 555-123-4567' AS text
      FROM documents
    )
    SELECT doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
        '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g') AS clean_text
    FROM seeded
    """,
)
def q_pii_redact(spark, sf_dir):
    """PII redaction, oracle-checked end to end: the fixture text is
    synthetic word-soup, so each document is seeded with deterministic
    doc_id-derived PII (an email, an SSN, an IP, a phone number) before
    the scrub — the oracle seeds and scrubs identically."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example ssn 123-45-6789 ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-123-4567"),
        ).alias("text"),
    )
    return redact_pii(seeded, "text", out_col="clean_text").select("doc_id", "clean_text")


# --------------------------------------------------------------------------
# Sequence packing (training-batch construction)
# --------------------------------------------------------------------------

def _budget_pack_seq_id(
    tokens_col: str, partition_cols, order_cols, capacity: int
) -> "F.Column":
    """The ONE running-sum packing rule (r16 review: the capstone
    carried an inline copy): ``seq_id = floor(prev-cumulative-tokens /
    capacity)`` within the given partition, walking the given order —
    a boundary-straddling row stays in the sequence where it started.
    Shared by :func:`pack_sequences_budget` (per-shard, id order) and
    :func:`corpus_pipeline` (per split+shard, (id, copy) order), so
    the straddling/boundary convention can never drift between the
    packing faces."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_prev = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return F.floor(cum_prev / F.lit(float(capacity)))


def pack_sequences_budget(
    df: DataFrame, text_col: str, id_col: str, *, capacity: int = 2048, shards: int = 32
) -> DataFrame:
    """Token-budget sequence packing, fully declarative: documents are
    ordered by id within ``shards`` hash shards and assigned
    ``seq_id = floor(prev-cumulative-tokens / capacity)`` — each
    sequence holds ~``capacity`` whitespace tokens (a doc straddling a
    boundary stays in the sequence where it started).

    Scale shape: ONE window per shard (``partitionBy(shard)``), so the
    sort is shard-parallel, never a global order-by; ``shards`` is
    sized to the cluster.  Adds (shard, seq_id, n_tokens) per doc."""
    toks = F.size(F.split(F.col(text_col), r"\s+"))
    shard = (F.col(id_col) % shards).alias("shard")
    base = df.select(F.col(id_col), shard, toks.alias("n_tokens"))
    return base.withColumn(
        "seq_id",
        _budget_pack_seq_id("n_tokens", ["shard"], [id_col], capacity),
    )


def pack_sequences_firstfit(
    df: DataFrame, text_col: str, id_col: str, *, capacity: int = 2048, shards: int = 32
) -> DataFrame:
    """Greedy sequential first-fit packing: within each shard, walk docs
    in id order and open a new sequence whenever the current one would
    overflow ``capacity`` (an oversize doc gets a sequence of its own).

    Unlike the budget strategy no sequence ever exceeds ``capacity``
    (except single oversize docs), at the cost of per-shard sequential
    state — implemented as one Arrow-batched ``applyInPandas`` per
    shard, so parallelism = ``shards``, state = one int per group."""
    import pandas as pd

    toks = F.size(F.split(F.col(text_col), r"\s+"))
    base = df.select(
        F.col(id_col), (F.col(id_col) % shards).alias("shard"), toks.alias("n_tokens")
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seq_ids, seq, used = [], 0, 0
        for n in pdf.n_tokens:
            if used > 0 and used + n > capacity:
                seq, used = seq + 1, 0
            seq_ids.append(seq)
            used += n
        return pdf.assign(seq_id=seq_ids)

    return base.groupBy("shard").applyInPandas(
        pack, f"{id_col} long, shard long, n_tokens int, seq_id long"
    )


@declared(
    "q_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 32 AS shard,
             len(regexp_split_to_array(text, '\\s+')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM t
    )
    SELECT shard, CAST(FLOOR(cum_prev / 2048.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM c GROUP BY 1, 2
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Token-budget packing (2048-token sequences, 32 shards) —
    per-sequence doc count and token total, oracle-checked."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    packed = pack_sequences_budget(d, "text", "doc_id", capacity=2048, shards=32)
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )


@declared(
    "q_pack_firstfit",
    oracle="""
    WITH RECURSIVE t AS MATERIALIZED (
      -- MATERIALIZED: the recursive step joins t every iteration, and
      -- without it DuckDB re-tokenizes all of documents per rank
      -- (r12 review — quadratic oracle wall-clock as the corpus grows)
      SELECT doc_id, doc_id % 16 AS shard,
             len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 16
                                ORDER BY doc_id) AS rn
      FROM documents
    ), walk AS (
      SELECT shard, rn, n_tokens,
             CAST(0 AS BIGINT) AS seq_id,
             CAST(n_tokens AS BIGINT) AS used
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.n_tokens,
             CASE WHEN w.used > 0 AND w.used + t.n_tokens > 512
                  THEN w.seq_id + 1 ELSE w.seq_id END,
             CASE WHEN w.used > 0 AND w.used + t.n_tokens > 512
                  THEN CAST(t.n_tokens AS BIGINT)
                  ELSE w.used + t.n_tokens END
      FROM walk w JOIN t ON t.shard = w.shard AND t.rn = w.rn + 1
    ), per_seq AS (
      SELECT shard, seq_id, SUM(n_tokens) AS seq_tokens,
             COUNT(*) AS n_docs
      FROM walk GROUP BY shard, seq_id
    )
    SELECT shard, COUNT(*) AS n_seqs,
           CAST(MAX(seq_tokens) AS BIGINT) AS max_seq_tokens,
           CAST(MAX(n_docs) AS BIGINT) AS max_seq_docs
    FROM per_seq GROUP BY shard
    """,
)
def q_pack_firstfit(spark, sf_dir):
    """First-fit packing, ORACLE-CHECKED (round-12 upgrade, VERDICT r11
    missing #2): per-shard greedy packing is sequential state, but
    it is DETERMINISTIC sequential state over a fixed (shard, doc_id)
    order — so a DuckDB recursive CTE replays the exact seq/used
    recurrence one rank per step per shard (anchor rn=1 opens sequence
    0; step rn->rn+1 applies the same overflow rule as
    :func:`pack_sequences_firstfit`'s Python loop) and reproduces
    WHICH sequence every doc lands in.  Recursion depth = max docs per
    shard (bounded by sharding, ~n/16), all integer arithmetic.
    Output: sequences per shard, the largest sequence fill (must stay
    <= capacity for multi-doc sequences), and the largest per-sequence
    doc count (unit tests also pin the exact packing on constructed
    cases)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    packed = pack_sequences_firstfit(d, "text", "doc_id", capacity=512, shards=16)
    per_seq = packed.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("seq_tokens"), F.count(F.lit(1)).alias("n_docs")
    )
    return per_seq.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.max("seq_tokens").alias("max_seq_tokens"),
        F.max("n_docs").cast("bigint").alias("max_seq_docs"),
    )


def length_buckets(df: DataFrame, text_col: str) -> DataFrame:
    """Smart-batching length buckets: assign each document to its
    power-of-two token-length bucket (bucket = bit-length of the token
    count) — the standard padding-bucket scheme for building
    fixed-shape training batches from variable-length docs.

    Integer bit-length via ``length(bin(n))`` instead of
    ``floor(log2(n))``: libm log2 at exact powers of two is
    engine/rounding-mode dependent, the binary-string length is exact
    everywhere.  Pure map-side expression + one bucket-sized agg."""
    toks = F.size(F.split(F.col(text_col), r"\s+"))
    return df.withColumn("n_tokens", toks).withColumn(
        "bucket", F.length(F.bin(F.col("n_tokens"))).cast("int")
    )


@declared(
    "q_length_buckets",
    oracle="""
    WITH t AS (
      SELECT len(regexp_split_to_array(text, '\\s+')) AS n_tokens FROM documents
    )
    SELECT CAST(length(bin(n_tokens)) AS INT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           round(1.0 - CAST(SUM(n_tokens) AS DOUBLE)
                     / (COUNT(*) * MAX(n_tokens)), 6) AS padding_waste
    FROM t GROUP BY 1
    """,
)
def q_length_buckets(spark, sf_dir):
    """Per-bucket doc count and padding waste (1 - sum/(n*max)): the
    fraction of a padded batch that would be wasted if every doc in
    the bucket were padded to the bucket max."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    b = length_buckets(d, "text")
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.round(
            1.0
            - F.sum("n_tokens").cast("double")
            / (F.count(F.lit(1)) * F.max("n_tokens")),
            6,
        ).alias("padding_waste"),
    )


def decontaminate_bloom(
    train: DataFrame, eval_df: DataFrame, text_col: str, id_col: str, *,
    n: int = 4, num_bits: int = 1 << 23, k: int = 5,
) -> DataFrame:
    """Bloom-filter decontamination tier: the constant-size-sketch
    scale path next to :func:`decontaminate`'s exact broadcast set.

    Build: bit positions are computed ENTIRELY JVM-side — codegen
    xxhash64 over the eval n-grams, Kirsch-Mitzenmacher double hashing
    as a ``transform`` expression, then ``groupBy(chunk).agg(bit_or)``
    folds the set bits into at most ``num_bits/64`` (chunk, long)
    rows.  Map-side partial aggregation means each executor ships at
    most one bounded chunk set; the driver collects ≤ ``num_bits/64``
    rows (≈1 MB at the default) REGARDLESS of eval size or partition
    count — no per-partition bitmaps through the driver.  The
    assembled bitmap is ``sc.broadcast`` once.

    Probe: one Arrow-batched kernel over per-doc hash ARRAYS (codegen
    ``transform(ngrams, xxhash64)`` — no explode, so Arrow carries one
    row per doc, not per gram).  The kernel tests ``k`` bit positions
    per gram against the broadcast bitmap and reduces to a per-doc
    boolean in the same pass, so the probe side needs NO shuffle at
    all — the only shuffle left is the final id-join back to train.

    Versus the exact tier: shipped state is ``num_bits/8`` bytes (1 MB
    default — (1-e^(-kn/m))^k gives ~1.8% FPP at n=1M grams, m=2^23,
    k=5; size num_bits to ~2^25 (4 MB) for sub-0.1% at that n, ~10
    bits/element per decade of FPP) REGARDLESS of eval-set size — this tier keeps working when the "eval" side is itself
    huge, e.g. decontaminating against an entire prior training
    corpus.  Bloom semantics: false positives possible (tunable), a
    contaminated doc is NEVER missed — the test pins the superset
    property against the exact tier.

    Returns ``train`` plus a boolean ``contaminated_bloom`` column.
    """
    import numpy as np
    import pandas as pd

    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    m = num_bits

    # --- build: JVM-codegen positions -> bit_or chunk agg -> bounded collect
    # pos_i = pmod(h, m) + i * pmod((h >>> 17) | 1, m)  (mod m)
    eval_pos = (
        eval_df.select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .select(F.xxhash64("gram").alias("h"))
        .select(
            F.pmod(F.col("h"), F.lit(m)).alias("h1"),
            F.pmod(
                F.shiftrightunsigned(F.col("h"), 17).bitwiseOR(F.lit(1)),
                F.lit(m),
            ).alias("h2"),
        )
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k - 1)),
                    lambda i: F.pmod(F.col("h1") + i * F.col("h2"), F.lit(m)),
                )
            ).alias("pos")
        )
    )
    chunk_rows = (
        eval_pos.groupBy(F.shiftright("pos", 6).alias("chunk"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))")
            ).alias("bits")
        )
        .collect()
    )
    words = np.zeros(m // 64, dtype="<u8")
    mask64 = (1 << 64) - 1
    for r in chunk_rows:
        words[r.chunk] = r.bits & mask64
    bc = train.sparkSession.sparkContext.broadcast(words.tobytes())

    # --- probe: per-doc hash arrays through ONE Arrow kernel, no shuffle
    def probe(it):
        bm = np.frombuffer(bc.value, dtype="uint8")  # little-endian words
        for pdf in it:
            if not len(pdf):
                continue
            hs = [
                np.asarray(x, dtype="int64")
                for x in pdf["hs"]
                if x is not None and len(x)
            ]
            lens = np.fromiter(
                (0 if x is None else len(x) for x in pdf["hs"]),
                dtype="int64",
                count=len(pdf),
            )
            doc_hit = np.zeros(len(pdf), dtype=bool)
            if hs:
                flat = np.concatenate(hs)
                h1 = flat % m  # numpy floored mod == Spark pmod for m > 0
                h2 = (((flat.astype("uint64") >> np.uint64(17)) | np.uint64(1)) % m).astype("int64")
                gram_hit = np.ones(len(flat), dtype=bool)
                for i in range(k):
                    pos = (h1 + i * h2) % m
                    gram_hit &= ((bm[pos >> 3] >> (pos & 7)) & 1).astype(bool)
                idx = np.repeat(np.arange(len(pdf)), lens)
                doc_hit = np.bincount(idx[gram_hit], minlength=len(pdf)) > 0
            yield pd.DataFrame({"id": pdf["id"], "contaminated_bloom": doc_hit})

    hits = (
        spread_for_compute(train)
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                word_ngrams(text_col, n), lambda g: F.xxhash64(g)
            ).alias("hs"),
        )
        .mapInPandas(probe, "id long, contaminated_bloom boolean")
        .withColumnRenamed("id", id_col)
    )
    return train.join(hits, id_col, "left").fillna(
        False, ["contaminated_bloom"]
    )


@declared("q_decontaminate_bloom")
def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-sketch decontamination rollup (rows-only: the flagged set
    includes hash-dependent false positives): same train/eval split as
    q_decontaminate, flagged via the 1 MB constant-size sketch instead
    of the exact gram set.  The semantic guarantee (bloom flags ⊇
    exact flags, zero false negatives) is pinned by
    tests/test_curation.py."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 20 != 0)
    eval_df = d.filter(F.col("doc_id") % 20 == 0)
    flagged = decontaminate_bloom(train, eval_df, "text", "doc_id", n=4)
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("contaminated_bloom"), 1)).alias("n_flagged"),
    )


def apply_mixture(
    df: DataFrame, *, source_col: str = "source", id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Materialize a token-equalizing data mixture: compute each
    source's sampling weight IN-PLAN (same arithmetic as
    ``q_mix_weights``: weight = min(1, fair_share_tokens / tokens)) and
    keep each row iff its deterministic hash bucket falls under the
    source's weight.

    This closes the curation loop from "compute the mixture" to
    "produce the mixed corpus": one per-source aggregate (|sources|
    rows, with corpus totals attached via _with_global's window — no
    second scan), then a map-side hash-threshold filter — the corpus is read once and never shuffled, and the same
    seed reproduces the same sample on any cluster (hash sampling, not
    RNG).  At 100 TB the output feeds ``write.partitionBy`` /
    bucketing directly.

    Round-6 portability upgrade: the bucket hash is the same
    Lehmer-style multiplicative hash the stratified sampler and quota
    cap use (plain BIGINT arithmetic, max intermediate < 2^47 — no
    ANSI overflow) instead of xxhash64, and the threshold rounds
    half-up — so WHICH rows survive is reproducible in ANY engine and
    q_mix_apply is oracle-checked, not just statistically tested.
    """
    per_src = df.groupBy(source_col).agg(
        F.sum(F.size(_tokens("text"))).alias("__n_tokens")
    )
    weights = _with_global(
        per_src,
        __total=F.sum("__n_tokens"),
        __n_src=F.count(F.lit(1)),
    ).select(
        source_col,
        F.least(
            F.lit(1.0),
            (F.col("__total") / F.col("__n_src")) / F.col("__n_tokens"),
        ).alias("__weight"),
    )
    bucket = lehmer_bucket(id_col, seed)
    return (
        df.join(F.broadcast(weights), source_col)
        .filter(
            bucket
            < F.floor(F.col("__weight") * 1_000_000 + F.lit(0.5)).cast("long")
        )
        .drop("__weight")
    )


@declared(
    "q_mix_apply",
    oracle="""
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total,
             CAST(COUNT(*) AS DOUBLE) AS n_src
      FROM per_src
    ), w AS (
      SELECT source,
             least(CAST(1.0 AS DOUBLE), (total / n_src) / n_tokens) AS weight
      FROM per_src CROSS JOIN tot
    ), kept AS (
      SELECT d.source
      FROM documents d JOIN w USING (source)
      WHERE ((d.doc_id % 2147483647) * 48271 + 42) % 2147483647 % 1000000
            < CAST(floor(weight * 1000000 + 0.5) AS BIGINT)
    )
    SELECT a.source, a.n_docs, COALESCE(b.n_kept, 0) AS n_kept
    FROM (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source) a
    LEFT JOIN (SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source) b
      USING (source)
    """,
)
def q_mix_apply(spark, sf_dir):
    """Mixture application rollup, ORACLE-CHECKED (round-6 upgrade from
    rows-only): per-source kept-vs-total doc counts after materializing
    the token-equalizing mixture.  The portable Lehmer bucket hash +
    half-up threshold make WHICH rows survive identical across engines,
    so the oracle pins the exact kept set — the statistical contract
    (kept fraction tracks weight; full-weight sources keep everything;
    determinism) remains pinned by tests/test_curation.py."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    kept = apply_mixture(d)
    return (
        d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")),
            "source",
            "left",
        )
        .select(
            "source", "n_docs", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
        )
    )


# --------------------------------------------------------------------------
# Web-noise scrubbing + per-source quota capping (round 5)
# --------------------------------------------------------------------------

# Web boilerplate shapes every crawl-derived corpus scrubs before
# training: URLs, bare emails, HTML tags, and punctuation runs.  Only
# literal classes / bounded quantifiers, so Java (Spark) and RE2
# (DuckDB) agree on every match boundary.
WEB_NOISE_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "[URL]"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"<[^>]*>", " "),
    (r"[!?.,;:]{3,}", " "),
)


def scrub_web_noise(df: DataFrame, text_col: str, *, out_col: str | None = None) -> DataFrame:
    """Crawl-corpus scrub: chained ``regexp_replace`` over the standard
    web-noise shapes, then whitespace re-collapse.  Same execution
    shape as :func:`redact_pii`: pure Catalyst expressions, whole-stage
    codegen, map-side only — a scan-speed pass at 100 TB."""
    c = F.col(text_col)
    for pat, repl in WEB_NOISE_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col or text_col, c)


@declared(
    "q_text_scrub",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' see https://ex' || CAST(doc_id AS VARCHAR)
                  || '.example/a?b=1 or <b>bold</b> mail root'
                  || CAST(doc_id AS VARCHAR) || '@spam.example now!!!' AS text
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, 'https?://[^\\s]+', '[URL]', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '<[^>]*>', ' ', 'g'),
               '[!?.,;:]{3,}', ' ', 'g'),
             '\\s+', ' ', 'g')) AS clean_text,
           CAST(length(text) - length(regexp_replace(text, 'https?://[^\\s]+', '', 'g'))
                AS INT) AS url_chars
    FROM seeded
    """,
)
def q_text_scrub(spark, sf_dir):
    """North-star curation: web-noise scrubbing, oracle-checked end to
    end.  Fixture text is clean word-soup, so each doc is seeded with
    deterministic doc_id-derived noise (URL, HTML tag, email,
    punctuation run) before the scrub — the oracle seeds and scrubs
    identically, pinning every regex's match boundaries across engines
    plus a removed-URL-chars measure."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://ex"), F.col("doc_id").cast("string"),
            F.lit(".example/a?b=1 or <b>bold</b> mail root"),
            F.col("doc_id").cast("string"),
            F.lit("@spam.example now!!!"),
        ).alias("text"),
    )
    url_chars = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"https?://[^\s]+", ""))
    ).cast("int")
    return (
        scrub_web_noise(seeded, "text", out_col="clean_text")
        .withColumn("url_chars", url_chars)
        .select("doc_id", "clean_text", "url_chars")
    )


def cap_per_group(
    df: DataFrame, group_col: str, id_col: str, *, max_rows: int, seed: int = 42
) -> DataFrame:
    """Per-group quota cap: keep at most ``max_rows`` rows per group,
    chosen by deterministic hash-rank (Lehmer multiplicative hash of
    the id, id tiebreak) — the "no single domain dominates the corpus"
    curation step.

    Hash-rank (not first-N-by-id) makes the kept subset an unbiased,
    reproducible sample of each group; the same Lehmer arithmetic as
    stratified sampling keeps it engine-portable.  Execution: one
    shuffle on ``group_col`` + a windowed rank — rank-per-group cannot
    partial-aggregate, so this is the canonical shape; skewed groups
    are bounded by the cap itself on output, and AQE handles input
    skew."""
    h = lehmer_bucket(id_col, seed, buckets=2147483647)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= max_rows)
        .drop("__rank")
    )


@declared(
    "q_source_cap",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ((doc_id % 2147483647) * 48271 + 42) % 2147483647,
                        doc_id
             ) AS rnk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM ranked WHERE rnk <= 10
    GROUP BY source
    """,
)
def q_source_cap(spark, sf_dir):
    """North-star curation: per-source quota cap (keep <=10 docs per
    source by deterministic hash-rank), oracle-checked — kept_id_sum
    pins WHICH rows survive, not just how many."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return (
        cap_per_group(d, "source", "doc_id", max_rows=10)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_id_sum"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


def apply_temperature(
    df: DataFrame, *, source_col: str = "source", id_col: str = "doc_id",
    text_col: str = "text", tokens_col: str | None = None, seed: int = 77,
) -> DataFrame:
    """Materialize the sqrt-temperature mixture (the q_mix_temperature
    schedule): each source's rows are REPEATED by its up-sampling
    factor vs the head source, f = sqrt(max_tokens / n_tokens) >= 1 —
    floor(f) whole copies plus one extra copy with probability
    frac(f), decided by the portable Lehmer hash so WHICH rows get the
    extra copy is deterministic and engine-reproducible.

    This is the up-sampling half of data mixing (apply_mixture is the
    down-sampling half): tail domains repeat, the head domain stays at
    one copy, and expected token mass per source follows the sqrt
    schedule.  Physical shape: one per-source aggregate (max attached
    via _with_global's window — no second scan), then a map-side
    ``explode(sequence(1, n_copies))`` — the corpus is
    read once, never shuffled, and output order carries a ``copy_id``
    so downstream packing/sharding can spread duplicates.  At 100 TB
    repetition multiplies bytes written, not bytes read."""
    # a caller that already materialized per-row token counts passes
    # tokens_col and spares the mix stage a second full tokenization
    # pass over every document (r16 review — the capstone's case)
    row_tokens = (
        F.col(tokens_col) if tokens_col is not None
        else F.size(_tokens(text_col))
    )
    per_src = df.groupBy(source_col).agg(
        F.sum(row_tokens).cast("bigint").alias("__n_tokens")
    )
    # NULL/zero token sums (a source whose documents all have NULL
    # text) pass through at factor 1 instead of silently vanishing —
    # sqrt(max/NULL) is NULL, and NULL __n_copies would drop the whole
    # source from the mixture with no error (r6 review finding)
    n_tok = F.coalesce(F.col("__n_tokens"), F.lit(0))
    f = F.when(
        n_tok > 0, F.sqrt(F.col("__max_tokens").cast("double") / n_tok)
    ).otherwise(F.lit(1.0))
    factors = _with_global(
        per_src, __max_tokens=F.max("__n_tokens")
    ).select(
        source_col,
        F.floor(f).cast("int").alias("__whole"),
        F.floor((f - F.floor(f)) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("__frac_e6"),
    )
    bucket = lehmer_bucket(id_col, seed)
    n_copies = F.col("__whole") + (bucket < F.col("__frac_e6")).cast("int")
    return (
        df.join(F.broadcast(factors), source_col)
        .withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") > 0)
        .select(
            "*", F.explode(F.sequence(F.lit(1), F.col("__n_copies"))).alias("copy_id")
        )
        .drop("__whole", "__frac_e6", "__n_copies")
    )


@declared(
    "q_mix_temperature_apply",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+')))
                  AS BIGINT) AS n_tokens,
             COUNT(*) AS n_docs
      FROM documents GROUP BY source
    ), m AS (
      SELECT CAST(MAX(n_tokens) AS BIGINT) AS max_tokens FROM s
    ), fac AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(max_tokens AS DOUBLE) / n_tokens)) AS INT)
               AS whole,
             CAST(floor((sqrt(CAST(max_tokens AS DOUBLE) / n_tokens)
                         - floor(sqrt(CAST(max_tokens AS DOUBLE) / n_tokens)))
                        * 1000000 + 0.5) AS BIGINT) AS frac_e6
      FROM s CROSS JOIN m
    )
    SELECT d.source, f.n_docs,
           CAST(SUM(f.whole
                    + CASE WHEN ((d.doc_id % 2147483647) * 48271 + 77)
                             % 2147483647 % 1000000 < f.frac_e6
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_materialized
    FROM documents d JOIN fac f USING (source)
    GROUP BY d.source, f.n_docs
    """,
)
def q_mix_temperature_apply(spark, sf_dir):
    """Materialized sqrt-temperature mixture rollup, ORACLE-CHECKED:
    per-source original doc count and materialized (post-repetition)
    row count.  The oracle computes per-row copy counts arithmetically
    instead of exploding — same totals, certifying the whole factor
    derivation + Lehmer extra-copy decision; the Spark side really
    explodes (the materialization path a trainer consumes)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    mat = apply_temperature(d)
    # n_docs derived from the materialized frame itself: f >= 1 for
    # every source, so each original row emits exactly one copy_id=1
    # row — no third corpus scan for the original counts
    return mat.groupBy("source").agg(
        F.count(F.when(F.col("copy_id") == 1, 1)).alias("n_docs"),
        F.count(F.lit(1)).alias("n_materialized"),
    )


def epoch_plan(
    df: DataFrame,
    text_col: str,
    source_col: str,
    *,
    budget_tokens_factor: int = 2,
    epoch_warn_e6: int = 4_000_000,
) -> DataFrame:
    """Training-mix epoch plan (r15): given sqrt-temperature sampling
    masses (the B-mix_temperature schedule) and a total training token
    budget, compute per source how many PASSES over it the schedule
    implies — the "how many epochs of each source" table a pretraining
    data team signs off before a run, and the place the "you would
    repeat this source 12 times" warning comes from.

    Arithmetic, all integer-exact: mass = round(sqrt(n_tokens)) (IEEE
    sqrt is correctly rounded everywhere — the q_mix_temperature
    argument; integer-grain masses keep every product in int64, see
    below), budget = ``budget_tokens_factor`` x corpus tokens,
    target_s = floor(budget * mass_s / sum(mass)) and
    epochs_e6 = floor(target_s * 1e6 / n_tokens) — BOTH evaluated
    through the exact split identity
    ``floor(a*m/b) = (a DIV b)*m + ((a MOD b)*m) DIV b``
    so no intermediate ever multiplies two corpus-scale numbers (the
    r15 review found the naive ``budget * mass`` form binds at ~2e8
    corpus tokens because it grows as T^1.5).  Residual headroom,
    guarded in-plan with division-free comparisons: (a) the split's
    cross term binds at sum(mass)^2 — sum(mass) <= 2^31 holds to
    ~1e16/|sources|^2 corpus tokens; (b) the epochs split multiplies
    a per-source remainder by 1e6 — n_tokens <= 2^62/1e6 (~4.6e12
    tokens PER SOURCE); (c) a degenerate plan implying more than
    ~4.6e12 epochs of one source.  Each fails loud past its bound.

    Scale shape: ONE corpus scan into the per-source token aggregate;
    everything after is |sources|-row arithmetic with the two global
    sums attached via the unpartitioned window (:func:`_with_global`).
    """
    s = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(_tokens(text_col))).cast("bigint").alias("n_tokens"),
    ).withColumn(
        "mass",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) + F.lit(0.5))
        .cast("bigint"),
    )
    s = _with_global(
        s,
        total_mass=F.sum("mass"),
        budget=F.sum("n_tokens"),
    ).withColumn("budget", F.col("budget") * budget_tokens_factor)
    lim = 2 ** 62
    guarded_mass = F.when(
        (F.col("total_mass") > F.lit(2 ** 31))
        | (F.col("n_tokens") > F.lit(lim // 1_000_000)),
        F.raise_error(F.concat(
            F.lit("epoch_plan: int64 headroom exceeded (sum(mass) > "
                  "2^31 or a source past ~4.6e12 tokens) — widen the "
                  "plan arithmetic to DECIMAL(38,0)"),
        )).cast("bigint"),
    ).otherwise(F.col("mass"))
    # the guard must ride the consumed column ITSELF, in a projection
    # BEFORE the products consume it (same-select references resolve to
    # the unguarded input and would overflow first)
    planned = s.withColumn("mass", guarded_mass).select(
        F.col(source_col),
        "n_docs", "n_tokens", "mass",
        # floor(budget*mass/total_mass) via the split identity: the
        # quotient term multiplies by a small per-source mass, the
        # remainder term is < total_mass * mass <= total_mass^2
        F.expr(
            "CAST((budget DIV total_mass) * mass"
            " + ((budget % total_mass) * mass) DIV total_mass"
            " AS BIGINT)"
        ).alias("target_tokens"),
    )
    epochs_full = F.expr("target_tokens DIV n_tokens")
    guarded_full = F.when(
        epochs_full > F.lit(lim // 1_000_000),
        F.raise_error(F.lit(
            "epoch_plan: plan implies more than ~4.6e12 epochs of one "
            "source — degenerate mix, int64 headroom exceeded"
        )).cast("bigint"),
    ).otherwise(epochs_full)
    planned = planned.withColumn("__full", guarded_full).withColumn(
        "epochs_e6",
        F.expr(
            "CAST(__full * 1000000"
            " + ((target_tokens % n_tokens) * 1000000) DIV n_tokens"
            " AS BIGINT)"
        ),
    ).drop("__full").withColumn(
        "repeat_warn", (F.col("epochs_e6") > F.lit(epoch_warn_e6)),
    )
    return planned


@declared(
        "q_mix_epoch_plan",
        oracle="""
        WITH s AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+')))
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ), g AS (
          SELECT source, n_docs, n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) + 0.5)
                      AS BIGINT) AS mass,
                 CAST(SUM(CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))
                                     + 0.5) AS BIGINT))
                      OVER () AS BIGINT) AS total_mass,
                 CAST(2 * SUM(n_tokens) OVER () AS BIGINT) AS budget
          FROM s
        ), p AS (
          SELECT source, n_docs, n_tokens, mass,
                 CAST((budget // total_mass) * mass
                      + ((budget % total_mass) * mass) // total_mass
                      AS BIGINT) AS target_tokens
          FROM g
        )
        SELECT source, n_docs, n_tokens, mass, target_tokens,
               CAST((target_tokens // n_tokens) * 1000000
                    + ((target_tokens % n_tokens) * 1000000) // n_tokens
                 AS BIGINT) AS epochs_e6,
               ((target_tokens // n_tokens) * 1000000
                + ((target_tokens % n_tokens) * 1000000) // n_tokens
                > 4000000) AS repeat_warn
        FROM p
        """,
    )
def q_mix_epoch_plan(spark, sf_dir):
    """Training-mix epoch plan, FULL hash-match oracle: per source,
    the sqrt-temperature sampling mass, the token target under a
    2x-corpus budget, and the implied epochs over the source
    (e6-scaled, with the >4-epoch repeat warning flag) — every
    number integer-exact so DuckDB attests the whole plan
    value-for-value."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return epoch_plan(d, "text", "source")


def source_influence(
    df: DataFrame,
    text_col: str,
    source_col: str,
) -> DataFrame:
    """Leave-one-source-out influence on the corpus mean document
    length (r15): for each source, what the mean tokens-per-doc
    becomes if the source is REMOVED — the cheapest honest answer to
    "which source is dragging this statistic", computed exactly from
    one aggregate pass instead of |sources| recomputations (the
    leave-one-out identity: removing s changes the mean to
    (T - t_s)/(N - n_s), all four inputs already in the per-source
    rollup).

    All integer-exact e6 rationals: global_mean_e6 = T*1e6 DIV N,
    mean_wo_e6 = (T - t_s)*1e6 DIV (N - n_s), influence_e6 = the
    difference (positive ⇒ the source drags the mean DOWN).  A source
    that IS the whole corpus has no leave-one-out mean — emitted as
    influence 0 with mean_wo_e6 = global (the only defensible
    convention; NULL would poison downstream sorts).  Headroom:
    T*1e6 < 2^62 holds to ~4.6e12 corpus tokens, guarded in-plan
    (division-only comparison, the epoch_plan convention).

    Scale shape: ONE corpus scan into the per-source aggregate;
    |sources|-row arithmetic after the unpartitioned-window totals.
    """
    s = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(_tokens(text_col))).cast("bigint").alias("n_tokens"),
    )
    s = _with_global(
        s, total_tokens=F.sum("n_tokens"), total_docs=F.sum("n_docs")
    )
    lim = 2 ** 62
    guarded_tokens = F.when(
        F.col("total_tokens") > F.lit(lim // 1_000_000),
        F.raise_error(F.lit(
            "source_influence: corpus tokens exceed the int64 headroom "
            "2^62/1e6 — widen the e6 products to DECIMAL(38,0) past "
            "~4.6e12 tokens"
        )).cast("bigint"),
    ).otherwise(F.col("total_tokens"))
    s = s.withColumn("total_tokens", guarded_tokens)
    global_e6 = F.expr("total_tokens * 1000000 DIV total_docs")
    wo_e6 = F.when(
        F.col("total_docs") == F.col("n_docs"), global_e6
    ).otherwise(F.expr(
        "(total_tokens - n_tokens) * 1000000 DIV (total_docs - n_docs)"
    ))
    return s.select(
        F.col(source_col),
        "n_docs", "n_tokens",
        global_e6.cast("bigint").alias("global_mean_e6"),
        wo_e6.cast("bigint").alias("mean_wo_e6"),
        (wo_e6 - global_e6).cast("bigint").alias("influence_e6"),
    )


@declared(
    "q_select_influence",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), g AS (
      SELECT source, n_docs, n_tokens,
             CAST(SUM(n_tokens) OVER () AS BIGINT) AS tt,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS td
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(tt * 1000000 // td AS BIGINT) AS global_mean_e6,
           CAST(CASE WHEN td = n_docs THEN tt * 1000000 // td
                ELSE (tt - n_tokens) * 1000000 // (td - n_docs)
                END AS BIGINT) AS mean_wo_e6,
           CAST(CASE WHEN td = n_docs THEN 0
                ELSE (tt - n_tokens) * 1000000 // (td - n_docs)
                     - tt * 1000000 // td
                END AS BIGINT) AS influence_e6
    FROM g
    """,
)
def q_select_influence(spark, sf_dir):
    """Leave-one-source-out influence panel, FULL hash-match oracle:
    per source, the corpus mean tokens-per-doc with and without the
    source and the e6-exact delta — the "which source moves this
    statistic" report, attested value-for-value by DuckDB."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return source_influence(d, "text", "source")


# Fixed bin-grid width for the curriculum's two-phase quantile
# location (the token-budget _N_BUDGET_BINS sibling): the unpartitioned
# running sum ranks at most this many rows regardless of corpus size.
_N_CURRICULUM_BINS = 1024


def curriculum_phases(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_phases: int = 4,
) -> DataFrame:
    """Curriculum ordering manifest (r15): assign every document a
    training PHASE by quality quantile (score = chars-per-token, the
    cheap fluency proxy — low score first, so the curriculum runs
    easy-to-hard) and attest the assignment with a per-phase rollup:
    doc/token totals, the exact score boundaries, and the md5-argmin
    "first document" of each phase (pins the within-phase shuffle
    order a trainer would consume without hashing the whole manifest).

    Quantiles are VALUE-GRAIN: the thresholds are the smallest scores
    whose cumulative count reaches ceil(N*k/n), and equal scores never
    split across phases (the property a curriculum actually wants —
    two equally-hard documents belong to the same phase), so phase
    sizes are near-N/n, exact only when no ties straddle a boundary.

    Scale shape: NO global row sort — per-doc scores are map-side; the
    distinct-score histogram is one distributed aggregate, and the
    quantile thresholds come from the token-budget two-phase recipe
    (VERDICT r15 #4): a fixed ``_N_CURRICULUM_BINS``-bin grid over the
    histogram, ONE unpartitioned running sum over <= that many bin
    rows, then exact score-grain ranking only inside each quantile's
    boundary bin (a window partitioned by quantile index, ~1/1024 of
    the distinct scores each).  Thresholds broadcast back; phase
    assignment is a map-side comparison and the rollup one phase-grain
    aggregate.  The two corpus scans (score histogram + rollup) mirror
    the classifier face's audited shape.
    """
    assigned = curriculum_assign(
        df, text_col, id_col, n_phases=n_phases, op="curriculum_phases"
    )
    # md5-argmin folded INTO the rollup as a min-of-struct (r15
    # review: a separate ranking window was a third corpus scan —
    # Spark never dedupes common subplans)
    return assigned.groupBy("phase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__t").cast("bigint").alias("n_tokens"),
        F.min("score_e6").cast("bigint").alias("min_score_e6"),
        F.max("score_e6").cast("bigint").alias("max_score_e6"),
        F.min(F.struct(F.col("__h"), F.col(id_col).alias("__id")))
        .getField("__id").alias("first_doc_id"),
    ).select(
        "phase", "n_docs", "n_tokens",
        "min_score_e6", "max_score_e6", "first_doc_id",
    )


def curriculum_assign(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_phases: int = 4,
    op: str = "curriculum_assign",
) -> DataFrame:
    """Per-document curriculum phase assignment — the B180 recipe up
    to (but not including) the rollup: ``(id, __t, score_e6, phase,
    __h)`` with phase 1..n_phases by value-grain chars-per-token
    quantile.  Shared seam (r17): :func:`curriculum_phases` rolls it
    up into the manifest, :func:`corpus_release` orders the training
    export with it."""
    toks = F.size(_tokens(text_col))
    raw_score = F.expr(
        f"CAST(length({text_col}) AS BIGINT) * 1000000"
        f" DIV CAST(size(split(lower({text_col}), '\\\\s+')) AS BIGINT)"
    )
    # NULL text scores NULL, and Spark windows sort NULLs FIRST while
    # DuckDB sorts them LAST — the thresholds would silently diverge
    # (r15 review).  Fail loud instead, the budget-cut convention.
    scored = df.select(
        F.col(id_col),
        toks.cast("bigint").alias("__t"),
        F.when(
            raw_score.isNull(),
            F.raise_error(F.concat(
                F.lit(f"{op}: NULL "),
                F.lit(text_col),
                F.lit(" has no score — filter NULL documents upstream"),
            )).cast("bigint"),
        ).otherwise(raw_score).alias("score_e6"),
    )
    # kept, sf0.1 cut -> none: 0.42 -> 0.08 MB read, 0.03 -> 0.05 MB shuffled
    hist = cut(
        scored.groupBy("score_e6").agg(
            F.count(F.lit(1)).cast("bigint").alias("__c")
        ),
        "curation.curriculum_assign.hist",
    )
    # Two-phase threshold location (VERDICT r15 #4, the token-budget
    # B159 recipe): the only UNPARTITIONED running sum ranks a fixed
    # <= _N_CURRICULUM_BINS-row bin histogram — never the distinct-
    # score relation, whose size grows with the corpus; exact score-
    # grain ranking is paid only INSIDE each quantile's boundary bin,
    # as a window partitioned by quantile index.  Value-grain ties are
    # preserved exactly: thresholds are still score VALUES and bins
    # split only BETWEEN distinct scores (equal scores share a bin),
    # so the result is row-identical to the naive global running sum
    # — the unchanged DuckDB oracle (which runs the naive version) is
    # the algebraic proof.
    nb = _N_CURRICULUM_BINS
    # kept, sf0.1 cut -> none: 0.42 -> 0.67 MB read, 0.03 -> 0.03 MB shuffled
    # 100x: 1.32 -> 1.57 MB read, 7.24 -> 7.85 s
    stats = cut(
        hist.agg(
            F.min("score_e6").alias("__mn"),
            F.max("score_e6").alias("__mx"),
            F.sum("__c").alias("__n"),
        ),
        "curation.curriculum_assign.stats",
    )
    hb = hist.crossJoin(F.broadcast(stats)).withColumn(
        "__bin",
        F.expr(f"(score_e6 - __mn) * {nb} DIV (__mx - __mn + 1)"),
    )
    wbin = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bincum = (
        hb.groupBy("__bin").agg(F.sum("__c").alias("__bc"))
        .withColumn(
            "__below", F.coalesce(F.sum("__bc").over(wbin), F.lit(0))
        )
    )
    # per quantile k: the boundary bin is the FIRST bin whose end-of-
    # bin cumulative count reaches ceil(N*k/n_phases); carry its
    # strictly-below count so the in-bin ranking resumes the global sum
    bks = (
        bincum.crossJoin(F.broadcast(stats.select("__n")))
        .agg(*[
            F.min(F.when(
                (F.col("__below") + F.col("__bc")) * n_phases
                >= F.col("__n") * k,
                F.struct(F.col("__bin"), F.col("__below")),
            )).alias(f"__s{k}")
            for k in range(1, n_phases)
        ])
        .select(F.explode(F.array(*[
            F.struct(
                F.lit(k).alias("k"),
                F.col(f"__s{k}")["__bin"].alias("__kbin"),
                F.col(f"__s{k}")["__below"].alias("__kbelow"),
            )
            for k in range(1, n_phases)
        ])).alias("__s"))
        .select("__s.k", "__s.__kbin", "__s.__kbelow")
    )
    wk = Window.partitionBy("k").orderBy("score_e6").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    thr_rows = (
        hb.join(F.broadcast(bks), hb["__bin"] == bks["__kbin"])
        .withColumn("__cum", F.col("__kbelow") + F.sum("__c").over(wk))
        .filter(F.col("__cum") * n_phases >= F.col("__n") * F.col("k"))
        .groupBy("k").agg(F.min("score_e6").alias("__q"))
    )
    thresholds = thr_rows.agg(*[
        F.min(F.when(F.col("k") == k, F.col("__q"))).alias(f"q{k}")
        for k in range(1, n_phases)
    ])
    phase = sum(
        (F.when(F.col("score_e6") > F.col(f"q{k}"), 1).otherwise(0)
         for k in range(1, n_phases)),
        F.lit(1),
    ).cast("bigint")
    return scored.crossJoin(F.broadcast(thresholds)).select(
        F.col(id_col), "__t", "score_e6", phase.alias("phase"),
        F.md5(F.concat(F.lit("cur:"), F.col(id_col).cast("string")))
        .alias("__h"),
    )


@declared(
    "q_curriculum",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                  AS BIGINT) AS t,
             CAST(length(text) AS BIGINT) * 1000000
               // CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                       AS BIGINT) AS score_e6
      FROM documents
    ), hist AS (
      SELECT score_e6, CAST(COUNT(*) AS BIGINT) AS c
      FROM scored GROUP BY score_e6
    ), cum AS (
      SELECT score_e6,
             SUM(c) OVER (ORDER BY score_e6
                          ROWS UNBOUNDED PRECEDING) AS cm,
             SUM(c) OVER () AS n
      FROM hist
    ), th AS (
      SELECT MIN(CASE WHEN cm * 4 >= n * 1 THEN score_e6 END) AS q1,
             MIN(CASE WHEN cm * 4 >= n * 2 THEN score_e6 END) AS q2,
             MIN(CASE WHEN cm * 4 >= n * 3 THEN score_e6 END) AS q3
      FROM cum
    ), assigned AS (
      SELECT s.doc_id, s.t, s.score_e6,
             CAST(1 + CASE WHEN s.score_e6 > th.q1 THEN 1 ELSE 0 END
                    + CASE WHEN s.score_e6 > th.q2 THEN 1 ELSE 0 END
                    + CASE WHEN s.score_e6 > th.q3 THEN 1 ELSE 0 END
                  AS BIGINT) AS phase,
             md5('cur:' || CAST(s.doc_id AS VARCHAR)) AS h
      FROM scored s CROSS JOIN th
    ), firsts AS (
      SELECT phase, doc_id AS first_doc_id FROM (
        SELECT phase, doc_id,
               ROW_NUMBER() OVER (PARTITION BY phase
                                  ORDER BY h, doc_id) AS rk
        FROM assigned
      ) WHERE rk = 1
    )
    SELECT a.phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(a.t) AS BIGINT) AS n_tokens,
           CAST(MIN(a.score_e6) AS BIGINT) AS min_score_e6,
           CAST(MAX(a.score_e6) AS BIGINT) AS max_score_e6,
           MAX(f.first_doc_id) AS first_doc_id
    FROM assigned a JOIN firsts f USING (phase)
    GROUP BY a.phase
    """,
)
def q_curriculum(spark, sf_dir):
    """Curriculum phase manifest, FULL hash-match oracle: documents
    quartiled easy-to-hard by exact chars-per-token score with
    value-grain (tie-preserving) boundaries, per-phase doc/token
    totals, score ranges, and the md5-first document — the training
    order attested value-for-value by DuckDB."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return curriculum_phases(d, "text", "doc_id")


def decontaminate_bloom_portable(
    train: DataFrame, eval_df: DataFrame, text_col: str, id_col: str, *,
    n: int = 4, k: int = 3, hex_chars: int = 5,
) -> DataFrame:
    """Partitioned-Bloom decontamination with md5-derived bit positions
    (round 9): ``k`` arrays of ``16^hex_chars`` positions, position of
    gram g in array j = hex digits ``[j*hex_chars, (j+1)*hex_chars)``
    of ONE ``md5(g)`` (disjoint slices of a uniform digest are
    independent hashes) — a train doc is flagged iff ANY of its
    word n-grams has ALL k positions set by the eval set's grams.
    Exact partitioned-Bloom semantics INCLUDING its false positives,
    but every position is an md5 prefix any engine computes
    identically, so the flagged set is oracle-checkable value-for-value
    (the 1 MB numpy-bitmap tier, :func:`decontaminate_bloom`, keeps
    the production path).

    Scale shape: the "bit array" is a DISTINCT (j, pos) relation hard-
    bounded at k * 16^hex_chars rows (~3M at the defaults) REGARDLESS
    of corpus size — broadcast it; probing is explode(grams) x k in
    codegen + one broadcast semi-join + an (id, gram) count == k — no
    shuffle of document text, no driver collect."""
    if k * hex_chars > 32:
        raise ValueError("k * hex_chars must be <= 32 (one md5 per gram)")
    # position j of gram g = hex chars [j*hex_chars, (j+1)*hex_chars)
    # of ONE md5(g): disjoint slices of a uniform digest are k
    # independent hash functions at a third of the digest cost
    # spread both sides before the gram/md5 codegen work: a local
    # single-file scan arrives as ONE partition and serializes the
    # CPU-bound hashing onto one core (no-op at scale — guide §2.5)
    grams_e = (
        spread_for_compute(eval_df)
        .select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .distinct()
    )
    pos = F.expr(f"substring(h, j * {hex_chars} + 1, {hex_chars})")
    setbits = (
        grams_e.select(F.md5("gram").alias("h"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"), "h"
        )
        .select("j", pos.alias("pos"))
        .distinct()
    )
    probes = (
        spread_for_compute(train)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram"),
        )
        .select(id_col, "gram", F.md5("gram").alias("h"))
        .select(
            id_col, "gram",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
            "h",
        )
        .select(id_col, "gram", "j", pos.alias("pos"))
    )
    hit = (
        probes.join(F.broadcast(setbits), ["j", "pos"], "left_semi")
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("__k"))
        .filter(F.col("__k") == k)
        .select(id_col)
        .distinct()
    )
    return train.join(
        hit.withColumn("contaminated_bloom", F.lit(True)), id_col, "left"
    ).fillna(False, ["contaminated_bloom"])


@declared(
    "q_decontaminate_bloom_portable",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 3, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS gram
      FROM toks
    ), setbits AS (
      SELECT DISTINCT j,
             substr(md5(gram), CAST(j * 5 + 1 AS INT), 5) AS pos
      FROM (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0)
      CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
    ), probes AS (
      SELECT DISTINCT doc_id, gram, j,
             substr(md5(gram), CAST(j * 5 + 1 AS INT), 5) AS pos
      FROM grams CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
      WHERE doc_id % 20 <> 0
    ), hits AS (
      SELECT doc_id FROM (
        SELECT p.doc_id, p.gram, COUNT(*) AS nk
        FROM probes p JOIN setbits s ON p.j = s.j AND p.pos = s.pos
        GROUP BY p.doc_id, p.gram
      ) WHERE nk = 3
      GROUP BY doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(h.doc_id) AS BIGINT) AS n_flagged
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 20 <> 0
    GROUP BY lang
    """,
)
def q_decontaminate_bloom_portable(spark, sf_dir):
    """B81's Bloom class as a FULL hash-match oracle (round 9,
    extending the portable-MinHash pattern): per-lang flagged counts
    under the md5-position partitioned Bloom — DuckDB sets and probes
    the exact same positions, so the driver attests the sketch's
    flagged set INCLUDING its false positives, value-for-value.  Same
    train/eval split as q_decontaminate_bloom; the numpy-bitmap tier
    keeps the production path and its superset-property tests."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 20 != 0)
    eval_df = d.filter(F.col("doc_id") % 20 == 0)
    flagged = decontaminate_bloom_portable(train, eval_df, "text", "doc_id")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("contaminated_bloom"), 1)).alias("n_flagged"),
    )


def winnowed_fingerprints_portable(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 40, w: int = 16
) -> DataFrame:
    """Engine-portable winnowing (round 9): per document, the distinct
    selected substring fingerprints under the classic scheme — hash
    every ``k``-char gram (md5), slide a ``w``-wide window over the
    positions, keep each window's minimum.  Classic winnowing breaks
    hash ties by leftmost position, but that tiebreak only decides
    WHICH POSITION is recorded — tied keys are the same md5, so the
    selected FINGERPRINT set is identical either way, and this face
    emits fingerprints only.  r10 therefore drops the r9
    ``|| '#' || lpad(pos)`` key suffix (VERDICT r9 #4): the window min
    compares bare 32-char digests — same output, ~20% less window
    cost (the suite's heaviest query).  The numpy rolling-hash tier
    (:func:`substring_fingerprints`) keeps the production path; this
    twin exists so the winnowing CLASS has a value-for-value oracle.

    MAP-SIDE (r17, guide §2.3/§2.4): gram hashing AND window-min
    selection happen inside the document row with array higher-order
    functions — the r16 shape exploded one row PER CHARACTER POSITION
    and ran two windows over a doc-keyed exchange of that relation
    (at 100 TB that shuffles ~n_chars x 48 B per doc twice; the suite's
    single heaviest exchange).  Now nothing reaches an exchange until
    the per-doc DISTINCT fingerprint set (bounded by n_chars / 1, in
    practice ~2/w of it) is already selected.  Selection semantics are
    unchanged — classic winnowing over FULL w-windows only (trailing
    partial windows would make any shared k-char suffix count as
    overlap), with sub-w-gram documents keeping exactly one partial
    window so short docs stay represented; ``slice`` past the array
    end truncates exactly like the old ROWS [0, w-1] frame did at the
    partition tail.  The per-doc ``array_distinct`` replaces the old
    global (id, fp) DISTINCT — identical for unique ``id_col`` (the
    operator's contract), one exchange cheaper.  Returns (id, fp)."""
    body = F.lower(F.col(text_col))
    # __keys[p] = md5 of the k-char gram at 1-based position p; docs
    # shorter than k hash their whole (short) text once
    # (greatest(.., 1)); fp p = min digest over window [p, p+w-1]
    fps = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size(F.col("__keys")) - (w - 1), F.lit(1)),
            ),
            lambda p: F.array_min(F.slice(F.col("__keys"), p, w)),
        )
    )
    return (
        spread_for_compute(df.filter(F.col(text_col).isNotNull()))
        .select(F.col(id_col), body.alias("__t"))
        .select(
            id_col,
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("__t") - (k - 1), F.lit(1)),
                ),
                lambda p: F.md5(F.expr("__t").substr(p, F.lit(k))),
            ).alias("__keys"),
        )
        .select(id_col, F.explode(fps).alias("fp"))
    )


@declared(
    "q_dedup_substring_portable",
    oracle="""
    WITH body AS (
      SELECT doc_id, lower(text) AS t FROM documents
    ), keyed AS (
      SELECT doc_id, p,
             md5(substr(t, CAST(p AS INT), 40)) AS key
      FROM (
        SELECT doc_id, t,
               unnest(range(1, greatest(len(t) - 39, 1) + 1)) AS p
        FROM body
      )
    ), winmin AS (
      SELECT doc_id, p,
             min(key) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS sel,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM keyed
    ), sel AS (
      SELECT DISTINCT doc_id, sel AS fp
      FROM winmin WHERE p <= greatest(n - 15, 1)
    ), shared AS (
      SELECT fp FROM sel GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1
    ), over_docs AS (
      SELECT DISTINCT doc_id FROM sel JOIN shared USING (fp)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(o.doc_id) AS BIGINT) AS n_overlap_docs
    FROM documents d LEFT JOIN over_docs o USING (doc_id)
    GROUP BY lang
    """,
)
def q_dedup_substring_portable(spark, sf_dir):
    """B57's winnowing class as a FULL hash-match oracle (round 9,
    extending the portable-md5 pattern): per-lang count of documents
    sharing a winnow-selected 40-char fingerprint with another
    document — DuckDB reproduces gram hashing, window-min selection,
    and the leftmost-position tiebreak exactly, so the driver attests
    WHICH fingerprints winnowing selects, value-for-value.  The numpy
    rolling-hash tier keeps the production path and its
    shared-substring guarantee tests."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    fps = winnowed_fingerprints_portable(d, "text", "doc_id")
    # (doc_id, fp) rows are distinct per doc (array_distinct in the
    # builder), so COUNT(*) == COUNT(DISTINCT doc_id) per fp — the
    # plain count keeps map-side partial aggregation and skips the
    # distinct-aggregate expand (guide §2.3)
    shared = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") > 1)
        .select("fp")
    )
    over_docs = fps.join(shared, "fp", "left_semi").select("doc_id").distinct()
    return (
        d.join(over_docs.withColumn("__o", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.col("__o")).alias("n_overlap_docs"),
        )
    )


def dedup_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Segment-level dedup (the CCNet paragraph-dedup recipe adapted to
    a corpus without newlines): split each document into fixed
    ``seg_words``-word segments, drop every segment appearing in more
    than ``max_doc_freq`` DISTINCT documents, and reassemble the
    survivors in original order.  Boilerplate shared across documents
    (headers, license blocks, templated spans) disappears while unique
    content stays — the standard pre-training cleanup between exact
    dedup (whole-doc) and winnowing (arbitrary substrings).

    Returns one row per input document: ``n_segments``, ``n_dropped``
    and the reassembled ``text_clean`` ('' when everything was shared).

    NULL text is treated as '' (one empty segment), so the contract
    "one row per input document" holds for every input row.

    Scale shape: one Generate (segment explode), a segment-keyed
    aggregate for document frequency, then an INNER frequency-
    annotation join that reuses the same segment partitioning (no
    extra exchange) — dropped segments stay in the relation and are
    filtered INSIDE the per-doc aggregate (n_dropped and the
    all-boilerplate reassembly depend on that; do not "optimize" this
    to a semi join), then a doc-keyed reassembly.  The frequency relation is segment-vocabulary-sized —
    like tf-idf's token relation it shuffles rather than broadcasts,
    and nothing is ever all-pairs.  At 100 TB the shuffle key can be
    narrowed to xxhash64(segment) (CCNet ships 64-bit segment hashes);
    the declared query keeps raw-segment equality so the oracle attests
    exact semantics, and a 64-bit rehash changes results only on hash
    collision (~n²/2⁶⁴).
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    base = df.select(
        F.col(id_col),
        toks.alias("__tk"),
        F.ceil(F.size(toks) / F.lit(float(seg_words))).cast("long").alias("n_segments"),
    )
    segs = base.select(
        id_col,
        "n_segments",
        F.explode(F.sequence(F.lit(0), (F.col("n_segments") - 1).cast("int"))).alias("__seg"),
        "__tk",
    ).select(
        id_col,
        "__seg",
        F.array_join(
            F.slice(F.col("__tk"), F.col("__seg") * seg_words + 1, F.lit(seg_words)), " "
        ).alias("__segment"),
    )
    freq = segs.groupBy("__segment").agg(F.countDistinct(id_col).alias("__df"))
    # Inner-join every segment row to its document frequency, then one
    # per-doc conditional aggregate produces counts AND the reassembled
    # text — all-dropped documents keep their rows (filtered inside the
    # array), so no third pass over the corpus and no left join back:
    # the scan lineage executes exactly twice (segment rows + the freq
    # aggregate), the tf-idf shape.
    annotated = segs.join(freq, "__segment")
    dropped = F.col("__df") > max_doc_freq
    return annotated.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(dropped.cast("long")).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("__seg", "__segment", "__df"))
                    ),
                    lambda s: s["__df"] <= F.lit(max_doc_freq),
                ),
                lambda s: s["__segment"],
            ),
            " ",
        ).alias("text_clean"),
    )


@declared(
    "q_dedup_segments",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tk FROM documents
    ), ex AS (
      SELECT doc_id, tk,
             unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS seg
      FROM toks
    ), segs AS (
      SELECT doc_id, seg,
             array_to_string(list_slice(tk, seg * 10 + 1, seg * 10 + 10), ' ')
               AS segment
      FROM ex
    ), freq AS (
      SELECT segment, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY segment
    ), kept AS (
      SELECT s.doc_id, s.seg, s.segment
      FROM segs s JOIN freq f USING (segment) WHERE f.df <= 1
    ), re AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(segment, ' ' ORDER BY seg) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(ceil(len(t.tk) / 10.0) AS BIGINT) AS n_segments,
           CAST(ceil(len(t.tk) / 10.0) AS BIGINT) - COALESCE(r.n_kept, 0)
             AS n_dropped,
           COALESCE(r.text_clean, '') AS text_clean
    FROM toks t LEFT JOIN re r USING (doc_id)
    """,
)
def q_dedup_segments(spark, sf_dir):
    """Segment-level (CCNet paragraph) dedup, ORACLE-CHECKED per
    document: which 10-word segments are cross-document boilerplate,
    which survive, and the exact reassembled text — value-for-value in
    both engines (string ops and integer slicing only, no hashing)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return dedup_segments(d, "text", "doc_id")


def containment_scores(
    docs: DataFrame, ref: DataFrame, text_col: str, id_col: str, *,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram containment against a reference corpus —
    the SCORED sibling of the boolean decontamination tiers
    (:func:`decontaminate` / the Bloom probe): ``containment_e6 =
    hits * 1e6 DIV n_grams`` where hits counts the document's DISTINCT
    word n-grams present anywhere in the reference.  Use it to RANK
    suspected contamination/derivative text (or, inverted, to score
    novelty for mixing weights) where a yes/no gate is too blunt.

    All-integer statistics (distinct-gram counts + integer DIV), so
    the score is exactly engine-portable.  Documents shorter than
    ``n`` tokens score over their single truncated gram (the
    :func:`word_ngrams` convention); the guard keeps ANSI integer
    division away from 0.

    Scale shape: one scan per side, both column-pruned; the reference
    collapses to its DISTINCT gram set (vocabulary-like, shuffled on
    gram — never broadcast, reference corpora are big); document grams
    deduplicate per doc map-side (array_distinct BEFORE the explode)
    and meet the reference in one gram-keyed LEFT join whose presence
    flag folds back into a per-doc count — no row ever carries text
    past the explode.
    """
    # NULL/empty text degenerates to one NULL/empty gram through the
    # split -> ngram chain; neither is a real gram, and keeping them
    # would let two empty documents "contain" each other — drop them
    # so such documents are genuinely zero-gram (r12 review)
    real = F.col("gram").isNotNull() & (F.col("gram") != "")
    grams = spread_for_compute(docs).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(text_col, n))
        ).alias("gram"),
    ).filter(real)
    ref_grams = spread_for_compute(ref).select(
        F.explode(
            F.array_distinct(word_ngrams(text_col, n))
        ).alias("gram")
    ).filter(real).distinct()
    hit = ref_grams.withColumn("__hit", F.lit(1))
    scored = (
        grams.join(hit, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("hits"),
        )
    )
    # left-join back onto the input so a zero-gram document (NULL text
    # -> explode drops every row) still gets an output row instead of
    # silently vanishing (r12 review — the sibling decontaminate flags
    # every input row); only there can n_grams be 0, so the score
    # guard is live on this relation, not dead code
    per_doc = docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
    )
    score = F.when(
        F.col("n_grams") > 0,
        F.expr("hits * 1000000 DIV n_grams"),
    )
    return per_doc.select(
        id_col, "n_grams", "hits", score.alias("containment_e6")
    )


@declared(
    "q_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS a
      FROM documents
    ), g AS (
      SELECT doc_id, lang, list_distinct(
        CASE WHEN len(a) >= 3 THEN
          [array_to_string(a[CAST(i AS INT):CAST(i AS INT)+2], ' ')
           FOR i IN range(1, len(a) - 1)]
        ELSE [array_to_string(a, ' ')] END) AS grams
      FROM toks
    ), ref AS (
      SELECT DISTINCT gram FROM (
        SELECT unnest(grams) AS gram FROM g WHERE doc_id % 10 = 0
      ) WHERE gram <> ''
    ), doc_grams AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 10 <> 0
      ) WHERE gram <> ''
    ), hitcounts AS (
      SELECT d.doc_id, COUNT(*) AS n_grams,
             CAST(coalesce(SUM(CASE WHEN r.gram IS NOT NULL THEN 1 END), 0)
                  AS BIGINT) AS hits
      FROM doc_grams d LEFT JOIN ref r ON r.gram = d.gram
      GROUP BY d.doc_id
    ), per_doc AS (
      -- every non-reference input document gets a row, zero-gram or
      -- not (mirrors the engine's left-join-back contract)
      SELECT t.doc_id, t.lang,
             coalesce(h.n_grams, 0) AS n_grams,
             coalesce(h.hits, 0) AS hits
      FROM toks t LEFT JOIN hitcounts h ON h.doc_id = t.doc_id
      WHERE t.doc_id % 10 <> 0
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
           CAST(SUM(hits) AS BIGINT) AS sum_hits,
           CAST(SUM(hits) * 1000000 // SUM(n_grams) AS BIGINT)
             AS containment_e6
    FROM per_doc GROUP BY lang
    """,
)
def q_containment(spark, sf_dir):
    """n-gram containment scoring, FULL hash-match oracle: every 10th
    document forms the reference corpus; the rest score their distinct
    trigram containment against it, aggregated per language —
    all-integer counts and one integer DIV, so DuckDB attests the
    gram sets, the hit join, and the scores exactly."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 10 == 0)
    rest = d.filter(F.col("doc_id") % 10 != 0)
    scores = containment_scores(rest, ref, "text", "doc_id", n=3)
    return (
        scores.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("sum_grams"),
            F.sum("hits").alias("sum_hits"),
            guarded_e6_ratio("sum(hits)", "sum(n_grams)",
                             op="leakage_audit")
            .alias("containment_e6"),
        )
    )


@declared(
    "q_leakage_audit",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, text,
             CAST(concat('0x', substr(
               md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))
             AS BIGINT) % 1000 AS b
      FROM documents
    ), toks AS (
      SELECT doc_id, lang, b,
             regexp_split_to_array(lower(text), '\\s+') AS a
      FROM s
    ), g AS (
      SELECT doc_id, lang, b, list_distinct(
        CASE WHEN len(a) >= 3 THEN
          [array_to_string(a[CAST(i AS INT):CAST(i AS INT)+2], ' ')
           FOR i IN range(1, len(a) - 1)]
        ELSE [array_to_string(a, ' ')] END) AS grams
      FROM toks
    ), train_grams AS (
      SELECT DISTINCT gram FROM (
        SELECT unnest(grams) AS gram FROM g WHERE b >= 200
      ) WHERE gram <> ''
    ), test_grams AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id, unnest(grams) AS gram FROM g WHERE b < 100
      ) WHERE gram <> ''
    ), hitcounts AS (
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(coalesce(SUM(CASE WHEN r.gram IS NOT NULL THEN 1 END), 0)
                  AS BIGINT) AS hits
      FROM test_grams d LEFT JOIN train_grams r ON r.gram = d.gram
      GROUP BY d.doc_id
    ), per_doc AS (
      SELECT t.doc_id, t.lang,
             coalesce(h.n_grams, 0) AS n_grams,
             coalesce(h.hits, 0) AS hits,
             CASE WHEN coalesce(h.n_grams, 0) > 0
                  THEN coalesce(h.hits, 0) * 1000000 // h.n_grams END AS c6
      FROM toks t LEFT JOIN hitcounts h ON h.doc_id = t.doc_id
      WHERE t.b < 100
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(SUM(CASE WHEN c6 >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
           CAST(SUM(hits) AS BIGINT) AS sum_hits,
           CAST(COALESCE(MAX(c6), 0) AS BIGINT) AS max_containment_e6
    FROM per_doc GROUP BY lang
    """,
)
def q_leakage_audit(spark, sf_dir):
    """Train->test leakage audit, FULL hash-match oracle — the
    composition every eval pipeline needs before trusting a held-out
    number: split the corpus with the growth-stable hash split (B143),
    score every TEST document's trigram containment against the TRAIN
    split's gram set (B127), and report per-language test-doc counts,
    docs past the 0.5-containment flag line, and the worst offender.
    A flagged doc means the eval set shares half its trigrams with
    training data — the leak decontamination (B57/B81) must remove.

    Scale shape inherits both parents: map-side split assignment, one
    gram-keyed left join (train grams stay shuffled, never broadcast),
    per-doc counts fold map-side; the lang rollup is groups-sized."""
    from artemia_airflow_spark.operators.selection import hash_split

    ensure_engine_conf(spark)
    d = hash_split(scan(spark, sf_dir, "documents"), "doc_id")
    train = d.filter(F.col("split") == "train")
    test = d.filter(F.col("split") == "test")
    scores = containment_scores(test, train, "text", "doc_id", n=3)
    return (
        test.select("doc_id", "lang")
        .join(scores, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.sum(F.when(F.col("containment_e6") >= 500_000, 1)
                  .otherwise(0)).cast("bigint").alias("n_flagged"),
            F.sum("n_grams").cast("bigint").alias("sum_grams"),
            F.sum("hits").cast("bigint").alias("sum_hits"),
            F.coalesce(F.max("containment_e6"), F.lit(0)).cast("bigint")
            .alias("max_containment_e6"),
        )
    )


def ngram_novelty(
    df: DataFrame, text_col: str, id_col: str, group_col: str,
    *, n: int = 8,
) -> DataFrame:
    """Per-group n-gram novelty report (r14): for each document, the
    share of its DISTINCT word n-grams that occur NOWHERE else in the
    corpus (document frequency 1) — "how much genuinely new content
    does this doc add", the positive-selection complement of the
    near-dup/containment family (high containment says copied; high
    novelty says worth keeping; the n-gram-uniqueness signal of the
    dedup literature used as a value score).  Rolled up per
    ``group_col``: doc count, mean novelty, and fully-novel count.

    Exactness: grams are md5 of the space-joined token window over
    the raw ``\\s+`` split (identical arrays in both engines), per-doc
    novelty = ``unique * 1e6 DIV n_grams``, group mean =
    ``sum(novelty) DIV n_docs`` — all integer.  Documents with fewer
    than ``n`` tokens have no grams and are excluded (reported by the
    complementary length-bucket face).

    Scale shape (r17, guide §2.3 "shuffle keys and metadata instead
    of payloads"): per-doc DISTINCT grams materialize map-side
    (transform + array_distinct), so ``n_grams`` is just the array
    size — no shuffle needed for it.  The exploded (doc, gram)
    relation then feeds ONE gram-keyed aggregate computing df AND
    min(doc_id) together: a df==1 gram belongs to exactly one
    document, namely that min, so per-doc unique counts come from a
    doc-keyed aggregate over the df==1 grams only — the r16 shape's
    token-sized join-back of dfreq onto the gram relation plus the
    second token-sized doc-keyed aggregate are gone.  What crosses
    exchanges after the gram agg is bounded by the unique-gram
    vocabulary, then by the doc count.
    """
    toks = _tokens(text_col)
    # gate on the CHEAP precondition (token count), not on the computed
    # gram array being non-NULL: Catalyst pushes filters through the
    # spread repartition, and a filter referencing the md5-gram
    # expression re-evaluates that whole expression below the exchange
    # — on the scan's (often single) input partition (measured 6.2s ->
    # 0.5s at sf0.1 for this stage).  The pushed size(split(..)) gate
    # is one cheap pass; the gram work runs once, post-spread.
    # The gram expression must also be TOTAL: Catalyst infers
    # isnotnull(__gs) from downstream operators, substitutes this
    # expression into that predicate, and may evaluate it on rows the
    # size-gate has not yet removed — sequence(0, size-n) runs
    # DESCENDING for short docs and feeds slice() a 0 start (runtime
    # error).  word_ngrams' greatest(.., 1) keeps the sequence
    # ascending; a short doc yields one junk gram (its whole token
    # list) that the explicit filter then drops before it is used.
    # The tokens are split once per document (word_ngrams binds them),
    # not once per gram.
    grams = F.expr(
        f"array_distinct(transform({_word_ngrams_sql(text_col, n)}, "
        "__nv_g -> md5(__nv_g)))"
    )
    # materialize the per-doc gram arrays once (r17, guide §3.3/§5):
    # base feeds BOTH the doc-stats projection and the explode below,
    # and Spark does not dedupe common subplans — without this the
    # md5-gram HOF subtree executed once per consumer
    # kept, sf0.1 cut -> none: 28.44 -> 10.72 MB read, 9.87 -> 10.71 MB shuffled
    base = cut(
        spread_for_compute(df)
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), F.col(group_col), grams.alias("__gs")),
        "curation.ngram_novelty.base",
    )
    doc_stats = base.select(
        id_col, group_col, F.size("__gs").alias("__n_grams")
    )
    uniq = (
        base.select(F.col(id_col), F.explode("__gs").alias("__g"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("__df"),
            F.min(id_col).alias("__d0"),
        )
        .filter(F.col("__df") == 1)
        .groupBy(F.col("__d0").alias(id_col))
        .agg(F.count(F.lit(1)).alias("__n_unique"))
    )
    per_doc = (
        doc_stats.join(uniq, id_col, "left")
        .withColumn("__n_unique", F.coalesce("__n_unique", F.lit(0)))
        .withColumn(
            "novelty_e6",
            F.expr("__n_unique * 1000000 DIV __n_grams"),
        )
    )
    return per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(novelty_e6) DIV count(1)").cast("bigint")
        .alias("avg_novelty_e6"),
        F.sum(F.when(F.col("novelty_e6") == 1_000_000, 1).otherwise(0))
        .cast("bigint").alias("n_fully_novel"),
    )


@declared(
    "q_text_novelty",
    oracle="""
    WITH arr AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(text), '\\s+') AS a
      FROM documents
    ), rows_ AS (
      SELECT DISTINCT doc_id, source,
             md5(array_to_string(a[CAST(i AS INT):CAST(i AS INT) + 7],
                                 ' ')) AS g
      FROM arr, unnest(range(1, len(a) - 6)) AS t(i)
      WHERE len(a) >= 8
    ), dfreq AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM rows_ GROUP BY g
    ), per_doc AS (
      SELECT doc_id, MIN(source) AS source,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM rows_ JOIN dfreq USING (g) GROUP BY doc_id
    ), nov AS (
      SELECT doc_id, source,
             n_unique * 1000000 // n_grams AS novelty_e6
      FROM per_doc
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(novelty_e6) // COUNT(*) AS BIGINT)
             AS avg_novelty_e6,
           CAST(SUM(CASE WHEN novelty_e6 = 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fully_novel
    FROM nov GROUP BY source
    """,
)
def q_text_novelty(spark, sf_dir):
    """Per-source 8-gram novelty report, FULL hash-match oracle:
    mean share of corpus-unique n-grams per doc and fully-novel
    doc counts per source — exact integer ratios over identical
    md5 gram sets, attested value-for-value."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return ngram_novelty(d, "text", "doc_id", "source")


# ---------------------------------------------------------------------------
# B181: the corpus-curation capstone — one composed end-to-end pipeline
# ---------------------------------------------------------------------------

def corpus_survivors(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    target_lang: str = "en",
    audit: list | None = None,
) -> DataFrame:
    """The capstone's curation gates through decontamination — scrub ->
    language-ID gate -> quality-classifier gate -> exact dedup ->
    portable near-dup LSH -> eval 4-gram decontamination — returning
    the lineage-truncated survivor store ``(id, lang, source, text,
    __t)``.  Shared seam (r17): :func:`corpus_pipeline` continues into
    mix/split/pack, :func:`corpus_release` into curriculum ordering +
    the versioned training export."""
    from artemia_airflow_spark.operators.dedup import (
        exact_dedup,
        minhash_portable_duplicates,
        stage_fn,
    )
    from artemia_airflow_spark.operators.selection import classifier_scores
    from artemia_airflow_spark.operators.text import language_id

    _stage = stage_fn(audit)
    # spread the single fact scan before the regex/tokenize front
    # stages (r17, guide §2.5): a local single-file scan arrives as
    # ONE partition and the scrub+langid chain ran on one core;
    # no-op at scale (real inputs have thousands of splits)
    s_scrub = scrub_web_noise(
        spread_for_compute(
            train.select(id_col, lang_col, source_col, text_col)
        ),
        text_col,
    )
    ev = scrub_web_noise(
        spread_for_compute(eval_df.select(id_col, text_col)), text_col
    )
    # the eval-side branch — scrub + 4-gram explode + DISTINCT — shares
    # no data dependency with ANY train gate (it joins in only at the
    # decontaminate stage), so materialize it on a second driver thread
    # while the train chain's stage jobs run (guide §2.6, r18): the
    # eval jobs back-fill cores the serial train stages leave idle
    # instead of extending the decontaminate stage's critical path.
    n_dec = 4
    ev_grams = ev.select(
        F.explode(word_ngrams(text_col, n_dec)).alias("gram")
    ).distinct()
    if audit is not None:
        audit.append((
            "eval-grams",
            ev_grams._jdf.queryExecution().explainString(
                ev_grams.sparkSession._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("extended")),
        ))

    def train_chain() -> DataFrame:
        # filter AFTER the stage materialization (r17): a filter on
        # lang_pred substitutes the whole scrub+argmax-of-structs chain
        # into the pushed predicate, which evaluates interpreted next to
        # the projection (measured 2.8 s vs 0.2 s at sf0.1 on 5k docs);
        # materializing lang_pred as a stage column makes the gate a
        # column read off the stage store.  Survivors are identical.
        s_lid = _stage(
            language_id(s_scrub, text_col), "scrub+langid"
        ).filter(F.col("lang_pred") != "und").drop("lang_pred")
        sc = classifier_scores(
            s_lid.withColumn("__is_t", F.col(lang_col) == target_lang),
            text_col, id_col, "__is_t",
        )
        # the classifier gate is NOT stage-materialized (r18): the
        # gated frame has exactly ONE consumer — the exact-dedup
        # window — so a cut here pays a materialization job for no
        # re-expansion protection (the stage-store design exists for
        # stages that fan into 2-3 consumers; this one doesn't).  Both
        # sides the gate reads ARE materialized: s_lid is the previous
        # stage store and the classifier's tokenize-once relation is
        # checkpointed inside classifier_scores (r17).
        s_cls = s_lid.join(
            sc.filter(F.col("pred_target") == 1).select(id_col),
            id_col, "left_semi",
        )
        s_ex = _stage(exact_dedup(s_cls, text_col, id_col), "exact-dedup")
        dups = minhash_portable_duplicates(s_ex, text_col, id_col)
        return _stage(s_ex.join(dups, id_col, "left_anti"), "near-dedup")

    grams, s_near = overlap(
        # kept: tests/test_plans.py::test_corpus_pipeline_no_stage_rescans_the_corpus pins it
        lambda: cut(ev_grams, "curation.corpus_survivors.ev_grams", eager=False),
        train_chain,
    )
    return _stage(
        decontaminate(
            s_near, ev, text_col, id_col, n=n_dec, eval_grams=grams
        )
        .filter(~F.col("contaminated")).drop("contaminated")
        .withColumn("__t", F.size(_tokens(text_col)).cast("bigint")),
        "decontaminate",
    )


def corpus_pipeline(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    target_lang: str = "en",
    capacity: int = 2048,
    shards: int = 32,
    audit: list | None = None,
) -> DataFrame:
    """The composed corpus-curation capstone (r16, VERDICT r15 #3):
    scrub -> language-ID gate -> quality-classifier gate -> exact
    dedup -> portable near-dup LSH -> eval decontamination -> sqrt-
    temperature up-sampling -> frozen hash split -> token-budget
    packing, ending in the per-(split, source) training manifest a
    data team signs off.  This is the reference's own shape — a DAG of
    curation stages feeding a training store (reference
    dags/update_tr_from_ex_dag.py:78-154 composes staged tasks the
    same way) — re-expressed as ONE Spark dataflow whose every stage
    is an already-attested engine operator:

    - :func:`scrub_web_noise` (B58 family) on both corpus and eval,
    - :func:`~..operators.text.language_id` (B43) gating ``und``,
    - :func:`~..operators.selection.classifier_scores` (B150) gating
      on the NB decision rule (score > 0, target = ``target_lang``),
    - :func:`~..operators.dedup.exact_dedup` (B40) min-id per
      normalized text,
    - :func:`~..operators.dedup.minhash_portable_duplicates` (B41
      portable twin) banded-LSH near-dup suppression,
    - :func:`decontaminate` (B81 family) dropping any doc sharing a
      4-gram with the eval set,
    - :func:`apply_temperature` (B-mix) materializing the sqrt
      schedule with deterministic Lehmer extra copies,
    - :func:`~..operators.selection.hash_split` (B144 family) frozen
      80/10/10 assignment,
    - the :func:`pack_sequences_budget` windowing recipe, partitioned
      by (split, shard) so each split packs independently.

    STAGE MATERIALIZATION is the scale design, not an optimization:
    after every gate the surviving frame is lineage-truncated
    (:func:`~..functions.core.cut` — localCheckpoint
    here; a parquet/TxTable stage store on a cluster), because each
    stage fans into 2-3 consumers (stats pass + join back) and Spark
    re-expands common subplans — without the cuts the base scan
    re-executes multiplicatively (the token-budget 10-scans lesson).
    With them, the raw corpus is scanned exactly ONCE for the train
    side and ONCE for the eval side across the entire pipeline, and
    every later stage reads only the previous stage's materialization
    — pinned by the plan audit test via the ``audit`` hook, which
    captures each stage's pre-materialization plan.  The stores are
    lazy cuts (``dedup.stage_fn``; the eval-grams store and the
    classifier's presence relation too): under AQE each still runs its
    query stages at the cut, and only the result stage that writes the
    blocks moves into the first consumer's job, so each store costs one
    job less than an eager one (a pass runs 30 jobs, not 37).

    Returns the manifest: (split, source, n_rows, n_docs, sum_tokens,
    split_seqs) — materialized row counts (post-repetition), distinct
    documents, token totals, and the split's packed-sequence count.
    """
    from artemia_airflow_spark.operators.dedup import stage_fn
    from artemia_airflow_spark.operators.selection import hash_split

    s_dec = corpus_survivors(
        train, eval_df, text_col=text_col, id_col=id_col,
        source_col=source_col, lang_col=lang_col,
        target_lang=target_lang, audit=audit,
    )
    _stage = stage_fn(audit)
    mat = hash_split(
        apply_temperature(
            s_dec, source_col=source_col, id_col=id_col,
            text_col=text_col, tokens_col="__t",
        ),
        id_col,
    )
    packed = _stage(
        mat.withColumn("__shard", F.col(id_col) % shards)
        .withColumn(
            "seq_id",
            _budget_pack_seq_id(
                "__t", ["split", "__shard"], [id_col, "copy_id"], capacity
            ).cast("bigint"),
        )
        .select("split", source_col, id_col, "__t", "__shard", "seq_id"),
        "mix+split+pack",
    )
    m1 = packed.groupBy("split", source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct(id_col).cast("bigint").alias("n_docs"),
        F.sum("__t").cast("bigint").alias("sum_tokens"),
    )
    m2 = packed.groupBy("split").agg(
        F.countDistinct("__shard", "seq_id").cast("bigint")
        .alias("split_seqs"),
    )
    return m1.join(m2, "split").select(
        "split", source_col, "n_rows", "n_docs", "sum_tokens", "split_seqs"
    )


# The capstone oracle's shared prefix — the VERBATIM curation-gate
# chain through the decontaminated survivor set ``dec``; both
# composed faces (q_corpus_pipeline, q_corpus_release) extend it,
# mirroring the corpus_survivors() seam in the engine.
_CAPSTONE_GATES_SQL = """
    WITH base AS (
      SELECT doc_id, lang, source,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, 'https?://[^\\s]+', '[URL]', 'g'),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '[!?.,;:]{3,}', ' ', 'g'),
               '\\s+', ' ', 'g')) AS text
      FROM documents
    ), tr AS (
      SELECT * FROM base WHERE doc_id % 20 <> 0
    ), ev AS (
      SELECT doc_id, text FROM base WHERE doc_id % 20 = 0
    ), lidh AS (
      SELECT doc_id, lang, source, text,
        len(list_intersect(regexp_split_to_array(lower(text), '\\s+'),
            ['the','and','of','to','in'])) AS h_en,
        len(list_intersect(regexp_split_to_array(lower(text), '\\s+'),
            ['el','la','de','que','los'])) AS h_es,
        len(list_intersect(regexp_split_to_array(lower(text), '\\s+'),
            ['le','la','les','des','est'])) AS h_fr,
        len(list_intersect(regexp_split_to_array(lower(text), '\\s+'),
            ['der','die','das','und','ist'])) AS h_de,
        len(list_intersect(regexp_split_to_array(lower(text), '\\s+'),
            ['de5','shi4','le5','zai4','he2'])) AS h_zh
      FROM tr
    ), lid AS (
      SELECT doc_id, lang, source, text FROM lidh
      WHERE greatest(h_en, h_es, h_fr, h_de, h_zh) > 0
    ), toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             regexp_split_to_array(lower(text), '\\s+') AS a
      FROM lid
    ), feats AS (
      SELECT doc_id, is_t, unnest(a) AS feat FROM toks
      UNION ALL
      SELECT doc_id, is_t,
             a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS feat
      FROM toks, unnest(range(1, len(a))) AS t(i)
    ), db AS (
      SELECT DISTINCT doc_id, is_t, substr(md5(feat), 1, 2) AS bucket FROM feats
    ), bs AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t
      FROM db GROUP BY bucket
    ), pri AS (
      SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ndt,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(floor(ln(
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1 AS DOUBLE)
               / CAST(COUNT(*) - SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1
                      AS DOUBLE)
             ) * 1000000.0 + 0.5) AS BIGINT) AS bias6
      FROM lid
    ), contrib AS (
      SELECT bucket,
             CAST(floor(ln(
               CAST((n_t + 1) * (nd - ndt + 2) AS DOUBLE)
               / CAST((n_all - n_t + 1) * (ndt + 2) AS DOUBLE)
             ) * 1000000.0 + 0.5) AS BIGINT) AS w6,
             bias6
      FROM bs CROSS JOIN pri
    ), sc AS (
      SELECT doc_id, CAST(SUM(w6) + MAX(bias6) AS BIGINT) AS score_e6
      FROM db JOIN contrib USING (bucket) GROUP BY doc_id
    ), cls AS (
      SELECT l.doc_id, l.lang, l.source, l.text
      FROM lid l JOIN sc USING (doc_id) WHERE sc.score_e6 > 0
    ), ex AS (
      SELECT doc_id, lang, source, text FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
          ORDER BY doc_id) AS rn
        FROM cls)
      WHERE rn = 1
    ), tok2 AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM ex
    ), hashes AS (
      SELECT doc_id, i,
             min(substr(md5(CAST(i // 4 AS VARCHAR) || ':' || tok),
                        CAST((i % 4) * 8 + 1 AS INT), 8)) AS h
      FROM tok2 CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id, list(h ORDER BY i) AS sig FROM hashes GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, b,
             md5(array_to_string(list_slice(sig, b*8+1, b*8+8), ',')) AS bv
      FROM sig CROSS JOIN (SELECT unnest(range(0, 2)) AS b)
    ), ndup AS (
      SELECT DISTINCT a.doc_id
      FROM banded a JOIN banded x ON a.b = x.b AND a.bv = x.bv
                                 AND x.doc_id < a.doc_id
    ), nd2 AS (
      SELECT e.* FROM ex e LEFT JOIN ndup USING (doc_id)
      WHERE ndup.doc_id IS NULL
    ), t6 AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM nd2
    ), g6 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 3, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS gram
      FROM t6
    ), te AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM ev
    ), ge AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(t) - 3, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS gram
      FROM te
    ), contam AS (
      SELECT DISTINCT g6.doc_id FROM g6 JOIN ge USING (gram)
    ), dec AS (
      SELECT n.*,
             CAST(len(regexp_split_to_array(lower(n.text), '\\s+')) AS BIGINT) AS t
      FROM nd2 n LEFT JOIN contam c USING (doc_id)
      WHERE c.doc_id IS NULL
    )"""


@declared(
    "q_corpus_pipeline",
    oracle=_CAPSTONE_GATES_SQL + """, s7 AS (
      SELECT source, CAST(SUM(t) AS BIGINT) AS n_tokens FROM dec GROUP BY source
    ), m7 AS (
      SELECT CAST(MAX(n_tokens) AS BIGINT) AS max_tokens FROM s7
    ), fac AS (
      SELECT source,
             CAST(floor(sqrt(CAST(max_tokens AS DOUBLE) / n_tokens)) AS INT)
               AS whole,
             CAST(floor((sqrt(CAST(max_tokens AS DOUBLE) / n_tokens)
                         - floor(sqrt(CAST(max_tokens AS DOUBLE) / n_tokens)))
                        * 1000000 + 0.5) AS BIGINT) AS frac_e6
      FROM s7 CROSS JOIN m7
    ), cop AS (
      SELECT d.doc_id, d.lang, d.source, d.t,
             unnest(range(1, f.whole
               + (CASE WHEN ((d.doc_id % 2147483647) * 48271 + 77)
                         % 2147483647 % 1000000 < f.frac_e6
                  THEN 1 ELSE 0 END) + 1)) AS copy_id
      FROM dec d JOIN fac f USING (source)
    ), sp AS (
      SELECT *, CASE WHEN b < 100 THEN 'test'
                     WHEN b < 200 THEN 'val' ELSE 'train' END AS split
      FROM (
        SELECT *, CAST(concat('0x', substr(
            md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))
          AS BIGINT) % 1000 AS b
        FROM cop)
    ), pk AS (
      SELECT split, source, doc_id, t, doc_id % 32 AS shard,
             COALESCE(SUM(t) OVER (
               PARTITION BY split, doc_id % 32
               ORDER BY doc_id, copy_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM sp
    ), pk2 AS (
      SELECT split, source, doc_id, t, shard,
             CAST(FLOOR(cum_prev / 2048.0) AS BIGINT) AS seq_id
      FROM pk
    ), m1 AS (
      SELECT split, source,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(SUM(t) AS BIGINT) AS sum_tokens
      FROM pk2 GROUP BY split, source
    ), m2 AS (
      SELECT split, CAST(COUNT(DISTINCT (shard, seq_id)) AS BIGINT) AS split_seqs
      FROM pk2 GROUP BY split
    )
    SELECT m1.split, m1.source, n_rows, n_docs, sum_tokens, split_seqs
    FROM m1 JOIN m2 USING (split)
    """,
)
def q_corpus_pipeline(spark, sf_dir):
    """The corpus-curation capstone, FULL hash-match oracle: the
    composed scrub -> langid -> classifier -> exact+near dedup ->
    decontaminate -> temperature mix -> hash split -> pack pipeline
    over the documents table (train = doc_id % 20 != 0, eval slice =
    the rest), ending in the per-(split, source) manifest.  The oracle
    chains the VERBATIM DuckDB recipes of the already-attested stage
    faces (q_text_scrub, q_text_langid, q_select_classifier,
    q_dedup_exact, q_dedup_minhash_portable, q_decontaminate,
    q_mix_temperature_apply, q_split_manifest, q_pack_sequences) into
    one WITH-chain — a hash match is therefore evidence the 246
    attested operators COMPOSE: every gate's survivors, every copy
    count, every split assignment, and every packed-sequence count
    agree end-to-end across engines."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return corpus_pipeline(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
    )


@declared(
    "q_corpus_release",
    oracle=_CAPSTONE_GATES_SQL + """, cscored AS (
      SELECT doc_id, t,
             CAST(length(text) AS BIGINT) * 1000000 // t AS score_e6
      FROM dec
    ), chist AS (
      SELECT score_e6, CAST(COUNT(*) AS BIGINT) AS c
      FROM cscored GROUP BY score_e6
    ), ccum AS (
      SELECT score_e6,
             SUM(c) OVER (ORDER BY score_e6
                          ROWS UNBOUNDED PRECEDING) AS cm,
             SUM(c) OVER () AS n
      FROM chist
    ), cth AS (
      SELECT MIN(CASE WHEN cm * 4 >= n * 1 THEN score_e6 END) AS q1,
             MIN(CASE WHEN cm * 4 >= n * 2 THEN score_e6 END) AS q2,
             MIN(CASE WHEN cm * 4 >= n * 3 THEN score_e6 END) AS q3
      FROM ccum
    ), cassigned AS (
      SELECT s.doc_id, s.t, s.score_e6,
             CAST(1 + CASE WHEN s.score_e6 > cth.q1 THEN 1 ELSE 0 END
                    + CASE WHEN s.score_e6 > cth.q2 THEN 1 ELSE 0 END
                    + CASE WHEN s.score_e6 > cth.q3 THEN 1 ELSE 0 END
                  AS BIGINT) AS phase
      FROM cscored s CROSS JOIN cth
    ), sharded AS (
      SELECT *, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                         1, 2)) AS INT) % 16 AS shard
      FROM cassigned
    )
    SELECT phase, CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CAST(MIN(score_e6) AS BIGINT) AS min_score_e6,
           CAST(MAX(score_e6) AS BIGINT) AS max_score_e6
    FROM sharded GROUP BY phase, shard
    """,
)
def q_corpus_release(spark, sf_dir):
    """The trainer hand-off capstone, FULL hash-match oracle: the
    curation gates' survivors, curriculum-phase-assigned (verbatim
    B180 recipe), committed as a TxTable version, exported to the
    sharded ``shard=<n>/`` training layout (md5-prefix routing,
    within-shard easy-to-hard order), and READ BACK from the exported
    files into the per-(phase, shard) release audit panel.  The oracle
    extends the capstone's verbatim gate chain with the curriculum and
    shard recipes and recomputes the panel from scratch — a hash match
    attests the entire release chain including the physical export."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return corpus_release(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
    )


def corpus_release(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    target_lang: str = "en",
    shards: int = 16,
    n_phases: int = 4,
    out_root: str | None = None,
    audit: list | None = None,
    manifest_out: list | None = None,
) -> DataFrame:
    """The trainer hand-off (r17, VERDICT r16 #5, B186): compose the
    capstone's curation gates (:func:`corpus_survivors`), curriculum
    ordering (:func:`curriculum_assign`, B180) and the versioned
    training export (B95/B89) into the release artifact the
    reference's own deploy step ships — pipeline survivors, phase-
    assigned, committed as an exact TxTable version, exported to the
    ``shard=<n>/`` layout with within-shard easy-to-hard ordering and
    a footer-harvested ``_manifest.json``.

    The returned relation is the RELEASE AUDIT PANEL — per (phase,
    shard): doc count, token total, and the exact score range — and it
    is computed FROM THE EXPORTED FILES (read back through the
    partitioned layout), so a hash match against the from-scratch
    DuckDB recomputation attests the entire hand-off chain: every
    curation gate's survivors, every phase assignment, the md5-prefix
    shard routing, the TxTable snapshot, the partitioned write, and
    the read-back all agree value-for-value.

    Scale shape: everything upstream is the audited capstone /
    curriculum shape (stage-store lineage cuts, two-scan histogram
    thresholds); the export adds one corpus write partitioned by the
    256-bucket-folded md5 shard (bounded skew by construction) with an
    in-partition sort for curriculum order — no new exchange class.
    The manifest's counts come from the written parquet footers
    (metadata-only), so the release validation never rescans data.
    """
    import os
    import shutil

    from artemia_airflow_spark.functions.core import process_scratch_dir
    from artemia_airflow_spark.sources.txtable import (
        TxTable,
        export_for_training,
    )

    spark = train.sparkSession
    root = out_root or os.path.join(
        process_scratch_dir("aas_release_"), "r"
    )
    table_root = os.path.join(root, "table")
    export_dir = os.path.join(root, "export")
    shutil.rmtree(table_root, ignore_errors=True)
    shutil.rmtree(export_dir, ignore_errors=True)

    s_dec = corpus_survivors(
        train, eval_df, text_col=text_col, id_col=id_col,
        source_col=source_col, lang_col=lang_col,
        target_lang=target_lang, audit=audit,
    )
    assigned = curriculum_assign(
        s_dec, text_col, id_col, n_phases=n_phases, op="corpus_release"
    )
    rel = s_dec.select(id_col, lang_col, source_col).join(
        assigned.select(
            id_col, F.col("__t").alias("n_tokens"), "score_e6", "phase"
        ),
        id_col,
    )
    t = TxTable.create(spark, rel, table_root, key_col=id_col)
    manifest = export_for_training(
        t, export_dir, shards=shards, id_col=id_col,
        order_by=["phase", "score_e6", id_col],
    )
    if manifest_out is not None:
        manifest_out.append(manifest)
    released = spark.read.parquet(export_dir)
    return released.groupBy("phase", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("score_e6").cast("bigint").alias("min_score_e6"),
        F.max("score_e6").cast("bigint").alias("max_score_e6"),
    ).select(
        F.col("phase").cast("bigint").alias("phase"),
        F.col("shard").cast("int").alias("shard"),
        "n_docs", "n_tokens", "min_score_e6", "max_score_e6",
    )


def packing_efficiency(
    df: DataFrame, text_col: str, id_col: str, *,
    capacity: int = 2048, shards: int = 32,
) -> DataFrame:
    """Per-shard packing-efficiency panel (r16, B182): from the
    token-budget packing assignment (:func:`pack_sequences_budget`),
    each shard's sequence count, token total, largest sequence, and
    the e6-exact FILL RATE ``sum_tokens / (n_seqs * capacity)`` — the
    padding-waste number a trainer watches (unfilled sequence tail =
    wasted accelerator steps).  Budget packing lets a boundary-
    straddling document overflow its sequence, so a shard's largest
    sequence can exceed ``capacity`` and fill can exceed 1e6; the
    panel's point is the fleet view — underfilled tail shards and
    oversize-document hot spots — before committing to a shard count.

    Scale shape: the packing window per shard (the
    pack_sequences_budget shape), then two shard-grain aggregates —
    nothing wider than (shard, seq) ever shuffles; the fill ratio
    rides the guarded e6 recipe (corpus-scale token sums).
    """
    packed = pack_sequences_budget(
        df, text_col, id_col, capacity=capacity, shards=shards
    )
    seqs = packed.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
    )
    return seqs.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
        F.sum("seq_tokens").cast("bigint").alias("sum_tokens"),
        F.max("seq_tokens").cast("bigint").alias("max_seq_tokens"),
        guarded_e6_ratio(
            "sum(seq_tokens)", f"count(1) * {int(capacity)}",
            op="packing_efficiency",
        ).alias("fill_e6"),
    )


@declared(
    "q_pack_efficiency",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 32 AS shard,
             len(regexp_split_to_array(text, '\\s+')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM t
    ), s AS (
      SELECT shard, CAST(FLOOR(cum_prev / 2048.0) AS BIGINT) AS seq_id,
             CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
      FROM c GROUP BY 1, 2
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(seq_tokens) AS BIGINT) AS sum_tokens,
           CAST(MAX(seq_tokens) AS BIGINT) AS max_seq_tokens,
           CAST(SUM(seq_tokens) * 1000000 // (COUNT(*) * 2048) AS BIGINT)
             AS fill_e6
    FROM s GROUP BY shard
    """,
)
def q_pack_efficiency(spark, sf_dir):
    """Packing-efficiency panel, FULL hash-match oracle: per-shard
    sequence counts, token totals, largest sequence, and e6-exact fill
    rate under 2048-token budget packing over 32 shards — the padding-
    waste audit, attested value-for-value (the oracle re-runs the
    identical running-sum assignment)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return packing_efficiency(d, "text", "doc_id", capacity=2048, shards=32)
