"""Deduplication operators for LLM training-data pipelines (B40-B41).

Four tiers, cheapest-exact to fuzziest:

- exact:   normalized-text SHA-256 -> keep min id per hash (one shuffle
           on a 64-char key, never on the full document text).
- minhash: word-shingle MinHash signatures + LSH banding -> candidate
           buckets -> keep min id per duplicate cluster.
- simhash: 64-bit SimHash fingerprint; near-dups collide on rotated
           prefix bands (hamming-adjacent docs share a band key).
- ngram:   character n-gram Jaccard verification over LSH candidates
           (the "verify" stage after minhash's "generate").

All stages are DataFrame ops (hashing via built-in xxhash64/sha2,
signatures via tight Pandas UDF batches); nothing collects to the
driver, so the same code runs at 100 TB — the LSH band trick keeps the
candidate join linear-ish in corpus size instead of O(n^2).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.functions.core import (
    DRIVER_TIER_MAX_EDGES,
    cut,
    guarded_e6_ratio,
    process_scratch_dir,
    spread_for_compute,
)
from artemia_airflow_spark.plans.registry import declared
from artemia_airflow_spark.session import ensure_engine_conf

# Universal-hash modulus for the minhash permutation family.  31-bit
# Mersenne prime: operands stay < 2^31, so a*h+b < 2^62 — no int64
# overflow under ANSI arithmetic (Spark 4 default).
_MERSENNE = (1 << 31) - 1

def stage_fn(audit: list | None):
    """The composed-pipeline stage-store seam (ONE definition, r17
    review): capture the pre-materialization extended plan when
    auditing, then :func:`~..functions.core.cut` under the stage's
    name (Spark re-expands common subplans, and every stage fans into
    2-3 consumers).  Shared by the corpus capstone/release (curation)
    and the behavioral pipeline.

    The stores are lazy (``eager=False``): under AQE the stage's query
    stages still run at the cut, under ``cut <name>``, and the lineage
    is truncated the same; only the result stage that writes the blocks
    moves into the first consumer's job.  An eager store ran that
    result stage as a job of its own, so each lazy store costs one job
    less."""

    def _stage(df: DataFrame, name: str) -> DataFrame:
        if audit is not None:
            audit.append((name, df._jdf.queryExecution().explainString(
                df.sparkSession._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("extended"))))
        return cut(df, name, eager=False)

    return _stage


def normalized_text(col) -> "F.Column":
    """Canonical dedup key: lowercase, trimmed, whitespace-collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def _keep_one(df: DataFrame, partition_by, order_by) -> DataFrame:
    """Keep exactly the first row per partition under the given order
    (row_number == 1) — the shared keep-one idiom of the dedup family
    (r12 review: three inline copies invited drift)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """B40: exact dedup — keep the min-id row per normalized-text hash.

    Shuffles on the 256-bit digest (fixed width) rather than the raw
    text; at 100 TB that is the difference between shuffling ~32 B/row
    and shuffling whole documents.
    """
    h = F.sha2(normalized_text(text_col), 256)
    return _keep_one(df, [h], [F.col(id_col)])


def dedup_keep_best(
    df: DataFrame, text_col: str, id_col: str, score_col: str,
) -> DataFrame:
    """B40 extension (r12): quality-priority exact dedup — keep the
    HIGHEST-scoring duplicate per normalized text (score desc, id asc
    tiebreak) instead of the min-id one.  Production curation keeps
    the best version of a duplicated document (longest, highest
    quality score, most recent crawl), not an arbitrary one; pass any
    numeric ``score_col`` (length, quality score, timestamp).

    Same scale shape as :func:`exact_dedup`: the window partitions on
    the 256-bit digest of the normalized text — fixed-width shuffle
    keys, whole documents never shuffle twice."""
    h = F.sha2(normalized_text(text_col), 256)
    return _keep_one(df, [h], [F.col(score_col).desc(), F.col(id_col)])


def _normalize_py(text: str) -> list[str]:
    """Python twin of :func:`normalized_text` (lower/trim/collapse) --
    must stay in lockstep so expression- and UDF-side keys agree."""
    import re

    return re.sub(r"\s+", " ", (text or "").strip().lower()).split(" ")


def minhash_signatures(
    df: DataFrame, text_col: str, *, num_hashes: int = 64, shingle_size: int = 3
) -> DataFrame:
    """Word-shingle MinHash signature per row (adds ``__minhash``:
    array<bigint> of length ``num_hashes``).

    Implemented as an Arrow-batched pandas UDF over numpy, NOT as
    Catalyst higher-order functions: HOF lambdas (transform/aggregate)
    evaluate interpreted (outside whole-stage codegen), and the
    measured cost of the expression formulation was ~50x this one at
    sf0.1 (260s -> a few s).  The UDF is a pure map stage: Arrow
    batches in, Arrow batches out, scales with cores.

    signature_i = min over shingles of ((2i+1)*crc32(shingle) +
    7919*(i+1)) mod (2^31-1) -- crc32 keeps it deterministic across
    workers (no PYTHONHASHSEED dependence).
    """
    from pyspark.sql.functions import pandas_udf

    a = (2 * np.arange(num_hashes, dtype="int64") + 1).reshape(-1, 1)
    b = (7919 * (np.arange(num_hashes, dtype="int64") + 1)).reshape(-1, 1)

    @pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        import zlib

        out = []
        for t in texts:
            toks = _normalize_py(t)
            n = max(len(toks) - (shingle_size - 1), 1)
            hs = np.fromiter(
                (
                    zlib.crc32(" ".join(toks[i : i + shingle_size]).encode("utf-8"))
                    for i in range(n)
                ),
                dtype="int64",
                count=n,
            ) % _MERSENNE
            out.append(((a * hs + b) % _MERSENNE).min(axis=1))
        return pd.Series(out)

    return spread_for_compute(df).withColumn("__minhash", sig(F.col(text_col)))


def minhash_lsh_candidates(
    df: DataFrame, id_col: str, *, num_hashes: int = 64, bands: int = 8
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` rows keyed by
    (band_idx, hash(band slice)); docs sharing any band key are
    candidate near-duplicates.  Returns (band_key, id) pairs.
    """
    rows_per_band = num_hashes // bands
    band_rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.concat_ws(",", F.transform(
                        F.slice(F.col("__minhash"), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ))
                ).alias("band_hash"),
            ),
        )
    )
    return df.select(F.col(id_col), band_rows.alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_hash").alias("band_hash")
    )


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, *, num_hashes: int = 64, bands: int = 8
) -> DataFrame:
    """B41: near-dedup — min-id survivor per LSH cluster.

    Default banding 64 hashes / 8 bands (8 rows per band): collision
    threshold s* = (1/b)^(1/r) ~ 0.77 Jaccard.  Narrower bands (r=4)
    measured catastrophic false-positive merging on high-base-similarity
    corpora (small shared vocabulary): 90% of a dup-free corpus got
    "deduplicated".

    Cluster rule (single-link lite): a row is dropped if ANY of its
    band buckets contains a smaller id; the corpus-wide min of each
    connected component always survives.  One extra iteration of
    min-propagation would give full connected components; for dedup
    "keep one representative, drop the rest" this one-pass rule is the
    standard scale trick (greedy suppression).
    """
    sigs = minhash_signatures(df, text_col, num_hashes=num_hashes)
    cand = minhash_lsh_candidates(sigs, id_col, num_hashes=num_hashes, bands=bands)
    # bucket-min via window (not groupBy + self-join back): the
    # candidate relation is consumed exactly once, so the signature-UDF
    # subtree executes once — no cache, no duplicate shuffle.
    w = Window.partitionBy("band", "band_hash")
    keep = (
        cand.withColumn("__bucket_min", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(F.min("__bucket_min").alias("__cluster_min"))
        .filter(F.col(id_col) == F.col("__cluster_min"))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def simhash(df: DataFrame, text_col: str, *, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint per row (adds ``__simhash`` bigint).

    Each token votes +1/-1 on each fingerprint bit of its 64-bit hash;
    the sign of the per-bit total is the fingerprint bit.  Arrow-batched
    numpy kernel (same rationale as minhash_signatures: interpreted HOF
    aggregation measured ~15s at sf0.1, this runs in well under 1s).
    Token hash = crc32(token) | crc32(token + salt) << 32 --
    deterministic across workers.
    """
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype="uint64")

    @pandas_udf("long")
    def fp(texts: pd.Series) -> pd.Series:
        import zlib

        out = np.empty(len(texts), dtype="int64")
        for j, t in enumerate(texts):
            toks = _normalize_py(t)
            h = np.fromiter(
                (
                    zlib.crc32(tok.encode("utf-8"))
                    | (zlib.crc32((tok + "#s").encode("utf-8")) << 32)
                    for tok in toks
                ),
                dtype="uint64",
                count=len(toks),
            )
            votes = ((h[:, None] >> shifts) & 1).astype("int32")
            bitvec = (votes.sum(axis=0) * 2 > len(toks)).astype("uint64")
            out[j] = (bitvec << shifts).sum().astype("int64").item()
        return pd.Series(out)

    return spread_for_compute(df).withColumn("__simhash", fp(F.col(text_col)))


def simhash_dedup(
    df: DataFrame, text_col: str, id_col: str, *, prefix_bits: int = 16, max_hamming: int = 3
) -> DataFrame:
    """B41 variant: SimHash near-dedup by 4-band prefix blocking —
    fingerprints within hamming distance <= 3 share at least one intact
    16-bit band (pigeonhole), so banding finds all such pairs without a
    quadratic self-join."""
    fp = simhash(df, text_col)
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("__simhash"), i * prefix_bits)
                    .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                    .alias("band_val"),
                )
                for i in range(64 // prefix_bits)
            ]
        )
    )
    cand = fp.select(id_col, "__simhash", bands.alias("b")).select(
        id_col, "__simhash", F.col("b.band").alias("band"), F.col("b.band_val").alias("band_val")
    )
    # Banding only GENERATES candidates (any hamming<=3 pair shares a
    # band by pigeonhole, but a shared band does NOT imply closeness);
    # verify real hamming distance before dropping — without this,
    # high-base-similarity corpora get mass false-positive deletion.
    w = Window.partitionBy("band", "band_val")
    bucketed = cand.select(
        F.col(id_col),
        "__simhash",
        F.min(id_col).over(w).alias("__bucket_min"),
        F.first("__simhash").over(w.orderBy(id_col)).alias("__min_fp"),
    ).filter(F.col(id_col) > F.col("__bucket_min"))
    near = bucketed.filter(
        F.bit_count(F.col("__simhash").bitwiseXOR(F.col("__min_fp"))) <= max_hamming
    )
    drop = near.select(id_col).distinct()
    return df.join(drop, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 3, threshold: float = 0.8,
    num_hashes: int = 64, bands: int = 8, max_bucket: int = 10_000,
) -> DataFrame:
    """B41 verify stage: exact word-``n``-gram Jaccard over LSH candidate
    pairs only.  Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold.

    The candidate join is keyed on LSH buckets, so the quadratic blow-up
    is confined to same-bucket groups (bounded by band width at scale),
    and shingle sets are materialized only for docs that appear in some
    candidate pair (semi-join pre-filter) — at 100 TB the verify stage
    touches a tiny fraction of the corpus.
    """
    sigs = minhash_signatures(df, text_col, num_hashes=num_hashes)
    cand = minhash_lsh_candidates(sigs, id_col, num_hashes=num_hashes, bands=bands)
    # Candidate pairs via ONE grouped pass (r7 adjudication: the
    # previous a><b bucket self-join re-executed the whole signature-UDF
    # subtree on both sides — the suite's most expensive query at 1.6x
    # its pin).  groupBy(bucket) + in-row pair expansion shuffles the
    # (id, bucket) rows once and runs the UDF once.
    #
    # Bucket-size guard (r8 review): collect_set materializes a bucket
    # as ONE aggregation-row array — non-spillable, so an adversarial
    # bucket (near-identical corpus sharing every band) would OOM where
    # the old self-join merely ran quadratically forever.  Buckets over
    # ``max_bucket`` therefore degrade to LINEAR bucket-min pairing
    # (every member pairs with the bucket's min id only): memory per
    # aggregation row is bounded by max_bucket ids (~80 KB), quadratic
    # listing is confined to sane buckets, and every oversized-bucket
    # member still reaches verification against a shared representative
    # (quadratic pair listing inside a 10^6-doc bucket is 10^12 pairs —
    # not an output any consumer wants; run exact dedup first).
    # The window and the groupBy share the (band, band_hash) hash
    # partitioning, so the guard adds a sort but no extra shuffle.
    #
    # The sized relation feeds BOTH branches of the union below, and
    # Spark does not dedupe common subplans (SCALE.md bench
    # methodology) — without a materialization the signature UDF AND
    # the bucket shuffle+sort would run once per branch, the exact
    # double-execution the r7 adjudication removed.  Checkpoint AFTER
    # the window (not on cand) so the shuffle/sort executes once too
    # (r8 review); the checkpoint is (id, band, band_hash, size, min)
    # rows — 8 per doc, compact.
    wb = Window.partitionBy("band", "band_hash")
    # kept, sf0.1 cut -> none: 17.14 -> 6.23 MB read, 1.75 -> 3.08 MB shuffled
    sized = cut(
        cand.withColumn("__bsize", F.count(F.lit(1)).over(wb))
        .withColumn("__bmin", F.min(id_col).over(wb)),
        "dedup.ngram_jaccard_pairs.sized",
    )
    # Degradation is silent recall loss without a signal (ADVICE r8):
    # tell the caller when any bucket actually degraded.  One scalar
    # aggregate over the ALREADY-checkpointed relation — no recompute
    # of the signature/LSH subtree, 1-row collect.
    n_degraded = sized.agg(
        F.count_distinct(
            F.when(F.col("__bsize") > max_bucket, F.struct("band", "band_hash"))
        ).alias("n")
    ).collect()[0]["n"]
    if n_degraded:
        import warnings

        warnings.warn(
            f"ngram_jaccard_pairs: {n_degraded} LSH bucket(s) exceeded "
            f"max_bucket={max_bucket} and degraded to linear bucket-min "
            "pairing — pairs BETWEEN non-min members of those buckets "
            "are not listed (reduced recall); run exact dedup first or "
            "raise max_bucket",
            UserWarning,
            stacklevel=2,
        )
    small_pairs = (
        sized.filter(F.col("__bsize").between(2, max_bucket))
        .groupBy("band", "band_hash")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(
                F.filter(F.col("ids"), lambda x: x > F.col("id_a"))
            ).alias("id_b"),
        )
    )
    big_pairs = sized.filter(
        (F.col("__bsize") > max_bucket) & (F.col(id_col) > F.col("__bmin"))
    ).select(F.col("__bmin").alias("id_a"), F.col(id_col).alias("id_b"))
    pairs = (
        small_pairs.union(big_pairs)
        .distinct()
        # consumed 3x below (involved-ids union + both shingle joins);
        # without a MATERIALIZED cache the whole LSH candidate pipeline
        # (signature UDF included) re-executes per consumer — lazily
        # cached subtrees used 3x inside one job still compute ~3x.
        .cache()
    )
    pairs.count()  # eager materialization barrier (pairs is tiny: id pairs only)
    involved = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    tokens = F.split(normalized_text(text_col), " ")
    n_sh = F.greatest(F.size(tokens) - (n - 1), F.lit(1))
    shingle_set = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_sh - 1),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
        )
    )
    # spread before the shingle HOF (r17, guide §2.5): the semi-join
    # broadcasts, so a local single-file scan keeps ONE partition and
    # the interpreted shingle transform ran on one core; no-op at scale.
    # Spread the scan side, not the join: the broadcast keeps the
    # stream side's partitioning, and counting a join's partitions
    # would run its exchanges as jobs.
    base = (
        spread_for_compute(df).join(involved, id_col, "left_semi")
        .select(F.col(id_col), shingle_set.alias("__shingles"))
        # consumed by BOTH sides of the verify join below; cached so the
        # semi-join + interpreted shingle HOF run once, not twice.
        # Bounded: only docs that appear in some candidate pair.
        .cache()
    )
    sa = base.select(F.col(id_col).alias("id_a"), F.col("__shingles").alias("sh_a"))
    sb = base.select(F.col(id_col).alias("id_b"), F.col("__shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# Declared queries
# --------------------------------------------------------------------------

@declared(
    "q_dedup_exact",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT *, MIN(doc_id) OVER (
        PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS __min_id
      FROM documents
    ) t
    WHERE doc_id = __min_id
    GROUP BY lang
    """,
)
def q_dedup_exact(spark, sf_dir):
    """B40: exact dedup -> per-lang survivor stats.  Oracle uses the
    hash-free min-per-normalized-text formulation (identical kept set —
    SHA-256 collisions are not a thing at any relevant corpus size)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    kept = exact_dedup(d, "text", "doc_id")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@declared(
    "q_dedup_keep_best",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
        ORDER BY n_chars DESC, doc_id) AS __rk
      FROM documents
    ) t WHERE __rk = 1
    GROUP BY lang
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """B40 extension (r12), ORACLE-CHECKED: quality-priority exact
    dedup — per duplicate group keep the LONGEST version (n_chars
    desc, doc_id asc tiebreak), the curation policy real pipelines use
    instead of min-id.  Per-lang kept counts + kept-id sums (the id
    sum attests exact membership, not just cardinality).  Oracle is
    the hash-free argmax-per-normalized-text formulation, mirroring
    q_dedup_exact's recipe."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    kept = dedup_keep_best(d, "text", "doc_id", "n_chars")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@declared("q_dedup_minhash")
def q_dedup_minhash(spark, sf_dir):
    """B41 (rows-only): MinHash-LSH near-dedup -> per-lang survivor
    counts.  Probabilistic (signature family), so no value-hash oracle."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    kept = minhash_dedup(d, "text", "doc_id")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


@declared("q_dedup_simhash")
def q_dedup_simhash(spark, sf_dir):
    """B41 (rows-only): SimHash near-dedup -> per-source survivor counts."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    kept = simhash_dedup(d, "text", "doc_id")
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


@declared("q_dedup_ngram")
def q_dedup_ngram(spark, sf_dir):
    """B41 (rows-only): n-gram Jaccard verification pairs over LSH
    candidates (threshold 0.8).  Default banding (64 hashes / 8 bands,
    8 rows per band) keeps candidate generation near the 0.8 target so
    the exact-Jaccard verify stage sees few false candidates."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.8)

def _cc_driver_labels(src, dst):
    """Exact connected components over int64 numpy edge arrays:
    alternating min-scatter propagation + full pointer jumping on a
    dense index relabeling — O(log n) sweeps, each a few vectorized
    passes.  Returns (nodes, labels) with label = component-min node
    id (np.unique sorts, so the min dense index IS the min id)."""
    both = np.concatenate([src, dst])
    nodes, inv = np.unique(both, return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        old = lab.copy()
        np.minimum.at(lab, s, lab[d])
        np.minimum.at(lab, d, lab[s])
        while True:
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab, old):
            break
    return nodes, nodes[lab]


def connected_components(
    edges: DataFrame, *, max_iters: int = 5,
    checkpoint_dir: str | None = None, driver_tier: bool = True,
) -> DataFrame:
    """Iterative min-label propagation + pointer jumping over an edge
    list ``(src, dst)``; returns ``(node, label)`` for every node with
    at least one edge (label = component-min node id).

    Each round is: TWO min-over-neighbors propagations, then a
    label-of-label shortcut — so convergence is O(log diameter)
    rounds (each round covers at least two hops and halves the
    remaining pointer depth; any ``max_iters`` tuned for the old
    one-hop rounds only gains coverage), each round a constant number
    of shuffles sized by the edge list.  Raises on non-convergence
    rather than returning silently-split components.
    ``edges`` should be cheap to recompute or already materialized;
    this function caches it for the duration of the loop.

    ``checkpoint_dir``: per-round lineage truncation uses executor-
    local blocks by default (fast, but lost with an executor — fine
    single-JVM); pass a fault-tolerant path to switch every round to
    a RELIABLE checkpoint so a 1000-executor run survives executor
    loss mid-loop (see :func:`~..functions.core.cut`).

    ``driver_tier`` (r17): integral-keyed, NULL-free graphs at or
    under ``DRIVER_TIER_MAX_EDGES`` edges run an exact numpy
    union-find on the driver instead of the loop — identical labels
    (test-pinned), milliseconds instead of per-round scheduling.
    Hard-capped bounded collect; ``checkpoint_dir`` callers and
    larger graphs always take the loop.  Pass ``False`` to force the
    loop (loop-convergence tests do).
    """
    spark = edges.sparkSession
    edges = edges.select("src", "dst").cache()
    n_edges = edges.count()  # materialize once; reused every iteration
    # Driver tier (r17, guide §1.2 "the distributed algorithm" — by
    # making it conditional): a graph this small is pure scheduling
    # overhead as a distributed loop (5 rounds x 4-stage plans for a
    # few thousand rows); the exact numpy union-find computes the
    # identical component-min labels in milliseconds.  Hard-capped
    # bounded collect (the Bloom-bitmap convention); checkpoint_dir
    # callers asked for executor-loss durability, so they keep the
    # loop; tests pin driver_tier == loop equality.
    node_t = edges.schema["src"].dataType.simpleString()
    if (
        driver_tier
        and checkpoint_dir is None
        and n_edges <= DRIVER_TIER_MAX_EDGES
        # integral node ids only: the numpy kernel is int64; string or
        # other orderable key types stay on the distributed loop, which
        # handles them natively (review r17)
        and node_t in ("bigint", "int", "smallint", "tinyint")
    ):
        pdf = edges.toPandas()
        if len(pdf) == 0:
            edges.unpersist()
            return spark.createDataFrame(
                [], f"node {node_t}, label {node_t}"
            )
        if not (pdf["src"].isna().any() or pdf["dst"].isna().any()):
            # NULL endpoints would NaN->INT64_MIN under the int64 cast
            # and silently win every min sweep (review r17) — graphs
            # carrying them fall through to the loop instead
            edges.unpersist()
            nodes, labels_np = _cc_driver_labels(
                pdf["src"].to_numpy(np.int64),
                pdf["dst"].to_numpy(np.int64),
            )
            return spark.createDataFrame(
                pd.DataFrame({"node": nodes, "label": labels_np}),
                f"node {node_t}, label {node_t}",
            )
    # Scale-adaptive loop parallelism (r17, guide §2.2/§2.5): the loop
    # relations are edge-sized, and the edge count is KNOWN here — so
    # derive the per-round partition count from it instead of running
    # every tiny round over the input scan's partitioning (a local
    # sf0.1 graph is a few thousand rows spread over 60+ map tasks,
    # and 8 rounds of that is pure scheduling overhead).  ~250k edge
    # rows per partition, floored at 1, capped at core count; at
    # cluster scale n_edges is large and p saturates at parallelism.
    n_cores = spark.sparkContext.defaultParallelism
    p = max(1, min(n_cores, -(-n_edges // 250_000)))
    edges = edges.coalesce(p)
    involved = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = involved.select("node", F.col("node").alias("label"))
    # eager=True: on the local tier laziness was a micro-optimization
    # (the first iteration materializes it anyway), and on the reliable
    # tier eager is mandatory — passing False here would now trip the
    # coercion UserWarning on every checkpoint_dir run (r12 review)
    labels = cut(
        labels, "dedup.connected_components.labels",
        checkpoint_dir=checkpoint_dir,
    )
    changed = 0

    def _propagate(sym, labels):
        # each node takes min(label) over itself + neighbors; the
        # node's OWN input label rides along (tagged union +
        # conditional agg) so convergence is readable from the result
        # without a join of new vs old labels (r17, guide §2.4)
        neighbor_labels = (
            sym.join(labels, sym.dst == labels.node)
            .select(F.col("src").alias("node"), "label",
                    F.lit(False).alias("__self"))
        )
        return (
            labels.select("node", "label", F.lit(True).alias("__self"))
            .unionByName(neighbor_labels)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("__self"), F.col("label")))
                .alias("__old"),
            )
        )

    # Small-graph regime (r17, guide §1.2 "configuration after
    # algorithm"): each round is a fixed 4-5 stage plan over a
    # relation whose size is already counted, so AQE's stage-by-stage
    # scheduling and re-optimization cost more than they can save; run
    # the loop with AQE off and shuffle partitions pinned to p.  Above
    # the threshold the AQE path stays (skew-split on hot label nodes
    # matters there).  Runtime conf is session-shared — a concurrent
    # query in another thread could briefly observe the pinned values
    # (perf-only; restored in the finally).
    small = n_edges <= DRIVER_TIER_MAX_EDGES
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    old_sp = conf.get("spark.sql.shuffle.partitions")
    if small:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        for _ in range(max_iters):
            # TWO propagations then ONE pointer jump per round (r17,
            # measured at sf0.1: 8 rounds x (1 prop + 1 jump) = 6.3s
            # -> 5 rounds x (2 props + 1 jump) = 4.2s, identical
            # labels; the jump's self-join is the round's most
            # expensive op, so covering two hops per jump wins).  The
            # jump (label = label-of-label) keeps O(log diameter)
            # convergence: plain propagation alone would silently need
            # O(diameter) rounds, and every label is itself a node id,
            # so the self-join is total.
            step = _propagate(sym, labels)
            new_labels = _propagate(sym, step.select("node", "label"))
            jump = new_labels.select(
                F.col("node").alias("j_node"), F.col("label").alias("j_label")
            )
            new_labels = (
                new_labels.join(jump, new_labels.label == jump.j_node)
                .select("node", F.col("j_label").alias("label"), "__old")
            )
            # truncate lineage each round: without this the label DAG
            # doubles per iteration and the convergence check re-executes
            # the full history (measured 12s -> ~4s at sf0.1).  MUST be
            # eager: a lazy checkpoint materialized by the limit(1)
            # convergence count below would cache only the partitions that
            # count touched, and later rounds would re-derive the rest
            # from the doubled lineage.
            new_labels = cut(
                new_labels, "dedup.connected_components.new_labels",
                checkpoint_dir=checkpoint_dir,
            )
            # Soundness of checking post-jump label vs __old (the label
            # after the round's FIRST propagation): labels decrease
            # monotonically (min includes self), so label2(label2(n)) <=
            # label2(n) <= label1(n); equality of the ends forces
            # label2 == label1 for every node, i.e. the second
            # propagation was a fixpoint — which IS convergence (and at
            # a fixpoint the jump is the identity, since every
            # component's min labels itself).
            changed = (
                new_labels.filter(F.col("label") != F.col("__old"))
                .limit(1)
                .count()
            )
            labels = new_labels.select("node", "label")
            if changed == 0:
                break
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_sp)
    edges.unpersist()
    if changed != 0:
        # stale labels would silently split one duplicate cluster into
        # several cluster_ids — fail loudly instead
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"in {max_iters} rounds despite pointer jumping (component "
            f"diameter > ~2^{max_iters}); raise max_iters"
        )
    return labels


def dedup_clusters(
    df: DataFrame, text_col: str, id_col: str, *, num_hashes: int = 64, bands: int = 8,
    max_iters: int = 5, checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full connected components over LSH candidate edges via iterative
    min-label propagation (alternating large/small-star condensed to
    plain min-exchange on an edge list).

    Returns (id, cluster_id).  The driver loop runs at most
    ``max_iters`` rounds and stops early when labels converge; each
    round is two shuffles over the edge list — the standard
    no-graph-library CC at scale (edge count is LSH-bounded, not
    O(n^2)).

    Only nodes incident to at least one edge iterate: every isolated
    node (the overwhelming majority of a deduped corpus) already has
    its final label, so the per-round shuffles are sized by the
    near-duplicate subgraph, not the corpus — at 100 TB that is the
    difference between shuffling a few million edge-nodes and
    re-shuffling every document five times.
    """
    sigs = minhash_signatures(df, text_col, num_hashes=num_hashes)
    cand = minhash_lsh_candidates(sigs, id_col, num_hashes=num_hashes, bands=bands)
    # bucket-star edges (min -> member): a star spans the same
    # component as the bucket's clique, so the min labels match
    edges = _bucket_star_pairs(
        cand.withColumnsRenamed({"band": "b", "band_hash": "bv"}), id_col
    )
    labels = connected_components(
        edges, max_iters=max_iters, checkpoint_dir=checkpoint_dir
    )
    # isolated nodes: cluster of one, label = own id — no iteration needed
    rest = (
        df.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
    )
    labels = labels.unionByName(rest.select("node", F.col("node").alias("label")))
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


@declared("q_dedup_clusters")
def q_dedup_clusters(spark, sf_dir):
    """B41 (rows-only): full connected-component cluster ids over LSH
    edges — cluster size histogram (n_clusters per size)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    clusters = dedup_clusters(d, "text", "doc_id")
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def embedding_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str = "embedding", *,
    threshold: float = 0.4, blocking_col: str | None = None,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim)
    with id_a < id_b and round(cosine, 6) >= threshold.

    Two tiers, chosen by ``blocking_col``:

    - **blocked (scale tier, the default for registered queries)**:
      ``groupBy(blocking_col).applyInPandas`` — each block's all-pairs
      space is computed block-locally in a numpy kernel.  The shuffle
      carries (id, vector, block) rows hash-partitioned on the blocking
      key; NOTHING collects to the driver, so this runs at any corpus
      size where individual blocks (language, topic shard, ...) stay
      executor-sized.  Cross-block near-dups are by definition out of
      scope of the blocking key — use ``embedding_neardup_lsh`` when no
      equality blocking key exists.
    - **broadcast (small-N exact tier)**: collect (ids, matrix, norms)
      to the driver, sc.broadcast, and ``mapInPandas`` over the scan so
      the O(n^2) space is computed blockwise but never materialized as
      rows.  This is a driver-side bottleneck by construction, so it is
      CAPPED: more than ``max_broadcast_rows`` rows raises immediately
      with a pointer at the scale tiers instead of OOMing the driver.

    Both tiers accumulate with the sequential left-fold (see
    ``_embed_pairs``) so the 6-dp rounded value oracle-matches DuckDB's
    list_cosine_similarity; kernels pre-filter with a 1e-9 slack and the
    EXACT threshold is re-applied Spark-side on ``F.round`` (decimal
    HALF_UP, same as DuckDB — numpy's half-even round never decides
    membership).

    A Catalyst-expression formulation was tried and rejected twice: the
    HOF fold is interpreted (35s at sf0.1) and a 64-term unrolled
    expression overflows the JIT method limit back to interpreted
    (76s); these kernels run the same pairs in well under a second.
    """
    from artemia_airflow_spark.operators._embed_pairs import (
        seq_dot_block, seq_matrix, seq_norms,
    )

    slack = threshold - 1e-9

    if blocking_col is not None:
        def block_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            mat = seq_matrix(pdf[vec_col])
            norms = seq_norms(mat)
            cos = seq_dot_block(mat, mat) / (norms[:, None] * norms[None, :])
            ids = pdf[id_col].to_numpy()
            mask = (ids[:, None] < ids[None, :]) & (cos >= slack)
            ai, bi = np.nonzero(mask)
            return pd.DataFrame(
                {"id_a": ids[ai], "id_b": ids[bi], "__raw": cos[ai, bi]}
            )

        pairs = (
            df.select(id_col, vec_col, blocking_col)
            .groupBy(blocking_col)
            .applyInPandas(block_kernel, "id_a long, id_b long, __raw double")
        )
        return (
            pairs.select("id_a", "id_b", F.round("__raw", 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
        )

    n = df.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"embedding_cosine_pairs broadcast tier: {n} rows exceeds the "
            f"{max_broadcast_rows}-row driver-collect cap. Pass blocking_col "
            "(block-local applyInPandas, fully distributed) or use "
            "embedding_neardup_lsh (SRP-bucketed candidates) at scale."
        )
    side = df.select(id_col, vec_col).collect()
    ids_b = np.array([r[0] for r in side], dtype="int64")
    mat_b = seq_matrix(r[1] for r in side)
    norms_b = seq_norms(mat_b)
    bc = df.sparkSession.sparkContext.broadcast((ids_b, mat_b, norms_b))

    def kernel(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a_mat = seq_matrix(pdf[vec_col])
            cos = seq_dot_block(a_mat, b_mat) / (
                seq_norms(a_mat)[:, None] * b_norms[None, :]
            )
            a_ids = pdf[id_col].to_numpy()
            mask = (a_ids[:, None] < b_ids[None, :]) & (cos >= slack)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": a_ids[ai], "id_b": b_ids[bi], "__raw": cos[ai, bi]}
            )

    pairs = spread_for_compute(df.select(id_col, vec_col)).mapInPandas(
        kernel, "id_a long, id_b long, __raw double"
    )
    return (
        pairs.select("id_a", "id_b", F.round("__raw", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_neardup_lsh(
    df: DataFrame, id_col: str, vec_col: str = "embedding", *,
    threshold: float = 0.4, dim: int = 64, bits: int = 6, tables: int = 16,
) -> DataFrame:
    """Scale path for embedding near-dup: SRP-LSH bucket blocking.

    Vectors are hashed into 2^bits buckets per table (signed random
    projections — collision probability rises with cosine), candidate
    pairs are generated by an equi-join on (table, bucket), and exact
    cosine re-verifies.  Expected work is O(n * bucket_size) instead of
    O(n^2): at 1000 executors the bucket join shuffles on a compact
    (table, bucket) key, never on the vectors' full cross product.

    The candidate join and the pair-dedup shuffle carry ONLY id pairs
    (16 bytes/row) — vectors are re-attached afterwards via broadcast
    join, and the exact-cosine verify runs in a row-aligned sequential
    numpy kernel (same value semantics as ``embedding_cosine_pairs``).
    On the i.i.d. gaussian fixtures at cosine >= 0.35 the defaults find
    157 of 257 exact pairs at sf0.001 (recall 0.61) and 162 of 271 at
    sf0.01 (0.60), with no false positive after the verify.
    """
    from pyspark.sql.functions import pandas_udf

    from artemia_airflow_spark.operators._embed_pairs import (
        seq_dot_pairs, seq_matrix, seq_norms,
    )
    from artemia_airflow_spark.operators.similarity import srp_bucket_rows

    # Materialize the banded buckets once (r17, guide §3.3/§5): both
    # sides of the self-join below consume this relation and Spark
    # does not dedupe common subplans, so without this the scan + SRP
    # pandas-UDF subtree executed twice.  The checkpoint rows are
    # (id, table, bucket) ints — tables rows/doc, no vectors.
    # kept, sf0.1 cut -> none: 9.37 -> 3.49 MB read, 3.48 -> 3.48 MB shuffled, 3.51 -> 3.44 s
    bucketed = cut(srp_bucket_rows(
        df, id_col=id_col, vec_col=vec_col, dim=dim, bits=bits, tables=tables,
    ), "dedup.embedding_neardup_lsh.bucketed")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        # a pair colliding in several tables must survive exactly once
        .dropDuplicates(["id_a", "id_b"])
    )

    @pandas_udf("double")
    def seq_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma, mb = seq_matrix(va), seq_matrix(vb)
        return pd.Series(seq_dot_pairs(ma, mb) / (seq_norms(ma) * seq_norms(mb)))

    vecs = df.select(F.col(id_col), F.col(vec_col).alias("__v"))
    withv = (
        cand.join(F.broadcast(vecs.withColumnRenamed(id_col, "id_a")
                                  .withColumnRenamed("__v", "__va")), "id_a")
        .join(F.broadcast(vecs.withColumnRenamed(id_col, "id_b")
                              .withColumnRenamed("__v", "__vb")), "id_b")
    )
    return (
        withv.select(
            "id_a", "id_b", F.round(seq_cos("__va", "__vb"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


@declared(
    "q_dedup_embed",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    """,
)
def q_dedup_embed(spark, sf_dir):
    """North-star embedding-cosine near-dup (blocked exact tier):
    same-label pairs of embeddings with cosine >= 0.4, value-checked
    against DuckDB list_cosine_similarity at 6 dp.

    Registered on the scale path: label-blocked applyInPandas (no
    driver collect, shuffle partitioned on the blocking key) — the
    plan that still runs when the embeddings table is 100 TB and
    blocks are executor-sized.  The unblocked broadcast tier remains
    available as a capped small-N utility on embedding_cosine_pairs."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.4, blocking_col="label"
    )


@declared("q_dedup_embed_lsh")
def q_dedup_embed_lsh(spark, sf_dir):
    """North-star embedding-cosine near-dup (scale tier, rows-only:
    SRP recall is probabilistic): LSH-blocked candidate pairs -> exact
    cosine verify -> greedy min-id survivor stats per label."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_lsh(emb, "vec_id", "embedding", threshold=0.4)
    removed = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    kept = emb.join(removed, "vec_id", "left_anti")
    return kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))


def semantic_dedup(
    df: DataFrame, id_col: str, vec_col: str = "embedding", *,
    n_cells: int = 16, threshold: float = 0.95, seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embedding space, then drop
    near-identical pairs WITHIN each cluster, keeping the min-id
    representative per duplicate set (greedy min-suppression, same
    policy as the other dedup tiers).

    Spark-first composition of parts this engine already has: the IVF
    coarse quantizer (``similarity.lloyd_centers`` on a capped,
    id-ordered sample; cells assigned map-side by
    ``similarity.nearest_cells``) supplies the blocking key, and the blocked
    :func:`embedding_cosine_pairs` tier supplies the within-cell pair
    kernel — each cell's all-pairs space is computed cell-locally in a
    numpy kernel; the shuffle carries (id, vector, cell) rows hash-
    partitioned on the cell id, and cross-cell pairs are out of scope
    BY DESIGN (that is SemDeDup's accuracy/cost trade: near-identical
    copies land in the same cell with overwhelming probability, and
    the O(n²/k) cell-local cost replaces the corpus-wide O(n²)).  At
    100 TB: n_cells scales with the corpus so cells stay
    executor-sized; the quantizer is trained on a sample and the cell
    assignment is one map stage.

    Returns the surviving rows of ``df`` (duplicates removed).
    """
    from artemia_airflow_spark.operators.similarity import (
        lloyd_centers,
        nearest_cells,
        training_sample,
    )

    centers = lloyd_centers(
        training_sample(df, vec_col=vec_col, order_col=id_col), n_cells, seed
    )
    bc_centers = df.sparkSession.sparkContext.broadcast(centers)
    cells = df.withColumn(
        "__cell", nearest_cells(F.col(vec_col), bc_centers)[0]
    )
    pairs = embedding_cosine_pairs(
        cells, id_col, vec_col, threshold=threshold, blocking_col="__cell"
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return cells.join(dropped, id_col, "left_anti").drop("__cell")


@declared("q_dedup_semantic")
def q_dedup_semantic(spark, sf_dir):
    """North-star SemDeDup (rows-only: the cell boundaries of the
    driver-side float Lloyd, ``similarity.lloyd_centers``, are
    float-order sensitive, so the exact survivor set is stable only
    per-environment): per-label document counts before/after semantic
    dedup at cosine >= 0.95."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    kept = semantic_dedup(emb, "vec_id", "embedding", n_cells=16, threshold=0.95)
    return (
        emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept")),
            "label",
            "left",
        )
        .select(
            "label",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


@declared(
    "q_dedup_semantic_portable",
    oracle="""
    WITH planes AS (
      SELECT t, b, d,
             CASE WHEN substr(md5('srp' || '|' || CAST(t AS VARCHAR) || '|'
                                  || CAST(b AS VARCHAR) || '|'
                                  || CAST(d // 32 AS VARCHAR)),
                        CAST(d % 32 AS INT) + 1, 1) >= '8'
                  THEN -1 ELSE 1 END AS s
      FROM (SELECT unnest(range(0, 1)) AS t),
           (SELECT unnest(range(0, 6)) AS b),
           (SELECT unnest(range(0, 64)) AS d)
    ), comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ), sdots AS (
      SELECT c.vec_id, p.t, p.b, SUM(p.s * c.v6) AS sd
      FROM comps c JOIN planes p USING (d)
      GROUP BY c.vec_id, p.t, p.b
    ), buckets AS (
      SELECT vec_id, t,
             SUM(CASE WHEN sd >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                 ELSE CAST(0 AS BIGINT) END) AS bucket
      FROM sdots GROUP BY vec_id, t
    ), pairs AS (
      SELECT a.vec_id AS ia, b2.vec_id AS ib
      FROM buckets a JOIN buckets b2 USING (t, bucket)
      WHERE a.vec_id < b2.vec_id
    ), norms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM comps GROUP BY vec_id
    ), dots AS (
      SELECT p.ia, p.ib, SUM(ca.v6 * cb.v6) AS dot12
      FROM pairs p
      JOIN comps ca ON ca.vec_id = p.ia
      JOIN comps cb ON cb.vec_id = p.ib AND cb.d = ca.d
      GROUP BY p.ia, p.ib
    ), dropped AS (
      SELECT DISTINCT dt.ib AS vec_id
      FROM dots dt
      JOIN norms na ON na.vec_id = dt.ia
      JOIN norms nb ON nb.vec_id = dt.ib
      WHERE CAST(dt.dot12 AS DOUBLE)
            / (sqrt(CAST(na.n12 AS DOUBLE)) * sqrt(CAST(nb.n12 AS DOUBLE)))
            >= 0.35
    )
    SELECT CAST(e.label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after
    FROM embeddings e LEFT JOIN dropped dr ON e.vec_id = dr.vec_id
    GROUP BY e.label
    """,
)
def q_dedup_semantic_portable(spark, sf_dir):
    """SemDeDup's MECHANISM as a FULL hash-match oracle (round 11,
    VERDICT r10 item 7 — the largest remaining rows-only family gets
    a value-pinned twin): cluster-blocked within-cell cosine pruning
    with greedy min-id suppression, every stage engine-portable.
    Cells come from the md5-derived ±1-plane SRP buckets
    (:func:`~artemia_airflow_spark.operators.similarity
    .srp_bucket_rows`, one table x 6 bits = 64 cells — the
    deterministic stand-in for the production tier's trained float
    k-means cells, ``similarity.lloyd_centers``, whose
    float-order-sensitive boundaries keep q_dedup_semantic
    rows-only); the within-cell prune is the exact-int cosine of
    q_sim_ann_lsh_portable (integer dot/norms -> correctly-rounded
    IEEE double chain, bit-identical across engines).  Face: per-label
    counts before/after the prune.  Threshold 0.35, not SemDeDup's
    0.95: the fixture's vectors are i.i.d. (no true near-dups — max
    within-cell cosine ~0.6 at sf0.1), so the twin runs where the
    prune actually fires; the MECHANISM is threshold-independent.

    Scale shape is the production shape: pairs exist only WITHIN a
    cell (the O(n^2/k) SemDeDup trade), met in an equi-join on the
    bucket id; no all-pairs, no window, no Python."""
    from artemia_airflow_spark.operators.similarity import (
        embedding_comps,
        srp_bucket_rows,
    )

    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    # materialize the bucket relation once — Spark does not dedupe
    # common subplans (the pq_topk lesson), and cells feeds both sides
    # of the bucket self-join; compact scaled-int rows
    # kept, sf0.1 cut -> none: 36.27 -> 35.90 MB read, 0.57 -> 0.57 MB shuffled,
    # 1.87 -> 1.77 s
    cells = cut(srp_bucket_rows(
        emb, id_col="vec_id", vec_col="embedding", tables=1, bits=6,
    ), "dedup.q_dedup_semantic_portable.cells")
    pairs = (
        cells.select(F.col("vec_id").alias("ia"), "t", "bucket")
        .join(
            cells.select(F.col("vec_id").alias("ib"), "t", "bucket"),
            ["t", "bucket"],
        )
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
    )
    comps = embedding_comps(emb, id_col="vec_id", vec_col="embedding")
    norms = comps.groupBy("vec_id").agg(
        F.sum(F.col("v6") * F.col("v6")).alias("n12")
    )
    dots = (
        pairs.join(
            comps.select(F.col("vec_id").alias("ia"), "d",
                         F.col("v6").alias("va6")), "ia")
        .join(
            comps.select(F.col("vec_id").alias("ib"), "d",
                         F.col("v6").alias("vb6")), ["ib", "d"])
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("va6") * F.col("vb6")).alias("dot12"))
    )
    cos = F.col("dot12").cast("double") / (
        F.sqrt(F.col("na12").cast("double"))
        * F.sqrt(F.col("nb12").cast("double"))
    )
    dropped = (
        dots.join(norms.select(F.col("vec_id").alias("ia"),
                               F.col("n12").alias("na12")), "ia")
        .join(norms.select(F.col("vec_id").alias("ib"),
                           F.col("n12").alias("nb12")), "ib")
        .filter(cos >= F.lit(0.35))
        .select(F.col("ib").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        emb.join(dropped, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_before"),
            F.sum(
                F.when(F.col("__dropped").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_after"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_before", "n_after",
        )
    )


def minhash_portable_duplicates(
    df: DataFrame, text_col: str, id_col: str, *,
    num_hashes: int = 16, bands: int = 2,
) -> DataFrame:
    """Engine-portable MinHash LSH duplicate ids (VERDICT r8 item 3).

    The production tier (:func:`minhash_signatures`, Arrow numpy
    kernel + universal hashing) is fastest but engine-NATIVE — no
    other system reproduces its signatures, so its driver check is
    rows-only.  This twin derives every hash from md5 hex strings,
    which any engine computes identically: ``h_i(tok)`` = the
    8-hex-char slice ``i % 4`` of ``md5((i // 4) || ':' || tok)``
    (4 independent 32-bit hashes per digest — 16 hash functions cost
    4 md5s per token), the per-doc signature is the elementwise
    MIN over distinct tokens (lexicographic on hex — a valid uniform
    min-hash), and each of ``bands`` bands hashes ``num_hashes/bands``
    consecutive signature slots to a bucket id.  A doc is a duplicate
    iff a lower-id doc shares any band bucket (bucket-min rule, same
    as the fast tier).

    Scale shape is identical to the fast tier: explode(distinct
    tokens) x num_hashes stays in whole-stage codegen (md5/concat are
    JVM intrinsics), aggregations shuffle on (id, i) then (id), the
    bucket test is ONE window over (band, bucket) — banded LSH, never
    all-pairs.  Returns distinct duplicate ids."""
    banded = _minhash_portable_bands(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands
    )
    return _bucket_star_pairs(banded, id_col).select(
        F.col("dst").alias(id_col)
    ).distinct()


def _bucket_star_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct (src=bucket-min, dst=member) pairs from an (id, b, bv)
    band-bucket relation — ONE rule for the candidate-pair convention
    shared by the portable dup listing, CC edges, and ngram verify
    (r9 review: three hand-maintained copies risked diverging)."""
    w = Window.partitionBy("b", "bv")
    return (
        banded.withColumn("__mn", F.min(id_col).over(w))
        .filter(F.col(id_col) > F.col("__mn"))
        .select(F.col("__mn").alias("src"), F.col(id_col).alias("dst"))
        .distinct()
    )


def _minhash_portable_bands(
    df: DataFrame, text_col: str, id_col: str, *,
    num_hashes: int = 16, bands: int = 2,
) -> DataFrame:
    """(id, band index b, band bucket bv) under the md5-portable
    MinHash family — the shared candidate-bucket builder behind
    :func:`minhash_portable_duplicates` (bucket-min dup rule) and
    :func:`q_dedup_clusters_portable` (bucket-star CC edges).

    MAP-SIDE (r17, guide §2.3/§2.4): the whole signature is computed
    per document row with array higher-order functions — distinct
    tokens, salted digests, per-hash minima, band digests — so the
    only rows that ever reach an exchange are the ``bands`` (id, b,
    bv) rows per doc.  The r16 shape exploded every (token, hash)
    pair to a row and re-assembled signatures through TWO token-sized
    shuffles (groupBy(id, i) then groupBy(id) with a collect_list
    sort); at 100 TB those exchanges carry ~num_hashes x the corpus
    token count.  Hash values are unchanged: hash i of a token is
    still the 8-hex-char slice (i % 4) of md5((i//4) || ':' || tok),
    the per-doc signature the elementwise lexicographic MIN over
    distinct tokens, and bv = md5 of the comma-joined band slice —
    the portable-oracle family attests the rewrite value-for-value."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError("bands must be >= 1 and divide num_hashes")
    rows = num_hashes // bands
    n_salts = (num_hashes + 3) // 4
    # HOF lambdas are written as SQL-text transform(...) with a UNIQUE
    # lambda-variable name per expression: several Python-lambda HOFs
    # in one projection miscompute on Spark 4.1 (the generated lambda
    # variables collide across expressions — verified with a minimal
    # repro; single-lambda projections are fine).
    # spread before the per-row signature work: interpreted HOF eval
    # is CPU-bound and a single-file local scan arrives as ONE
    # partition (no-op at scale, where inputs have thousands of splits)
    toks = spread_for_compute(df.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col),
        F.array_distinct(
            F.split(F.lower(F.col(text_col)), r"\s+")
        ).alias("__tk"),
    )
    # one salted digest array per salt, materialized as real columns so
    # the 4 hash slices per digest reference ONE md5 evaluation
    digests = toks.select(
        id_col,
        *[
            F.expr(
                f"transform(__tk, t{j} -> "
                f"md5(concat_ws(':', '{j}', t{j})))"
            ).alias(f"__d{j}")
            for j in range(n_salts)
        ],
    )
    sig = F.array(
        *[
            F.expr(
                f"array_min(transform(__d{i // 4}, h{i} -> "
                f"substring(h{i}, {(i % 4) * 8 + 1}, 8)))"
            )
            for i in range(num_hashes)
        ]
    )
    sigs = digests.select(id_col, sig.alias("sig"))
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("b"),
                F.md5(
                    F.array_join(F.slice("sig", b * rows + 1, rows), ",")
                ).alias("bv"),
            )
            for b in range(bands)
        ]
    )
    return (
        sigs.select(id_col, F.explode(bands_arr).alias("__bb"))
        .select(id_col, F.col("__bb.b").alias("b"), F.col("__bb.bv").alias("bv"))
    )


# Shared DuckDB CTE text of the portable-MinHash oracle family (r12
# review: four oracles carried byte-identical copies of this chain; a
# change to the portable hash family now edits ONE string and every
# oracle follows).  _PORTABLE_BANDING_SQL = tok/hashes/sig/banded,
# _PORTABLE_MN_SQL adds the per-bucket min, _PORTABLE_CC_SQL the
# star-edge symmetric closure + component labels.
_PORTABLE_BANDING_SQL = """tok AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ), hashes AS (
      SELECT doc_id, i,
             min(substr(md5(CAST(i // 4 AS VARCHAR) || ':' || tok),
                        CAST((i % 4) * 8 + 1 AS INT), 8)) AS h
      FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id, list(h ORDER BY i) AS sig FROM hashes GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, b,
             md5(array_to_string(list_slice(sig, b*8+1, b*8+8), ',')) AS bv
      FROM sig CROSS JOIN (SELECT unnest(range(0, 2)) AS b)
    )"""

_PORTABLE_MN_SQL = _PORTABLE_BANDING_SQL + """, mn AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY b, bv) AS mnid
      FROM banded
    )"""

_PORTABLE_CC_SQL = _PORTABLE_MN_SQL + """, edges AS (
      SELECT DISTINCT mnid AS src, doc_id AS dst FROM mn WHERE doc_id > mnid
    ), sym AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), comp AS (
      SELECT src AS node, LEAST(src, MIN(dst)) AS label
      FROM reach GROUP BY src
    )"""


@declared(
    "q_dedup_minhash_portable",
    oracle=f"""
    WITH {_PORTABLE_BANDING_SQL}, dups AS (
      SELECT DISTINCT a.doc_id
      FROM banded a JOIN banded x ON a.b = x.b AND a.bv = x.bv
                                 AND x.doc_id < a.doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(d2.doc_id) AS BIGINT) AS n_dups
    FROM documents d LEFT JOIN dups d2 USING (doc_id)
    GROUP BY lang
    """,
)
def q_dedup_minhash_portable(spark, sf_dir):
    """B41 as a FULL hash-match oracle: per-lang doc/duplicate counts
    under md5-portable MinHash LSH (16 hashes, 2 bands x 8 rows —
    r=8 for the same FP-merge resistance the fast tier documents) —
    DuckDB computes the exact same signatures, so the driver attests
    the whole banded-LSH pipeline value-for-value, closing the last
    rows-only gap the fast native tier necessarily leaves."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    dups = minhash_portable_duplicates(d, "text", "doc_id")
    # left join + conditional count (not a lang-keyed join of two
    # aggregates): NULL-lang groups must roll up like the oracle's
    # LEFT JOIN does (r9 review; latent on current fixtures)
    return (
        d.join(dups.withColumn("__dup", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__dup").alias("n_dups"),
        )
    )


def simhash_portable(
    df: DataFrame, text_col: str, id_col: str, *, num_bits: int = 32
) -> DataFrame:
    """Engine-portable SimHash fingerprints (round 9): every bit is
    derived from md5 hex, which any engine computes identically —
    ``bit_b(doc) = 1 iff sum over distinct tokens of (±1 from hex
    digit b of md5(tok)) > 0`` — so the fast numpy tier
    (:func:`simhash`) gains an oracle-checkable twin the way MinHash
    did.  One digest per token: md5's hex digits are independent
    uniform bits via ``digit >= '8'`` (lowercase hex, bytewise string
    compare in both Spark and DuckDB).

    Scale shape (r17, guide §2.3): ONE explode of distinct tokens with
    their digest, then ONE id-keyed aggregation carrying all
    ``num_bits`` conditional ±1 sums side by side (map-side partial
    aggregation shrinks each doc to num_bits ints before the
    exchange); the fingerprint assembles from the sums in the final
    projection.  The r16 shape additionally exploded every token row
    x num_bits and paid a second (id, bit)-keyed exchange of that
    relation — num_bits x more exchange rows for the same sums.  No
    window, no all-pairs, no Python.  Returns (id, fingerprint
    BIGINT)."""
    if num_bits > 32:
        raise ValueError("num_bits must be <= 32 (one hex digit per bit)")
    # ONE md5 per token, bit b = hex digit b's top bit (digit >= '8'):
    # md5's hex digits are independent uniform, so 32 bits cost one
    # digest instead of 32 (measured 9.6s -> ~2s at sf0.1)
    toks = spread_for_compute(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
        ).alias("tok"),
    ).select(F.col(id_col), F.md5("tok").alias("h"))
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.substring("h", b + 1, 1) >= F.lit("8"), 1)
                .otherwise(-1)
            ).alias(f"__s{b}")
            for b in range(num_bits)
        ]
    )
    fingerprint = None
    for b in range(num_bits):
        term = F.when(
            F.col(f"__s{b}") > 0,
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {b})"),
        ).otherwise(F.lit(0).cast("bigint"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select(F.col(id_col), fingerprint.alias("fingerprint"))


@declared(
    "q_dedup_simhash_portable",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ), bits AS (
      SELECT doc_id, b,
             CASE WHEN substr(md5(tok), CAST(b + 1 AS INT), 1) >= '8'
                  THEN 1 ELSE -1 END AS c
      FROM tok CROSS JOIN (SELECT unnest(range(0, 32)) AS b)
    ), contrib AS (
      SELECT doc_id, b, SUM(c) AS s FROM bits GROUP BY doc_id, b
    ), fp AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                 ELSE CAST(0 AS BIGINT) END) AS fingerprint
      FROM contrib GROUP BY doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS n_fp,
           CAST(SUM(fingerprint) AS BIGINT) AS sum_fp
    FROM documents d JOIN fp USING (doc_id)
    GROUP BY lang
    """,
)
def q_dedup_simhash_portable(spark, sf_dir):
    """B41's SimHash class as a FULL hash-match oracle (round 9,
    extending the portable-MinHash pattern of VERDICT r8 item 3):
    per-lang doc counts, distinct-fingerprint counts, and fingerprint
    SUMS under md5-portable 32-bit SimHash — DuckDB computes the
    exact same fingerprints bit for bit, so the driver attests the
    whole hash-project-threshold pipeline value-for-value.  The fast
    numpy tier keeps the production path and its rows-only check."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    fp = simhash_portable(d, "text", "doc_id")
    return (
        d.join(fp, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_fp"),
            F.sum("fingerprint").alias("sum_fp"),
        )
    )


@declared(
    "q_dedup_clusters_portable",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_CC_SQL}, sizes AS (
      SELECT label, COUNT(*) AS cluster_size FROM comp GROUP BY label
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(label) AS BIGINT) AS sum_reps
    FROM sizes GROUP BY cluster_size
    """,
)
def q_dedup_clusters_portable(spark, sf_dir):
    """B41's connected-components class as a FULL hash-match oracle
    (round 9): cluster-size histogram (+ representative-id sums, which
    attest exact membership) of the duplicate graph whose edges are
    bucket-star pairs (member -> bucket-min) from the md5-portable
    MinHash bands.  Star edges produce the same components as full
    within-bucket cliques at linear edge count.  The Spark side routes
    through :func:`connected_components` — the exact driver union-find
    under the bounded-collect cap, the pointer-jumping min-label loop
    above it (tier equality test-pinned); DuckDB reproduces the
    component-min labels with a recursive transitive-closure CTE,
    attesting whichever tier ran value-for-value."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    banded = _minhash_portable_bands(d, "text", "doc_id")
    edges = _bucket_star_pairs(banded, "doc_id")
    # max_iters=10 covers diameter ~2^10: the 16-hash/2-band portable
    # family buckets more aggressively than the 64/8 fast tier, so
    # chained bucket-stars run deeper at tiny SFs (seen: >2^5 at
    # sf0.001); each extra round is O(edges) and the loop still exits
    # early on convergence
    labels = connected_components(edges, max_iters=10)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("label").alias("sum_reps"),
        )
    )


@declared(
    "q_dedup_representatives",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_CC_SQL}, lbl AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             COALESCE(c.label, d.doc_id) AS label
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ), ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM lbl
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(doc_id) AS BIGINT) AS sum_survivor_ids,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked WHERE rk = 1 GROUP BY lang
    """,
)
def q_dedup_representatives(spark, sf_dir):
    """The COMPLETE near-dup curation story end-to-end, ORACLE-CHECKED
    (r12): candidate pairs -> connected components -> keep ONE
    representative per duplicate cluster — the highest-quality member
    (n_chars desc, doc_id asc), the policy of :func:`dedup_keep_best`
    applied at CLUSTER granularity instead of exact-text granularity.
    Docs in no cluster survive as their own representative (left join
    + coalesce, so the survivor set is a real curation output, not
    just cluster metadata).  Built on the md5-portable MinHash bands +
    :func:`connected_components` (driver union-find under the
    bounded-collect cap, the iterative loop above it — tier equality
    test-pinned); DuckDB replays banding, the recursive transitive
    closure, and the per-cluster argmax — id and char sums attest
    exact survivor membership.

    Scale shape: banding is the one fact shuffle, CC iterates over
    LSH-bounded star edges only, the representative pick is one window
    over |docs| rows keyed by cluster label, and isolated docs never
    enter the CC loop."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    banded = _minhash_portable_bands(d, "text", "doc_id")
    edges = _bucket_star_pairs(banded, "doc_id")
    labels = connected_components(edges, max_iters=10).withColumnRenamed(
        "node", "doc_id"
    )
    lbl = d.join(labels, "doc_id", "left").withColumn(
        "__label", F.coalesce(F.col("label"), F.col("doc_id"))
    )
    reps = _keep_one(
        lbl, ["__label"], [F.col("n_chars").desc(), F.col("doc_id")]
    )
    return (
        reps.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").cast("bigint").alias("sum_survivor_ids"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


def _portable_scored_pairs(d: DataFrame) -> DataFrame:
    """(a, bdoc, i, na, nb) for every md5-banded candidate pair: the
    exact-trigram intersection count and both shingle-set sizes — the
    shared verify prelude of the portable ngram face and the r13
    threshold sweep (Jaccard = i / (na + nb - i), compared in scaled
    integers downstream so no float division can diverge).

    Scale shape: ONE banded shuffle for candidates; shingles
    materialize ONLY for docs in some candidate pair (semi-join prune
    BEFORE the explode), and both the pair and shingle relations are
    checkpointed so their multiple consumers run the banding/ngram
    passes once, not three times (r9 review — the documented
    common-subplan-rescan pitfall)."""
    from artemia_airflow_spark.operators.curation import word_ngrams

    banded = _minhash_portable_bands(d, "text", "doc_id")
    # kept, sf0.1 cut -> none: 81.68 -> 80.98 MB read, 2.10 -> 3.20 MB shuffled
    pairs = cut(
        _bucket_star_pairs(banded, "doc_id")
        .withColumnsRenamed({"src": "a", "dst": "bdoc"}),
        "dedup._portable_scored_pairs.pairs",
    )
    pair_docs = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("bdoc").alias("doc_id")))
        .distinct()
    )
    # spread before the gram HOF/explode (r17, guide §2.5): the
    # semi-join is a broadcast, so a local single-file scan stays at
    # ONE partition and the CPU-bound normalize/split/concat gramming
    # ran on one core; no-op at scale (thousands of input splits).
    # The scan side is spread: the broadcast keeps its partitioning.
    # kept, sf0.1 cut -> none: 81.68 -> 5.68 MB read, 2.10 -> 2.10 MB shuffled, 3.17 -> 6.02 s
    g = cut(
        spread_for_compute(d).join(pair_docs, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.explode(F.array_distinct(word_ngrams("text", 3))).alias("gram"),
        ),
        "dedup._portable_scored_pairs.g",
    )
    gsize = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = g.select(F.col("doc_id").alias("a"), "gram")
    gb = g.select(F.col("doc_id").alias("bdoc"), "gram")
    inter = (
        pairs.join(ga, "a")
        .join(gb, ["bdoc", "gram"])
        .groupBy("a", "bdoc")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(gsize.select(F.col("doc_id").alias("a"),
                                F.col("n").alias("na")), "a")
        .join(gsize.select(F.col("doc_id").alias("bdoc"),
                           F.col("n").alias("nb")), "bdoc")
    )


@declared(
    "q_dedup_ngram_portable",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_MN_SQL}, pairs AS (
      SELECT DISTINCT mnid AS a, doc_id AS bdoc FROM mn WHERE doc_id > mnid
    ), g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS gram
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
            FROM documents)
    ), gsize AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id
    ), inter AS (
      SELECT p.a, p.bdoc, CAST(COUNT(*) AS BIGINT) AS i
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.a
      JOIN g gb ON gb.doc_id = p.bdoc AND gb.gram = ga.gram
      GROUP BY p.a, p.bdoc
    ), verified AS (
      SELECT i.a, i.bdoc
      FROM inter i
      JOIN gsize sa ON sa.doc_id = i.a
      JOIN gsize sb ON sb.doc_id = i.bdoc
      WHERE 10 * i.i >= 8 * (sa.n + sb.n - i.i)
    ), dup_docs AS (
      -- explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE
      -- context DuckDB did NOT fully dedup a plain UNION here (a doc
      -- that is the min of two pairs came out twice and inflated the
      -- left-join count) — make the dedup unambiguous
      SELECT DISTINCT doc_id FROM (
        SELECT a AS doc_id FROM verified
        UNION ALL
        SELECT bdoc AS doc_id FROM verified
      )
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(d2.doc_id) AS BIGINT) AS n_dups
    FROM documents d LEFT JOIN dup_docs d2 USING (doc_id)
    GROUP BY lang
    """,
)
def q_dedup_ngram_portable(spark, sf_dir):
    """B41's generate-verify pipeline as a FULL hash-match oracle
    (round 9): candidate pairs from the md5-portable MinHash bands
    (bucket-star, linear), verified by EXACT word-3-gram Jaccard with
    the 0.8 threshold compared in scaled integers (``10*|I| >=
    8*|U|`` — no float division to diverge between engines).  Per-lang
    doc and verified-duplicate counts; DuckDB reproduces candidates,
    shingle sets, intersections, and the threshold decision
    value-for-value.  The fast tier (crc32 signatures + one-pass
    bucket grouping) keeps the production path.

    Scale shape mirrors the fast tier: ONE banded shuffle for
    candidates, shingles materialized only for docs in some pair
    (semi-join pruning via the join itself), intersection as a
    gram-keyed equi-join confined to candidate pairs."""
    ensure_engine_conf(spark)
    from artemia_airflow_spark.operators.curation import word_ngrams

    d = scan(spark, sf_dir, "documents")
    verified = _portable_scored_pairs(d).filter(
        10 * F.col("i") >= 8 * (F.col("na") + F.col("nb") - F.col("i"))
    )
    dup_docs = (
        verified.select(F.col("a").alias("doc_id"))
        .union(verified.select(F.col("bdoc").alias("doc_id")))
        .distinct()
    )
    # left join + conditional count, NOT a lang-keyed join of two
    # aggregates: equi-joins never match NULL lang, so a NULL-lang
    # group's n_dups would silently zero while the oracle's LEFT JOIN
    # counts it (r9 review; latent on current fixtures)
    return (
        d.join(dup_docs.withColumn("__dup", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__dup").alias("n_dups"),
        )
    )


def incremental_exact_dedup(
    spark, new_df: DataFrame, text_col: str, id_col: str, state_root: str,
    *, checkpoint_dir: str | None = None,
) -> DataFrame:
    """B40 at production cadence: exact dedup of an INCREMENT against a
    persistent hash state — the daily-crawl pattern where the corpus
    already on disk is never re-scanned.  Survivors are rows whose
    normalized-text SHA-256 is new both WITHIN the batch (min-id rule,
    same as :func:`exact_dedup`) and versus the transactional state
    table of every hash ever admitted; the survivors' hashes are then
    APPENDED to the state in one ACID commit (``TxTable``, key =
    hash).  First call creates the state table.

    Semantics under replay: content is emitted at most ONCE across
    SERIALIZED reruns — re-running a batch whose hashes already
    committed yields zero survivors.  CONCURRENT runs serialize
    through the state commit itself: the state write is a MERGE (a
    read-set TxTable operation), so two racing runs that both decided
    "this hash is new" conflict at commit time and the loser raises
    ``CommitConflict`` — rerun it; the retry re-reads the state and
    drops the now-admitted content.  A plain append would let both
    racers ship the same text (r9 review).

    The returned frame is eagerly checkpointed BEFORE the state
    commit, so its rows are fixed against the pre-commit snapshot and
    never re-derived against the mutated state.  By default the
    checkpoint is executor-local (``localCheckpoint`` — fine
    single-JVM, fast); on a real multi-executor cluster where executor
    loss is routine, pass ``checkpoint_dir`` (a fault-tolerant path)
    to pin the survivors with a RELIABLE checkpoint instead — without
    it, consume (write) the returned frame before depending on the
    replay guarantee, or the lost-survivors + already-committed-state
    combination loses that content for good.

    NULL ``text_col`` values hash as the empty string (one NULL-text
    row is admitted corpus-wide, exactly like empty text).

    At 100 TB: the state stores 32-byte digests, not text; the
    anti-join shuffles digests only (broadcast when the increment is
    small, shuffled hash join when not — AQE decides); the state
    table's footer stats prune by hash prefix; all-duplicate batches
    commit NOTHING (no empty log entries), and TxTable compaction/
    checkpointing keep the log flat over thousands of daily commits."""
    from artemia_airflow_spark.sources.txtable import TxTable, head_version

    h = F.sha2(F.coalesce(normalized_text(text_col), F.lit("")), 256)
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    batch_keep = (
        new_df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    state = (
        TxTable(spark, state_root)
        if head_version(state_root) is not None
        else None
    )
    if state is not None:
        seen = state.snapshot().select(F.col("h").alias("__h"))
        batch_keep = batch_keep.join(seen, "__h", "left_anti")
    survivors = cut(
        batch_keep, "dedup.incremental_exact_dedup.survivors",
        checkpoint_dir=checkpoint_dir,
    )
    new_hashes = survivors.select(F.col("__h").alias("h")).distinct()
    if state is None:
        TxTable.create(spark, new_hashes, state_root, key_col="h")
    elif not survivors.isEmpty():
        # MERGE, not append: conflict-serializes racing admitters
        state.merge(new_hashes)
    return survivors.drop("__h")


@declared(
    "q_dedup_incremental",
    oracle="""
    WITH n AS (
      SELECT doc_id, lang,
             COALESCE(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      '') AS nt
      FROM documents
    ), s1 AS (
      SELECT DISTINCT nt FROM n WHERE doc_id % 2 = 0
    ), s2 AS (
      SELECT doc_id FROM (
        SELECT doc_id, nt,
               ROW_NUMBER() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
        FROM n WHERE doc_id % 2 <> 0
      ) t
      WHERE rn = 1
        AND NOT EXISTS (SELECT 1 FROM s1 WHERE s1.nt = t.nt)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(s.doc_id) AS BIGINT) AS n_new
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 2 <> 0) d
    LEFT JOIN s2 s USING (doc_id)
    GROUP BY lang
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """B40 incremental face, ORACLE-CHECKED: batch 1 (even doc_ids)
    seeds the persistent hash state, batch 2 (odd doc_ids) dedups
    against it — per-lang batch-2 totals vs newly-admitted counts.
    The oracle is the hash-free formulation (normalized-text equality;
    SHA-256 collisions are not a thing at any relevant corpus size),
    and a match proves the whole path: batch min-id rule, anti-join
    against the committed state, ACID state append, snapshot-isolated
    result.  Bench-SKIPped (builds a real on-disk state table)."""
    import os
    import shutil
    import tempfile

    ensure_engine_conf(spark)
    root = os.path.join(process_scratch_dir("aas_dedup_incr_"), "t")
    shutil.rmtree(root, ignore_errors=True)
    d = scan(spark, sf_dir, "documents")
    b1 = d.filter(F.col("doc_id") % 2 == 0)
    b2 = d.filter(F.col("doc_id") % 2 != 0)
    incremental_exact_dedup(spark, b1, "text", "doc_id", root)
    surv = incremental_exact_dedup(spark, b2, "text", "doc_id", root)
    return (
        b2.join(
            surv.select("doc_id").withColumn("__s", F.lit(1)), "doc_id", "left"
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__s").alias("n_new"),
        )
    )


def incremental_minhash_dedup(
    spark, new_df: DataFrame, text_col: str, id_col: str, state_root: str,
    *, num_hashes: int = 64, bands: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """B41 at production cadence: MinHash-LSH near-dedup of an
    INCREMENT against a persistent band-bucket state — the near-dup
    sibling of :func:`incremental_exact_dedup`.  A new row survives iff
    (a) it is the min id of every bucket collision within the batch
    (the :func:`minhash_dedup` rule) and (b) NONE of its band buckets
    was ever admitted to the state; survivors' buckets are appended in
    one ACID commit (``TxTable``, key = "band:bucket" string).

    Replay safety mirrors the exact tier: re-running a committed batch
    finds every bucket in the state and emits nothing — near-dup
    content is admitted at most once across SERIALIZED retries, and
    racing concurrent admitters conflict-serialize through the MERGE
    state commit exactly like :func:`incremental_exact_dedup` (see its
    docstring for the CommitConflict-retry contract and the
    localCheckpoint caveat on multi-executor clusters).

    At 100 TB: the state stores (band:bucket) strings (one row per
    band per admitted doc, ~`bands` x corpus rows of ~24 bytes); the
    probe is an anti-join on that key (map-side with a broadcast when
    the increment is small); signatures are computed for the INCREMENT
    only — the admitted corpus is never re-hashed, which is the whole
    point of the pattern."""
    from artemia_airflow_spark.sources.txtable import TxTable, head_version

    sigs = minhash_signatures(new_df, text_col, num_hashes=num_hashes)
    cand = minhash_lsh_candidates(
        sigs, id_col, num_hashes=num_hashes, bands=bands
    ).withColumn(
        "bk", F.concat_ws(":", F.col("band").cast("string"),
                          F.col("band_hash").cast("string"))
    )
    # intra-batch rule first (bucket-min suppression)
    w = Window.partitionBy("bk")
    batch_keep = (
        cand.withColumn("__mn", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(
            F.min("__mn").alias("__cluster_min"),
            F.collect_set("bk").alias("__bks"),
        )
        .filter(F.col(id_col) == F.col("__cluster_min"))
    )
    state = (
        TxTable(spark, state_root)
        if head_version(state_root) is not None
        else None
    )
    if state is not None:
        seen = state.snapshot().select("bk")
        hit = (
            batch_keep.select(id_col, F.explode("__bks").alias("bk"))
            .join(seen, "bk", "left_semi")
            .select(id_col)
            .distinct()
        )
        batch_keep = batch_keep.join(hit, id_col, "left_anti")
    survivors = cut(
        batch_keep, "dedup.incremental_minhash_dedup.survivors",
        checkpoint_dir=checkpoint_dir,
    )
    new_buckets = (
        survivors.select(F.explode("__bks").alias("bk")).distinct()
    )
    if state is None:
        TxTable.create(spark, new_buckets, state_root, key_col="bk")
    elif not survivors.isEmpty():
        # MERGE, not append: conflict-serializes racing admitters and
        # skips empty commits on replayed batches (r9 review)
        state.merge(new_buckets)
    return new_df.join(survivors.select(id_col), id_col, "left_semi")


def cross_source_matrix(
    df: DataFrame, text_col: str, id_col: str, source_col: str,
    *, max_bucket: int = 10_000,
) -> DataFrame:
    """Cross-source near-duplicate matrix: distinct MinHash-band
    candidate pairs rolled up by UNORDERED source pair — corpus
    forensics ("which crawls copy from which"); the mirror-scrape /
    syndication signal that decides whether two sources should share
    one dedup pass or a quota.  Within-source duplication lands on
    the diagonal (source_a == source_b).

    Scale shape: banded LSH candidate pairs only (the within-bucket
    self-join the whole dedup family is built on), distinct-pair
    reduction BEFORE the two source lookups, source-pair-sized output.
    UNLIKE the dedup faces (which reduce buckets to per-doc facts),
    this face MATERIALIZES the pairs, so its cost is
    sum_bucket C(|bucket|, 2) — quadratic in residual duplicate
    MULTIPLICITY, not corpus size.  The r13 100x-replica scale run
    (every doc copied 100x -> pair count x10^4) hit exactly this, so
    buckets larger than ``max_bucket`` fail loudly via an in-plan
    guard (the fuzzy_join raise_error precedent) instead of silently
    running a 10-billion-pair join: run exact dedup (B40) upstream
    first — residual near-dup multiplicity in a deduped corpus is
    small — or raise ``max_bucket`` deliberately.  ``max_bucket`` < 2
    is rejected at entry: every pairable bucket holds two docs, so the
    singleton filter below would otherwise drop the guard silently.
    """
    if max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    banded = _minhash_portable_bands(df, text_col, id_col)
    wb = Window.partitionBy("b", "bv")
    banded = banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
    # the guard rides the JOIN KEY itself (bv), not a droppable side
    # column Catalyst would prune away unevaluated
    guarded_bv = F.when(
        F.col("__bn") > max_bucket,
        F.raise_error(F.concat(
            F.lit("cross_source_matrix: band bucket of "),
            F.col("__bn").cast("string"),
            F.lit(
                f" docs exceeds max_bucket={max_bucket}: pair"
                " materialization is quadratic per bucket — exact-dedup"
                " the corpus first, or raise max_bucket deliberately"
            ),
        )),
    ).otherwise(F.col("bv"))
    banded = banded.withColumn("bv", guarded_bv)
    # singleton band buckets cannot form a pair (the self-join needs
    # two distinct ids sharing one bucket), and the guard window just
    # counted every bucket — drop them BEFORE materializing (r18,
    # guide §2.3 "shuffle fewer bytes"): the checkpointed relation,
    # the broadcast build, and both self-join sides shrink from
    # bands x corpus rows to only the rows that can actually pair.
    # Oversized buckets pass this filter (max_bucket >= 2, checked at
    # entry), so the in-plan guard still fires on materialization, and
    # the pair set is unchanged (a singleton contributes no (d1 < d2)
    # row).
    banded = banded.filter(F.col("__bn") >= 2).drop("__bn")
    # materialize the banded relation once (r17b, guide §3.3/§5): BOTH
    # sides of the bucket self-join consume it, and runtime exchange
    # reuse does NOT fire here (checked on the executed plan — the
    # window/guard projection breaks exchange identity), so the whole
    # scan + tokenize + MinHash subtree executed twice.  The
    # checkpoint is (id, b, bv) ints — at most 4 rows/doc, no text.
    # LAZY (review finding): a library operator must stay a lazy
    # relation — an eager cut would run the corpus job (and fire the
    # max_bucket guard) at plan-construction time, not at the
    # caller's action.
    # kept, sf0.1 cut -> none: 18.03 -> 17.19 MB read, 16.98 -> 16.98 MB shuffled,
    # 3.85 -> 3.91 s
    banded = cut(banded, "dedup.cross_source_matrix.banded", eager=False)
    a, x = banded.alias("a"), banded.alias("x")
    pairs = (
        a.join(x, ["b", "bv"])
        .filter(F.col(f"a.{id_col}") < F.col(f"x.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("d1"),
                F.col(f"x.{id_col}").alias("d2"))
        .distinct()
    )
    src = df.select(id_col, source_col)
    labeled = (
        pairs.join(src.withColumnRenamed(source_col, "__s1"),
                   F.col("d1") == F.col(id_col)).drop(id_col)
        .join(src.withColumnRenamed(source_col, "__s2"),
              F.col("d2") == F.col(id_col)).drop(id_col)
        .select(
            F.least("__s1", "__s2").alias("source_a"),
            F.greatest("__s1", "__s2").alias("source_b"),
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@declared(
    "q_dedup_cross_source",
    oracle=f"""
    WITH {_PORTABLE_BANDING_SQL}, pairs AS (
      SELECT DISTINCT a.doc_id AS d1, x.doc_id AS d2
      FROM banded a JOIN banded x ON a.b = x.b AND a.bv = x.bv
                                 AND a.doc_id < x.doc_id
    ), labeled AS (
      SELECT LEAST(s1.source, s2.source) AS source_a,
             GREATEST(s1.source, s2.source) AS source_b
      FROM pairs p JOIN documents s1 ON s1.doc_id = p.d1
                   JOIN documents s2 ON s2.doc_id = p.d2
    )
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM labeled GROUP BY source_a, source_b
    """,
)
def q_dedup_cross_source(spark, sf_dir):
    """Declared face of :func:`cross_source_matrix` on documents,
    FULL hash-match oracle over the exact value-pinned banding."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return cross_source_matrix(d, "text", "doc_id", "source")


@declared(
    "q_dedup_threshold_sweep",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_MN_SQL}, pairs AS (
      SELECT DISTINCT mnid AS a, doc_id AS bdoc FROM mn WHERE doc_id > mnid
    ), g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS gram
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
            FROM documents)
    ), gsize AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id
    ), inter AS (
      SELECT p.a, p.bdoc, CAST(COUNT(*) AS BIGINT) AS i
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.a
      JOIN g gb ON gb.doc_id = p.bdoc AND gb.gram = ga.gram
      GROUP BY p.a, p.bdoc
    ), scored AS (
      SELECT i.a, i.bdoc, i.i, sa.n AS na, sb.n AS nb
      FROM inter i
      JOIN gsize sa ON sa.doc_id = i.a
      JOIN gsize sb ON sb.doc_id = i.bdoc
    ), thr AS (
      SELECT unnest([60, 80, 95]) AS threshold_pct
    ), ok_t AS (
      SELECT t.threshold_pct, s.a, s.bdoc
      FROM scored s CROSS JOIN thr t
      WHERE 100 * s.i >= t.threshold_pct * (s.na + s.nb - s.i)
    ), pair_counts AS (
      SELECT threshold_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM ok_t GROUP BY threshold_pct
    ), doc_counts AS (
      SELECT threshold_pct,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_dup_docs
      FROM (SELECT threshold_pct, a AS doc_id FROM ok_t
            UNION ALL
            SELECT threshold_pct, bdoc AS doc_id FROM ok_t)
      GROUP BY threshold_pct
    )
    SELECT t.threshold_pct,
           COALESCE(p.n_pairs, 0) AS n_pairs,
           COALESCE(d.n_dup_docs, 0) AS n_dup_docs
    FROM thr t LEFT JOIN pair_counts p USING (threshold_pct)
               LEFT JOIN doc_counts d USING (threshold_pct)
    """,
)
def q_dedup_threshold_sweep(spark, sf_dir):
    """Near-dup threshold sweep, FULL hash-match oracle: verified pair
    and affected-doc counts at Jaccard 0.60 / 0.80 / 0.95 from ONE
    scored-pair pass — the tuning face every dedup deployment needs
    ("how much does the corpus shrink if we loosen the threshold")
    without re-running the pipeline per setting.  All thresholds
    compare in scaled integers (``100*i >= t*(union)``), the exact
    arithmetic both engines reproduce.

    Scale shape: the candidate/verify cost is paid ONCE
    (:func:`_portable_scored_pairs` — banded candidates, semi-join-
    pruned shingles, checkpointed); the sweep itself is a 3x explode
    over the pair-sized scored relation plus two tiny aggregates."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    scored = _portable_scored_pairs(d)
    thr = F.explode(F.array(F.lit(60), F.lit(80), F.lit(95))).alias(
        "threshold_pct"
    )
    ok = scored.select("a", "bdoc", "i", "na", "nb", thr).filter(
        100 * F.col("i")
        >= F.col("threshold_pct") * (F.col("na") + F.col("nb") - F.col("i"))
    )
    pair_counts = ok.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    doc_counts = (
        ok.select("threshold_pct", F.col("a").alias("doc_id"))
        .unionAll(ok.select("threshold_pct", F.col("bdoc").alias("doc_id")))
        .groupBy("threshold_pct")
        .agg(F.countDistinct("doc_id").alias("n_dup_docs"))
    )
    base = spark.range(1).select(
        F.explode(F.array(F.lit(60), F.lit(80), F.lit(95)))
        .alias("threshold_pct")
    )
    return (
        base.join(pair_counts, "threshold_pct", "left")
        .join(doc_counts, "threshold_pct", "left")
        .select(
            "threshold_pct",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_dup_docs", F.lit(0)).cast("bigint")
            .alias("n_dup_docs"),
        )
    )


def dedup_rate_by_source(
    df: DataFrame, text_col: str, group_col: str,
) -> DataFrame:
    """Per-source exact-duplication profile (r14): for each source,
    how many documents it contributes, how many DISTINCT texts that
    is, the duplication rate, and the largest identical-text cluster
    — the one-glance "which feed is recrawling itself" report that
    decides where dedup budget goes (per-source dup rate is the
    standard crawl-health metric next to the corpus-wide B40 pass).

    Scale shape: texts collapse to md5 keys map-side, ONE
    (source, hash) count exchange (map-side combined), then a
    source-grain rollup — the corpus never shuffles raw text.  All
    outputs exact integers; rate = ``(n - distinct) * 1e6 DIV n``.
    """
    h = F.md5(F.col(text_col))
    per_text = (
        df.select(F.col(group_col), h.alias("__h"))
        .groupBy(group_col, "__h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_text.groupBy(group_col).agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_texts"),
        F.max("c").cast("bigint").alias("max_cluster"),
        guarded_e6_ratio("sum(c) - count(1)", "sum(c)",
                         op="dedup_rate_by_source")
        .alias("dup_rate_e6"),
    )


@declared(
    "q_dedup_rate_by_source",
    oracle="""
    WITH per_text AS (
      SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, md5(text)
    )
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
           CAST(MAX(c) AS BIGINT) AS max_cluster,
           CAST((SUM(c) - COUNT(*)) * 1000000 // SUM(c) AS BIGINT)
             AS dup_rate_e6
    FROM per_text GROUP BY source
    """,
)
def q_dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-dup profile, FULL hash-match oracle: doc
    and distinct-text counts, largest identical cluster, and the
    integer-exact duplication rate per source — DuckDB attests
    the crawl-health report value-for-value."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    return dedup_rate_by_source(d, "text", "source")
