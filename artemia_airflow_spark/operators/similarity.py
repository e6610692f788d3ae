"""Similarity search over embedding columns (B42, north-star mandate).

Two tiers:

- ``cosine_topk``: exact brute-force top-k — a broadcast of the (small)
  probe set against the corpus, dot products as pure Catalyst
  expressions, top-k via TakeOrderedAndProject.  Linear scan, fully
  partition-parallel: the right baseline, and genuinely the fastest
  option until the corpus stops fitting a single scan budget.
- ``lsh_topk``: random-hyperplane (signed random projection) LSH — the
  scale path.  Probes only compare against corpus vectors landing in
  the same hash bucket, turning the O(N) scan into O(N/2^bits)
  expected work per probe.  Recall is tunable via (bits, tables).

Both stay in DataFrame land.  The SRP planes are md5-derived ±1
signs (:func:`srp_bucket_rows`), the same family the DuckDB oracle
of ``q_sim_ann_lsh_portable`` computes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.functions.core import cut, guarded_e6_ratio, overlap
from artemia_airflow_spark.functions.vectors import cosine_similarity
from artemia_airflow_spark.plans.registry import declared
from artemia_airflow_spark.session import ensure_engine_conf

def cosine_topk(
    corpus: DataFrame, probes: DataFrame, *, id_col: str, probe_id_col: str,
    vec_col: str = "embedding", probe_vec_col: str = "probe_vec", k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of every probe against the corpus.

    Returns (probe_id, id, cos_sim, rank).  Probes are broadcast — the
    corpus is never shuffled, so this scales to any corpus size the
    cluster can scan; cost is O(|corpus| * |probes| * dim) flops spread
    over all executors.

    Rows with NULL/NaN similarity (e.g. zero-norm vectors) are
    EXCLUDED from the top-k; count them via
    :func:`nonfinite_score_count`.
    """
    joined = corpus.crossJoin(F.broadcast(probes))
    sim = cosine_similarity(vec_col, probe_vec_col)
    scored = joined.select(
        F.col(probe_id_col), F.col(id_col), sim.alias("cos_sim")
    )
    # two-phase cut (r11, VERDICT r10 #2): the map-side partial top-k
    # bounds the per-probe exchange to k x batches rows instead of the
    # full |corpus| x |probes| scored relation; non-finite cosines
    # (zero-norm vectors) are excluded by the documented contract
    return _bounded_topk(
        scored, probe_id_col=probe_id_col, id_col=id_col,
        score_col="cos_sim", k=k,
    )


def _srp_planes(dim: int, bits: int, tables: int) -> np.ndarray:
    """(tables*bits, dim) int64 ±1 SRP plane matrix, row t*bits + b:
    ``s(t,b,d) = -1 iff hex digit (d % 32)+1 of md5('srp|t|b|' || d div
    32) >= '8'`` (one digest covers 32 dims; hashlib's lowercase hex is
    Spark's and DuckDB's).  ±1 entries keep the random-projection
    angle guarantee of gaussian planes (Achlioptas, PODS 2001)."""
    rows = []
    for t in range(tables):
        for b in range(bits):
            hx = "".join(
                hashlib.md5(f"srp|{t}|{b}|{j}".encode()).hexdigest()
                for j in range((dim + 31) // 32)
            )
            rows.append([-1 if hx[d] >= "8" else 1 for d in range(dim)])
    return np.array(rows, dtype=np.int64)


def srp_bucket_rows(
    df: DataFrame, *, id_col: str, vec_col: str,
    dim: int = 64, bits: int = 6, tables: int = 2,
) -> DataFrame:
    """(id, t, bucket): the SRP-LSH bucket of every vector in each of
    ``tables`` tables — the engine's one SRP hash, behind
    :func:`lsh_topk`, ``dedup.embedding_neardup_lsh`` and the portable
    faces.  Bit b of table t = (signed projection >= 0) on the planes
    of :func:`_srp_planes`; bucket = the packed ``bits``-bit integer.

    Components are widened to double (exact) and rounded half-up to
    1e-6-scaled BIGINTs (floor(x*1e6 + 0.5), as :func:`embedding_comps`),
    so each projection is an exact int64 sum: order-independent and
    identical to the oracle's SQL.  NULL or empty vectors get no
    bucket rows.

    Scale shape: one Arrow-batched int64 matmul per batch,
    (batch x dim) @ (dim x tables*bits), with the planes held in the
    UDF closure; only the (id, t, bucket) rows leave the vector row,
    never (id, d) components."""
    from pyspark.sql.functions import pandas_udf

    planes_t = _srp_planes(dim, bits, tables).T  # (dim, tables*bits)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def srp_bucket_ids(vecs: pd.Series) -> pd.Series:
        ok = [v is not None and len(v) > 0 for v in vecs]
        if not any(ok):
            return pd.Series([None] * len(vecs), dtype=object)
        V = np.stack(vecs[ok].to_numpy()).astype(np.float64)
        V6 = np.floor(V * 1_000_000 + 0.5).astype(np.int64)
        on = (V6 @ planes_t >= 0).reshape(len(V6), tables, bits)
        ids = iter((on * weights).sum(axis=2))
        return pd.Series([next(ids) if k else None for k in ok], dtype=object)

    return df.select(
        F.col(id_col),
        F.posexplode(srp_bucket_ids(F.col(vec_col))).alias("t", "bucket"),
    )


def lsh_topk(
    corpus: DataFrame, probes: DataFrame, *, id_col: str, probe_id_col: str,
    vec_col: str = "embedding", probe_vec_col: str = "probe_vec",
    k: int = 10, dim: int = 64, bits: int = 8, tables: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via multi-table SRP-LSH.

    Corpus and probes are hashed into (table, bucket) keys; candidates
    are the equi-join on those keys (a hash join on a compact bigint —
    shuffle-friendly, skew handled by AQE), exact cosine re-ranks the
    candidates.  Expected candidate fraction per table ~ 1/2^bits for
    random data; tables trade recall vs cost.

    Tuning (quantified in tests/test_accuracy.py): on i.i.d. gaussian
    vectors — the adversarial case, where true neighbors are barely
    closer than random — mean recall@10 over the fixtures' 5 probes at
    sf0.001 / sf0.01 / sf0.1 measures 0.10 / 0.06 / 0.06 for the
    (bits=8, tables=4) default, 0.54 / 0.62 / 0.70 for bits=4/tables=8
    and 0.80 / 0.80 / 0.92 for bits=4/tables=16.
    Clustered real-world embeddings reach high recall at much higher
    bits (cheaper candidates); measure on YOUR corpus with the harness
    before trusting a config.

    Contracts (r11): ``id_col`` / ``probe_id_col`` must uniquely
    identify their rows — the id-pair candidate dedup re-attaches
    vectors by id, so a duplicated id would occupy duplicate top-k
    slots (dedupe upstream; ids are ids).  The probe side is
    eagerly local-checkpointed: it is referenced twice (bucket hash +
    rerank broadcast) and Spark does not dedupe common subplans — for
    the small-by-contract probe set one materialization beats
    re-running its upstream twice; the corpus-side double reference
    (bucket hash + vector re-attach) is left as two scans BY DESIGN —
    at 100 TB that side is a bucketed/cached table whose rescan is
    amortized, and checkpointing it would materialize the corpus.
    Rows with NULL/NaN rerank similarity (e.g. zero-norm vectors) are
    EXCLUDED from the top-k; count them via
    :func:`nonfinite_score_count`.

    Fault-tolerance trade (ADVICE r11): the eager localCheckpoint (a)
    runs a Spark job at GRAPH-BUILD time, not first action, and (b)
    stores executor-local blocks that are NOT recomputable — if the
    executor holding probe blocks dies mid-query on a cluster, the
    query fails and must rerun (a persist() would recompute instead).
    Accepted for the probe relation because it is tiny by contract
    (one block set, cheap rerun); do NOT copy this pattern for
    relations whose loss would be expensive.
    """
    # kept, sf0.1 cut -> none: 0.24 -> 0.31 MB read, 0.03 -> 0.03 MB shuffled
    # 100x: 9.51 -> 11.75 s, 4.38 -> 4.73 MB read
    probes = cut(probes, "similarity.lsh_topk.probes")
    buckets = dict(dim=dim, bits=bits, tables=tables)
    ce = srp_bucket_rows(corpus, id_col=id_col, vec_col=vec_col, **buckets)
    pe = srp_bucket_rows(
        probes, id_col=probe_id_col, vec_col=probe_vec_col, **buckets
    )
    # candidate dedup on ID PAIRS ONLY (r11): a multi-table join emits
    # each colliding pair up to `tables` times, and the old 4-column
    # distinct shuffled BOTH embedding vectors per duplicate — ids are
    # ~16 B/row, vectors 100x that.  Vectors re-attach afterwards: the
    # corpus side via an ordinary hash join on its id (co-partitioned
    # with a bucketed corpus at scale), the probe side broadcast (the
    # probe set is the small side by contract, same as cosine_topk).
    cand_ids = (
        ce.join(pe, ["t", "bucket"])
        .select(probe_id_col, id_col)
        .distinct()
    )
    cand = cand_ids.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(probes.select(probe_id_col, probe_vec_col)),
        probe_id_col,
    )
    sim = cosine_similarity(vec_col, probe_vec_col)
    scored = cand.select(
        F.col(probe_id_col), F.col(id_col), sim.alias("cos_sim")
    )
    # two-phase rerank (r11, VERDICT r10 #2): at recall-grade tunings
    # (bits=4/tables=16) the candidate set per probe approaches the
    # whole corpus, so a bare per-probe window here recreates the
    # single-reducer sort the PQ cut removed — the shared map-side
    # partial top-k bounds the exchange to k x batches rows per probe
    return _bounded_topk(
        scored, probe_id_col=probe_id_col, id_col=id_col,
        score_col="cos_sim", k=k,
    )


# --------------------------------------------------------------------------
# Declared queries
# --------------------------------------------------------------------------

@declared(
    "q_sim_topk",
    oracle="""
    SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), p), 6) AS cos_sim
    FROM embeddings,
         (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0) probe
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_sim_topk(spark, sf_dir):
    """B42: exact cosine top-10 neighbors of vec_id=0 (rounded to 6dp —
    both engines accumulate the dot product sequentially in double, and
    random 64-d vectors keep top-k membership far from ties; hazard H5
    verified against the installed DuckDB)."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("probe_vec"))
    sim = F.round(cosine_similarity("embedding", "probe_vec"), 6)
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@declared("q_sim_ann_lsh")
def q_sim_ann_lsh(spark, sf_dir):
    """B42 (rows-only): SRP-LSH approximate neighbors for 5 probe
    vectors — the 100 TB path (bucketed candidate join instead of full
    scan).  Probabilistic recall -> no value oracle; the recall harness
    (tests/test_accuracy.py) carries the quantified guarantee.  Config
    bits=4/tables=8, not the library default: the fixture vectors are
    i.i.d. gaussian (the ANN-adversarial case) where the default's
    recall@10 measures 0.06-0.10 — this config measures 0.54 / 0.62 /
    0.70 at sf0.001 / sf0.01 / sf0.1 at half a scan's candidate cost,
    an honest operating point for this data."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec"))
    )
    return lsh_topk(
        emb.filter(F.col("vec_id") >= 5), probes,
        id_col="vec_id", probe_id_col="probe_id", k=10, bits=4, tables=8,
    )


def embedding_comps(df: DataFrame, *, id_col: str, vec_col: str) -> DataFrame:
    """(id, d, v6): exploded embedding components as 1e-6-scaled exact
    BIGINTs — the shared first stage of the portable similarity
    faces (float -> double widening is exact; floor(x*1e6 + 0.5) is
    the engine-portable half-up rounding, see q_embed_centroid)."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("d", "e"),
    ).select(
        id_col,
        F.col("d").cast("bigint").alias("d"),
        F.floor(F.col("e").cast("double") * 1_000_000 + F.lit(0.5))
        .cast("bigint").alias("v6"),
    )


@declared(
    "q_sim_ann_lsh_portable",
    oracle="""
    WITH planes AS (
      SELECT t, b, d,
             CASE WHEN substr(md5('srp' || '|' || CAST(t AS VARCHAR) || '|'
                                  || CAST(b AS VARCHAR) || '|'
                                  || CAST(d // 32 AS VARCHAR)),
                        CAST(d % 32 AS INT) + 1, 1) >= '8'
                  THEN -1 ELSE 1 END AS s
      FROM (SELECT unnest(range(0, 2)) AS t),
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
    ), cand AS (
      SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id
      FROM buckets cb JOIN buckets pb USING (t, bucket)
      WHERE cb.vec_id >= 5 AND pb.vec_id < 5
    ), norms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM comps GROUP BY vec_id
    ), dots AS (
      SELECT cand.probe_id, cand.vec_id, SUM(cc.v6 * cp.v6) AS dot12
      FROM cand
      JOIN comps cc ON cc.vec_id = cand.vec_id
      JOIN comps cp ON cp.vec_id = cand.probe_id AND cp.d = cc.d
      GROUP BY cand.probe_id, cand.vec_id
    ), scored AS (
      SELECT d.probe_id, d.vec_id,
             CAST(d.dot12 AS DOUBLE)
               / (sqrt(CAST(nc.n12 AS DOUBLE)) * sqrt(CAST(np.n12 AS DOUBLE)))
               AS cos
      FROM dots d JOIN norms nc ON nc.vec_id = d.vec_id
                  JOIN norms np ON np.vec_id = d.probe_id
    ), ranked AS (
      SELECT probe_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q_sim_ann_lsh_portable(spark, sf_dir):
    """B42's approximate-similarity class as a FULL hash-match oracle
    (round 10 — the last value-unchecked LLM-pipeline block, VERDICT
    r9 #3): SRP-LSH candidate generation AND the exact rerank, both
    engine-portable.  Buckets come from the engine's one SRP hash,
    md5-derived ±1 planes over scaled-int components (exact integer
    sums — see :func:`srp_bucket_rows`); the rerank cosine is computed
    from exact integer dot products and norms, where every float op
    (int<2^53 -> double cast, sqrt, multiply, divide) is correctly
    rounded under IEEE-754, so the double scores — and therefore the
    (score desc, vec_id) ranking — are bit-identical in Spark and
    DuckDB.  Emitted as 1e-6-scaled ints.  The production tier
    (:func:`lsh_topk`) hashes with the same planes but keeps its float
    rerank: this face's exact-integer rerank explodes vectors into
    (id, d) rows, dim x the corpus."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    # materialize the two shared relations ONCE: Spark does not dedupe
    # common subplans (r10 review — the pq_topk lesson), and buckets is
    # consumed twice (corpus/probe sides of the self-join) while comps
    # feeds norms + both dot-product sides; both are compact
    # (N x tables and N x dim scaled-int rows, no text/vectors)
    # kept, sf0.1 cut -> none: 47.87 -> 47.27 MB read, 0.03 -> 0.03 MB shuffled,
    # 0.73 -> 0.91 s
    buckets = cut(srp_bucket_rows(
        emb, id_col="vec_id", vec_col="embedding"
    ), "similarity.q_sim_ann_lsh_portable.buckets")
    corpus_b = buckets.filter(F.col("vec_id") >= 5)
    probe_b = (
        buckets.filter(F.col("vec_id") < 5)
        .withColumnRenamed("vec_id", "probe_id")
    )
    cand = (
        corpus_b.join(probe_b, ["t", "bucket"])
        .select("probe_id", "vec_id")
        .distinct()
    )
    # kept, sf0.1 cut -> none: 47.87 -> 1.04 MB read, 0.03 -> 0.03 MB shuffled, 0.73 -> 0.88 s
    comps = cut(embedding_comps(
        emb, id_col="vec_id", vec_col="embedding"
    ), "similarity.q_sim_ann_lsh_portable.comps")
    # shared rerank tail (r12): one implementation across the three
    # portable ANN twins, so a rerank fix can never silently diverge
    return _portable_exact_rerank(comps, cand, k=10)


@declared(
    "q_embed_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(MIN(embedding[1]) AS DOUBLE) AS min_e1,
           CAST(MAX(embedding[1]) AS DOUBLE) AS max_e1
    FROM embeddings
    GROUP BY label
    """,
)
def q_embed_stats(spark, sf_dir):
    """Vector-column plumbing check: per-label stats on the first
    embedding component (min/max are order-insensitive and exact —
    float -> double widening is value-preserving in both engines)."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    e1 = F.element_at("embedding", 1).cast("double")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min(e1).alias("min_e1"),
        F.max(e1).alias("max_e1"),
    )

def per_dim_means(emb: DataFrame, *, label_col: str = "label",
                  vec_col: str = "embedding") -> DataFrame:
    """Per-(label, dim) component means — the shared distributed stage
    under both centroid faces: posexplode so the shuffle carries
    (label, dim) partial sums, never whole vectors."""
    dims = emb.select(label_col, F.posexplode(vec_col).alias("dim", "v"))
    return dims.groupBy(label_col, "dim").agg(F.avg("v").alias("mean_v"))


def embed_centroid(emb: DataFrame, *, label_col: str = "label",
                   vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid: :func:`per_dim_means` reassembled into the
    array-native ``(label, centroid: array<double>)`` shape for library
    callers.  Means are UNROUNDED here; the declared-query face rounds
    to 6dp (see :func:`q_embed_centroid` for why)."""
    return (
        per_dim_means(emb, label_col=label_col, vec_col=vec_col)
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_v"))).alias("pairs"))
        .select(
            label_col,
            F.transform(F.col("pairs"), lambda p: p.mean_v).alias("centroid"),
        )
    )


@declared(
    "q_embed_centroid",
    oracle="""
    WITH d AS (
      SELECT label,
             unnest(range(len(embedding))) AS dim,
             unnest(embedding) AS v
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_e6,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(floor(CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                                    AS BIGINT)) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS mean_e6
    FROM d GROUP BY label, dim
    """,
)
def q_embed_centroid(spark, sf_dir):
    """Per-label centroid stage, ORACLE-CHECKED (round-6 upgrade from
    rows-only): emits exploded scalar rows ``(label, dim, sum_e6,
    n_vecs, mean_e6)`` in engine-portable scaled-integer form.  Two
    deliberate divergences from the array-native library face
    (:func:`embed_centroid`): (1) exploded scalars because the driver
    canonicalizer sorts columns with pandas and array cells are
    unhashable (r2 driver error); (2) each float component is widened
    to double (exact) and rounded half-up to a 1e-6-scaled BIGINT
    before summing — integer sums are exact and ORDER-INDEPENDENT, so
    the result is bit-stable across partitionings AND engines, unlike
    the double-sum mean that kept this query rows-only (float addition
    is non-associative; Spark's partial-agg order is
    partitioning-dependent).  mean_e6 divides the two exact integers
    in double (both < 2^53, division exact-deterministic) and rounds
    half-up — identical in both engines."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    v_e6 = F.floor(F.col("v").cast("double") * 1_000_000 + F.lit(0.5)).cast("bigint")
    dims = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    return dims.groupBy("label", "dim").agg(
        F.sum(v_e6).cast("bigint").alias("sum_e6"),
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
    ).select(
        "label",
        "dim",
        "sum_e6",
        "n_vecs",
        F.floor(
            F.col("sum_e6").cast("double") / F.col("n_vecs") + F.lit(0.5)
        ).cast("bigint").alias("mean_e6"),
    )

def quantize_embeddings_sq8(
    emb: DataFrame, *, id_col: str, vec_col: str = "embedding",
    packed: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Scalar int8 quantization (FAISS ``SQ8`` shape — round 10): the
    standard embedding-compression tier next to PQ.  Per-DIMENSION
    affine quantizer trained on the corpus itself: ``q = floor(255 *
    (v - min_d) / (max_d - min_d) + 0.5)`` with the per-dim min/max
    from one exploded aggregation.

    Two output shapes:

    - ``packed=False`` (the value-portable ORACLE face): the exploded
      relation (id, dim, q, vmin, vmax) — every code and the trained
      quantizer as plain rows DuckDB can reproduce bit-for-bit.  NOT
      the shape to write: 64 rows per vector with the 8-byte quantizer
      params duplicated onto every row is ~20x LARGER than the float
      array column it compresses (VERDICT r10 "What's wrong" #2).
    - ``packed=True`` (the PRODUCTION face — round 11): returns
      ``(codes, quantizer)`` where ``codes`` is (id, codes: BINARY)
      with exactly 1 byte per component (dim implicit in byte
      position), and ``quantizer`` is the dim-row (dim, vmin, vmax)
      side table a reader needs to dequantize — the same split
      :func:`pq_encode` uses for its m-int codes.  Honest bytes math
      in SCALE.md §SQ8.

    At 100 TB: one groupBy(dim) aggregation trains the quantizer (64
    rows out).  The packed encode NEVER explodes the corpus: the
    quantizer is folded to a single row of aligned (vmins, vmaxs)
    arrays, cross-joined broadcast, and the code array is computed
    map-side per vector (arrays_zip + transform, then hex->binary
    packing — all Catalyst, no Python).  Every op — float->double
    widening, subtract, divide, multiply, floor — is correctly rounded
    IEEE on exact inputs, so codes are bit-identical across engines
    and between the two faces (pinned by the pack/unpack round-trip
    test); constant dims quantize to 0 by convention, guarded against
    the 0/0 NaN."""
    comps = emb.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "e")
    ).select(id_col, "dim", F.col("e").cast("double").alias("v"))
    rng = comps.groupBy("dim").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    if not packed:
        q = F.when(
            F.col("vmax") > F.col("vmin"),
            F.floor(
                F.lit(255.0) * (F.col("v") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin")) + F.lit(0.5)
            ),
        ).otherwise(F.lit(0)).cast("int")
        return comps.join(F.broadcast(rng), "dim").select(
            id_col, "dim", q.alias("q"), "vmin", "vmax"
        )
    # packed: quantizer params as one row of dim-aligned arrays,
    # attached by broadcast — the corpus is encoded map-side, unexploded
    qrow = rng.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "vmin"))),
            lambda s: s["vmin"],
        ).alias("__vmins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "vmax"))),
            lambda s: s["vmax"],
        ).alias("__vmaxs"),
    )
    z = F.arrays_zip(
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col("__vmins").alias("mn"), F.col("__vmaxs").alias("mx"),
    )

    def _code(s):
        return F.when(
            s["mx"] > s["mn"],
            F.floor(
                F.lit(255.0) * (s["v"] - s["mn"]) / (s["mx"] - s["mn"])
                + F.lit(0.5)
            ),
        ).otherwise(F.lit(0)).cast("int")

    # int codes (0..255) -> 2 hex chars each -> BINARY: 1 byte per
    # component, dim implicit in byte order; stays in codegen
    hexs = F.array_join(
        F.transform(F.transform(z, _code),
                    lambda q: F.lpad(F.hex(q), 2, "0")),
        "",
    )
    codes = emb.crossJoin(F.broadcast(qrow)).select(
        F.col(id_col), F.to_binary(hexs, F.lit("hex")).alias("codes")
    )
    return codes, rng


def sq8_unpack(
    codes: DataFrame, *, codes_col: str = "codes", out_col: str = "q_arr",
) -> DataFrame:
    """Unpack a :func:`quantize_embeddings_sq8(packed=True)` BINARY
    codes column back to the array<int> of 0..255 codes (byte i =
    dimension i).  Pure Catalyst: hex() the binary, then a transform
    over the byte index parses each 2-char slice — the inverse of the
    pack step, pinned bit-identical by the round-trip test.  To
    dequantize, join the quantizer side table and compute
    ``vmin + q * (vmax - vmin) / 255``."""
    hexs = F.hex(F.col(codes_col))
    # empty-binary guard (r11 review): sequence(0, -1) is the
    # DESCENDING sequence [0, -1] in Spark, which would fabricate two
    # NULL components — an empty codes column must unpack to []
    arr = F.when(
        F.length(F.col(codes_col)) == 0,
        F.array().cast("array<int>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), (F.length(F.col(codes_col)) - 1).cast("int")),
            lambda i: F.conv(hexs.substr(i * 2 + 1, F.lit(2)), 16, 10).cast("int"),
        )
    )
    return codes.withColumn(out_col, arr)


@declared(
    "q_embed_quantize",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), rng AS (
      SELECT dim, MIN(v) AS vmin, MAX(v) AS vmax FROM comps GROUP BY dim
    ), coded AS (
      SELECT c.vec_id, c.dim,
             CAST(CASE WHEN r.vmax > r.vmin
                  THEN floor(255.0 * (c.v - r.vmin) / (r.vmax - r.vmin) + 0.5)
                  ELSE 0 END AS INT) AS q,
             r.vmin, r.vmax
      FROM comps c JOIN rng r USING (dim)
    )
    SELECT dim,
           CAST(SUM(q) AS BIGINT) AS sum_q,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(q) AS INT) AS min_q,
           CAST(MAX(q) AS INT) AS max_q,
           CAST(floor(MIN(vmin) * 1000000 + 0.5) AS BIGINT) AS vmin_e6,
           CAST(floor(MAX(vmax) * 1000000 + 0.5) AS BIGINT) AS vmax_e6
    FROM coded GROUP BY dim
    """,
)
def q_embed_quantize(spark, sf_dir):
    """B42-adjacent embedding compression, ORACLE-CHECKED: per-dim
    int8 quantizer params (1e-6-scaled) and code aggregates (sum /
    min / max of the int8 codes) — DuckDB reproduces the trained
    quantizer AND every code exactly, because the whole chain is
    correctly-rounded IEEE arithmetic on float->double-widened inputs
    (min/max are order-insensitive, integer sums of codes are exact).
    The per-dim code sums attest all |corpus| x dim quantized values
    without emitting them."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    coded = quantize_embeddings_sq8(emb, id_col="vec_id")
    return coded.groupBy("dim").agg(
        F.sum("q").cast("bigint").alias("sum_q"),
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("q").cast("int").alias("min_q"),
        F.max("q").cast("int").alias("max_q"),
        F.floor(F.min("vmin") * 1_000_000 + F.lit(0.5))
        .cast("bigint").alias("vmin_e6"),
        F.floor(F.max("vmax") * 1_000_000 + F.lit(0.5))
        .cast("bigint").alias("vmax_e6"),
    )


def sq8_dequantize(
    codes: DataFrame, quantizer: DataFrame, *, id_col: str,
    codes_col: str = "codes",
) -> DataFrame:
    """Reconstruct (id, dim, v_hat) doubles from packed SQ8 codes and
    the (dim, vmin, vmax) quantizer table: ``v_hat = vmin + q * (vmax
    - vmin) / 255``.  The encode rounds half-up to the nearest code,
    so per-component reconstruction error is <= (vmax - vmin) / 255 / 2
    (pinned by the round-trip error test).  Shape: unpack is map-side
    (posexplode of the decoded array), the quantizer join is a
    broadcast of dim rows."""
    unpacked = sq8_unpack(codes, codes_col=codes_col).select(
        id_col, F.posexplode("q_arr").alias("dim", "q")
    ).select(id_col, F.col("dim").cast("bigint").alias("dim"), "q")
    v_hat = (
        F.col("vmin")
        + F.col("q").cast("double") * (F.col("vmax") - F.col("vmin"))
        / F.lit(255.0)
    )
    return unpacked.join(F.broadcast(quantizer), "dim").select(
        id_col, "dim", v_hat.alias("v_hat")
    )


@declared(
    "q_embed_quantize_packed",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), rng AS (
      SELECT dim, MIN(v) AS vmin, MAX(v) AS vmax FROM comps GROUP BY dim
    ), coded AS (
      SELECT c.vec_id, c.dim,
             CAST(CASE WHEN r.vmax > r.vmin
                  THEN floor(255.0 * (c.v - r.vmin) / (r.vmax - r.vmin) + 0.5)
                  ELSE 0 END AS INT) AS q
      FROM comps c JOIN rng r USING (dim)
    )
    SELECT vec_id,
           upper(string_agg(lpad(format('{:x}', q), 2, '0'), ''
                            ORDER BY dim)) AS codes_hex
    FROM coded
    WHERE vec_id < 100
    GROUP BY vec_id
    """,
)
def q_embed_quantize_packed(spark, sf_dir):
    """The PACKED SQ8 artifact itself, ORACLE-CHECKED (round 11,
    VERDICT r10 #3's production face): hex of the BINARY codes column
    emitted by ``quantize_embeddings_sq8(packed=True)`` — DuckDB
    rebuilds the same byte string per vector from the exploded
    arithmetic (2 hex chars per code, dim order), so the written
    1-byte-per-component artifact is pinned byte-for-byte, not just
    the code values.  First 100 vectors keep the face compact."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    codes, _quant = quantize_embeddings_sq8(
        emb, id_col="vec_id", packed=True
    )
    return (
        codes.filter(F.col("vec_id") < 100)
        .select("vec_id", F.hex(F.col("codes")).alias("codes_hex"))
    )


def pq_portable_codebooks_df(
    spark: SparkSession, *, m_subspaces: int, n_codes: int, sub_dim: int,
    salt: int = 12345,
) -> DataFrame:
    """Engine-portable PQ codebooks as a tiny relation (j, c, u, c6):
    centroid component u of code c in subspace j is a deterministic
    Lehmer-hash-derived 1e-6-scaled integer
    ``((((j*131071 + c*8191 + u*127 + 1) * 48271 + salt) % (2^31-1))
    % 2048 - 1024) * 256`` ∈ [-262144, 261888] — the same magnitude as
    the fixture's scaled embedding components, pure BIGINT arithmetic
    (max intermediate < 2^36, ANSI-safe) that any engine reproduces.
    ``salt`` decorrelates independent codebook draws (the IVF-PQ twin
    uses a different one for its residual books).  The production tier
    (:func:`pq_codebooks`) keeps KMeans; this grid exists so the PQ
    MECHANISM (argmin encode, LUT gather, two-phase cut, rerank) gets
    a value-for-value oracle."""
    return (
        spark.range(m_subspaces * n_codes * sub_dim)
        .select(
            F.expr(f"id div {n_codes * sub_dim}").alias("j"),
            (F.expr(f"id div {sub_dim}") % n_codes).alias("c"),
            (F.col("id") % sub_dim).alias("u"),
        )
        .select(
            "j", "c", "u",
            (
                (
                    (F.col("j") * 131071 + F.col("c") * 8191
                     + F.col("u") * 127 + 1) * 48271 + salt
                ) % 2147483647 % 2048 - 1024
            ).cast("bigint").alias("c6"),
        )
        .withColumn("c6", F.col("c6") * 256)
    )


def ivf_portable_centroids_df(
    spark: SparkSession, *, n_cells: int, dim: int,
) -> DataFrame:
    """Engine-portable IVF coarse centroids (cell, d, cc6): the same
    Lehmer-grid trick as :func:`pq_portable_codebooks_df` with its own
    formula tag, ``((((cell*524287 + d*127 + 3) * 48271 + 54321)
    % (2^31-1)) % 2048 - 1024) * 256`` — deterministic scaled ints any
    engine reproduces, standing in for the production KMeans coarse
    quantizer so the IVF MECHANISM (cell assignment, probe routing,
    residual decomposition) gets a value-for-value oracle."""
    return (
        spark.range(n_cells * dim)
        .select(
            F.expr(f"id div {dim}").alias("cell"),
            (F.col("id") % dim).alias("d"),
        )
        .select(
            "cell", "d",
            (
                (
                    (F.col("cell") * 524287 + F.col("d") * 127 + 3)
                    * 48271 + 54321
                ) % 2147483647 % 2048 - 1024
            ).cast("bigint").alias("cc6"),
        )
        .withColumn("cc6", F.col("cc6") * 256)
    )


@declared(
    "q_sim_pq_portable",
    oracle="""
    WITH books AS (
      SELECT j, c, u,
             (((j*131071 + c*8191 + u*127 + 1) * 48271 + 12345)
              % 2147483647 % 2048 - 1024) * 256 AS c6
      FROM (SELECT unnest(range(0, 8)) AS j),
           (SELECT unnest(range(0, 16)) AS c),
           (SELECT unnest(range(0, 8)) AS u)
    ), comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ), corp AS (
      SELECT vec_id, d // 8 AS j, d % 8 AS u, v6 FROM comps WHERE vec_id >= 5
    ), dists AS (
      SELECT vec_id, j, c, SUM((v6 - c6) * (v6 - c6)) AS dist
      FROM corp JOIN books USING (j, u) GROUP BY vec_id, j, c
    ), codes AS (
      SELECT vec_id, j, MIN(dist * 16 + c) % 16 AS code
      FROM dists GROUP BY vec_id, j
    ), pcomps AS (
      SELECT vec_id AS probe_id, d // 8 AS j, d % 8 AS u, v6 AS p6
      FROM comps WHERE vec_id < 5
    ), luts AS (
      SELECT probe_id, j, c, SUM(c6 * p6) AS lut
      FROM pcomps JOIN books USING (j, u) GROUP BY probe_id, j, c
    ), adc AS (
      SELECT l.probe_id, k.vec_id, SUM(l.lut) AS adc
      FROM codes k JOIN luts l ON l.j = k.j AND l.c = k.code
      GROUP BY l.probe_id, k.vec_id
    ), cand AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY adc DESC, vec_id) AS r
        FROM adc
      ) WHERE r <= 50
    ), norms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM comps GROUP BY vec_id
    ), dots AS (
      SELECT cand.probe_id, cand.vec_id, SUM(cc.v6 * cp.v6) AS dot12
      FROM cand
      JOIN comps cc ON cc.vec_id = cand.vec_id
      JOIN comps cp ON cp.vec_id = cand.probe_id AND cp.d = cc.d
      GROUP BY cand.probe_id, cand.vec_id
    ), scored AS (
      SELECT d.probe_id, d.vec_id,
             CAST(d.dot12 AS DOUBLE)
               / (sqrt(CAST(nc.n12 AS DOUBLE)) * sqrt(CAST(np.n12 AS DOUBLE)))
               AS cos
      FROM dots d JOIN norms nc ON nc.vec_id = d.vec_id
                  JOIN norms np ON np.vec_id = d.probe_id
    ), ranked AS (
      SELECT probe_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q_sim_pq_portable(spark, sf_dir):
    """B103's PQ mechanism as a FULL hash-match oracle (round 12,
    VERDICT r11 missing #1 — the largest remaining rows-only family):
    codebook ENCODE (per-subspace argmin over exact squared integer
    distances, ties to the lowest code via the ``min(dist*16+c)``
    packed key), ADC LUT GATHER (per-probe lut(j,c) = exact integer
    codebook.probe dot; score = sum of m gathered entries), the
    TWO-PHASE candidate cut (the production :func:`_bounded_topk` —
    exact-int ADC scores cast to double are < 2^53 so the cast, the
    map-side partial cut and the final window order identically in
    both engines), and the exact-cosine RERANK of the r=50 survivors
    (correctly-rounded IEEE chain over exact int dots/norms, the
    q_sim_ann_lsh_portable recipe).  Codebooks are the deterministic
    Lehmer grid of :func:`pq_portable_codebooks_df` instead of engine
    KMeans — the ONE substitution that makes the family portable; the
    production tier (:func:`pq_topk`) keeps KMeans books, Arrow
    kernels and its rows-only check + recall floors.

    Scale shape mirrors the production tier: codes are m small ints
    per corpus row built by one broadcast join + two keyed aggs (never
    the vectors after that), ADC scoring joins codes to a broadcast
    |probes| x m x n_codes LUT relation, the cut bounds the exchange,
    and only |probes| x 50 candidates ever touch vectors again."""
    ensure_engine_conf(spark)
    m, n_codes, sub, r_cut, k = 8, 16, 8, 50, 10
    emb = scan(spark, sf_dir, "embeddings")
    books = pq_portable_codebooks_df(
        spark, m_subspaces=m, n_codes=n_codes, sub_dim=sub
    )
    # comps feeds encode + LUTs + rerank dots/norms: materialize ONCE
    # (compact scaled-int rows; Spark does not dedupe common subplans)
    # kept, sf0.1 cut -> none: 64.23 -> 5.49 MB read, 5.33 -> 5.33 MB shuffled, 1.73 -> 1.47 s
    comps = cut(embedding_comps(
        emb, id_col="vec_id", vec_col="embedding"
    ), "similarity.q_sim_pq_portable.comps")
    split = comps.select(
        "vec_id",
        F.expr("d div 8").cast("bigint").alias("j"),
        (F.col("d") % 8).alias("u"),
        "v6",
    )
    corp = split.filter(F.col("vec_id") >= 5)
    dists = (
        corp.join(F.broadcast(books), ["j", "u"])
        .groupBy("vec_id", "j", "c")
        .agg(F.sum((F.col("v6") - F.col("c6"))
                   * (F.col("v6") - F.col("c6"))).alias("dist"))
    )
    codes = dists.groupBy("vec_id", "j").agg(
        (F.min(F.col("dist") * n_codes + F.col("c")) % n_codes)
        .alias("code")
    )
    pcomps = split.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "j", "u",
        F.col("v6").alias("p6"),
    )
    luts = (
        pcomps.join(F.broadcast(books), ["j", "u"])
        .groupBy("probe_id", "j", "c")
        .agg(F.sum(F.col("c6") * F.col("p6")).alias("lut"))
    )
    scored = (
        codes.join(
            F.broadcast(luts),
            (codes["j"] == luts["j"]) & (codes["code"] == luts["c"]),
        )
        .groupBy("probe_id", "vec_id")
        # |adc| <= m * sub * 2^18 * 2^20 = 2^44 < 2^53 (each lut(j,c)
        # sums sub=8 component products): the double cast is exact, so
        # the production two-phase cut orders identically to the oracle
        .agg(F.sum("lut").cast("double").alias("__adc"))
    )
    cand = _adc_candidate_cut(
        scored, probe_id_col="probe_id", id_col="vec_id", r=r_cut
    )
    return _portable_exact_rerank(comps, cand, k=k)


def _portable_exact_rerank(comps: DataFrame, cand: DataFrame, *, k: int) -> DataFrame:
    """Shared tail of the portable ANN twins: exact-cosine rerank of a
    (probe_id, vec_id) candidate relation from scaled-int components —
    integer dot products and norms fed through the correctly-rounded
    IEEE chain (int<2^53 -> double, sqrt, multiply, divide), so the
    double scores and the (cos desc, vec_id) ranking are bit-identical
    in Spark and DuckDB (the q_sim_ann_lsh_portable recipe).  Returns
    (probe_id, vec_id, cos_e6, rank) top-``k`` per probe."""
    norms = comps.groupBy("vec_id").agg(
        F.sum(F.col("v6") * F.col("v6")).alias("n12")
    )
    comps_p = comps.select(
        F.col("vec_id").alias("probe_id"), "d", F.col("v6").alias("vp6")
    )
    dots = (
        cand.join(comps, "vec_id")
        .join(comps_p, ["probe_id", "d"])
        .groupBy("probe_id", "vec_id")
        .agg(F.sum(F.col("v6") * F.col("vp6")).alias("dot12"))
    )
    norms_p = norms.select(
        F.col("vec_id").alias("probe_id"), F.col("n12").alias("np12")
    )
    cos = F.col("dot12").cast("double") / (
        F.sqrt(F.col("n12").cast("double"))
        * F.sqrt(F.col("np12").cast("double"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        dots.join(norms, "vec_id")
        .join(norms_p, "probe_id")
        .select("probe_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "vec_id",
            F.floor(F.col("cos") * 1_000_000 + F.lit(0.5))
            .cast("bigint").alias("cos_e6"),
            "rank",
        )
    )


_IVF_PQ_PORTABLE_ORACLE = """
    WITH cells AS (
      SELECT cell, d,
             (((cell*524287 + d*127 + 3) * 48271 + 54321)
              % 2147483647 % 2048 - 1024) * 256 AS cc6
      FROM (SELECT unnest(range(0, 8)) AS cell),
           (SELECT unnest(range(0, 64)) AS d)
    ), books AS (
      SELECT j, c, u,
             (((j*131071 + c*8191 + u*127 + 1) * 48271 + 99991)
              % 2147483647 % 2048 - 1024) * 256 AS c6
      FROM (SELECT unnest(range(0, 8)) AS j),
           (SELECT unnest(range(0, 16)) AS c),
           (SELECT unnest(range(0, 8)) AS u)
    ), comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ), corp AS (
      SELECT vec_id, d, v6 FROM comps WHERE vec_id >= 5
    ), probe AS (
      SELECT vec_id AS probe_id, d, v6 AS p6 FROM comps WHERE vec_id < 5
    ), cdist AS (
      SELECT vec_id, cell, SUM((v6 - cc6) * (v6 - cc6)) AS dist
      FROM corp JOIN cells USING (d) GROUP BY vec_id, cell
    ), assign AS (
      SELECT vec_id, MIN(dist * 8 + cell) % 8 AS cell
      FROM cdist GROUP BY vec_id
    ), pstat AS (
      SELECT probe_id, cell,
             SUM((p6 - cc6) * (p6 - cc6)) AS dist,
             SUM(cc6 * p6) AS pdot
      FROM probe JOIN cells USING (d) GROUP BY probe_id, cell
    ), routed AS (
      SELECT probe_id, cell, pdot FROM (
        SELECT probe_id, cell, pdot,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY dist, cell) AS rk
        FROM pstat
      ) WHERE rk <= 3
    ), res AS (
      SELECT corp.vec_id, a.cell,
             corp.d // 8 AS j, corp.d % 8 AS u,
             corp.v6 - cells.cc6 AS r6
      FROM corp JOIN assign a ON a.vec_id = corp.vec_id
                JOIN cells ON cells.cell = a.cell AND cells.d = corp.d
    ), rdist AS (
      SELECT vec_id, cell, j, c, SUM((r6 - c6) * (r6 - c6)) AS dist
      FROM res JOIN books USING (j, u) GROUP BY vec_id, cell, j, c
    ), codes AS (
      SELECT vec_id, cell, j, MIN(dist * 16 + c) % 16 AS code
      FROM rdist GROUP BY vec_id, cell, j
    ), psplit AS (
      SELECT probe_id, d // 8 AS j, d % 8 AS u, p6 FROM probe
    ), luts AS (
      SELECT probe_id, j, c, SUM(c6 * p6) AS lut
      FROM psplit JOIN books USING (j, u) GROUP BY probe_id, j, c
    ), adc AS (
      SELECT r.probe_id, k2.vec_id, MAX(r.pdot) + SUM(l.lut) AS score
      FROM codes k2 JOIN routed r USING (cell)
           JOIN luts l ON l.probe_id = r.probe_id AND l.j = k2.j
                      AND l.c = k2.code
      GROUP BY r.probe_id, k2.vec_id
    ), cand AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY score DESC, vec_id) AS r
        FROM adc
      ) WHERE r <= 50
    ), norms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM comps GROUP BY vec_id
    ), dots AS (
      SELECT cand.probe_id, cand.vec_id, SUM(cc.v6 * cp.v6) AS dot12
      FROM cand
      JOIN comps cc ON cc.vec_id = cand.vec_id
      JOIN comps cp ON cp.vec_id = cand.probe_id AND cp.d = cc.d
      GROUP BY cand.probe_id, cand.vec_id
    ), scored AS (
      SELECT d.probe_id, d.vec_id,
             CAST(d.dot12 AS DOUBLE)
               / (sqrt(CAST(nc.n12 AS DOUBLE)) * sqrt(CAST(np.n12 AS DOUBLE)))
               AS cos
      FROM dots d JOIN norms nc ON nc.vec_id = d.vec_id
                  JOIN norms np ON np.vec_id = d.probe_id
    ), ranked AS (
      SELECT probe_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """


@declared("q_sim_ivf_pq_portable", oracle=_IVF_PQ_PORTABLE_ORACLE)
def q_sim_ivf_pq_portable(spark, sf_dir):
    """IVF-PQ's composed mechanism as a FULL hash-match oracle (round
    12 — VERDICT r11 noted "IVF-PQ can compose the same twin cells"):
    IVF cell ASSIGNMENT (argmin over exact integer distances to the
    Lehmer-grid coarse centroids of :func:`ivf_portable_centroids_df`),
    probe ROUTING (3 nearest cells per probe, (dist, cell) tiebreak),
    the RESIDUAL decomposition score = probe.centroid + probe.residual
    (both exact integer sums — residual components r6 = v6 - cc6 stay
    integers), PQ ENCODE of the residuals against salt-decorrelated
    Lehmer codebooks, ADC LUT gather, the shared two-phase
    :func:`_bounded_topk` cut, and the exact-cosine rerank — every
    stage of :func:`ivf_pq_topk`'s FAISS shape with the two KMeans
    models swapped for deterministic grids.  Candidates come ONLY from
    routed cells, so the oracle also value-checks that cell pruning
    drops the right vectors.

    Scale shape mirrors the production tier: one broadcast join
    assigns cells, codes are m small ints per corpus row, the ADC meet
    joins codes to broadcast routing/LUT relations (|probes| x 3 and
    |probes| x m x n_codes rows), the cut bounds the exchange, and
    only |probes| x 50 candidates touch vectors again."""
    ensure_engine_conf(spark)
    comps, corp, probe = _ivf_pq_portable_frames(spark, sf_dir)
    cells, books, codes = _ivf_pq_portable_build(spark, corp)
    return _ivf_pq_portable_query(comps, probe, cells, books, codes)


# subspace count shared by the build and the persisted-index key
# encoding (vec_id * m + j) — one constant so they cannot drift
_IVF_PQ_PORTABLE_M = 8


def _ivf_pq_portable_frames(spark, sf_dir):
    """Shared prelude of the portable IVF-PQ faces: (comps, corp,
    probe) with the vec_id < 5 probe split — extracted so the
    persisted-index twin cannot drift from the in-plan twin (their
    hash-match equivalence is the persistence proof)."""
    emb = scan(spark, sf_dir, "embeddings")
    # kept, sf0.1 cut -> none: 64.66 -> 5.92 MB read, 2.39 -> 2.39 MB shuffled, 5.29 -> 4.71 s
    comps = cut(embedding_comps(
        emb, id_col="vec_id", vec_col="embedding"
    ), "similarity._ivf_pq_portable_frames.comps")
    corp = comps.filter(F.col("vec_id") >= 5)
    probe = comps.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "d", F.col("v6").alias("p6")
    )
    return comps, corp, probe


def _ivf_pq_portable_model(
    cells: DataFrame, books: DataFrame,
) -> tuple[np.ndarray, np.ndarray]:
    """Collect the bounded frozen quantizers into the (CC, BK) numpy
    int64 matrices the encode kernel consumes — split out (r17b) so a
    multi-encode run (the streaming loop encodes every micro-batch,
    the upsert face encodes three slices) collects the model ONCE and
    threads it through, instead of paying two collect jobs per encode
    call.  CC is (n_cells, dim); BK is (m, n_codes, sub)."""
    cell_rows = cells.collect()
    book_rows = books.collect()
    dim = 1 + max(r["d"] for r in cell_rows)
    n_cells = 1 + max(r["cell"] for r in cell_rows)
    m = 1 + max(r["j"] for r in book_rows)
    n_codes = 1 + max(r["c"] for r in book_rows)
    sub = dim // m
    CC = np.zeros((n_cells, dim), dtype=np.int64)
    for r in cell_rows:
        CC[r["cell"], r["d"]] = int(r["cc6"])
    BK = np.zeros((m, n_codes, sub), dtype=np.int64)
    for r in book_rows:
        BK[r["j"], r["c"], r["u"]] = int(r["c6"])
    return CC, BK


def _pq_model_value(model):
    """Unwrap a model that may be a raw (CC, BK) tuple or a pyspark
    Broadcast of one (r17b review: the streaming loop broadcasts the
    model ONCE per drain instead of leaking one broadcast per
    micro-batch encode)."""
    from pyspark.broadcast import Broadcast

    return model.value if isinstance(model, Broadcast) else model


def _validate_pq_model(model, *, n_cells: int, n_codes: int) -> None:
    """The encode kernel derives every shape from the collected model,
    so the declared n_cells/n_codes keywords must AGREE or fail loud
    (r17b review: silently ignoring them would mask a caller whose
    quantizer relations disagree with its declared geometry)."""
    CC, BK = _pq_model_value(model)
    if CC.shape[0] != n_cells or BK.shape[1] != n_codes:
        raise ValueError(
            f"portable PQ model geometry mismatch: relations carry "
            f"n_cells={CC.shape[0]}, n_codes={BK.shape[1]} but the "
            f"caller declared n_cells={n_cells}, n_codes={n_codes}"
        )


def _ivf_pq_portable_encode(
    corp: DataFrame, cells: DataFrame, books: DataFrame, *,
    n_codes: int = 16, n_cells: int = 8,
    model: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """ENCODE phase of the portable IVF-PQ twin — route each vector to
    its nearest frozen cell and PQ-encode the residual against the
    frozen codebooks, yielding the (vec_id, cell, j, code) index rows.
    Extracted from the one-shot build (r14) so incremental index
    maintenance (:func:`index_upsert`) provably encodes an increment
    with the IDENTICAL arithmetic as a full rebuild — the
    maintained == rebuilt equivalence rests on this being one code
    path, not two copies.

    MAP-SIDE (r17, guide §2.3/§4.2): cells (n_cells x dim rows) and
    books (m x n_codes x sub rows) are bounded model metadata, so
    they are collected once and broadcast as numpy int64 matrices;
    the cell argmin, the residual and every subspace code then
    compute inside the vector row in ONE Arrow-vectorized integer
    kernel.  The r16 shape routed through _nearest_cells + two joins
    + two more keyed aggregations — ~6 exchanges of (vec_id, d)-
    exploded relations per encode (per MICRO-BATCH on the streaming
    path); now the only exchange is the groupBy regrouping the
    exploded (vec_id, d, v6) contract to per-vector arrays.  (A pure
    Catalyst HOF formulation was tried first and measured ~2x SLOWER
    than the r16 joins: array folds evaluate interpreted, outside
    whole-stage codegen — the minhash_signatures lesson, guide §4.2.)
    Arithmetic is unchanged pure int64 — squared-L2 sums and the
    packed ``min(dist*k + idx) % k`` argmin, whose numpy translation
    ``(d2 * k + arange(k)).min(axis) % k`` has identical smallest-
    dist-then-smallest-index tie semantics — so values are
    bit-identical (attested by the hash-match twins).  Input vectors
    must carry exactly the cells' dim components per vec_id
    (embedding_comps' posexplode guarantees this); |dist * k| stays
    < 2^53, far inside exact int64.
    """
    if model is None:
        model = _ivf_pq_portable_model(cells, books)
    _validate_pq_model(model, n_cells=n_cells, n_codes=n_codes)

    # ONE exchange: exploded contract -> per-vector component array
    # (struct sort orders by d, so the array is dim-ordered)
    varr = (
        corp.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "v6"))).alias("__p"))
        .select(
            "vec_id",
            F.expr("transform(__p, s -> s.v6)").alias("__v"),
        )
    )
    return _ivf_pq_portable_encode_varr(varr, model)


def _ivf_pq_portable_encode_vecs(
    df: DataFrame, cells: DataFrame, books: DataFrame, *,
    id_col: str = "vec_id", vec_col: str = "embedding",
    model: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Array-input adapter of the portable encode (r17b): when the
    caller already holds per-vector rows (a micro-batch of (id, vec)
    changes, a corpus of embedding arrays), the exploded-contract path
    pays a posexplode AND the regroup exchange just to reconstruct the
    array it started from.  This adapter computes the e6 components
    map-side — ``transform(vec, x -> CAST(floor(double(x) * 1e6 + 0.5)
    AS BIGINT))``, exactly :func:`embedding_comps`' per-position v6,
    order-preserved — and feeds the SAME numpy kernel, so the encode
    has ZERO exchanges and stays one code path (value-neutrality:
    posexplode + groupBy/array_sort is the identity on the array, and
    NULL/empty vectors are filtered to match posexplode's
    no-rows-for-empty behavior)."""
    if model is None:
        model = _ivf_pq_portable_model(cells, books)
    varr = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(
            F.col(id_col).alias("vec_id"),
            F.transform(
                vec_col,
                lambda x: F.floor(x.cast("double") * 1_000_000
                                  + F.lit(0.5)).cast("bigint"),
            ).alias("__v"),
        )
    )
    return _ivf_pq_portable_encode_varr(varr, model)


def _ivf_pq_portable_encode_varr(
    varr: DataFrame, model: tuple[np.ndarray, np.ndarray],
) -> DataFrame:
    """THE encode kernel both input adapters share: (vec_id, __v) rows
    with dim-ordered e6 component arrays -> (vec_id, cell, j, code).
    Pure int64 squared-L2 + packed ``min(dist*k + idx) % k`` argmin in
    one Arrow-vectorized batch — see :func:`_ivf_pq_portable_encode`
    for the arithmetic contract."""
    from pyspark.broadcast import Broadcast
    from pyspark.sql.functions import pandas_udf

    if isinstance(model, Broadcast):
        bc = model
    else:
        bc = varr.sparkSession.sparkContext.broadcast(tuple(model))

    @pandas_udf("struct<cell: bigint, codes: array<bigint>>")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        CCb, BKb = bc.value
        if len(vecs) == 0:
            return pd.DataFrame({
                "cell": pd.Series([], dtype="int64"),
                "codes": pd.Series([], dtype=object),
            })
        V = np.stack(vecs.to_numpy()).astype(np.int64)  # (batch, dim)
        k = CCb.shape[0]
        d2 = ((V[:, None, :] - CCb[None, :, :]) ** 2).sum(-1)
        cell = (d2 * k + np.arange(k, dtype=np.int64)).min(1) % k
        R = V - CCb[cell]
        mm, nc, ss = BKb.shape
        codes = np.empty((len(V), mm), dtype=np.int64)
        for j in range(mm):
            S = R[:, j * ss : (j + 1) * ss]
            dj = ((S[:, None, :] - BKb[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = (
                dj * nc + np.arange(nc, dtype=np.int64)
            ).min(1) % nc
        return pd.DataFrame({"cell": cell, "codes": list(codes)})

    coded = varr.select("vec_id", enc("__v").alias("__e"))
    return coded.select(
        "vec_id",
        F.col("__e.cell").alias("cell"),
        F.posexplode("__e.codes").alias("j", "code"),
    ).select(
        "vec_id", "cell", F.col("j").cast("bigint").alias("j"), "code"
    )


def _ivf_pq_portable_quantizers(spark):
    """The frozen (cells, books) model relations of the portable
    IVF-PQ twin — formula-generated, corpus-independent.  Split from
    :func:`_ivf_pq_portable_build` (r17b): the maintenance faces
    (upsert/stream) need ONLY the quantizers, and building the
    discarded corpus encode cost them two collect jobs + a broadcast
    per run."""
    m, n_codes, sub, n_cells = _IVF_PQ_PORTABLE_M, 16, 8, 8
    cells = ivf_portable_centroids_df(spark, n_cells=n_cells, dim=64)
    books = pq_portable_codebooks_df(
        spark, m_subspaces=m, n_codes=n_codes, sub_dim=sub, salt=99991
    )
    return cells, books


def _ivf_pq_portable_build(spark, corp):
    """INDEX-BUILD phase of the portable IVF-PQ twin: returns
    (cells, books, codes) for a (vec_id, d, v6) corpus — the coarse
    dictionary, the residual codebooks, and the per-vector
    (vec_id, cell, j, code) rows that ARE the index artifact (the only
    corpus-sized output; cells/books are bounded model metadata)."""
    cells, books = _ivf_pq_portable_quantizers(spark)
    codes = _ivf_pq_portable_encode(corp, cells, books)
    return cells, books, codes


def _ivf_pq_portable_query(
    comps, probe, cells, books, codes, *,
    n_route: int = 3, r_cut: int = 50, k: int = 10,
):
    """QUERY phase of the portable IVF-PQ twin over prebuilt index
    artifacts: probe routing, residual-decomposition ADC gather over
    the (vec_id, cell, j, code) relation, the shared two-phase cut,
    exact rerank.  Consumes the artifacts as plain relations, so they
    can come from the in-plan build or from a reloaded TxTable
    snapshot (q_sim_index_persisted) interchangeably."""
    pstat = (
        probe.join(F.broadcast(cells), "d")
        .groupBy("probe_id", "cell")
        .agg(
            F.sum((F.col("p6") - F.col("cc6"))
                  * (F.col("p6") - F.col("cc6"))).alias("dist"),
            F.sum(F.col("cc6") * F.col("p6")).alias("pdot"),
        )
    )
    wr = Window.partitionBy("probe_id").orderBy("dist", "cell")
    routed = (
        pstat.withColumn("__rk", F.row_number().over(wr))
        .filter(F.col("__rk") <= n_route)
        .select("probe_id", "cell", "pdot")
    )
    psplit = probe.select(
        "probe_id",
        F.expr("d div 8").cast("bigint").alias("j"),
        (F.col("d") % 8).alias("u"),
        "p6",
    )
    luts = (
        psplit.join(F.broadcast(books), ["j", "u"])
        .groupBy("probe_id", "j", "c")
        .agg(F.sum(F.col("c6") * F.col("p6")).alias("lut"))
    )
    scored = (
        codes.join(F.broadcast(routed), "cell")
        .join(F.broadcast(luts), ["probe_id", "j"])
        .filter(F.col("code") == F.col("c"))
        .groupBy("probe_id", "vec_id")
        # |score| <= 64*2^18*2^20 + m*2^41 < 2^53: exact double cast
        .agg((F.max("pdot") + F.sum("lut")).cast("double").alias("__adc"))
    )
    cand = _adc_candidate_cut(
        scored, probe_id_col="probe_id", id_col="vec_id", r=r_cut
    )
    return _portable_exact_rerank(comps, cand, k=k)


def _argnearest(V: "np.ndarray", M: "np.ndarray", n: int) -> "np.ndarray":
    """Row indices of each row of ``V``'s ``n`` nearest rows of ``M``
    by squared L2, (distance, index) ascending: (len(V), n) int.  The
    expanded ``||v||^2 - 2 v.m + ||m||^2`` is one BLAS matmul with
    O(len(V) x len(M)) memory (the naive (V-M)^2 broadcast is
    O(len(V) x len(M) x dim)).  The one nearest-centroid kernel of the
    trained quantizers: Lloyd's assign step, cell assignment, probe
    routing and PQ encode all call it."""
    d = (V * V).sum(1)[:, None] - 2.0 * (V @ M.T) + (M * M).sum(1)[None, :]
    if n == 1:
        return d.argmin(1)[:, None]  # first minimum: the lowest index
    return np.argsort(d, axis=1, kind="stable")[:, :n]


def nearest_cells(vecs: Column, bc_centers, n: int = 1) -> Column:
    """array<int> of each vector's ``n`` nearest broadcast centers
    (:func:`_argnearest` order): an Arrow-batched map-side kernel, so
    the plan stays constant in the number of centers and no vector is
    shuffled.  ``n=1`` (take ``[0]``) assigns corpus cells; ``n`` > 1
    routes probes."""

    @F.pandas_udf("array<int>")
    def nearest_cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy()).astype(np.float64)
        idx = _argnearest(V, bc_centers.value, n).astype("int32")
        return pd.Series([row.tolist() for row in idx])

    return nearest_cells(vecs.cast("array<double>"))


def training_sample(
    corpus: DataFrame, *, vec_col: str, order_col: str | None = None,
    train_cap: int = 4096, normalize: bool = False,
) -> "np.ndarray":
    """The trained quantizers' sample: at most ``train_cap`` vectors
    collected to the driver as a float64 matrix — the FAISS
    convention: a quantizer is a tiny model (k x dim floats) fit on a
    bounded sample regardless of corpus size, then broadcast.  This is
    a bounded model-fit collect, not a data collect.  Pass
    ``order_col`` to make the sample — and therefore the model —
    independent of partition layout (a bare limit() takes whichever
    partitions answer first); ``normalize=True`` L2-normalizes the rows
    for callers that quantize the unit sphere."""
    src = corpus.select(vec_col, *([order_col] if order_col else []))
    if order_col:
        src = src.orderBy(order_col)
    rows = [
        list(map(float, r[0]))
        for r in src.select(vec_col).limit(train_cap).collect()
    ]
    sample = np.array(rows, dtype=np.float64).reshape(len(rows), -1 if rows else 0)
    if normalize:
        sample /= np.maximum(
            np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
        )
    return sample


def lloyd_centers(
    sample: "np.ndarray", k: int, seed: "int | np.random.RandomState",
) -> "np.ndarray":
    """The engine's one trained quantizer: ``k`` k-means centers of
    ``sample`` (rows) by Lloyd's algorithm on the driver.  The init
    picks k distinct sample rows with ``RandomState(seed)`` (or with
    ``seed`` itself when it is a ``RandomState``, so several fits can
    draw from one stream); 8 rounds follow — a coarse quantizer needs
    stable-ish cells, not convergence — and a center that loses every
    point keeps its old position.  Raises ``ValueError`` when the
    sample has fewer than k rows."""
    if len(sample) < k:
        raise ValueError(
            f"k-means training needs >= k ({k}) vectors; "
            f"the sample has {len(sample)}"
        )
    rng = (
        seed if isinstance(seed, np.random.RandomState)
        else np.random.RandomState(seed)
    )
    centers = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(8):
        assign = _argnearest(sample, centers, 1)[:, 0]
        for c in range(k):
            pts = sample[assign == c]
            if len(pts):
                centers[c] = pts.mean(0)
    return centers


def ivf_topk(
    corpus: DataFrame, probes: DataFrame, *, id_col: str, probe_id_col: str,
    vec_col: str = "embedding", probe_vec_col: str = "probe_vec",
    k: int = 10, n_cells: int = 16, n_probe_cells: int = 3, seed: int = 42,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization —
    the other classic ANN scale path next to LSH.

    Train a k-means coarse quantizer (:func:`lloyd_centers`), assign every
    corpus vector to its nearest centroid (the "cell"), and search each
    probe only in its ``n_probe_cells`` nearest cells.  The candidate
    join is an equi-join on the cell id; exact cosine re-ranks.  At
    100 TB the cell assignment is written once (partitioned/bucketed by
    cell) and amortized across queries — each query touches
    n_probe_cells/n_cells of the corpus.

    Assignment and probe->cell routing are :func:`nearest_cells`, an
    Arrow-batched pandas-UDF argmin over a
    BROADCAST numpy centroid matrix, not per-cell literal-array
    expressions: the literal form bakes O(n_cells x dim) constants
    into the plan, which at production quantizer sizes (4k+ cells)
    blows plan compile time and codegen.  The UDF form keeps plan size
    constant in n_cells (tests/test_plans.py pins this), stays
    map-side (no probe-vector shuffle — a JVM-only formulation needs
    either the literal plan or a crossJoin+window that shuffles
    |probes| x n_cells rows), and the distance kernel is one BLAS
    matmul per Arrow batch with O(batch x n_cells) memory.

    Rows with NULL/NaN rerank similarity (e.g. zero-norm vectors) are
    EXCLUDED from the top-k; count them via
    :func:`nonfinite_score_count`.
    """
    centers = lloyd_centers(
        training_sample(corpus, vec_col=vec_col, order_col=id_col),
        n_cells, seed,
    )
    bc_centers = corpus.sparkSession.sparkContext.broadcast(centers)
    assigned = corpus.select(
        id_col, vec_col,
        nearest_cells(F.col(vec_col), bc_centers)[0].alias("__cell"),
    )
    probe_cells = probes.select(
        probe_id_col, probe_vec_col,
        F.explode(
            nearest_cells(F.col(probe_vec_col), bc_centers, n_probe_cells)
        ).alias("__cell"),
    )
    cand = assigned.join(probe_cells, "__cell")
    sim = cosine_similarity(vec_col, probe_vec_col)
    scored = cand.select(
        F.col(probe_id_col), F.col(id_col), sim.alias("cos_sim")
    )
    # cell pruning already bounds candidates to n_probe_cells/n_cells
    # of the corpus, but a wide cell is still a full partition in one
    # reducer — route through the shared two-phase cut anyway (r11)
    return _bounded_topk(
        scored, probe_id_col=probe_id_col, id_col=id_col,
        score_col="cos_sim", k=k,
    )


@declared("q_sim_ivf")
def q_sim_ivf(spark, sf_dir):
    """B42 (rows-only): IVF coarse-quantized ANN for 5 probes — cells
    from :func:`lloyd_centers` (driver-side Lloyd on the id-ordered
    sample), probes search their 3 nearest of 16 cells."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec"))
    )
    return ivf_topk(
        emb.filter(F.col("vec_id") >= 5), probes,
        id_col="vec_id", probe_id_col="probe_id", k=10,
    )


_IVF_PORTABLE_ORACLE = """
    WITH cells AS (
      SELECT cell, d,
             (((cell*524287 + d*127 + 3) * 48271 + 54321)
              % 2147483647 % 2048 - 1024) * 256 AS cc6
      FROM (SELECT unnest(range(0, 8)) AS cell),
           (SELECT unnest(range(0, 64)) AS d)
    ), comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ), corp AS (
      SELECT vec_id, d, v6 FROM comps WHERE vec_id >= 5
    ), probe AS (
      SELECT vec_id AS probe_id, d, v6 AS p6 FROM comps WHERE vec_id < 5
    ), cdist AS (
      SELECT vec_id, cell, SUM((v6 - cc6) * (v6 - cc6)) AS dist
      FROM corp JOIN cells USING (d) GROUP BY vec_id, cell
    ), assign AS (
      SELECT vec_id, MIN(dist * 8 + cell) % 8 AS cell
      FROM cdist GROUP BY vec_id
    ), pstat AS (
      SELECT probe_id, cell, SUM((p6 - cc6) * (p6 - cc6)) AS dist
      FROM probe JOIN cells USING (d) GROUP BY probe_id, cell
    ), routed AS (
      SELECT probe_id, cell FROM (
        SELECT probe_id, cell,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY dist, cell) AS rk
        FROM pstat
      ) WHERE rk <= 3
    ), cand AS (
      SELECT r.probe_id, a.vec_id FROM assign a JOIN routed r USING (cell)
    ), norms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM comps GROUP BY vec_id
    ), dots AS (
      SELECT cand.probe_id, cand.vec_id, SUM(cc.v6 * cp.v6) AS dot12
      FROM cand
      JOIN comps cc ON cc.vec_id = cand.vec_id
      JOIN comps cp ON cp.vec_id = cand.probe_id AND cp.d = cc.d
      GROUP BY cand.probe_id, cand.vec_id
    ), scored AS (
      SELECT d.probe_id, d.vec_id,
             CAST(d.dot12 AS DOUBLE)
               / (sqrt(CAST(nc.n12 AS DOUBLE)) * sqrt(CAST(np.n12 AS DOUBLE)))
               AS cos
      FROM dots d JOIN norms nc ON nc.vec_id = d.vec_id
                  JOIN norms np ON np.vec_id = d.probe_id
    ), ranked AS (
      SELECT probe_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """


@declared("q_sim_ivf_portable", oracle=_IVF_PORTABLE_ORACLE)
def q_sim_ivf_portable(spark, sf_dir):
    """IVF's ROUTING-ONLY mechanism as a FULL hash-match oracle (r13,
    VERDICT r12 next #6 — the last rows-only ANN face whose exact
    mechanism wasn't value-pinned standalone; the IVF-PQ twin pins
    routing only COMPOSED with PQ): cell ASSIGNMENT (argmin over exact
    integer distances to the Lehmer-grid coarse centroids of
    :func:`ivf_portable_centroids_df`), probe ROUTING (3 nearest of 8
    cells, (dist, cell) tiebreak), CELL PRUNING (candidates come only
    from routed cells — the oracle value-checks that pruning keeps and
    drops exactly the right vectors), and the exact-cosine rerank of
    the pruned candidates (:func:`_portable_exact_rerank`'s correctly
    rounded IEEE chain over exact int dots/norms).  The production
    tier (:func:`ivf_topk`) keeps its trained centroids
    (:func:`lloyd_centers`), the Arrow :func:`nearest_cells` router and
    its rows-only check + recall floors; the ONE substitution here is
    the deterministic centroid grid, which is never trained.

    Scale shape mirrors the production tier: one broadcast join
    assigns cells (the centroid relation is n_cells x dim rows), the
    routing relation is |probes| x 3 rows and broadcasts to meet the
    assignment in a cell equi-join, and only the vectors inside routed
    cells — n_probe/n_cells of the corpus — are ever cosine-scored."""
    ensure_engine_conf(spark)
    n_cells, n_route, k = 8, 3, 10
    comps, corp, probe = _ivf_pq_portable_frames(spark, sf_dir)
    cells = ivf_portable_centroids_df(spark, n_cells=n_cells, dim=64)
    assign = _nearest_cells(corp, cells, n_cells=n_cells)
    pstat = (
        probe.join(F.broadcast(cells), "d")
        .groupBy("probe_id", "cell")
        .agg(F.sum((F.col("p6") - F.col("cc6"))
                   * (F.col("p6") - F.col("cc6"))).alias("dist"))
    )
    wr = Window.partitionBy("probe_id").orderBy("dist", "cell")
    routed = (
        pstat.withColumn("__rk", F.row_number().over(wr))
        .filter(F.col("__rk") <= n_route)
        .select("probe_id", "cell")
    )
    cand = assign.join(F.broadcast(routed), "cell").select(
        "probe_id", "vec_id"
    )
    return _portable_exact_rerank(comps, cand, k=k)


def pq_codebooks(
    corpus: DataFrame, *, vec_col: str, m_subspaces: int, n_codes: int,
    seed: int, train_cap: int = 4096, order_col: str | None = None,
    normalize: bool = False,
) -> "np.ndarray":
    """Train product-quantization codebooks on the corpus's
    :func:`training_sample` (see there for ``train_cap``,
    ``order_col`` and ``normalize``; pass ``normalize=True`` so
    codebooks live on the unit sphere the cosine contract quantizes).
    Returns (m, n_codes, sub_dim) float64."""
    return _pq_books(
        training_sample(
            corpus, vec_col=vec_col, order_col=order_col,
            train_cap=train_cap, normalize=normalize,
        ),
        m_subspaces=m_subspaces, n_codes=n_codes, seed=seed,
    )


def _pq_books(
    sample: "np.ndarray", *, m_subspaces: int, n_codes: int, seed: int,
) -> "np.ndarray":
    """Split each sample row into ``m_subspaces`` contiguous sub-vectors
    and train ``n_codes`` :func:`lloyd_centers` per subspace, the
    subspaces' inits drawn in order from one ``RandomState(seed)``."""
    dim = sample.shape[1]
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub = dim // m_subspaces
    rng = np.random.RandomState(seed)
    return np.stack([
        lloyd_centers(sample[:, j * sub : (j + 1) * sub], n_codes, rng)
        for j in range(m_subspaces)
    ])


def pq_encode(
    df: DataFrame, books: "np.ndarray", *, vec_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Replace each vector with its PQ code (array<int>, length m):
    per subspace, the index of the nearest codebook centroid.  A
    map-side Arrow kernel over broadcast codebooks — at 100 TB this is
    the compression pass that turns a 64-float embedding column into m
    small ints (written once, partitioned like any corpus column), so
    ANN scans read ~1/32nd of the bytes."""
    m, n_codes, sub = books.shape
    bc = df.sparkSession.sparkContext.broadcast(books)

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        B = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        if normalize:
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(V), B.shape[0]), dtype=np.int32)
        for j in range(B.shape[0]):
            out[:, j] = _argnearest(V[:, j * sub : (j + 1) * sub], B[j], 1)[:, 0]
        return pd.Series([row.tolist() for row in out])

    return df.withColumn("__pq_code", encode(F.col(vec_col).cast("array<double>")))


def _probe_luts(books: "np.ndarray", probe_rows) -> dict:
    """Per-probe ADC lookup tables — ``LUT[j, code] = normalized
    probe sub-vector j . codebook centroid``; ONE implementation
    shared by the PQ tiers (r9 review: the copies were diverging
    hazards)."""
    m, _, sub = books.shape
    luts = {}
    for r in probe_rows:
        v = np.array(list(map(float, r[1])), dtype=np.float64)
        nv = v / (np.linalg.norm(v) or 1.0)
        luts[r[0]] = np.stack(
            [books[j] @ nv[j * sub : (j + 1) * sub] for j in range(m)]
        )
    return luts


def _adc_gather_udf(bc_luts):
    """Arrow kernel scoring PQ codes by LUT gather, keyed by probe id
    — the shared ADC implementation of both PQ tiers."""

    @F.pandas_udf("double")
    def adc(codes: pd.Series, pids: pd.Series) -> pd.Series:
        L = bc_luts.value
        if len(codes) == 0:
            return pd.Series([], dtype=np.float64)
        C = np.stack(codes.to_numpy()).astype(np.int64)
        out = np.empty(len(C), dtype=np.float64)
        cols = np.arange(C.shape[1])
        for pid in pd.unique(pids):
            mask = (pids == pid).to_numpy()
            out[mask] = L[pid][cols, C[mask]].sum(1)
        return pd.Series(out)

    return adc


def _exact_rerank(
    corpus: DataFrame, picked: DataFrame, pv: DataFrame, *,
    id_col: str, probe_id_col: str, vec_col: str, probe_vec_col: str,
    k: int,
) -> DataFrame:
    """Exact-cosine rerank of a tiny (probe, id) candidate relation:
    broadcast the picks, join the vectors back (semi-pruned scan),
    true cosine, window top-k — the shared tail of the approximate
    tiers."""
    joined = corpus.select(id_col, vec_col).join(
        F.broadcast(picked), id_col
    ).join(F.broadcast(pv), probe_id_col)
    sim = cosine_similarity(vec_col, probe_vec_col)
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        joined.select(F.col(probe_id_col), F.col(id_col), sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _grouped_partial_topk(
    scored: DataFrame, *, probe_id_col: str, id_col: str,
    score_col: str, r: int,
) -> DataFrame:
    """Map-side partial top-``r`` cut per probe (r10, VERDICT r9 #2):
    each Arrow batch keeps at most ``r`` rows per probe id present in
    the batch, BEFORE any exchange — the grouped generalization of what
    TakeOrderedAndProject does for plain top-k.  The downstream
    per-probe window then sees O(r x batches) rows per probe instead of
    the full scored corpus, so the exchange feeding it never carries a
    per-probe global sort over |corpus| rows.  Correctness: the per-
    batch cut uses the SAME order (score desc, id asc) as the final
    window, and the per-probe global top-r is a subset of the union of
    per-batch top-r sets, so the final window over the reduced relation
    returns exactly the naive answer over FINITE scores (pinned by
    tests/test_accuracy.py::test_pq_partial_cut_matches_naive).
    Callers must exclude NaN/NULL scores first (_adc_candidate_cut
    does): Spark's descending order ranks double NaN above every
    finite value while the pandas->Arrow boundary of this very kernel
    rewrites NaN to NULL (which descending order ranks LAST), so a
    NaN-scored row cannot round-trip the cut faithfully — and a NaN
    ADC score only arises from a corrupt embedding, which must never
    outrank every real candidate anyway (r10 review)."""
    cols = [c.name for c in scored.schema]

    def cut(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(
                [probe_id_col, score_col, id_col],
                ascending=[True, False, True], kind="mergesort",
            )
            # dropna=False (r13 review): pandas groupby silently DROPS
            # NULL group keys by default — the similarity probes are
            # never NULL, but data-column group keys (the per-stratum
            # sampler's lang) legitimately are, and a NULL stratum must
            # cut to its top-r like any other, not vanish
            yield pdf.groupby(
                probe_id_col, sort=False, dropna=False
            ).head(r)[cols]

    return scored.mapInPandas(cut, schema=scored.schema)


def _bounded_topk(
    scored: DataFrame, *, probe_id_col: str, id_col: str,
    score_col: str, k: int, rank_col: str = "rank",
) -> DataFrame:
    """Two-phase per-probe top-k shared by EVERY similarity tier (r11,
    VERDICT r10 #2): non-finite scores are excluded by contract (see
    :func:`_grouped_partial_topk` — NaN cannot round-trip the Arrow
    cut, and a NaN score only arises from a corrupt embedding, which
    must never outrank real candidates; excluded rows are observable
    via :func:`nonfinite_score_count`), then the map-side partial
    top-k bounds the exchange feeding the exact final window to
    k x batches rows per probe — without it, a bare per-probe
    row_number window sorts the FULL scored relation in one reducer
    per probe, the single-reducer bottleneck the r10 PQ fix removed
    (recreated one tier over at recall-grade LSH tunings, where the
    candidate set approaches the whole corpus)."""
    finite = scored.filter(
        F.col(score_col).isNotNull() & ~F.isnan(score_col)
    )
    partial = _grouped_partial_topk(
        finite, probe_id_col=probe_id_col, id_col=id_col,
        score_col=score_col, r=k,
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        partial.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def nonfinite_score_count(scored: DataFrame, *, score_col: str) -> DataFrame:
    """Observability face for the non-finite-exclusion contract
    (ADVICE r10): one-row count of scored rows whose score is
    NULL/NaN — the rows every two-phase cut silently drops from
    candidacy.  A corrupt-embedding problem that used to surface as
    NaN at rank 1 (Spark descending order ranks NaN first) now
    surfaces here; wire it into a data-quality gate next to the
    validation report rather than paying a per-query count action."""
    bad = (F.col(score_col).isNull() | F.isnan(score_col)).cast("bigint")
    # coalesce: F.sum over ZERO rows is NULL, and a gate comparing
    # `== 0` on an empty scored relation must still read 0 (r11 review)
    return scored.select(
        F.coalesce(F.sum(bad), F.lit(0)).alias("nonfinite_rows")
    )


def _adc_candidate_cut(
    scored: DataFrame, *, probe_id_col: str, id_col: str, r: int,
) -> DataFrame:
    """Shared two-phase ADC candidate cut of the PQ tiers: map-side
    partial top-r per probe, then the exact per-probe window over the
    bounded remainder.  Non-finite ADC scores (NaN from a corrupt
    embedding, NULL) are EXCLUDED from candidacy up front — see
    :func:`_grouped_partial_topk` for why they cannot round-trip the
    cut and must never outrank real candidates."""
    return _bounded_topk(
        scored, probe_id_col=probe_id_col, id_col=id_col,
        score_col="__adc", k=r, rank_col="__r",
    ).select(probe_id_col, id_col)


def pq_topk(
    corpus: DataFrame, probes: DataFrame, *, id_col: str, probe_id_col: str,
    vec_col: str = "embedding", probe_vec_col: str = "probe_vec",
    k: int = 10, m_subspaces: int = 8, n_codes: int = 16,
    rerank_candidates: int = 50, seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via PRODUCT QUANTIZATION with
    asymmetric-distance (ADC) scoring and exact rerank — the
    memory-compression ANN path next to SRP-LSH (hash pruning) and IVF
    (cell pruning).

    Pipeline: (1) train codebooks on a capped sample (driver model
    fit, broadcast); (2) encode the corpus to m-int codes (map-side
    Arrow kernel — the pass whose output a real deployment WRITES and
    amortizes); (3) per probe, precompute the m x n_codes lookup table
    of subspace inner products against L2-normalized probes and score
    every code by LUT gather — a map-side kernel over broadcast LUTs,
    no shuffle of the corpus; (4) keep ``rerank_candidates`` per probe
    by ADC score (one window), then exact-cosine rerank ONLY those
    (broadcast semi-join back to the vectors).  Returns
    (probe_id, id, cos_sim, rank) like the other tiers.

    At 100 TB: the scored relation is codes-only (m ints/row), the
    LUTs are O(|probes| * m * n_codes) floats broadcast once, and the
    exact rerank touches |probes| * rerank_candidates rows — the
    brute-force flops never happen.  Recall floors + the
    rerank-candidates tuning direction are pinned in
    tests/test_accuracy.py.  Compose with IVF (encode residuals per
    cell) for IVF-PQ; kept orthogonal here.

    Rows with NULL/NaN scores (ADC or rerank — e.g. zero-norm or
    corrupt vectors) are EXCLUDED from candidacy and the top-k; count
    them via :func:`nonfinite_score_count`."""
    # corpus vectors are L2-NORMALIZED before quantization (codebook
    # fit AND encode), so ADC approximates probe_hat . v_hat = true
    # cosine — without this, varying corpus norms rank the candidate
    # cut by inner product and the exact rerank can never recover a
    # true neighbor that missed the cut (r9 review)
    books = pq_codebooks(
        corpus, vec_col=vec_col, m_subspaces=m_subspaces,
        n_codes=n_codes, seed=seed, order_col=id_col, normalize=True,
    )
    coded = pq_encode(corpus, books, vec_col=vec_col, normalize=True)

    # probe LUTs: normalized probe sub-vector . codebook centroid —
    # summing the m gathered entries approximates cos(probe, vector)
    # on the normalized corpus; the exact rerank restores true cosine
    # order within the candidate pool
    probe_sel = probes.select(probe_id_col, probe_vec_col)
    probe_rows = probe_sel.collect()
    bc_luts = corpus.sparkSession.sparkContext.broadcast(
        _probe_luts(books, probe_rows)
    )
    adc = _adc_gather_udf(bc_luts)

    # rebuild the tiny probe relations from the ALREADY-collected rows:
    # probes is typically a filter over the same scan as the corpus,
    # and re-referencing its plan would re-execute that subplan for the
    # cross-join and again for the rerank (Spark does not dedupe common
    # subplans — r9 review)
    pv = probes.sparkSession.createDataFrame(probe_rows, probe_sel.schema)
    pid_only = pv.select(probe_id_col)
    scored = coded.select(id_col, "__pq_code").crossJoin(
        F.broadcast(pid_only)
    ).select(
        probe_id_col, id_col,
        adc(F.col("__pq_code"), F.col(probe_id_col)).alias("__adc"),
    )
    # two-phase cut (r10): a bare per-probe row_number window here
    # would sort the FULL coded corpus in one reducer per probe —
    # exactly the single-reducer bottleneck the codes-only scan was
    # built to avoid; the map-side partial top-r bounds the exchange
    # to r x batches rows per probe
    cand = _adc_candidate_cut(
        scored, probe_id_col=probe_id_col, id_col=id_col,
        r=rerank_candidates,
    )
    return _exact_rerank(
        corpus, cand, pv, id_col=id_col, probe_id_col=probe_id_col,
        vec_col=vec_col, probe_vec_col=probe_vec_col, k=k,
    )


@declared("q_sim_pq")
def q_sim_pq(spark, sf_dir):
    """B42 (rows-only): product-quantization ANN for 5 probes — 8
    subspaces x 16 codes ADC scoring over the encoded corpus, exact
    rerank of the top 50.  Rows-only by design (float k-means
    codebooks from :func:`lloyd_centers` and float ADC scores are
    engine-native); recall floors live in tests/test_accuracy.py."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec"))
    )
    return pq_topk(
        emb.filter(F.col("vec_id") >= 5), probes,
        id_col="vec_id", probe_id_col="probe_id", k=10,
    )


def ivf_pq_topk(
    corpus: DataFrame, probes: DataFrame, *, id_col: str, probe_id_col: str,
    vec_col: str = "embedding", probe_vec_col: str = "probe_vec",
    k: int = 10, n_cells: int = 16, n_probe_cells: int = 3,
    m_subspaces: int = 8, n_codes: int = 16,
    rerank_candidates: int = 50, seed: int = 42,
) -> DataFrame:
    """IVF-PQ (round 9): the FAISS ``IndexIVFPQ`` shape — IVF cell
    pruning AND product-quantized RESIDUAL scoring composed, so a
    query touches ``n_probe_cells/n_cells`` of the corpus and reads
    m-int codes instead of float vectors inside those cells.

    Score decomposition on L2-normalized vectors:
    ``probe . v  =  probe . centroid(cell)  +  probe . residual`` —
    the first term is one scalar per (probe, cell) computed driver-
    side from the tiny centroid matrix; the second is the standard
    ADC LUT gather over the residual codes (the LUT depends only on
    the probe, not the cell, because the residual inner product is
    subspace-separable).  Exact cosine reranks the union of the
    probed cells' top candidates.

    At 100 TB: cell assignment + residual codes are written once
    (partitioned by cell) and amortized across queries; per query the
    scan is codes-only within probed cells, LUTs are O(|probes| * m *
    n_codes) floats broadcast, and the exact rerank touches
    |probes| * rerank_candidates rows.  Recall floors in
    tests/test_accuracy.py.

    Rows with NULL/NaN scores (ADC or rerank — e.g. zero-norm or
    corrupt vectors) are EXCLUDED from candidacy and the top-k; count
    them via :func:`nonfinite_score_count`."""
    # normalize corpus (cosine contract), assign IVF cells
    @F.pandas_udf("array<double>")
    def l2norm(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        return pd.Series([row.tolist() for row in V])

    sample = training_sample(
        corpus, vec_col=vec_col, order_col=id_col, normalize=True
    )
    centers = lloyd_centers(sample, n_cells, seed)
    bc_centers = corpus.sparkSession.sparkContext.broadcast(centers)
    # the PQ books train on the same sample's residuals, computed here
    # the way the corpus's are below: no second pass over the corpus
    books = _pq_books(
        sample - centers[_argnearest(sample, centers, 1)[:, 0]],
        m_subspaces=m_subspaces, n_codes=n_codes, seed=seed,
    )

    @F.pandas_udf("array<double>")
    def residual(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        C = bc_centers.value
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        R = V - C[cells.to_numpy().astype(np.int64)]
        return pd.Series([row.tolist() for row in R])

    assigned = corpus.select(
        id_col, l2norm(F.col(vec_col).cast("array<double>")).alias("__nv")
    ).withColumn("__cell", nearest_cells(F.col("__nv"), bc_centers)[0])
    resid = assigned.select(
        id_col, "__cell", residual(F.col("__nv"), F.col("__cell")).alias("__r")
    )
    coded = pq_encode(resid, books, vec_col="__r").select(
        id_col, "__cell", "__pq_code"
    )

    # probe side: normalized probe, its n_probe nearest cells, the
    # per-(probe, cell) centroid term, and the per-probe residual LUT
    probe_sel = probes.select(probe_id_col, probe_vec_col)
    probe_rows = probe_sel.collect()
    luts = _probe_luts(books, probe_rows)
    probe_cells_rows = []
    for r in probe_rows:
        v = np.array(list(map(float, r[1])), dtype=np.float64)
        nv = v / (np.linalg.norm(v) or 1.0)
        dots = centers @ nv  # probe . centroid, per cell (score term)
        # cell SELECTION uses the metric the corpus was assigned with
        # (Euclidean), not the raw dot: ranking by dot favored
        # large-norm centroids and skipped true nearest cells (r9
        # review, reproduced on the fixture: 25/50 vs 30/50 top-10
        # coverage)
        for c in _argnearest(nv[None, :], centers, n_probe_cells)[0]:
            probe_cells_rows.append((r[0], int(c), float(dots[c])))
    bc_luts = corpus.sparkSession.sparkContext.broadcast(luts)
    adc_resid = _adc_gather_udf(bc_luts)

    # probe-id type follows the caller's schema, not a hardcoded long
    pid_type = probe_sel.schema[probe_id_col].dataType.simpleString()
    pc = corpus.sparkSession.createDataFrame(
        probe_cells_rows,
        f"{probe_id_col} {pid_type}, __cell int, __cterm double",
    )
    cand = coded.join(F.broadcast(pc), "__cell")
    scored = cand.select(
        probe_id_col, id_col,
        (F.col("__cterm")
         + adc_resid(F.col("__pq_code"), F.col(probe_id_col))).alias("__adc"),
    )
    # same two-phase cut as pq_topk: the input is already cell-pruned
    # (bounded), but the shared helper keeps the exchange per-probe
    # load at r x batches rows regardless of cell sizes/skew
    picked = _adc_candidate_cut(
        scored, probe_id_col=probe_id_col, id_col=id_col,
        r=rerank_candidates,
    )
    pv = corpus.sparkSession.createDataFrame(probe_rows, probe_sel.schema)
    return _exact_rerank(
        corpus, picked, pv, id_col=id_col, probe_id_col=probe_id_col,
        vec_col=vec_col, probe_vec_col=probe_vec_col, k=k,
    )


@declared("q_sim_ivf_pq")
def q_sim_ivf_pq(spark, sf_dir):
    """B42 (rows-only): IVF-PQ composed ANN for 5 probes — 3 of 16
    cells probed, 8x16 residual PQ ADC, exact rerank of the top 50.
    The FAISS IndexIVFPQ shape; recall floors in
    tests/test_accuracy.py."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec"))
    )
    return ivf_pq_topk(
        emb.filter(F.col("vec_id") >= 5), probes,
        id_col="vec_id", probe_id_col="probe_id", k=10,
    )


@declared(
    "q_sim_topk_filtered",
    oracle="""
    WITH probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS p
      FROM embeddings WHERE vec_id < 3
    ), corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE label = 3 AND vec_id >= 3
    ), scored AS (
      SELECT probe_id, vec_id, list_cosine_similarity(v, p) AS cs
      FROM corpus CROSS JOIN probes
    ), ranked AS (
      SELECT probe_id, vec_id, cs,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cs DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id, ROUND(cs, 6) AS cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q_sim_topk_filtered(spark, sf_dir):
    """B42 extension, ORACLE-CHECKED: metadata-FILTERED exact top-k —
    the retrieval-with-predicate shape (RAG "search within label=3").
    The label predicate is a plain filter ahead of the two-phase
    cosine cut, so it PUSHES to the parquet scan (plan-pinned): at
    100 TB the engine reads only the qualifying row groups rather
    than post-filtering candidates, which is the difference between
    filtered search costing |matching| and costing |corpus|."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec"))
    )
    corpus = emb.filter((F.col("label") == 3) & (F.col("vec_id") >= 3))
    out = cosine_topk(
        corpus, probes, id_col="vec_id", probe_id_col="probe_id", k=10
    )
    return out.select(
        "probe_id", "vec_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


def matryoshka_renorm(
    df: DataFrame, *, vec_col: str = "embedding", dim: int,
    out_col: str | None = None,
) -> DataFrame:
    """Matryoshka (MRL) truncation: keep the first ``dim`` dimensions
    and L2-renormalize — the standard cheap-retrieval trick for
    MRL-trained embeddings (prefix dims carry most of the signal, so
    ANN can run at a fraction of the vector width and rerank at full
    width).  Zero-norm prefixes yield NULL vectors (consistent with
    the top-k tiers' non-finite-exclusion contract — a NULL vector
    scores NULL and is excluded from candidacy, observable via
    :func:`nonfinite_score_count`).

    Pure built-in expressions (slice/aggregate/transform) — per-row,
    no shuffle, stays inside whole-stage codegen.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    # F.slice silently returns the WHOLE array when dim > len(vec), so
    # an undersized vector would renormalize at full width while the
    # caller believes it runs at MRL width — fail loudly in-plan
    # instead (the deletion_variants guard pattern, r12 review)
    guarded = F.when(
        F.size(F.col(vec_col)) < dim,
        F.raise_error(F.concat(
            F.lit(f"matryoshka_renorm: {vec_col!r} vector of length "),
            F.size(F.col(vec_col)).cast("string"),
            F.lit(
                f" is shorter than dim={dim}: truncation would silently "
                "run at full width — pass dim <= the embedding width"
            ),
        )),
    ).otherwise(F.col(vec_col))
    v = F.slice(guarded, 1, dim)
    norm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    renormed = F.transform(v, lambda x: (x.cast("double") / norm).cast("float"))
    return df.withColumn(
        out_col or vec_col,
        F.when(norm > 0, renormed).otherwise(F.lit(None).cast("array<float>")),
    )


@declared(
    "q_embed_matryoshka",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ), norms AS (
      SELECT vec_id,
             SUM(CASE WHEN d < 16 THEN v6 * v6 ELSE 0 END) AS pre12,
             SUM(v6 * v6) AS full12
      FROM comps GROUP BY vec_id
    ), ret AS (
      SELECT vec_id,
             CAST(floor(sqrt(CAST(pre12 AS DOUBLE)) / sqrt(CAST(full12 AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS r6
      FROM norms WHERE full12 > 0
    )
    SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(r.r6) AS BIGINT) AS sum_retention_e6
    FROM ret r JOIN embeddings e ON e.vec_id = r.vec_id
    GROUP BY e.label
    """,
)
def q_embed_matryoshka(spark, sf_dir):
    """Matryoshka-truncation audit, FULL hash-match oracle: per-label
    norm retention of the 16-dim prefix — ``|v[:16]| / |v|`` half-up
    quantized to 1e-6 BIGINTs per vector, then summed (order-free
    integer aggregate).  This is the measurement that picks the MRL
    operating dim before switching ANN to :func:`matryoshka_renorm`
    vectors; the integer chain (exact v6 squares -> correctly-rounded
    sqrt/divide -> floor) is bit-identical cross-engine.  The renorm
    operator itself is pinned by unit tests (unit norm, prefix
    direction, zero-norm NULL contract) and a top-k-overlap accuracy
    floor."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    comps = embedding_comps(emb, id_col="vec_id", vec_col="embedding")
    sq = F.col("v6") * F.col("v6")
    norms = comps.groupBy("vec_id").agg(
        F.sum(F.when(F.col("d") < 16, sq).otherwise(F.lit(0))).alias("pre12"),
        F.sum(sq).alias("full12"),
    )
    r6 = F.floor(
        F.sqrt(F.col("pre12").cast("double"))
        / F.sqrt(F.col("full12").cast("double"))
        * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    ret = norms.filter(F.col("full12") > 0).select("vec_id", r6.alias("r6"))
    return (
        ret.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("r6").alias("sum_retention_e6"),
        )
    )


@declared("q_sim_index_persisted", oracle=_IVF_PQ_PORTABLE_ORACLE)
def q_sim_index_persisted(spark, sf_dir):
    """ANN index lifecycle, FULL hash-match oracle: the portable
    IVF-PQ index artifact — the (vec_id, cell, j, code) relation, the
    only corpus-sized output of the build — is COMMITTED to a
    transactional TxTable, reloaded from its snapshot, and queried
    through the identical routing/ADC/rerank tail.  The oracle is
    q_sim_ivf_pq_portable's verbatim: persistence must be
    value-neutral, so a hash match proves the build-once/query-many
    production shape (write codes at ingest, serve every query from
    the stored index without touching raw vectors until rerank)
    round-trips through commit-log parquet exactly.  Cells/books are
    bounded model metadata and regenerate deterministically — the
    FAISS convention of tiny codebooks beside a big code file."""
    import os

    from artemia_airflow_spark.sources.txtable import TxTable

    ensure_engine_conf(spark)
    comps, corp, probe = _ivf_pq_portable_frames(spark, sf_dir)
    cells, books, codes = _ivf_pq_portable_build(spark, corp)
    # unique dir per run: a fixed shared path lets concurrent runs
    # rmtree each other's live table mid-read (r12 review) — but the
    # returned DataFrame reads the committed parquet LAZILY, so the
    # dir cannot be removed here either; all invocations nest under
    # ONE process-scoped parent reaped at exit (the q_ledger_health
    # recipe; ADVICE r12: a mkdtemp per correctness sweep leaked one
    # corpus-sized /tmp tree per run otherwise)
    from artemia_airflow_spark.functions.core import process_scratch_dir

    root = os.path.join(process_scratch_dir("aas_sim_index_"), "index")
    # one row per (vec, subspace): synthetic unique key for the table,
    # multiplier tied to the build's subspace count
    artifact = codes.select(
        (F.col("vec_id") * _IVF_PQ_PORTABLE_M + F.col("j")).alias("k"),
        "vec_id", "cell", "j", "code",
    )
    t = TxTable.create(spark, artifact, root, key_col="k")
    loaded = t.snapshot().select("vec_id", "cell", "j", "code")
    return _ivf_pq_portable_query(comps, probe, cells, books, loaded)


def index_upsert(
    table, increment_comps: DataFrame | None, cells: DataFrame,
    books: DataFrame, *, delete_ids: DataFrame | None = None,
    increment_vecs: DataFrame | None = None, id_col: str = "vec_id",
    vec_col: str = "embedding", n_codes: int = 16, n_cells: int = 8,
    model: tuple | None = None, meta: dict | None = None,
    changes: DataFrame | None = None,
) -> int:
    """Incremental ANN index maintenance (r14, VERDICT r13 #5 — the
    production "index follows the corpus" loop composing B125 + B102):
    encode an increment of new/changed vectors against the FROZEN
    coarse cells and PQ codebooks and MERGE their (vec_id, cell, j,
    code) rows into the persisted index TxTable; vectors named in
    ``delete_ids`` are tombstoned.  One atomic MERGE commit carries
    both, so a reader never observes a half-applied increment.

    ``increment_comps`` is a (vec_id, d, v6) relation (the changed
    vectors' components); alternatively pass ``increment_vecs`` — the
    per-vector (id, vec-array) rows — and the encode runs through the
    zero-exchange array adapter (r17b; same kernel, identical values,
    exactly one of the two must be given).  ``delete_ids`` a (vec_id)
    relation.  A vec_id must not appear in both — standard MERGE
    precondition (the key would carry two verdicts).  ``model`` is an
    optional precollected :func:`_ivf_pq_portable_model` pair so a
    multi-upsert run (the streaming loop) collects the quantizers
    once, not per batch.  ``changes`` is an optional PRE-BUILT change
    relation from :func:`index_upsert_changes` (the guide-§2.6 overlap
    seam — build the changes on a second driver thread while an
    independent job chain, e.g. the initial table create, runs); with
    it the increment/delete arguments must be None.  Returns the new
    table version.

    Correctness contract: encoding reuses the rebuild's ONE code path
    (:func:`_ivf_pq_portable_encode`), so a maintained index is
    row-identical to a from-scratch rebuild of the same corpus state
    (value-neutrality, the B125 precedent — pinned by test), and
    re-applying the same increment is a no-op on content (MERGE
    upserts same-key rows to the same values; deletes of absent keys
    drop out in the full-outer merge) — the exactly-once re-apply
    property CDC restarts need.

    Scale shape: the increment, not the corpus, pays the encode
    (broadcast cells/books, increment-sized exchanges); the MERGE
    rewrites only the index files whose key range intersects the
    increment's keys (TxTable file pruning) — an append-mostly
    increment touches O(increment) files, never O(index).
    """
    if changes is not None:
        if (
            increment_comps is not None
            or increment_vecs is not None
            or delete_ids is not None
        ):
            raise ValueError(
                "index_upsert: `changes` is the complete pre-built "
                "relation — increment_comps/increment_vecs/delete_ids "
                "must be None with it (they are already folded in by "
                "index_upsert_changes)"
            )
        return table.merge(changes, delete_col="__tomb", meta=meta)
    changes = index_upsert_changes(
        increment_comps, cells, books, delete_ids=delete_ids,
        increment_vecs=increment_vecs, id_col=id_col, vec_col=vec_col,
        n_codes=n_codes, n_cells=n_cells, model=model,
    )
    return table.merge(changes, delete_col="__tomb", meta=meta)


def index_upsert_changes(
    increment_comps: DataFrame | None, cells: DataFrame,
    books: DataFrame, *, delete_ids: DataFrame | None = None,
    increment_vecs: DataFrame | None = None, id_col: str = "vec_id",
    vec_col: str = "embedding", n_codes: int = 16, n_cells: int = 8,
    model: tuple | None = None,
) -> DataFrame:
    """Build and eagerly materialize the MERGE change relation of an
    :func:`index_upsert` — encode the increment against the frozen
    quantizers, fold in the tombstones, and localCheckpoint the
    result.  This is :func:`index_upsert`'s own encode path, split out
    as the guide-§2.6 overlap seam: the change relation depends only
    on the increment and the quantizer model, never on the target
    table, so a caller whose initial table CREATE is an independent
    job chain can build the changes on a second driver thread while
    the create runs, then commit with ``index_upsert(t, None, cells,
    books, changes=...)``.  Values are identical by construction —
    same kernel, same fold, same checkpoint — whichever entry is used.
    """
    m = _IVF_PQ_PORTABLE_M
    if (increment_comps is None) == (increment_vecs is None):
        raise ValueError(
            "index_upsert: pass exactly one of increment_comps / "
            "increment_vecs"
        )
    if model is None:
        model = _ivf_pq_portable_model(cells, books)
    _validate_pq_model(model, n_cells=n_cells, n_codes=n_codes)
    if increment_vecs is not None:
        codes = _ivf_pq_portable_encode_vecs(
            increment_vecs, cells, books,
            id_col=id_col, vec_col=vec_col, model=model,
        )
    else:
        codes = _ivf_pq_portable_encode(
            increment_comps, cells, books, n_codes=n_codes,
            n_cells=n_cells, model=model,
        )
    changes = codes.select(
        (F.col("vec_id") * m + F.col("j")).alias("k"),
        "vec_id", "cell", "j", "code",
        F.lit(False).alias("__tomb"),
    )
    if delete_ids is not None:
        dels = (
            delete_ids.select("vec_id").distinct()
            .select(
                "vec_id",
                F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__j"),
            )
            .select("vec_id", F.col("__j").cast("bigint").alias("j"))
            .select(
                (F.col("vec_id") * m + F.col("j")).alias("k"),
                "vec_id",
                F.lit(None).cast("bigint").alias("cell"),
                "j",
                F.lit(None).cast("bigint").alias("code"),
                F.lit(True).alias("__tomb"),
            )
        )
        changes = changes.unionByName(dels)
    # materialize the encoded increment ONCE (r17, guide §5 "cut
    # lineage when an intermediate is reused"): TxTable.merge consumes
    # its changes twice — the touched-file key probe and the rewrite —
    # and without this the whole multi-exchange encode pipeline
    # re-executes per pass (2x per micro-batch in the streaming loop)
    # kept, sf0.1 cut -> none: 120.72 -> 143.43 MB read, 1.69 -> 2.09 MB shuffled
    return cut(changes, "similarity.index_upsert_changes.changes")


@declared("q_index_upsert_portable", oracle=_IVF_PQ_PORTABLE_ORACLE)
def q_index_upsert_portable(spark, sf_dir):
    """Incremental index maintenance, FULL hash-match oracle: start
    from a STALE persisted index — a third of the corpus encoded with
    deliberately wrong codes (cell 0 / code 0) and the probe vectors
    indexed when they should not be — then one :func:`index_upsert`
    commit re-encodes the stale third against the frozen quantizers
    and tombstones the probes.  The query tail runs over the MAINTAINED
    table, and the oracle is q_sim_ivf_pq_portable's VERBATIM: a hash
    match proves maintained == full-rebuild value-neutrality end to
    end (routing, ADC, rerank — every downstream decision identical),
    not merely that rows changed."""
    import os

    from artemia_airflow_spark.functions.core import process_scratch_dir
    from artemia_airflow_spark.sources.txtable import TxTable

    ensure_engine_conf(spark)
    m = _IVF_PQ_PORTABLE_M
    comps, corp, probe = _ivf_pq_portable_frames(spark, sf_dir)
    # quantizers only — the corpus-wide encode of the build helper is
    # unused here (r17b); collect + broadcast the kernel model once
    # for the three encode calls below
    cells, books = _ivf_pq_portable_quantizers(spark)
    model = spark.sparkContext.broadcast(
        _ivf_pq_portable_model(cells, books)
    )
    keep = corp.filter(F.col("vec_id") % 3 != 0)
    incr = corp.filter(F.col("vec_id") % 3 == 0)
    # stale state: keep-part encoded correctly; increment-part present
    # with WRONG codes; probe vectors indexed although they are queries
    good = _ivf_pq_portable_encode(keep, cells, books, model=model)
    stale = (
        incr.select("vec_id").distinct()
        .select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__j"),
        )
        .select("vec_id", F.lit(0).cast("bigint").alias("cell"),
                F.col("__j").cast("bigint").alias("j"),
                F.lit(0).cast("bigint").alias("code"))
    )
    ghosts = _ivf_pq_portable_encode(
        comps.filter(F.col("vec_id") < 5), cells, books, model=model
    )
    initial = good.unionByName(stale).unionByName(ghosts).select(
        (F.col("vec_id") * m + F.col("j")).alias("k"),
        "vec_id", "cell", "j", "code",
    )
    root = os.path.join(
        process_scratch_dir("aas_index_upsert_"), "index"
    )
    # overlap the two independent setup chains (guide §2.6, r18): the
    # stale-table CREATE and the increment's encode+checkpoint share
    # no data dependency (the change relation needs only incr + the
    # broadcast model), so building them on two driver threads lets
    # the encode back-fill the cores the create's tail leaves idle;
    # the MERGE itself still runs strictly after both.
    t, ch = overlap(
        lambda: TxTable.create(spark, initial, root, key_col="k"),
        lambda: index_upsert_changes(
            incr, cells, books, model=model,
            delete_ids=comps.filter(F.col("vec_id") < 5)
            .select("vec_id").distinct(),
        ),
    )
    index_upsert(t, None, cells, books, changes=ch)
    loaded = t.snapshot().select("vec_id", "cell", "j", "code")
    return _ivf_pq_portable_query(comps, probe, cells, books, loaded)


_EXACT_TOPK_PORTABLE_ORACLE = """
    WITH xcomps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                        + 0.5) AS BIGINT) AS v6
      FROM embeddings
    ), xnorms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM xcomps GROUP BY vec_id
    ), xdots AS (
      SELECT cp.vec_id AS probe_id, cc.vec_id, SUM(cc.v6 * cp.v6) AS dot12
      FROM xcomps cc
      JOIN xcomps cp ON cp.d = cc.d
      WHERE cp.vec_id < 5 AND cc.vec_id >= 5
      GROUP BY cp.vec_id, cc.vec_id
    ), xscored AS (
      SELECT d.probe_id, d.vec_id,
             CAST(d.dot12 AS DOUBLE)
               / (sqrt(CAST(nc.n12 AS DOUBLE))
                  * sqrt(CAST(np.n12 AS DOUBLE))) AS cos
      FROM xdots d JOIN xnorms nc ON nc.vec_id = d.vec_id
                   JOIN xnorms np ON np.vec_id = d.probe_id
    ), xexact AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM xscored
      ) WHERE rank <= 10
    )"""


@declared(
    "q_sim_recall_portable",
    oracle=_EXACT_TOPK_PORTABLE_ORACLE + f""", xapprox AS (
      SELECT probe_id, vec_id FROM ({_IVF_PQ_PORTABLE_ORACLE}) t
    ), xhits AS (
      SELECT a.probe_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM xapprox a JOIN xexact e
        ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
      GROUP BY a.probe_id
    )
    SELECT p.probe_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) * 1000000 // 10 AS BIGINT)
             AS recall_e6
    FROM (SELECT DISTINCT vec_id AS probe_id FROM xcomps
          WHERE vec_id < 5) p
    LEFT JOIN xhits h ON h.probe_id = p.probe_id
    """,
)
def q_sim_recall_portable(spark, sf_dir):
    """ANN recall audit, FULL hash-match oracle (r15): recall@10 of
    the portable IVF-PQ index against the exact brute-force cosine
    top-10 (identical ranking recipe on both tiers: correctly-
    rounded IEEE chain over integer dots/norms, (cos DESC, vec_id)
    tiebreak) — the "is the index actually good enough" number
    every ANN deployment must measure rather than assume, per
    probe so a single bad routing decision is visible, not
    averaged away.

    Scale shape: the approx side is the production IVF-PQ plan;
    the exact side is the deliberate bounded brute tier — the
    probe set is structurally tiny (the shared vec_id < 5 split),
    so the all-pairs relation is |probes| x corpus formed through
    the component equi-join, the same shape the KNN label-noise
    audit rides; at corpus scale the exact tier is what you run on
    a SAMPLE of probes, which is exactly what the face models.
    Both sides derive the probe relation from the exploded COMPONENTS
    (r15 review: deriving one side from the base table would diverge
    on a NULL/empty embedding, which explodes to zero component rows).
    DuckDB recomputes BOTH tiers and the per-probe hit counts
    value-for-value."""
    ensure_engine_conf(spark)
    comps, corp, probe = _ivf_pq_portable_frames(spark, sf_dir)
    cells, books, codes = _ivf_pq_portable_build(spark, corp)
    approx = _ivf_pq_portable_query(comps, probe, cells, books, codes)
    probe_ids = comps.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id")
    ).distinct()
    corp_ids = comps.filter(F.col("vec_id") >= 5).select(
        "vec_id"
    ).distinct()
    # bounded brute tier: <=5 probes by construction, so the
    # cross join is |probes| x corpus candidate IDs — the exact
    # ground truth the recall is measured against
    cand = F.broadcast(probe_ids).crossJoin(corp_ids)
    exact = _portable_exact_rerank(comps, cand, k=10)
    hits = (
        approx.select("probe_id", "vec_id")
        .join(exact.select("probe_id", "vec_id"),
              ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        probe_ids.join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
            .alias("n_hits"),
            # integer DIV (== DuckDB //): no double true-division, so
            # the result stays exact for any future k, divisor or not
            F.expr("coalesce(n_hits, 0) * 1000000 DIV 10")
            .cast("bigint").alias("recall_e6"),
        )
    )


def stream_index_maintenance(
    stream_df: DataFrame, corpus_table, index_table,
    cells: DataFrame, books: DataFrame, checkpoint: str, *,
    id_col: str = "vec_id", vec_col: str = "embedding",
    delete_col: str = "is_del", sink_id: str = "cdc-index",
    n_codes: int = 16, n_cells: int = 8, timeout_s: int = 300,
) -> None:
    """The online "corpus moves, index follows" loop (r15, VERDICT r14
    #5 — composes B99 exactly-once stream maintenance with B152
    incremental index maintenance): each micro-batch of a keyed change
    stream (``id_col``, ``vec_col``, ``delete_col`` tombstone flag)
    MERGEs into the corpus TxTable and upserts the persisted IVF-PQ
    index with the SAME increment (two independent job chains, run
    concurrently per batch) — so after every drained batch the index
    serves exactly the corpus the table holds.

    Exactly-once across BOTH tables: each commit carries the
    (sink_id, batch_id) idempotence stamp, checked per table — a crash
    between (or during) the two commits redelivers the batch, the
    committed table skip-checks it, and the other applies it, which
    converges because :func:`index_upsert` re-application is
    content-neutral (MERGE re-upserts same-key rows to the same
    values).  Dedupe to at most one row per key within a batch
    upstream, the stream_to_txtable contract.

    Scale shape: per batch, the increment — never the corpus or the
    index — pays the encode (broadcast frozen cells/books), and both
    MERGEs rewrite only key-range-intersecting files.  Driven with
    Trigger.AvailableNow like every batch-drain face.
    """
    # Collect AND broadcast the frozen quantizers ONCE for the whole
    # drain (r17b): the r17 shape checkpointed the relations but still
    # paid two collect jobs per micro-batch inside the encode, and a
    # per-encode broadcast would leak one broadcast per micro-batch
    # (review finding) — broadcasts are never unpersisted.
    model = cells.sparkSession.sparkContext.broadcast(
        _ivf_pq_portable_model(cells, books)
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # O(1)-amortized idempotence probes on BOTH tables (VERDICT
        # r15 #6): the per-handle batch cache parses only commits newer
        # than the previous probe and the membership test never copies
        # the known set, so a long drain's skip checks stay constant
        # per micro-batch.
        stamp = {"sink_id": sink_id, "batch_id": int(batch_id)}

        def commit_corpus() -> None:
            if not corpus_table.has_stream_batch(sink_id, batch_id):
                corpus_table.merge(
                    batch_df, delete_col=delete_col, meta=stamp
                )

        def commit_index() -> None:
            if not index_table.has_stream_batch(sink_id, batch_id):
                tomb = F.coalesce(F.col(delete_col), F.lit(False))
                dels = (
                    batch_df.filter(tomb)
                    .select(F.col(id_col).alias("vec_id"))
                )
                # array-input encode (r17b): the batch already holds
                # per-vector rows, so the exploded contract's
                # posexplode + regroup exchange is pure round-trip —
                # the array adapter feeds the same kernel with zero
                # exchanges per batch.
                index_upsert(
                    index_table, None, cells, books,
                    increment_vecs=batch_df.filter(~tomb),
                    id_col=id_col, vec_col=vec_col, delete_ids=dels,
                    n_codes=n_codes, n_cells=n_cells, model=model,
                    meta=stamp,
                )

        # The two table commits of ONE micro-batch are independent job
        # chains over the same checkpointed batch (different tables,
        # per-table idempotence stamps — crash-redelivery convergence is
        # per table and does not depend on commit order), so overlap
        # them (guide §2.6): the index chain's encode/probe/write
        # back-fills the cores the corpus MERGE's straggler tail leaves
        # idle instead of waiting for it.  Both commit threads inherit
        # the stream's job group, so ``q.stop()`` cancels their jobs too.
        overlap(commit_corpus, commit_index)

    q = (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"stream_index_maintenance did not drain in {timeout_s}s"
        )


@declared("q_index_stream_portable", oracle=_IVF_PQ_PORTABLE_ORACLE)
def q_index_stream_portable(spark, sf_dir):
    """Streaming corpus+index maintenance, FULL hash-match oracle: the
    corpus TxTable starts STALE (a third of the vectors zeroed out,
    the probe vectors present as ghosts) with the index encoding that
    stale state; a keyed change stream of corrections + ghost
    tombstones then drains through :func:`stream_index_maintenance`
    in multiple micro-batches (maxFilesPerTrigger=1), maintaining
    BOTH tables exactly-once.  The query tail runs over the
    stream-MAINTAINED index, and the oracle is q_sim_ivf_pq_portable's
    VERBATIM full-rebuild twin — a hash match proves
    stream-maintained == batch-rebuilt through the entire loop
    (stream → table → index → routing → ADC → rerank)."""
    import os

    from artemia_airflow_spark.functions.core import process_scratch_dir
    from artemia_airflow_spark.sources.txtable import TxTable

    ensure_engine_conf(spark)
    comps, corp, probe = _ivf_pq_portable_frames(spark, sf_dir)
    # quantizers only — the build helper's corpus-wide encode is
    # unused here (r17b)
    cells, books = _ivf_pq_portable_quantizers(spark)

    emb = scan(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double")
        ).alias("embedding"),
    )
    truth = emb.filter(F.col("vec_id") >= 5)
    # stale corpus: every third vector zeroed; probes present as ghosts
    stale_corpus = truth.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 3 == 0,
            F.transform("embedding", lambda x: x * F.lit(0.0)),
        ).otherwise(F.col("embedding")).alias("embedding"),
    ).unionByName(emb.filter(F.col("vec_id") < 5))

    root = process_scratch_dir("aas_index_stream_")
    m = _IVF_PQ_PORTABLE_M

    def create_corpus():
        return TxTable.create(
            spark, stale_corpus, os.path.join(root, "corpus"),
            key_col="vec_id",
        )

    def create_index():
        # array-input encode (r17b): stale_corpus already holds
        # per-vector embedding arrays, so the exploded-contract
        # round-trip (posexplode -> corpus-sized regroup exchange) is
        # removed from the initial index build; same kernel, identical
        # values.
        initial = _ivf_pq_portable_encode_vecs(
            stale_corpus, cells, books
        ).select(
            (F.col("vec_id") * m + F.col("j")).alias("k"),
            "vec_id", "cell", "j", "code",
        )
        return TxTable.create(
            spark, initial, os.path.join(root, "index"), key_col="k"
        )

    # the change stream: corrections for the zeroed third (split into
    # two files -> two micro-batches) + tombstones for the ghosts.
    # The three batches carry pairwise-disjoint key sets (vec%6==0,
    # vec%6==3, vec<5), so drain order is value-neutral on both tables.
    src = os.path.join(root, "changes")
    corrections = truth.filter(F.col("vec_id") % 3 == 0).select(
        "vec_id", "embedding", F.lit(False).alias("is_del")
    )
    tombs = emb.filter(F.col("vec_id") < 5).select(
        "vec_id", "embedding", F.lit(True).alias("is_del")
    )
    change_files = [
        (corrections.filter(F.col("vec_id") % 2 == 0), "b1"),
        (corrections.filter(F.col("vec_id") % 2 == 1), "b2"),
        (tombs, "b3"),
    ]

    # The two table creations and the three change-file writes are five
    # independent job chains (the creates both derive from stale_corpus,
    # the writes from truth/emb; no chain reads another's output) —
    # overlap them (guide §2.6) instead of paying five sequential
    # fixed-overhead jobs.
    corpus_t, index_t, *_ = overlap(
        create_corpus,
        create_index,
        *(
            lambda df=df, name=name: df.coalesce(1)
            .write.parquet(os.path.join(src, name))
            for df, name in change_files
        ),
        workers=3,
    )

    ch_schema = corrections.schema
    stream = (
        spark.readStream.schema(ch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    stream_index_maintenance(
        stream, corpus_t, index_t, cells, books,
        os.path.join(root, "ckpt"),
    )
    loaded = index_t.snapshot().select("vec_id", "cell", "j", "code")
    return _ivf_pq_portable_query(comps, probe, cells, books, loaded)


# --------------------------------------------------------------------------
# Portable KMeans clustering (Lloyd iterations, r13)
# --------------------------------------------------------------------------

def _nearest_cells(
    comps: DataFrame, cents: DataFrame, *, n_cells: int,
    packed: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment over e6 integer components — THE
    shared argmin of every portable cell-routing face (r13 review:
    four pasted copies of broadcast-join + squared-L2 agg + packed
    ``min(dist*k + cell)`` held the overflow contract in four places).
    ``comps`` is (vec_id, d, v6), ``cents`` is (cell, d, cc6);
    returns (vec_id, cell), or (vec_id, pk) with ``packed=True`` when
    the caller also needs the distance (``pk DIV n_cells``).
    Overflow contract: dist * n_cells must stay under 2^63 — holds to
    ~1e17 squared-e6 distance at n_cells=8 (64 dims of |v|<=1e3)."""
    cdist = (
        comps.join(F.broadcast(cents), "d")
        .groupBy("vec_id", "cell")
        .agg(F.sum((F.col("v6") - F.col("cc6"))
                   * (F.col("v6") - F.col("cc6"))).alias("dist"))
    )
    pk = cdist.groupBy("vec_id").agg(
        F.min(F.col("dist") * n_cells + F.col("cell")).alias("pk")
    )
    if packed:
        return pk
    return pk.select("vec_id", (F.col("pk") % n_cells).alias("cell"))


def kmeans_portable_iterate(
    comps: DataFrame, cents: DataFrame, *, n_cells: int,
) -> DataFrame:
    """ONE Lloyd iteration in exact BIGINT arithmetic: assign every
    vector to its nearest centroid (squared-L2 over e6-quantized
    components, argmin via the ``min(dist*k + cell) % k`` integer
    packing the IVF twins use), then move each centroid to the
    truncated integer mean of its members — ``SUM(v6) DIV n`` (Spark
    ``DIV`` and DuckDB ``//`` both truncate toward zero, pinned by
    test).  Empty cells keep their previous centroid (the standard
    Lloyd convention that avoids NaN centroids).  Returns the updated
    (cell, d, cc6) relation.

    Scale shape per iteration: the centroid relation (k x dim rows)
    broadcasts into the component scan; the assignment aggregate
    carries k rows per vector (map-side combined), the update
    aggregate k x dim rows total.  Nothing corpus-sized shuffles
    beyond the one (vec_id, cell) assignment exchange — the identical
    shape Lloyd has in any shared-nothing engine.
    """
    assign = _nearest_cells(comps, cents, n_cells=n_cells)
    upd = (
        comps.join(assign, "vec_id")
        .groupBy("cell", "d")
        .agg(F.sum("v6").alias("__sn"), F.count(F.lit(1)).alias("__c"))
        .selectExpr("cell", "d", "__sn DIV __c AS new6")
    )
    return (
        cents.join(upd, ["cell", "d"], "left")
        .select(
            "cell", "d",
            F.coalesce(F.col("new6"), F.col("cc6")).alias("cc6"),
        )
    )


_KMEANS_ITER_SQL = """
    cd{k} AS (
      SELECT vec_id, cell, SUM((v6 - cc6) * (v6 - cc6)) AS dist
      FROM comps JOIN c{j} USING (d) GROUP BY vec_id, cell
    ), as{k} AS (
      SELECT vec_id, MIN(dist * 8 + cell) % 8 AS cell
      FROM cd{k} GROUP BY vec_id
    ), up{k} AS (
      SELECT a.cell, p.d, CAST(SUM(p.v6) AS BIGINT) // COUNT(*) AS new6
      FROM comps p JOIN as{k} a USING (vec_id) GROUP BY a.cell, p.d
    ), c{k} AS (
      SELECT c.cell, c.d, COALESCE(u.new6, c.cc6) AS cc6
      FROM c{j} c LEFT JOIN up{k} u ON u.cell = c.cell AND u.d = c.d
    )"""


# Shared CTE prefix of the learned-KMeans faces: grid init, e6
# components, 2 unrolled Lloyd iterations, final packed assignment.
_KMEANS_PORTABLE_PREFIX_SQL = """
    WITH c0 AS (
      SELECT cell, d,
             (((cell*524287 + d*127 + 3) * 48271 + 54321)
              % 2147483647 % 2048 - 1024) * 256 AS cc6
      FROM (SELECT unnest(range(0, 8)) AS cell),
           (SELECT unnest(range(0, 64)) AS d)
    ), comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ),""" + ",".join(
    _KMEANS_ITER_SQL.format(k=k, j=k - 1) for k in (1, 2)
) + """, cd3 AS (
      SELECT vec_id, cell, SUM((v6 - cc6) * (v6 - cc6)) AS dist
      FROM comps JOIN c2 USING (d) GROUP BY vec_id, cell
    ), fin AS (
      SELECT vec_id, MIN(dist * 8 + cell) AS pk FROM cd3 GROUP BY vec_id
    )"""


def _kmeans_portable_assign(spark, sf_dir, *, n_cells: int = 8):
    """Shared Spark prelude of the learned-KMeans faces: checkpointed
    e6 components, 2 Lloyd iterations from the Lehmer grid, and the
    final packed (vec_id, pk) assignment — extracted so the sampling
    face cannot drift from the clustering face it claims to stratify
    by (the persisted-index-twin precedent)."""
    emb = scan(spark, sf_dir, "embeddings")
    # kept: tests/test_plans.py::test_kmeans_iterations_run_on_checkpointed_comps pins it
    comps = cut(embedding_comps(
        emb, id_col="vec_id", vec_col="embedding"
    ), "similarity._kmeans_portable_assign.comps")
    cents = ivf_portable_centroids_df(spark, n_cells=n_cells, dim=64)
    for _ in range(2):
        # checkpoint the k x dim centroid relation after EVERY
        # iteration (r17, guide §5): one Lloyd step consumes its input
        # centroids twice (assignment + empty-cell fallback join), so
        # a lazily-chained loop re-executes the previous iteration's
        # corpus-sized aggregations once per consumer — the checkpoint
        # is 512 rows, the saved recompute is two comps-sized aggs
        cents = cut(kmeans_portable_iterate(
            comps, cents, n_cells=n_cells
        ), "similarity._kmeans_portable_assign.cents")
    fin = _nearest_cells(comps, cents, n_cells=n_cells, packed=True)
    return cents, fin


@declared(
    "q_cluster_kmeans",
    oracle=_KMEANS_PORTABLE_PREFIX_SQL + """, members AS (
      SELECT pk % 8 AS cell, vec_id, (pk // 8) // 1000000 AS mind_q
      FROM fin
    ), csum AS (
      SELECT cell, CAST(SUM(cc6) AS BIGINT) AS centroid_sum_e6 FROM c2
      GROUP BY cell
    )
    SELECT s.cell,
           CAST(COALESCE(COUNT(m.vec_id), 0) AS BIGINT) AS n_members,
           CAST(COALESCE(SUM(m.vec_id), 0) AS BIGINT) AS sum_vec_id,
           CAST(COALESCE(SUM(m.mind_q), 0) AS BIGINT) AS inertia_q,
           s.centroid_sum_e6
    FROM csum s LEFT JOIN members m USING (cell)
    GROUP BY s.cell, s.centroid_sum_e6
    """,
)
def q_cluster_kmeans(spark, sf_dir):
    """Learned KMeans clustering (2 Lloyd iterations), FULL hash-match
    oracle: the IVF family's Lehmer-grid centroids are only the INIT
    here — two integer-exact Lloyd refinements (assign + truncated-
    mean update) then a final assignment, with per-cell membership
    count, member-id checksum, e6-truncated inertia, and the centroid
    component sum all value-pinned.  This pins the learning DYNAMICS
    the routing-only twin never exercises (its centroids stay fixed);
    the production tier (:func:`lloyd_centers`, the float Lloyd that
    trains ivf_topk's cells and the SemDeDup cell blocker) keeps the
    fast driver-side training path, and this face
    is the cluster-balanced-curation primitive (cluster sizes =
    sampling strata).  Corpus relation is lineage-truncated once;
    every per-iteration join broadcasts k x dim centroid rows."""
    ensure_engine_conf(spark)
    n_cells = 8
    cents, fin = _kmeans_portable_assign(spark, sf_dir, n_cells=n_cells)
    members = fin.select(
        (F.col("pk") % n_cells).alias("cell"),
        "vec_id",
        F.expr(f"(pk DIV {n_cells}) DIV 1000000").alias("mind_q"),
    )
    csum = cents.groupBy("cell").agg(
        F.sum("cc6").alias("centroid_sum_e6")
    )
    return (
        csum.join(members, "cell", "left")
        .groupBy("cell", "centroid_sum_e6")
        .agg(
            F.count("vec_id").alias("n_members"),
            F.coalesce(F.sum("vec_id"), F.lit(0)).cast("bigint")
            .alias("sum_vec_id"),
            F.coalesce(F.sum("mind_q"), F.lit(0)).cast("bigint")
            .alias("inertia_q"),
        )
        .select("cell", "n_members", "sum_vec_id", "inertia_q",
                "centroid_sum_e6")
    )


@declared(
    "q_sample_cluster_balanced",
    oracle=_KMEANS_PORTABLE_PREFIX_SQL + """, members AS (
      SELECT CAST(pk % 8 AS BIGINT) AS cell, vec_id FROM fin
    ), ranked AS (
      SELECT cell, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY cell
               ORDER BY md5('cb:' || CAST(vec_id AS VARCHAR)) DESC,
                        vec_id) AS rk
      FROM members
    )
    SELECT cell, vec_id, CAST(rk AS BIGINT) AS rank
    FROM ranked WHERE rk <= 20
    """,
)
def q_sample_cluster_balanced(spark, sf_dir):
    """Cluster-balanced sampling, FULL hash-match oracle: up to 20
    vectors drawn uniformly (deterministic md5 rank) from EACH learned
    KMeans cluster — the SemDeDup-style diversity move: equal
    representation per semantic region instead of letting the densest
    cluster dominate the sample.  Reuses the exact learned assignment
    of :func:`q_cluster_kmeans` via the shared prelude, so the strata
    here ARE the clusters that face value-pins.

    Scale shape: assignment as in the clustering face; the per-cluster
    cut rides the similarity family's map-side partial top-k, so the
    cell exchange carries <= 20 x batches rows per cell — a dense
    cluster's full membership never serializes one reducer (the B115
    postings lesson, applied at birth)."""
    ensure_engine_conf(spark)
    n_cells, m = 8, 20
    _, fin = _kmeans_portable_assign(spark, sf_dir, n_cells=n_cells)
    members = fin.select(
        (F.col("pk") % n_cells).alias("cell"),
        "vec_id",
        F.md5(F.concat(F.lit("cb:"), F.col("vec_id").cast("string")))
        .alias("__h"),
    )
    part = _grouped_partial_topk(
        members, probe_id_col="cell", id_col="vec_id",
        score_col="__h", r=m,
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("__h").desc(), F.col("vec_id")
    )
    return (
        part.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= m)
        .select("cell", "vec_id", "rank")
    )


def centroid_drift_matrix(
    emb: DataFrame, *, id_col: str, vec_col: str, label_col: str,
) -> DataFrame:
    """Pairwise label-centroid distance matrix (r14): exact squared-L2
    distance between every pair of per-label embedding centroids —
    "are these sources/cohorts drifting apart in embedding space", the
    embedding-side sibling of PSI (numeric columns) and JS divergence
    (token distributions).  Rising off-diagonal distance between
    recrawls of the same source is THE early signal that its content
    distribution moved.

    Exactness without float centroids: the centroid is the exact
    rational ``s_d / n`` (integer component sums over e6-quantized
    values), and ``|c_a - c_b|^2 = sum_d (s_ad*n_b - s_bd*n_a)^2 /
    (n_a*n_b)^2``.  The cross products are computed in DECIMAL(20,0)
    (exact to 1e38 — never int64, which would wrap silently past ~3e6
    vectors per label); their difference is cast back to DECIMAL(19,0)
    so the square goes DECIMAL(19,0) x DECIMAL(19,0) -> DECIMAL(38,0),
    and the 64-dim sum is an order-free EXACT decimal aggregate in
    both engines; the single final division happens in doubles on
    identically-rounded operands.  Headroom: |diff| < 1e19 holds to
    ~3e6 vectors per label at unit-scale components, and past it the
    ANSI DECIMAL(19,0) downcast FAILS LOUD instead of corrupting
    distances (ADVICE r14); the decimal sum is exact to 1e38.

    Scale shape: ONE corpus exchange — the (label, d) component-sum
    aggregate (map-side combined, <= labels x dims rows out); label
    counts ride a second tiny aggregate on the pruned label column;
    the pair matrix is a (labels x dims)^2 self-join on d — bounded
    model-metadata arithmetic, broadcast both sides.
    """
    comps = embedding_comps(emb, id_col=id_col, vec_col=vec_col)
    sums = (
        emb.select(F.col(id_col), F.col(label_col).alias("__lbl"))
        .join(comps, id_col)
        .groupBy("__lbl", "d")
        .agg(F.sum("v6").alias("s"))
    )
    counts = (
        emb.select(F.col(label_col).alias("__lbl"))
        .groupBy("__lbl")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cents = sums.join(F.broadcast(counts), "__lbl")
    a = cents.select(
        F.col("__lbl").alias("label_a"), "d",
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    b = cents.select(
        F.col("__lbl").alias("label_b"), "d",
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    diff = F.expr(
        "CAST(CAST(sa AS DECIMAL(20,0)) * nb"
        " - CAST(sb AS DECIMAL(20,0)) * na AS DECIMAL(19,0))"
    )
    pairs = (
        a.join(F.broadcast(b), "d")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.sum(diff * diff).alias("__num"),
        )
    )
    den = (
        (F.col("n_a") * F.col("n_b")).cast("double")
        * (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return pairs.select(
        "label_a", "label_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.floor(F.col("__num").cast("double") / den + F.lit(0.5))
        .cast("bigint").alias("dist2_e12"),
    )


@declared(
    "q_embed_drift",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                        + 0.5) AS BIGINT) AS v6
      FROM embeddings
    ), sums AS (
      SELECT e.label AS lbl, c.d, CAST(SUM(c.v6) AS BIGINT) AS s
      FROM comps c JOIN embeddings e USING (vec_id)
      GROUP BY e.label, c.d
    ), counts AS (
      SELECT label AS lbl, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ), cents AS (
      SELECT lbl, d, s, n FROM sums JOIN counts USING (lbl)
    ), pairs AS (
      SELECT a.lbl AS label_a, b.lbl AS label_b,
             MAX(a.n) AS n_a, MAX(b.n) AS n_b,
             SUM(CAST(CAST(a.s AS DECIMAL(20,0)) * b.n
                      - CAST(b.s AS DECIMAL(20,0)) * a.n
                      AS DECIMAL(19,0))
                 * CAST(CAST(a.s AS DECIMAL(20,0)) * b.n
                        - CAST(b.s AS DECIMAL(20,0)) * a.n
                        AS DECIMAL(19,0)))
               AS num
      FROM cents a JOIN cents b ON a.d = b.d AND a.lbl < b.lbl
      GROUP BY a.lbl, b.lbl
    )
    SELECT label_a, label_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(floor(
             CAST(num AS DOUBLE)
             / (CAST(n_a * n_b AS DOUBLE) * CAST(n_a * n_b AS DOUBLE))
             + 0.5) AS BIGINT) AS dist2_e12
    FROM pairs
    """,
)
def q_embed_drift(spark, sf_dir):
    """Label-centroid drift matrix, FULL hash-match oracle:
    pairwise exact squared-L2 distances between per-label
    centroids (e12-scaled) — integer component sums, the cross
    term squared through DECIMAL(38,0) so the 64-dim aggregate is
    exact and order-free, one final double division; DuckDB
    attests every pair value-for-value."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    return centroid_drift_matrix(
        emb, id_col="vec_id", vec_col="embedding", label_col="label"
    )


def embedding_outliers(
    emb: DataFrame, *, id_col: str, vec_col: str, label_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-label embedding outlier audit (r15): the ``k`` vectors
    FARTHEST from their own label's centroid — the "these are probably
    mislabeled or garbage" candidates a curation pass reviews first,
    the within-label sibling of the across-label drift matrix
    (:func:`centroid_drift_matrix`) and the cheap-screen companion to
    the exact KNN label-noise audit (B165: neighborhood vote; this:
    one centroid distance, no pairwise work).

    Exactness: centroid = s_d/n exactly, and ``|v - c|^2 =
    sum_d (v6_d*n - s_d)^2 / n^2`` — the cross term computed in
    DECIMAL(20,0) (never int64, the centroid-drift ADVICE fix), its
    square DECIMAL(38,0), the 64-dim sum order-free exact, one final
    double division e12-rounded (round-half-up: floor(x + 0.5)).
    Ranking uses the rounded value with a vec_id tiebreak, so ties
    are deterministic cross-engine.

    Scale shape: one (label, d) stats aggregate (labels x dims rows,
    broadcast back), one (label, vec) score aggregate — the corpus
    shuffles once for each, nothing pairwise; the top-k rides a
    per-label window over label-partitioned score rows (labels are
    few; skewed label sizes cost one window task each, the documented
    behavioral-face trade).
    """
    comps = embedding_comps(emb, id_col=id_col, vec_col=vec_col)
    labeled = comps.join(
        emb.select(F.col(id_col), F.col(label_col).alias("__lbl")),
        id_col,
    )
    # kept: tests/test_plans.py::test_r15_panel_faces_single_scan_no_corpus_join pins it
    stats = cut(
        labeled.groupBy("__lbl", "d").agg(
            F.sum("v6").alias("s"),
            F.count(F.lit(1)).alias("n"),
        ),
        "similarity.embedding_outliers.stats",
    )
    diff = F.expr("CAST(CAST(v6 AS DECIMAL(20,0)) * n - s AS DECIMAL(19,0))")
    scored = (
        labeled.join(F.broadcast(stats), ["__lbl", "d"])
        .groupBy("__lbl", id_col)
        .agg(
            F.sum(diff * diff).alias("__num"),
            F.max("n").alias("__n"),
        )
        .select(
            F.col("__lbl").alias("label"),
            F.col(id_col),
            F.floor(
                F.col("__num").cast("double")
                / (F.col("__n") * F.col("__n")).cast("double")
                + F.lit(0.5)
            ).cast("bigint").alias("dist2_e12"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist2_e12").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("label", "rank", id_col, "dist2_e12")
    )


@declared(
    "q_embed_outliers",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                        + 0.5) AS BIGINT) AS v6
      FROM comps_src
    ), stats AS (
      SELECT e.label AS lbl, c.d,
             CAST(SUM(c.v6) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM comps c JOIN embeddings e USING (vec_id)
      GROUP BY e.label, c.d
    ), scored AS (
      SELECT st.lbl AS label, c.vec_id,
             SUM(CAST(CAST(c.v6 AS DECIMAL(20,0)) * st.n - st.s
                      AS DECIMAL(19,0))
                 * CAST(CAST(c.v6 AS DECIMAL(20,0)) * st.n - st.s
                        AS DECIMAL(19,0))) AS num,
             MAX(st.n) AS n
      FROM comps c
      JOIN embeddings e USING (vec_id)
      JOIN stats st ON st.lbl = e.label AND st.d = c.d
      GROUP BY st.lbl, c.vec_id
    ), q AS (
      SELECT label, vec_id,
             CAST(floor(CAST(num AS DOUBLE)
                        / CAST(n * n AS DOUBLE) + 0.5) AS BIGINT)
               AS dist2_e12
      FROM scored
    )
    SELECT label,
           CAST(ROW_NUMBER() OVER (PARTITION BY label
                ORDER BY dist2_e12 DESC, vec_id ASC) AS BIGINT) AS rank,
           vec_id, dist2_e12
    FROM q
    QUALIFY rank <= 5
    """.replace("comps_src", "embeddings"),
)
def q_embed_outliers(spark, sf_dir):
    """Per-label embedding outliers, FULL hash-match oracle: the 5
    vectors farthest from their own label centroid (exact rational
    centroid, DECIMAL-exact numerator, e12-floored distance,
    vec_id-tiebroken rank) — the mislabel/garbage screening list,
    attested value-for-value by DuckDB."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    return embedding_outliers(
        emb, id_col="vec_id", vec_col="embedding", label_col="label"
    )


#: Above this many label rows the audit faces stop broadcasting the
#: (id, label) relation and fall back to plain co-partitioned shuffle
#: joins (VERDICT r16 item 3: a corpus-sized broadcast is driver-
#: memory-bound; the distance relation is already exchanged, so the
#: swap costs one shuffle of two narrow columns, not a new plan).
MAX_BROADCAST_LABEL_ROWS = 2_000_000


def _label_join_hint(labels: DataFrame, cap: int, n_rows: int | None = None):
    """Pick the label-attachment tier: at or below ``cap`` rows return
    :func:`F.broadcast`, above it the identity — callers apply the
    hint to each renamed projection of the label relation so both
    attachment joins ride the same tier.  When ``n_rows`` is unknown
    it is probed with an early-stopping ``limit(cap+1).count()`` (a
    bounded scan of the two-column projection, not a full count) —
    note this makes construction eager; callers that already know the
    corpus size pass it to keep the build action-free (r17 review)."""
    if cap <= 0:
        return lambda df: df
    if n_rows is None:
        n_rows = labels.limit(cap + 1).count()
    return F.broadcast if n_rows <= cap else (lambda df: df)


def triplet_mining(
    emb: DataFrame, *, id_col: str, vec_col: str, label_col: str,
    n_anchors: int = 50,
    max_broadcast_labels: int = MAX_BROADCAST_LABEL_ROWS,
    n_labels: int | None = None,
) -> DataFrame:
    """Contrastive training-triplet mining (r15): for each anchor in a
    bounded sample, the NEAREST same-label vector (the positive) and
    the NEAREST different-label vector (the hardest negative) with the
    exact squared-L2 margin between them — the (anchor, positive,
    hard-negative) relation an embedding-model trainer consumes, and
    the per-anchor ``hard`` flag (negative at least as close as the
    positive) that marks exactly the examples metric learning needs
    most (hard-negative mining, public).

    Anchors whose label has no second member cannot form a triplet and
    are dropped (inner join of the two sides — the trainer convention;
    a lone-label anchor has no positive to contrast).  Distances are
    the label-noise audit's exact integer recipe; both argmins break
    ties by neighbor id, so both engines mine identical triplets.

    Scale shape: the bounded brute probe tier (|anchors| x corpus
    component join, the B165 shape) with the shared map-side partial
    top-1 cut per side before the per-anchor ranking exchange; for
    corpus-scale anchor sets route candidate generation through the
    IVF/PQ tiers and rerank exactly, as with every similarity face.
    Label attachment is tiered on ``max_broadcast_labels``: at or
    below the cap the two narrow (id, label) joins broadcast; above it
    they run as plain co-partitioned shuffle joins on the id keys the
    distance relation already carries, so a corpus-sized label
    relation never lands on the driver (r17; value-neutral — the
    hash-match oracle is tier-independent).
    """
    comps = embedding_comps(emb, id_col=id_col, vec_col=vec_col)
    anchors = comps.filter(F.col(id_col) < n_anchors).select(
        F.col(id_col).alias("__aid"), "d", F.col("v6").alias("a6")
    )
    labels = emb.select(F.col(id_col), F.col(label_col))
    hint = _label_join_hint(labels, max_broadcast_labels, n_labels)
    d2 = (
        comps.join(F.broadcast(anchors), "d")
        .filter(F.col(id_col) != F.col("__aid"))
        .groupBy("__aid", id_col)
        .agg(
            F.sum((F.col("v6") - F.col("a6"))
                  * (F.col("v6") - F.col("a6"))).alias("__dist"),
        )
        .join(hint(labels.withColumnRenamed(label_col, "__nl")),
              id_col)
        .join(
            hint(labels.select(
                F.col(id_col).alias("__aid"),
                F.col(label_col).alias("__al"),
            )),
            "__aid",
        )
        .withColumn("__score", -F.col("__dist"))
    )
    def argmin(side: DataFrame) -> DataFrame:
        cut = _grouped_partial_topk(
            side, probe_id_col="__aid", id_col=id_col,
            score_col="__score", r=1,
        )
        w = Window.partitionBy("__aid").orderBy(
            F.col("__dist").asc(), F.col(id_col).asc()
        )
        return (
            cut.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
        )

    pos = argmin(d2.filter(F.col("__nl") == F.col("__al"))).select(
        "__aid", F.col("__al").alias("label"),
        F.col(id_col).alias("pos_id"),
        F.col("__dist").cast("bigint").alias("pos_dist2"),
    )
    neg = argmin(d2.filter(F.col("__nl") != F.col("__al"))).select(
        "__aid",
        F.col(id_col).alias("neg_id"),
        F.col("__dist").cast("bigint").alias("neg_dist2"),
    )
    return (
        pos.join(neg, "__aid")
        .select(
            F.col("__aid").alias("anchor_id"), "label",
            "pos_id", "pos_dist2", "neg_id", "neg_dist2",
            (F.col("neg_dist2") - F.col("pos_dist2")).cast("bigint")
            .alias("margin"),
            (F.col("neg_dist2") <= F.col("pos_dist2")).alias("hard"),
        )
    )


@declared(
    "q_pairs_triplets",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                        + 0.5) AS BIGINT) AS v6
      FROM embeddings
    ), d2 AS (
      SELECT a.vec_id AS aid, c.vec_id AS nid,
             SUM((c.v6 - a.v6) * (c.v6 - a.v6)) AS dist
      FROM comps c JOIN comps a ON a.d = c.d
      WHERE a.vec_id < 50 AND c.vec_id <> a.vec_id
      GROUP BY a.vec_id, c.vec_id
    ), j AS (
      SELECT d2.aid, d2.nid, d2.dist, la.label AS al, ln.label AS nl
      FROM d2
      JOIN embeddings la ON la.vec_id = d2.aid
      JOIN embeddings ln ON ln.vec_id = d2.nid
    ), pos AS (
      SELECT aid, al, nid, dist FROM (
        SELECT aid, al, nid, dist,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY dist, nid) AS rk
        FROM j WHERE nl = al
      ) WHERE rk = 1
    ), neg AS (
      SELECT aid, nid, dist FROM (
        SELECT aid, nid, dist,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY dist, nid) AS rk
        FROM j WHERE nl <> al
      ) WHERE rk = 1
    )
    SELECT p.aid AS anchor_id, p.al AS label,
           p.nid AS pos_id, CAST(p.dist AS BIGINT) AS pos_dist2,
           n.nid AS neg_id, CAST(n.dist AS BIGINT) AS neg_dist2,
           CAST(n.dist - p.dist AS BIGINT) AS margin,
           (n.dist <= p.dist) AS hard
    FROM pos p JOIN neg n USING (aid)
    """,
)
def q_pairs_triplets(spark, sf_dir):
    """Contrastive triplet mining, FULL hash-match oracle: for 50
    anchors, the nearest same-label positive and hardest different-
    label negative with the exact integer-L2 margin and the hard flag
    — the metric-learning training relation, attested neighbor-for-
    neighbor by DuckDB."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    return triplet_mining(
        emb, id_col="vec_id", vec_col="embedding", label_col="label"
    )


def knn_label_noise(
    emb: DataFrame, *, id_col: str, vec_col: str, label_col: str,
    n_probes: int = 50, k: int = 10,
    max_broadcast_labels: int = MAX_BROADCAST_LABEL_ROWS,
    n_labels: int | None = None,
) -> DataFrame:
    """KNN label-noise audit (r14): for a bounded probe set, find each
    probe's exact k nearest neighbors and measure how often the
    neighbor's label DISAGREES with the probe's — the standard
    data-centric label-quality signal (a clean label sits among
    same-label neighbors; high disagreement marks noisy labels or
    genuinely overlapping classes; kNN-based noise detection,
    public).  Reported per probe label so the answer is "WHICH class
    is noisy", not just "how noisy".

    Exactness: distances are squared L2 over e6 integer components —
    an order-free int64 sum (|diff|^2 x 64 dims stays < 2^63 to
    component scale ~1e9) — and ranking ties break by neighbor id, so
    both engines pick the identical neighbor sets.

    Scale shape: the brute-force probe tier (the B42 baseline) —
    corpus x |probes| component join, bounded by the FIXED probe
    count, cut by the shared map-side grouped partial top-k before
    the per-probe ranking exchange; for corpus-scale probe sets route
    through the IVF/PQ tiers instead (B103) and rerank exactly.
    Label attachment is tiered on ``max_broadcast_labels`` exactly as
    in :func:`triplet_mining`: broadcast at or below the cap, plain
    co-partitioned shuffle joins above it (r17).
    """
    comps = embedding_comps(emb, id_col=id_col, vec_col=vec_col)
    probes = comps.filter(F.col(id_col) < n_probes).select(
        F.col(id_col).alias("__pid"), "d", F.col("v6").alias("p6")
    )
    d2 = (
        comps.join(F.broadcast(probes), "d")
        .filter(F.col(id_col) != F.col("__pid"))
        .groupBy("__pid", id_col)
        .agg(
            F.sum((F.col("v6") - F.col("p6")) * (F.col("v6") - F.col("p6")))
            .alias("__dist"),
        )
        .withColumn("__score", -F.col("__dist"))
    )
    part = _grouped_partial_topk(
        d2, probe_id_col="__pid", id_col=id_col, score_col="__score", r=k,
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col("__dist").asc(), F.col(id_col).asc()
    )
    nn = part.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= k
    )
    labels = emb.select(F.col(id_col), F.col(label_col))
    hint = _label_join_hint(labels, max_broadcast_labels, n_labels)
    joined = (
        nn.join(hint(labels.withColumnRenamed(label_col, "__nl")),
                id_col)
        .join(
            hint(
                labels.select(F.col(id_col).alias("__pid"),
                              F.col(label_col).alias("__pl"))
            ),
            "__pid",
        )
    )
    return joined.groupBy(F.col("__pl").alias("label")).agg(
        F.countDistinct("__pid").cast("bigint").alias("n_probes"),
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum(F.when(F.col("__nl") != F.col("__pl"), 1).otherwise(0))
        .cast("bigint").alias("n_disagree"),
        guarded_e6_ratio(
            "sum(CASE WHEN __nl <> __pl THEN 1 ELSE 0 END)", "count(1)",
            op="knn_label_noise",
        ).alias("disagree_rate_e6"),
    )


@declared(
    "q_label_noise",
    oracle="""
    WITH comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                        + 0.5) AS BIGINT) AS v6
      FROM embeddings
    ), probes AS (
      SELECT vec_id AS pid, d, v6 AS p6 FROM comps WHERE vec_id < 50
    ), d2 AS (
      SELECT p.pid, c.vec_id,
             SUM((c.v6 - p.p6) * (c.v6 - p.p6)) AS dist
      FROM comps c JOIN probes p USING (d)
      WHERE c.vec_id <> p.pid
      GROUP BY p.pid, c.vec_id
    ), nn AS (
      SELECT pid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY pid
                                ORDER BY dist ASC, vec_id ASC) AS rk
      FROM d2
    ), joined AS (
      SELECT pl.label AS pl, nl.label AS nl, n.pid
      FROM nn n
      JOIN embeddings nl ON nl.vec_id = n.vec_id
      JOIN embeddings pl ON pl.vec_id = n.pid
      WHERE n.rk <= 10
    )
    SELECT pl AS label,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_probes,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(CASE WHEN nl <> pl THEN 1 ELSE 0 END) AS BIGINT)
             AS n_disagree,
           CAST(SUM(CASE WHEN nl <> pl THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS disagree_rate_e6
    FROM joined GROUP BY pl
    """,
)
def q_label_noise(spark, sf_dir):
    """KNN label-noise audit, FULL hash-match oracle: for 50 probe
    vectors, exact integer-L2 10-NN label disagreement per probe
    label — neighbor sets, ranks, and rates all attested
    value-for-value."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    return knn_label_noise(
        emb, id_col="vec_id", vec_col="embedding", label_col="label"
    )
