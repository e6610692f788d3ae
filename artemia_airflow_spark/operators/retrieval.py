"""Lexical and hybrid retrieval operators: BM25 ranking over an
inverted-index-shaped term relation, and reciprocal-rank fusion (RRF)
of heterogeneous retriever outputs — the retrieval stack a training-
data pipeline runs for decontamination audits, more-like-this corpus
expansion, and RAG-style eval-set construction.

Everything stays in built-in expressions (the one float transcendental,
BM25's idf ``ln``, follows the q_text_tfidf precedent: JVM and libm
``log`` agree far below the 1e-6 quantization applied before any
cross-engine comparison).  Per-term contributions are quantized to
exact scaled BIGINTs *before* the per-document summation, so scores
are order-free integer sums — never an order-dependent float
aggregate — and the DuckDB oracles attest ranking and score values
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.functions.core import cut
from artemia_airflow_spark.operators.similarity import (
    _bounded_topk,
    _portable_exact_rerank,
    embedding_comps,
)
from artemia_airflow_spark.plans.registry import declared
from artemia_airflow_spark.session import ensure_engine_conf


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    text_col: str,
    id_col: str,
    query_id_col: str,
    term_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Per-query BM25 top-``k`` documents (Lucene ``+1`` idf variant,
    always positive): ``score = sum_t idf(t) * tf*(k1+1) /
    (tf + k1*(1 - b + b*dl/avgdl))``.

    Returns (query_id, id, score_e6, rank): per-term contributions are
    half-up quantized to 1e-6-scaled BIGINTs before the per-document
    sum, so the score is an exact integer aggregate (order-free) and
    the (score desc, id) ranking is engine-portable.

    Scale shape: the corpus is scanned twice, both column-pruned to
    ``text_col`` — once exploded for per-(doc, term) frequencies
    (map-side combined), once *unexploded* for the two corpus scalars
    (doc count, token total -> avgdl), which enter the plan as a
    broadcast 1-row aggregate instead of a driver count() or an
    unpartitioned window over a corpus-sized relation.  Document
    length rides the tf relation as a per-doc window sum (the tf
    aggregate already clustered rows by doc, so no third scan).  The
    query relation broadcasts by contract (a query set is small); the
    doc-frequency relation is vocabulary-sized and meets the
    query-filtered tf rows in a token-keyed shuffle join.  The final
    per-query ranking goes through the shared two-phase
    ``_bounded_topk`` cut, so a stop-word query term never drags a
    corpus-sized candidate set into one reducer.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__term"),
    )
    # materialize the (doc, term, tf) relation once (r17b, guide
    # §3.3/§5): dfreq and the dl window both consume it, and the hoped-
    # for runtime exchange reuse does NOT fire (checked on the executed
    # plan — the two branches' post-aggregate shapes differ), so the
    # corpus tokenize + aggregate ran twice.  At scale this relation IS
    # the BM25 index artifact — materializing it once per build is the
    # standard shape (a stage store on a cluster).  LAZY checkpoint:
    # the first consumer's job materializes it in-flight (no separate
    # eager job), the second reads the persisted blocks.
    # kept, sf0.1 cut -> none: 14.92 -> 4.45 MB read, 3.23 -> 4.37 MB shuffled
    # 100x: 21.08 -> 32.23 s (q_retrieval_bm25), 31.29 -> 34.84 s (q_retrieval_rrf)
    tf_base = cut(toks.groupBy(id_col, "__term").agg(
        F.count(F.lit(1)).alias("tf")
    ), "retrieval.bm25_topk.tf_base", eager=False)
    # doc frequency from the tf relation (one row per (doc, term)
    # already) — a separate toks.distinct() would re-tokenize the
    # whole corpus with a DIFFERENT partial aggregate, defeating
    # exchange reuse (r12 review).  Derived from tf_base BEFORE the dl
    # window so both consumers share the identical aggregate exchange.
    dfreq = tf_base.groupBy("__term").agg(F.count(F.lit(1)).alias("df"))
    tf = tf_base.withColumn("dl", F.sum("tf").over(Window.partitionBy(id_col)))
    totals = df.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum(F.size(F.split(F.lower(F.col(text_col)), r"\s+"))).alias("__n_tok"),
    )
    hits = (
        tf.join(
            # document tokens are lowercased above, so query terms must
            # be too — a verbatim join would silently drop 'The'/'GPU'.
            # DISTINCT is part of the BM25 contract (ADVICE r12): a
            # duplicate (query_id, term) row would multiply that term's
            # tf rows through the join and double-count its
            # contribution — term SETS are the only meaningful input,
            # so dedupe here instead of trusting the caller; the query
            # relation is small by contract, so the distinct's exchange
            # is trivia next to the corpus scans.
            F.broadcast(
                queries.select(
                    query_id_col, F.lower(F.col(term_col)).alias("__term")
                ).distinct()
            ),
            "__term",
        )
        .join(dfreq, "__term")
        .crossJoin(F.broadcast(totals))
    )
    n_docs = F.col("__n_docs").cast("double")
    avgdl = F.col("__n_tok").cast("double") / F.col("__n_docs")
    idf = F.log(
        (n_docs - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)) + F.lit(1.0)
    )
    tfd = F.col("tf").cast("double")
    norm = (tfd * F.lit(k1 + 1)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    contrib = F.floor(idf * norm * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint")
    scored = (
        hits.select(query_id_col, id_col, contrib.alias("__c"))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__c").alias("score_e6"))
        .withColumn("__score", F.col("score_e6").cast("double"))
    )
    return _bounded_topk(
        scored, probe_id_col=query_id_col, id_col=id_col,
        score_col="__score", k=k,
    ).select(query_id_col, id_col, "score_e6", "rank")


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    probe_id_col: str,
    id_col: str,
    rank_col: str = "rank",
    kconst: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N retriever outputs (lexical, vector,
    ...): ``rrf_e6 = sum_lists 1000000 DIV (kconst + rank)`` — pure
    integer arithmetic, so fusion is exactly engine-portable.  A
    document absent from a list contributes nothing for that list
    (standard top-K-list RRF, the production shape: each retriever
    hands over a BOUNDED top-K, never its full ranking).

    Scale shape: the fused relation is at most ``sum(K_i)`` rows per
    probe by construction, so the final per-probe (rrf desc, id)
    window never sees more than a few hundred rows per probe — no
    partial cut needed.  Inputs union by position-independent column
    NAME (each is projected to the shared triple first).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = F.expr(f"CAST(1000000 DIV ({kconst} + {rank_col}) AS BIGINT)")
    unioned = None
    for r in rankings:
        part = r.select(F.col(probe_id_col), F.col(id_col), contrib.alias("__c"))
        unioned = part if unioned is None else unioned.unionByName(part)
    fused = (
        unioned.groupBy(probe_id_col, id_col)
        .agg(F.sum("__c").alias("rrf_e6"))
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("rrf_e6").desc(), F.col(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# Declared queries
# --------------------------------------------------------------------------

_BM25_CTES = """
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dltab AS (
      SELECT doc_id, term, tf, SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tf
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), totals AS (
      SELECT COUNT(*) AS n_docs,
             SUM(len(regexp_split_to_array(lower(text), '\\s+'))) AS n_tok
      FROM documents
    ), q AS (
      SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3
    ), contrib AS (
      SELECT q.query_id, d.doc_id,
        CAST(floor(
          ln((CAST(t.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5) + 1.0)
          * ((CAST(d.tf AS DOUBLE) * 2.2)
             / (CAST(d.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE)
                                        / (CAST(t.n_tok AS DOUBLE) / t.n_docs)))))
          * 1000000.0 + 0.5) AS BIGINT) AS c
      FROM dltab d JOIN q USING (term) JOIN dfreq f USING (term)
      CROSS JOIN totals t
    ), scored AS (
      SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_e6
      FROM contrib GROUP BY query_id, doc_id
    ), lex AS (
      SELECT query_id, doc_id, score_e6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score_e6 DESC, doc_id) AS rank
      FROM scored
    )
"""


@declared(
    "q_retrieval_bm25",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc_id, score_e6, CAST(rank AS BIGINT) AS rank
    FROM lex WHERE rank <= 10
    """,
)
def q_retrieval_bm25(spark, sf_dir):
    """BM25 more-like-this retrieval, FULL hash-match oracle: the
    distinct tokens of docs 0-2 are three query term-sets; top-10 docs
    per query by BM25 (k1=1.2, b=0.75, Lucene +1 idf).  Per-term
    contributions quantize to exact 1e-6 BIGINTs BEFORE the per-doc
    sum (order-free integer aggregate — float summation order never
    enters), so DuckDB attests scores and ranking bit-for-bit; the
    one transcendental (idf's ln) sits far above the quantization
    (q_text_tfidf precedent)."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    qterms = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
        ).alias("term"),
    )
    out = bm25_topk(
        d, qterms, text_col="text", id_col="doc_id",
        query_id_col="query_id", term_col="term", k=10,
    )
    return out.select(
        "query_id", "doc_id", "score_e6", F.col("rank").cast("bigint").alias("rank")
    )


@declared(
    "q_retrieval_rrf",
    oracle=f"""
    WITH {_BM25_CTES},
    lexk AS (SELECT query_id, doc_id, rank FROM lex WHERE rank <= 50),
    comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ), norms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM comps GROUP BY vec_id
    ), dots AS (
      SELECT cp.vec_id AS probe_id, cc.vec_id, SUM(cc.v6 * cp.v6) AS dot12
      FROM comps cc JOIN comps cp ON cp.d = cc.d AND cp.vec_id < 3
      GROUP BY cp.vec_id, cc.vec_id
    ), vecranked AS (
      SELECT d.probe_id, d.vec_id,
             ROW_NUMBER() OVER (PARTITION BY d.probe_id ORDER BY
               CAST(d.dot12 AS DOUBLE)
                 / (sqrt(CAST(nc.n12 AS DOUBLE)) * sqrt(CAST(np.n12 AS DOUBLE)))
               DESC, d.vec_id) AS rank
      FROM dots d JOIN norms nc ON nc.vec_id = d.vec_id
                  JOIN norms np ON np.vec_id = d.probe_id
    ), veck AS (SELECT probe_id, vec_id, rank FROM vecranked WHERE rank <= 50),
    fused AS (
      SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_e6 FROM (
        SELECT query_id, doc_id, 1000000 // (60 + rank) AS c FROM lexk
        UNION ALL
        SELECT probe_id AS query_id, vec_id AS doc_id,
               1000000 // (60 + rank) AS c FROM veck
      ) GROUP BY query_id, doc_id
    ), final AS (
      SELECT query_id, doc_id, rrf_e6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_e6 DESC, doc_id) AS rank
      FROM fused
    )
    SELECT query_id, doc_id, rrf_e6, CAST(rank AS BIGINT) AS rank
    FROM final WHERE rank <= 10
    """,
)
def q_retrieval_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion, FULL hash-match
    oracle: the BM25 top-50 (lexical arm) fuses with the exact-cosine
    top-50 (vector arm, scaled-int portable recipe) under
    ``1000000 DIV (60 + rank)`` — all-integer fusion, so DuckDB
    replays both arms and the fused ranking value-for-value.  The
    fixture convention doc_id == vec_id aligns the two id spaces.  At
    scale each arm hands RRF a bounded top-K (here 50), never a full
    ranking — the vector arm's all-pairs candidate set here is the
    3-probe exact tier; production swaps in an ANN tier behind the
    same (probe, id, rank) contract."""
    ensure_engine_conf(spark)
    d = scan(spark, sf_dir, "documents")
    emb = scan(spark, sf_dir, "embeddings")
    qterms = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
        ).alias("term"),
    )
    lex = bm25_topk(
        d, qterms, text_col="text", id_col="doc_id",
        query_id_col="query_id", term_col="term", k=50,
    ).select("query_id", "doc_id", "rank")
    comps = embedding_comps(emb, id_col="vec_id", vec_col="embedding")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id")
    )
    cand = emb.select("vec_id").crossJoin(F.broadcast(probes))
    vec = _portable_exact_rerank(comps, cand, k=50).select(
        F.col("probe_id").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    fused = rrf_fuse(
        [lex, vec], probe_id_col="query_id", id_col="doc_id", k=10
    )
    return fused.select("query_id", "doc_id", "rrf_e6", "rank")


def mmr_diversify(
    rel: DataFrame,
    sims: DataFrame,
    *,
    probe_id_col: str,
    id_col: str,
    rel_col: str,
    sim_col: str,
    n: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedily pick ``n``
    results per probe maximizing ``lam*rel - (1-lam)*max_sim_to_
    already_selected`` — the standard diversification pass after
    retrieval (dedup-aware eval sets, diverse few-shot pools).

    ``rel``: (probe, id, rel) bounded top-K relevance per probe.
    ``sims``: (probe, i, j) pairwise similarity among each probe's OWN
    candidates (K^2 per probe, both orientations).  Returns
    (probe, id, mmr_rank, rel, maxsim) with maxsim = 0 for the first
    pick; candidates missing a similarity edge to the selected set
    score maxsim 0.

    Greedy selection is inherently sequential PER PROBE but the probes
    are independent, so the implementation is a cogrouped
    ``applyInPandas`` (the pack_sequences_firstfit recipe): one
    shuffle of each bounded relation on the probe key, then an
    Arrow-batched greedy loop over each probe's <= K^2 rows.  A
    declarative n-stage unrolling was tried first and rejected —
    Spark re-executes the shared candidate lineage per stage and the
    nested selected-set plan compounds (measured 25x the wall of this
    shape on 60 cached rows).  At lam=0.5 the float score
    ``0.5*rel - 0.5*maxsim`` orders identically to the integer margin
    ``rel - maxsim`` (exact halving of <2^52 ints), which is what the
    DuckDB twin ranks by — other lam values are supported but carry
    no value oracle.
    """
    if not (0.0 < lam <= 1.0):
        raise ValueError(f"lam must be in (0, 1], got {lam}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    p, i = probe_id_col, id_col
    rel_f = rel.select(p, i, rel_col)
    # distinct key alias: sims usually derives from rel (a candidate
    # self-join), and cogrouping two lineage-sharing frames on the
    # same column name trips Spark's ambiguous-self-join check
    sims_f = sims.select(
        F.col(p).alias("__sim_probe"), F.col("i"), F.col("j"), F.col(sim_col)
    )
    rtypes, stypes = dict(rel_f.dtypes), dict(sims_f.dtypes)
    out_schema = (
        f"{p} {rtypes[p]}, {i} {rtypes[i]}, mmr_rank int, "
        f"{rel_col} {rtypes[rel_col]}, maxsim {stypes[sim_col]}"
    )

    def greedy(key, rel_pdf, sims_pdf):
        import pandas as pd

        if len(rel_pdf) == 0:
            return pd.DataFrame(
                columns=[p, i, "mmr_rank", rel_col, "maxsim"]
            )
        relv = dict(zip(rel_pdf[i], rel_pdf[rel_col]))
        sim = dict(
            zip(zip(sims_pdf["i"], sims_pdf["j"]), sims_pdf[sim_col])
        )
        # maxsim over the selected set can be NEGATIVE (cosine), so it
        # is only defined after the first pick — initializing it to 0
        # would silently clamp anti-similar candidates upward (caught
        # by the sf0.1 oracle).  Missing edges contribute 0 by contract.
        maxsim: dict = {}
        rows = []
        for t in range(1, n + 1):
            if not relv:
                break
            # argmax of lam*rel - (1-lam)*maxsim, ties id-ascending
            if t == 1:
                best = min(relv, key=lambda c: (-(lam * relv[c]), c))
                ms_best = 0
            else:
                best = min(
                    relv,
                    key=lambda c: (
                        -(lam * relv[c] - (1.0 - lam) * maxsim[c]), c,
                    ),
                )
                ms_best = maxsim[best]
            rows.append((key[0], best, t, relv[best], ms_best))
            del relv[best]
            for c in relv:
                s = sim.get((c, best), 0)
                if t == 1 or s > maxsim[c]:
                    maxsim[c] = s
        return pd.DataFrame(rows, columns=[p, i, "mmr_rank", rel_col, "maxsim"])

    return rel_f.groupBy(p).cogroup(sims_f.groupBy("__sim_probe")).applyInPandas(
        greedy, schema=out_schema
    )


def _mmr_oracle(n: int) -> str:
    """Unrolled DuckDB twin of the q_retrieval_mmr greedy recurrence
    (the q_pack_firstfit/_bpe_oracle recipe: fixed-depth sequential
    state unrolls into one CTE chain per step)."""
    head = """
    comps AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS BIGINT) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v6
      FROM embeddings
    ), norms AS (
      SELECT vec_id, SUM(v6 * v6) AS n12 FROM comps GROUP BY vec_id
    ), pdot AS (
      SELECT cp.vec_id AS probe_id, cc.vec_id, SUM(cc.v6 * cp.v6) AS dot12
      FROM comps cc JOIN comps cp ON cp.d = cc.d
      WHERE cp.vec_id < 3 AND cc.vec_id >= 3
      GROUP BY cp.vec_id, cc.vec_id
    ), cand AS (
      SELECT probe_id, vec_id, rel_e6 FROM (
        SELECT d.probe_id, d.vec_id,
               CAST(floor(CAST(d.dot12 AS DOUBLE)
                 / (sqrt(CAST(nc.n12 AS DOUBLE)) * sqrt(CAST(np.n12 AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) AS rel_e6,
               ROW_NUMBER() OVER (PARTITION BY d.probe_id ORDER BY
                 CAST(d.dot12 AS DOUBLE)
                   / (sqrt(CAST(nc.n12 AS DOUBLE)) * sqrt(CAST(np.n12 AS DOUBLE)))
                 DESC, d.vec_id) AS rank
        FROM pdot d JOIN norms nc ON nc.vec_id = d.vec_id
                    JOIN norms np ON np.vec_id = d.probe_id
      ) WHERE rank <= 20
    ), cpairs AS (
      SELECT a.probe_id, a.vec_id AS i, b.vec_id AS j
      FROM cand a JOIN cand b
        ON b.probe_id = a.probe_id AND b.vec_id <> a.vec_id
    ), sdot AS (
      SELECT p.probe_id, p.i, p.j, SUM(ci.v6 * cj.v6) AS dot12
      FROM cpairs p
      JOIN comps ci ON ci.vec_id = p.i
      JOIN comps cj ON cj.vec_id = p.j AND cj.d = ci.d
      GROUP BY p.probe_id, p.i, p.j
    ), sims AS (
      SELECT s.probe_id, s.i, s.j,
             CAST(floor(CAST(s.dot12 AS DOUBLE)
               / (sqrt(CAST(ni.n12 AS DOUBLE)) * sqrt(CAST(nj.n12 AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS sim_e6
      FROM sdot s JOIN norms ni ON ni.vec_id = s.i
                  JOIN norms nj ON nj.vec_id = s.j
    ), p1 AS (
      SELECT probe_id, vec_id, rel_e6, CAST(0 AS BIGINT) AS maxsim_e6,
             1 AS mmr_rank
      FROM (
        SELECT probe_id, vec_id, rel_e6,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY rel_e6 DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn = 1
    ), s1 AS (SELECT probe_id, vec_id FROM p1)"""
    parts = [head]
    for t in range(2, n + 1):
        parts.append(f"""
    m{t} AS (
      SELECT c.probe_id, c.vec_id, c.rel_e6,
             MAX(coalesce(sm.sim_e6, 0)) AS maxsim_e6
      FROM cand c
      JOIN s{t - 1} sel ON sel.probe_id = c.probe_id
      LEFT JOIN sims sm ON sm.probe_id = c.probe_id
                       AND sm.i = c.vec_id AND sm.j = sel.vec_id
      WHERE NOT EXISTS (
        SELECT 1 FROM s{t - 1} x
        WHERE x.probe_id = c.probe_id AND x.vec_id = c.vec_id
      )
      GROUP BY c.probe_id, c.vec_id, c.rel_e6
    ), p{t} AS (
      SELECT probe_id, vec_id, rel_e6, maxsim_e6, {t} AS mmr_rank
      FROM (
        SELECT probe_id, vec_id, rel_e6, maxsim_e6,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                 ORDER BY rel_e6 - maxsim_e6 DESC, vec_id) AS rn
        FROM m{t}
      ) WHERE rn = 1
    ), s{t} AS (
      SELECT probe_id, vec_id FROM s{t - 1}
      UNION ALL SELECT probe_id, vec_id FROM p{t}
    )""")
    finals = "\n    UNION ALL ".join(
        f"SELECT probe_id, vec_id, mmr_rank, rel_e6, maxsim_e6 FROM p{t}"
        for t in range(1, n + 1)
    )
    return "WITH " + ",".join(parts) + "\n    " + finals


@declared("q_retrieval_mmr", oracle=_mmr_oracle(5))
def q_retrieval_mmr(spark, sf_dir):
    """MMR diversification, FULL hash-match oracle: for 3 probes, the
    exact-cosine top-20 (scaled-int portable recipe) re-ranks through
    5 greedy MMR picks at lam=0.5 — relevance and pairwise candidate
    similarities are e6-quantized BIGINTs, and the engine's float
    score 0.5*rel - 0.5*maxsim orders identically to the oracle's
    integer margin rel - maxsim (exact halving), so DuckDB replays
    candidate generation, the K^2 similarity matrix, and every greedy
    pick value-for-value.  The engine selection runs in
    :func:`mmr_diversify`'s cogrouped applyInPandas workers (an
    Arrow-batched greedy over each probe's bounded candidate set —
    see its docstring for why a declarative unrolling was rejected);
    the oracle's unrolled CTE chain replays the same recurrence."""
    ensure_engine_conf(spark)
    emb = scan(spark, sf_dir, "embeddings")
    comps = embedding_comps(emb, id_col="vec_id", vec_col="embedding")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id")
    )
    corpus_ids = emb.filter(F.col("vec_id") >= 3).select("vec_id")
    cand_all = corpus_ids.crossJoin(F.broadcast(probes))
    # the bounded top-20 relevance relation feeds THREE consumers (both
    # sides of the candidate-pair self-join + the MMR rel input);
    # without the cut the whole windowed rerank re-executes per branch
    # kept, sf0.1 cut -> none: 94.56 -> 70.92 MB read, 0.20 -> 0.11 MB shuffled,
    # 1.32 -> 1.18 s
    rel = cut(_portable_exact_rerank(comps, cand_all, k=20).select(
        "probe_id", "vec_id", F.col("cos_e6").alias("rel_e6")
    ), "retrieval.q_retrieval_mmr.rel")
    pair_ids = rel.select("probe_id", F.col("vec_id").alias("i")).join(
        rel.select("probe_id", F.col("vec_id").alias("j")), "probe_id"
    ).filter(F.col("i") != F.col("j"))
    ci = comps.select(F.col("vec_id").alias("i"), "d", F.col("v6").alias("vi"))
    cj = comps.select(F.col("vec_id").alias("j"), "d", F.col("v6").alias("vj"))
    sdot = (
        pair_ids.join(ci, "i").join(cj, ["j", "d"])
        .groupBy("probe_id", "i", "j")
        .agg(F.sum(F.col("vi") * F.col("vj")).alias("dot12"))
    )
    norms = comps.groupBy("vec_id").agg(
        F.sum(F.col("v6") * F.col("v6")).alias("n12")
    )
    cos = F.col("dot12").cast("double") / (
        F.sqrt(F.col("ni").cast("double")) * F.sqrt(F.col("nj").cast("double"))
    )
    sims = (
        sdot.join(norms.select(F.col("vec_id").alias("i"),
                               F.col("n12").alias("ni")), "i")
        .join(norms.select(F.col("vec_id").alias("j"),
                           F.col("n12").alias("nj")), "j")
        .select(
            "probe_id", "i", "j",
            F.floor(cos * 1_000_000 + F.lit(0.5)).cast("bigint").alias("sim_e6"),
        )
    )
    out = mmr_diversify(
        rel, sims, probe_id_col="probe_id", id_col="vec_id",
        rel_col="rel_e6", sim_col="sim_e6", n=5, lam=0.5,
    )
    return out.select(
        "probe_id", "vec_id", "mmr_rank", "rel_e6",
        F.col("maxsim").alias("maxsim_e6"),
    )
