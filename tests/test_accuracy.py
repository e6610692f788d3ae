"""Accuracy harness for the approximate/probabilistic tiers (VERDICT r4
item 6): the rows-only operators carry a QUANTIFIED guarantee, not just
"it returns rows".

- recall@k of the SRP-LSH and IVF ANN tiers against the exact cosine
  top-k, on the fixture embeddings.  NOTE the fixtures are i.i.d.
  gaussian vectors — the ADVERSARIAL case for ANN (true neighbors are
  barely closer than random points, so hash/cell collisions carry
  almost no signal).  The floors below are what the tuned configs
  achieve on that worst case; clustered real-world corpora reach the
  same recall at far lower candidate cost.  The harness also pins the
  tuning directions (more tables -> more recall; more probed cells ->
  more recall) so a regression in either tier's math shows up as a
  recall cliff, not a silent quality loss.
- precision/recall of the MinHash-LSH banding tier against exact
  shingle Jaccard on a seeded corpus with constructed near-duplicates.
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from tests.conftest import SF_SMOKE

K = 10


def _topk_sets(rows):
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.probe_id, set()).add(r.vec_id)
    return out


@pytest.fixture(scope="module")
def ann_fixture(spark):
    emb = scan(spark, SF_SMOKE, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    from artemia_airflow_spark.operators.similarity import cosine_topk

    exact = _topk_sets(
        cosine_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id", k=K
        ).collect()
    )
    return corpus, probes, exact


def _mean_recall(approx_rows, exact: dict[int, set[int]]) -> float:
    got = _topk_sets(approx_rows)
    return sum(
        len(exact[p] & got.get(p, set())) / len(exact[p]) for p in exact
    ) / len(exact)


def test_lsh_recall_floor_and_tuning_direction(spark, ann_fixture):
    """SRP-LSH at bits=4/tables=16 holds mean recall@10 >= 0.75 on the
    adversarial random fixture (measured 0.80; 0.54 at 8 tables), and
    adding tables must not hurt recall vs the 8-table config (the
    multi-probe knob works in the documented direction)."""
    from artemia_airflow_spark.operators.similarity import lsh_topk

    corpus, probes, exact = ann_fixture
    r16 = _mean_recall(
        lsh_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, bits=4, tables=16,
        ).collect(),
        exact,
    )
    r8 = _mean_recall(
        lsh_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, bits=4, tables=8,
        ).collect(),
        exact,
    )
    assert r16 >= 0.75, f"lsh b4/t16 mean recall@10 = {r16}"
    assert r16 >= r8 - 0.05, (r16, r8)


def test_ivf_recall_floor_and_tuning_direction(spark, ann_fixture):
    """IVF probing 8 of 16 cells holds mean recall@10 >= 0.75 on the
    adversarial random fixture (measured 0.82), and probing more cells
    must not hurt recall vs the 3-cell default."""
    from artemia_airflow_spark.operators.similarity import ivf_topk

    corpus, probes, exact = ann_fixture
    r8 = _mean_recall(
        ivf_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, n_probe_cells=8,
        ).collect(),
        exact,
    )
    r3 = _mean_recall(
        ivf_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, n_probe_cells=3,
        ).collect(),
        exact,
    )
    assert r8 >= 0.75, f"ivf 8/16 mean recall@10 = {r8}"
    assert r8 >= r3 - 0.05, (r8, r3)


# ---------------------------------------------------------------------------
# MinHash banding vs exact Jaccard
# ---------------------------------------------------------------------------

_SHINGLE = 3


def _shingles(words: list[str]) -> set[str]:
    n = max(len(words) - (_SHINGLE - 1), 1)
    return {" ".join(words[i : i + _SHINGLE]) for i in range(n)}


def _jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


def test_minhash_banding_precision_recall(spark):
    """MinHash-LSH (64 hashes / 8 bands, collision threshold s*~0.77)
    on a seeded corpus of 40 bases + 30 one-word-edit near-dups:
    >=90% of pairs with exact shingle Jaccard >= 0.8 must land in a
    shared band bucket (theory: per-pair collision prob >= 0.97 at
    J=0.8), and low-similarity pairs (J < 0.3) must stay out of the
    candidate set (banding precision — <= 5% of candidates)."""
    from artemia_airflow_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(500)]
    docs: list[tuple[int, list[str]]] = []
    for i in range(40):
        docs.append((i, [rng.choice(vocab) for _ in range(60)]))
    # 30 near-dups: copy a base, swap one word (J on 3-shingles ~0.86)
    for j in range(30):
        base = list(docs[j][1])
        base[rng.randrange(len(base))] = rng.choice(vocab)
        docs.append((100 + j, base))

    sh = {i: _shingles(w) for i, w in docs}
    ids = sorted(sh)
    true_pairs = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if _jaccard(sh[a], sh[b]) >= 0.8
    }
    assert len(true_pairs) >= 25  # the construction really makes near-dups

    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in docs], "doc_id long, text string"
    )
    cand_rows = minhash_lsh_candidates(
        minhash_signatures(df, "text"), "doc_id"
    ).collect()
    buckets: dict[tuple[int, int], set[int]] = {}
    for r in cand_rows:
        buckets.setdefault((r.band, r.band_hash), set()).add(r.doc_id)
    cand_pairs = {
        (a, b)
        for members in buckets.values()
        for a in members
        for b in members
        if a < b
    }

    recall = len(cand_pairs & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"banding recall on J>=0.8 pairs = {recall}"

    low_sim = [p for p in cand_pairs if _jaccard(sh[p[0]], sh[p[1]]) < 0.3]
    fp_rate = len(low_sim) / max(len(cand_pairs), 1)
    assert fp_rate <= 0.05, f"{len(low_sim)}/{len(cand_pairs)} candidates have J<0.3"


def test_lsh_candidate_pair_count_pinned(spark):
    """Cost pin for q_dedup_ngram (VERDICT r5 item 3): the LSH candidate
    join at sf0.01 with the q_dedup_ngram defaults (64 hashes / 8 bands)
    produces exactly 28 distinct candidate pairs.  The verify stage's
    cost is proportional to this count, so any banding/signature change
    that widens the candidate set (the suspected cause of r5's
    committed-bench doubling) must surface here as an explicit diff,
    not as a silent bench drift."""
    import pyspark.sql.functions as F

    from artemia_airflow_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from tests.conftest import SF_ORACLE

    df = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    cand = minhash_lsh_candidates(
        minhash_signatures(df, "text", num_hashes=64), "doc_id",
        num_hashes=64, bands=8,
    )
    a, b = cand.alias("a"), cand.alias("b")
    n_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .count()
    )
    assert n_pairs == 28, f"LSH candidate set changed: {n_pairs} pairs (was 28)"


def test_dedup_clusters_star_edges_give_clique_labels(spark):
    """``dedup_clusters`` builds bucket-star edges (bucket min -> member).
    At sf0.01 its cluster ids equal the component-min labels of the
    clique edges (every same-bucket pair), built here with the band
    self-join; documents on no edge are their own cluster."""
    from artemia_airflow_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from tests.conftest import SF_ORACLE

    df = scan(spark, SF_ORACLE, "documents")
    cand = minhash_lsh_candidates(
        minhash_signatures(df, "text", num_hashes=64), "doc_id",
        num_hashes=64, bands=8,
    )
    a, b = cand.alias("a"), cand.alias("b")
    clique = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    want = {r.node: r.label for r in connected_components(clique).collect()}
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(df, "text", "doc_id").collect()}
    assert len(want) > len(set(want.values())), "no multi-document cluster"
    assert {n: got[n] for n in want} == want
    assert all(c == n for n, c in got.items() if n not in want)
    assert len(got) == df.count()


def test_bloom_fpp_tracks_theory(spark):
    """B81 accuracy floor: the Bloom decontamination tier's empirical
    false-positive rate on a DISJOINT probe corpus must stay within
    ~2.5x of the theoretical (1 - e^(-kn/m))^k bound (loose factor for
    double-hashing positional correlation + small-sample noise).  With
    the test sizing (n~6k grams, m=2^17, k=5) theory gives ~7.6% —
    small enough m to make FPP measurable, large enough that the test
    is stable."""
    import math

    from artemia_airflow_spark.operators.curation import decontaminate_bloom

    # disjoint vocabularies -> every bloom hit on train is a false positive
    eval_docs = spark.createDataFrame(
        [(i, " ".join(f"ev{i}_{j}" for j in range(40))) for i in range(150)],
        "doc_id long, text string",
    )
    train_docs = spark.createDataFrame(
        [(i, " ".join(f"tr{i}_{j}" for j in range(40))) for i in range(400)],
        "doc_id long, text string",
    )
    num_bits = 1 << 17
    k = 5
    flagged = decontaminate_bloom(
        train_docs, eval_docs, "text", "doc_id", n=4, num_bits=num_bits, k=k
    )
    n_flagged = flagged.filter("contaminated_bloom").count()

    n_grams = 150 * 37  # 40 tokens -> 37 4-grams per doc
    p_bit = 1.0 - math.exp(-k * n_grams / num_bits)
    p_gram_fp = p_bit**k
    # a doc is flagged if ANY of its 37 grams false-positives
    p_doc_fp = 1.0 - (1.0 - p_gram_fp) ** 37
    frac = n_flagged / 400
    assert frac <= max(2.5 * p_doc_fp, 0.02), (
        f"bloom FPP {frac:.4f} vs theory {p_doc_fp:.4f}"
    )


def test_histogram_sketch_merge_exact_and_error_bounded(spark):
    """B92 guarantees: (1) MERGEABILITY — partials built from two
    disjoint halves and folded equal partials built from the whole
    input (exact integer counts, any partitioning); (2) ACCURACY — the
    sketch's p50/p95 estimates sit within one bin width of the exact
    percentile for in-domain data."""
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.sketches import (
        histogram_partials,
        merge_histogram_partials,
        quantile_estimate,
    )
    from tests.conftest import SF_ORACLE

    LO, HI, BINS = 0.0, 600_000.0, 256
    o = scan(spark, SF_ORACLE, "orders")
    groups = ["o_orderpriority"]

    whole = histogram_partials(o, "o_totalprice", groups, lo=LO, hi=HI, bins=BINS)
    h1 = histogram_partials(
        o.filter("o_orderkey % 2 = 0"), "o_totalprice", groups, lo=LO, hi=HI, bins=BINS
    )
    h2 = histogram_partials(
        o.filter("o_orderkey % 2 = 1"), "o_totalprice", groups, lo=LO, hi=HI, bins=BINS
    )
    merged = merge_histogram_partials(h1, h2, groups)
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b  # bit-exact merge

    width = (HI - LO) / BINS
    for q in (0.5, 0.95):
        est = {
            r.o_orderpriority: r.quantile_est
            for r in quantile_estimate(whole, groups, q, lo=LO, hi=HI, bins=BINS).collect()
        }
        exact = {
            r.o_orderpriority: r.p
            for r in o.groupBy("o_orderpriority")
            .agg(F.expr(f"percentile(o_totalprice, {q})").alias("p"))
            .collect()
        }
        for g in exact:
            assert abs(est[g] - exact[g]) <= width + 1e-9, (
                q, g, est[g], exact[g], width
            )


def test_histogram_sketch_excludes_nulls(spark):
    """Code-review regression (r6): NULL values must be excluded from
    the histogram partials (SQL percentile semantics) — Spark's
    null-skipping greatest() used to bin them at the lo edge, dragging
    estimates toward lo on nullable columns."""
    from artemia_airflow_spark.operators.sketches import (
        histogram_partials,
        quantile_estimate,
    )

    df = spark.createDataFrame(
        [("g", 500_000.0)] * 10 + [("g", None)] * 10,
        "grp string, v double",
    )
    part = histogram_partials(df, "v", ["grp"], lo=0.0, hi=600_000.0, bins=60)
    assert part.agg(F.sum("cnt")).collect()[0][0] == 10  # NULLs not counted
    est = quantile_estimate(part, ["grp"], 0.5, lo=0.0, hi=600_000.0, bins=60)
    v = est.collect()[0].quantile_est
    assert abs(v - 500_000.0) <= 10_000.0 + 1e-9  # one bin width, not ~0


def test_histogram_extreme_outlier_clamps_to_top_bin(spark):
    """ADVICE r6: clamp must happen in LONG before the int cast — an
    out-of-domain value with |v-lo| > 2^31*width used to wrap negative
    under the non-ANSI int cast and land in bin 0 (skewing estimates
    toward lo) instead of the documented top edge bin."""
    from artemia_airflow_spark.operators.sketches import histogram_partials

    df = spark.createDataFrame(
        [("g", 1e18), ("g", -1e18), ("g", 0.5)], "grp string, v double"
    )
    rows = {
        r.bin: r.cnt
        for r in histogram_partials(df, "v", ["grp"], lo=0.0, hi=1.0, bins=4).collect()
    }
    assert rows == {3: 1, 0: 1, 2: 1}  # huge + -> top bin, huge - -> bin 0


def test_histogram_stacked_matches_single_metric_bit_exact(spark):
    """Round-12 single-scan rework (VERDICT r11 #1): the stacked
    multi-metric sketch must be a pure plan optimization — partials and
    quantile estimates BIT-IDENTICAL to the per-metric single-scan
    form, including per-metric NULL exclusion (a NULL in one metric's
    column must not drop the row's other metrics)."""
    from artemia_airflow_spark.operators.sketches import (
        MetricSpec,
        histogram_partials,
        histogram_partials_stacked,
        quantile_estimate,
        quantile_estimates_stacked,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 100.0), ("a", 2.0, None), ("a", None, 300.0),
         ("b", 63.9, 900.0), ("b", 0.0, 50.0), ("b", 7.5, None)],
        "grp string, x double, y double",
    )
    specs = [
        MetricSpec("x", "x", 0.5, 0.0, 64.0, 16),
        MetricSpec("y", "y", 0.9, 0.0, 1024.0, 16),
    ]
    stacked = histogram_partials_stacked(df, specs, ["grp"])
    got = sorted(map(tuple, stacked.collect()))
    want = sorted(
        (r.grp, s.metric, r.bin, r.cnt)
        for s in specs
        for r in histogram_partials(
            df, s.value_col, ["grp"], lo=s.lo, hi=s.hi, bins=s.bins
        ).collect()
    )
    assert got == want

    est = {
        (r.grp, r.metric): r.quantile_est
        for r in quantile_estimates_stacked(stacked, specs, ["grp"]).collect()
    }
    for s in specs:
        single = {
            r.grp: r.quantile_est
            for r in quantile_estimate(
                histogram_partials(df, s.value_col, ["grp"],
                                   lo=s.lo, hi=s.hi, bins=s.bins),
                ["grp"], s.q, lo=s.lo, hi=s.hi, bins=s.bins,
            ).collect()
        }
        for g, v in single.items():
            assert est[(g, s.metric)] == v, (s.metric, g, est[(g, s.metric)], v)


def test_validation_report_empty_rules_and_bad_names(spark):
    """r7 review fixes: an empty ruleset is an empty report (stack(0)
    is a parse error), and quote-bearing rule names are rejected
    instead of being interpolated into selectExpr."""
    from artemia_airflow_spark.operators.sketches import validation_report

    df = spark.createDataFrame([(1,)], "x long")
    empty = validation_report(df, {})
    assert empty.columns == ["rule", "n_violations", "n_rows"]
    assert empty.count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="identifier-safe"):
        validation_report(df, {"bad'name": "x > 0"})

    # ADVICE r7: total_col is interpolated verbatim too — hold it to
    # the same identifier contract and keep it off the fixed columns
    with _pytest.raises(ValueError, match="identifier-safe"):
        validation_report(df, {"ok": "x > 0"}, total_col="count(*)")
    with _pytest.raises(ValueError, match="collides"):
        validation_report(df, {"ok": "x > 0"}, total_col="rule")
    with _pytest.raises(ValueError, match="collides"):
        validation_report(df, {}, total_col="n_violations")
    # a legal custom total_col still works end-to-end
    custom = validation_report(df, {"pos": "x > 0"}, total_col="total")
    assert custom.columns == ["rule", "n_violations", "total"]
    assert custom.collect()[0].total == 1


def test_ngram_pairs_bucket_guard_degrades_linearly(spark):
    """r8 review: collect_set materializes an LSH bucket as one
    non-spillable aggregation-row array, so buckets over ``max_bucket``
    must degrade to LINEAR bucket-min pairing instead of quadratic
    listing (OOM shape).  Construct near-identical docs that share
    every band: with a tiny max_bucket the pair set collapses to
    (min-id, other) edges; small buckets keep full quadratic listing
    and identical jaccard values either way."""
    from artemia_airflow_spark.operators.dedup import ngram_jaccard_pairs

    # 6 near-identical docs (one shared bucket of size 6) + 2 unrelated
    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, base) for i in range(6)]
    rows += [(10, " ".join(f"aaa{i}" for i in range(40))),
             (11, " ".join(f"bbb{i}" for i in range(40)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    full = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.8)
    got_full = {(r.id_a, r.id_b) for r in full.collect()}
    quad = {(a, b) for a in range(6) for b in range(6) if a < b}
    assert got_full == quad  # default cap: full quadratic listing

    with pytest.warns(UserWarning, match="degraded to linear"):
        guarded = ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.8, max_bucket=3
        )
    got = {(r.id_a, r.id_b) for r in guarded.collect()}
    assert got == {(0, b) for b in range(1, 6)}, got  # linear, min-rooted
    # identical docs: jaccard 1.0 on every surviving edge
    assert all(r.jaccard == 1.0 for r in guarded.collect())


def test_ngram_pairs_match_python_banding_differential(spark):
    """Differential pin for q_dedup_ngram's engine: on a seeded corpus,
    the operator's output must EQUAL {LSH-candidate pairs with exact
    shingle Jaccard >= threshold} computed by an independent pure-
    Python reimplementation of the same banding + shingle math —
    catching any drift in the pair-generation rewrite (r7/r8) or the
    signature kernel, not just recall floors."""
    import zlib

    import numpy as np

    from artemia_airflow_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(13)
    vocab = [f"w{i:03d}" for i in range(120)]
    docs: list[tuple[int, list[str]]] = []
    for i in range(25):
        docs.append((i, [rng.choice(vocab) for _ in range(40)]))
    for j in range(20):  # near-dups with 1-2 edits
        base = list(docs[j][1])
        for _ in range(rng.choice([1, 2])):
            base[rng.randrange(len(base))] = rng.choice(vocab)
        docs.append((200 + j, base))

    # python twin of minhash_signatures (dedup.py: crc32-based Lehmer)
    num_hashes, bands, rpb, M = 64, 8, 8, (1 << 31) - 1
    a_v = (2 * np.arange(num_hashes, dtype="int64") + 1).reshape(-1, 1)
    b_v = (7919 * (np.arange(num_hashes, dtype="int64") + 1)).reshape(-1, 1)

    def sig(words: list[str]) -> list[int]:
        n = max(len(words) - 2, 1)
        hs = np.array(
            [zlib.crc32(" ".join(words[i : i + 3]).encode()) for i in range(n)],
            dtype="int64",
        ) % M
        return ((a_v * hs + b_v) % M).min(axis=1).tolist()

    buckets: dict[tuple[int, str], set[int]] = {}
    for i, words in docs:
        s = sig(words)
        for b in range(bands):
            key = ",".join(str(x) for x in s[b * rpb : (b + 1) * rpb])
            buckets.setdefault((b, key), set()).add(i)
    cand = {
        (x, y)
        for members in buckets.values()
        for x in members
        for y in members
        if x < y
    }
    sh = {i: _shingles(w) for i, w in docs}
    want = {(x, y) for x, y in cand if _jaccard(sh[x], sh[y]) >= 0.8}
    assert want, "seeded corpus produced no verified pairs"

    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in docs], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.8).collect()
    }
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])


def test_pq_recall_floor_and_rerank_tuning_direction(spark, ann_fixture):
    """PQ (8 subspaces x 16 codes) with a 50-candidate exact rerank
    holds mean recall@10 >= 0.7 on the adversarial random fixture, and
    widening the rerank pool must not hurt recall (the ADC-candidates
    knob works in the documented direction).  Random-gaussian vectors
    are PQ's worst case (no subspace structure to quantize), so the
    floor is deliberately below the LSH/IVF floors."""
    from artemia_airflow_spark.operators.similarity import pq_topk

    corpus, probes, exact = ann_fixture
    r50 = _mean_recall(
        pq_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, rerank_candidates=50,
        ).collect(),
        exact,
    )
    r150 = _mean_recall(
        pq_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, rerank_candidates=150,
        ).collect(),
        exact,
    )
    assert r50 >= 0.7, f"pq m8/c16/r50 mean recall@10 = {r50}"
    assert r150 >= r50 - 0.05, (r150, r50)


def test_pq_partial_cut_matches_naive(spark):
    """The two-phase candidate cut (r10, VERDICT r9 #2) returns
    EXACTLY the candidate set of the naive per-probe global window
    over FINITE scores — on a many-partition relation with score ties,
    so the partial/final interaction and the (score desc, id asc)
    tiebreak are exercised.  NaN scores are in the input and must be
    EXCLUDED by the cut (the documented contract: NaN cannot
    round-trip the pandas->Arrow boundary and a corrupt embedding
    must never outrank real candidates — r10 review)."""
    from pyspark.sql import Window

    from artemia_airflow_spark.operators.similarity import (
        _adc_candidate_cut,
    )

    random.seed(11)
    rows = [
        (p, i, float(random.choice(
            [0.1, 0.25, 0.25, 0.5, 0.9, float("nan")]
        )))
        for p in range(4)
        for i in range(300)
    ]
    scored = spark.createDataFrame(
        rows, "probe_id int, vec_id int, __adc double"
    ).repartition(16)
    got = {
        (r.probe_id, r.vec_id)
        for r in _adc_candidate_cut(
            scored, probe_id_col="probe_id", id_col="vec_id", r=25
        ).collect()
    }
    w = Window.partitionBy("probe_id").orderBy(
        F.col("__adc").desc(), F.col("vec_id")
    )
    want = {
        (r.probe_id, r.vec_id)
        for r in scored.filter(~F.isnan("__adc")).withColumn(
            "__r", F.row_number().over(w)
        ).filter(F.col("__r") <= 25).collect()
    }
    assert got == want
    assert len(want) == 4 * 25


def test_pq_encode_shape_and_determinism(spark, ann_fixture):
    """PQ codes are length-m int arrays in [0, n_codes); same seed =>
    identical codebooks => identical codes."""
    from artemia_airflow_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    corpus, _, _ = ann_fixture
    b1 = pq_codebooks(corpus, vec_col="embedding", m_subspaces=8,
                      n_codes=16, seed=7)
    b2 = pq_codebooks(corpus, vec_col="embedding", m_subspaces=8,
                      n_codes=16, seed=7)
    assert (b1 == b2).all()
    codes = pq_encode(corpus.limit(20), b1, vec_col="embedding").select(
        "__pq_code"
    ).collect()
    for r in codes:
        assert len(r[0]) == 8
        assert all(0 <= c < 16 for c in r[0])


def test_kmv_estimator_accuracy(spark):
    """KMV (k=64) estimate (k-1)/frac(kth_hash) tracks the exact
    distinct count within the sketch's statistical band (~1/sqrt(k) =
    12.5% std; assert 3 sigma) for groups with >= k distinct values,
    and degrades to EXACT below k (kth_hash is then the max hash and
    n_exact is authoritative)."""
    from artemia_airflow_spark.operators.sketches import kmv_distinct_state

    e = scan(spark, SF_SMOKE, "events")
    rows = kmv_distinct_state(e, "user_id", ["event_type"], k=64).collect()
    assert rows
    for r in rows:
        if r.n_exact >= 64:
            frac = int(r.kth_hash[:13], 16) / 16**13
            est = 63 / frac
            assert abs(est - r.n_exact) / r.n_exact < 0.375, (
                r.event_type, r.n_exact, est,
            )


def test_ivf_pq_recall_floor_and_cell_tuning_direction(spark, ann_fixture):
    """IVF-PQ probing 8 of 16 cells with a 50-candidate rerank holds
    mean recall@10 >= 0.6 on the adversarial random fixture (both
    pruning mechanisms stack their losses on structureless gaussians —
    the deliberately lowest floor of the four tiers), and probing more
    cells must not hurt recall vs the 3-cell default."""
    from artemia_airflow_spark.operators.similarity import ivf_pq_topk

    corpus, probes, exact = ann_fixture
    r8 = _mean_recall(
        ivf_pq_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, n_probe_cells=8,
        ).collect(),
        exact,
    )
    r3 = _mean_recall(
        ivf_pq_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id",
            k=K, n_probe_cells=3,
        ).collect(),
        exact,
    )
    assert r8 >= 0.6, f"ivf-pq c8/r50 mean recall@10 = {r8}"
    assert r8 >= r3 - 0.05, (r8, r3)


# ---- Count-Min Sketch laws ------------------------------------------------


def test_cms_never_underestimates_and_is_tight_on_fixture(spark):
    """CMS point estimates are >= exact by construction (counters only
    ever include the key's own occurrences plus collisions); on the
    fixture corpus the top-token over-estimate stays within the
    eps*N = (e/width)*N classical bound with room to spare."""
    import math

    from pyspark.sql import functions as F

    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.sketches import cms_estimate, cms_state
    from tests.conftest import SF_ORACLE

    d = scan(spark, SF_ORACLE, "documents")
    toks = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    n_total = toks.count()
    sketch = cms_state(toks, "token")
    top = (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
        .orderBy(F.col("exact").desc(), "token").limit(50)
    )
    est = cms_estimate(sketch, top.select("token"), "token")
    rows = top.join(est, "token").collect()
    # the fixture corpus has a small closed vocabulary (31 tokens at
    # sf0.01) — every top token must come back with an estimate
    assert len(rows) == min(50, toks.select("token").distinct().count())
    bound = math.e / 256 * n_total
    for r in rows:
        assert r.cms_est >= r.exact, (r.token, r.cms_est, r.exact)
        assert r.cms_est - r.exact <= bound, (r.token, r.cms_est - r.exact, bound)


def test_cms_state_from_counts_equals_occurrences(spark):
    """The pre-aggregated-counts seam (r17b) is cell-identical to
    inserting raw occurrences — counter additivity, pinned so the
    heavy-hitters face's shared token-count aggregate can never drift
    from the occurrence-insert definition."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.sketches import (
        cms_state,
        cms_state_from_counts,
    )
    from tests.conftest import SF_ORACLE

    d = scan(spark, SF_ORACLE, "documents")
    toks = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    occ = sorted(tuple(r) for r in cms_state(toks, "token").collect())
    pre = sorted(
        tuple(r)
        for r in cms_state_from_counts(counts, "token", "c").collect()
    )
    assert occ == pre


def test_cms_merge_equals_whole(spark):
    """Counter additivity: cms(A) ⊕ cms(B) must equal cms(A ∪ B)
    cell-for-cell — the property that makes per-shard builds safe."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.sketches import cms_merge, cms_state
    from tests.conftest import SF_ORACLE

    d = scan(spark, SF_ORACLE, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    )
    a = toks.filter(F.col("doc_id") % 2 == 0)
    b = toks.filter(F.col("doc_id") % 2 == 1)
    merged = sorted(
        tuple(r) for r in cms_merge(cms_state(a, "token"), cms_state(b, "token")).collect()
    )
    whole = sorted(tuple(r) for r in cms_state(toks, "token").collect())
    assert merged == whole


def test_cms_probe_of_unseen_key_returns_zero_or_collision(spark):
    """A key never inserted returns EXACTLY one row (empty cells count
    as 0 via the left join): with only 13 insertions over 256 buckets
    at depth 4, at least one of the unseen key's cells is empty with
    overwhelming probability, so the min-estimate reads 0 — and can
    never exceed the most-loaded cell."""
    from artemia_airflow_spark.operators.sketches import cms_estimate, cms_state

    base = spark.createDataFrame([("a",)] * 10 + [("b",)] * 3, ["v"])
    sk = cms_state(base, "v")
    probe = spark.createDataFrame([("zzz-unseen",)], ["v"])
    rows = cms_estimate(sk, probe, "v").collect()
    assert len(rows) == 1
    assert 0 <= rows[0].cms_est <= 13


def test_cms_estimate_excludes_null_keys(spark):
    """NULL probe keys are excluded (mirroring insert-side exclusion)
    instead of hashing the bare salt string into phantom buckets."""
    from artemia_airflow_spark.operators.sketches import cms_estimate, cms_state

    base = spark.createDataFrame([("a",)] * 5, ["v"])
    sk = cms_state(base, "v")
    probe = spark.createDataFrame([(None,), ("a",)], "v STRING")
    rows = cms_estimate(sk, probe, "v").collect()
    assert len(rows) == 1 and rows[0].v == "a" and rows[0].cms_est >= 5


def test_matryoshka_topk_overlap_floor(spark):
    """MRL truncation quality floor on the gaussian fixture (the
    truncation-adversarial case — i.i.d. dims carry equal signal, so
    this is the WORST case; MRL-trained embeddings concentrate signal
    in the prefix): 48-of-64 dims must recover >= 30% of the exact
    top-10 slots over 5 probes (measured 52%), and the truncated
    vectors feed the standard cosine tier unchanged."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.similarity import (
        cosine_topk,
        matryoshka_renorm,
    )
    from tests.conftest import SF_SMOKE

    emb = scan(spark, SF_SMOKE, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r.probe_id, r.vec_id)
        for r in cosine_topk(
            corpus, probes, id_col="vec_id", probe_id_col="probe_id", k=10
        ).collect()
    }
    approx = {
        (r.probe_id, r.vec_id)
        for r in cosine_topk(
            matryoshka_renorm(corpus, dim=48),
            matryoshka_renorm(probes, vec_col="probe_vec", dim=48),
            id_col="vec_id", probe_id_col="probe_id", k=10,
        ).collect()
    }
    assert len(approx & exact) >= 15, (len(approx & exact), len(exact))
