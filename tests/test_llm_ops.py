"""Semantic unit tests for the LLM-pipeline operators added beyond the
declared-query surface: embedding-cosine near-dup (exact kernel,
blocking, LSH recall), IVF ANN, and the multimodal media stages."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_neardup_lsh,
)
from artemia_airflow_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
    resize_media,
    sample_frames,
)
from artemia_airflow_spark.operators.similarity import cosine_topk, ivf_topk
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return scan(spark, SF_SMOKE, "embeddings").cache()


def _pair_set(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_embedding_pairs_symmetric_free_and_thresholded(emb):
    rows = embedding_cosine_pairs(emb, "vec_id", threshold=0.4).collect()
    assert rows, "fixture should contain pairs above 0.4"
    for r in rows:
        assert r.id_a < r.id_b
        assert r.cos_sim >= 0.4


def test_embedding_pairs_blocking_is_subset(emb):
    """Label blocking must yield exactly the same-label subset of the
    unblocked pairs (blocking prunes comparisons, never adds)."""
    full = _pair_set(embedding_cosine_pairs(emb, "vec_id", threshold=0.3))
    blocked = _pair_set(
        embedding_cosine_pairs(emb, "vec_id", threshold=0.3, blocking_col="label")
    )
    assert blocked <= full
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert blocked == {(a, b) for a, b in full if labels[a] == labels[b]}


def test_embedding_pairs_broadcast_tier_row_cap(emb):
    """The unblocked tier collects to the driver, so it must refuse
    oversized inputs with a clear error instead of OOMing."""
    with pytest.raises(ValueError, match="driver-collect cap"):
        embedding_cosine_pairs(emb, "vec_id", threshold=0.4, max_broadcast_rows=5)


def test_embedding_lsh_recall_is_subset_of_exact(emb):
    """SRP-LSH candidates re-verified by exact cosine: every reported
    pair must be a true pair (no false positives after verify), and
    recall at this corpus size should be non-trivial."""
    exact = _pair_set(embedding_cosine_pairs(emb, "vec_id", threshold=0.35))
    approx = _pair_set(embedding_neardup_lsh(emb, "vec_id", threshold=0.35))
    assert approx <= exact
    assert len(approx) >= len(exact) * 0.2, (len(approx), len(exact))


def test_ivf_topk_overlaps_exact(spark, emb):
    """IVF with 3/16 cells probed should recover a decent fraction of
    the true top-10 — and never report a neighbor that brute force
    ranks outside the corpus (sanity: ids exist, ranks 1..k)."""
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = cosine_topk(corpus, probes, id_col="vec_id", probe_id_col="probe_id", k=10)
    approx = ivf_topk(corpus, probes, id_col="vec_id", probe_id_col="probe_id", k=10)
    e = {(r.probe_id, r.vec_id) for r in exact.collect()}
    a = {(r.probe_id, r.vec_id) for r in approx.collect()}
    assert len(a & e) >= 3  # recall >= 10% across 30 probe-neighbor slots
    ranks = [(r.probe_id, r.rank) for r in approx.collect()]
    assert all(1 <= rk <= 10 for _, rk in ranks)


def _decoded_with_payload(spark, n):
    d = scan(spark, SF_SMOKE, "documents").limit(n)
    media = attach_fake_media(d, "doc_id", "text")
    return decode_media(media).join(media.select("doc_id", "payload"), "doc_id")


def test_resize_media_clamps_and_keeps_aspect(spark):
    enriched = _decoded_with_payload(spark, 50)
    orig = {r.doc_id: (r.width, r.height) for r in enriched.collect()}
    rows = resize_media(
        enriched.select("doc_id", "media_type", "width", "height", "payload"),
        max_side=128,
    ).collect()
    assert rows
    for r in rows:
        assert max(r.width, r.height) <= 128
        ow, oh = orig[r.doc_id]
        if max(ow, oh) <= 128:  # small media must pass through untouched
            assert (r.width, r.height) == (ow, oh)


def test_sample_frames_bounded_and_deterministic(spark):
    videos = _decoded_with_payload(spark, 80).filter(
        F.col("media_type") == "video/mp4"
    )
    f1 = sample_frames(videos, max_frames=4)
    per_doc = f1.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert per_doc and all(1 <= r.n <= 4 for r in per_doc)
    # deterministic: same payload -> same checksums on a second run
    s1 = sorted(map(tuple, f1.collect()))
    s2 = sorted(map(tuple, sample_frames(videos, max_frames=4).collect()))
    assert s1 == s2


def test_salted_join_matches_plain_join(spark):
    """salted_join must be value-equivalent to the plain equi-join and
    spread each key across multiple shards before the shuffle."""
    from artemia_airflow_spark.operators.joins import salted_join

    orders = scan(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    cust = scan(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    right = cust.withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(right, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, right, "o_custkey", salt=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_right_and_full_outer(spark):
    """Right/full outer would emit each unmatched right row salt x
    (one null-extended row per salt replica) — must be rejected."""
    from artemia_airflow_spark.operators.joins import salted_join

    orders = scan(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    right = scan(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(orders, right, "o_custkey", how=how)
    # left-driven shapes stay supported (every output row is driven by a
    # left row, which lives in exactly one shard)
    for how in ("left_semi", "left_anti"):
        got = salted_join(orders, right, "o_custkey", how=how).count()
        want = orders.join(right, "o_custkey", how).count()
        assert got == want


def test_connected_components_long_chain_converges(spark):
    """A 20-node chain (diameter 19) must collapse to ONE component
    within the default 5-round budget: pointer jumping gives O(log D)
    convergence where plain min-exchange would need 19 rounds and
    silently split the chain."""
    from artemia_airflow_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)] + [(100, 101)], "src: long, dst: long"
    )
    # driver_tier=False: this test pins the DISTRIBUTED loop's
    # convergence budget (the driver tier would mask it on a graph
    # this small — r17)
    labels = {
        r.node: r.label
        for r in connected_components(edges, driver_tier=False).collect()
    }
    assert all(labels[i] == 0 for i in range(20))
    assert labels[100] == labels[101] == 100


def test_connected_components_driver_tier_matches_loop(spark):
    """The r17 small-graph driver tier (numpy union-find under the
    bounded-collect cap) must produce EXACTLY the distributed loop's
    labels — same nodes, same component-min labels — on a graph mixing
    a long chain, a star, a triangle with a self-edge, and an isolated
    pair."""
    from artemia_airflow_spark.operators.dedup import connected_components

    rows = (
        [(i, i + 1) for i in range(30, 45)]         # chain
        + [(7, x) for x in (9, 11, 13, 5)]          # star (min=5 via leaf)
        + [(60, 61), (61, 62), (62, 60), (60, 60)]  # triangle + self-edge
        + [(200, 100)]                               # reversed isolated pair
    )
    edges = spark.createDataFrame(rows, "src: long, dst: long")
    fast = {
        r.node: r.label for r in connected_components(edges).collect()
    }
    slow = {
        r.node: r.label
        for r in connected_components(edges, driver_tier=False).collect()
    }
    assert fast == slow
    assert fast[44] == 30 and fast[7] == 5 and fast[62] == 60
    assert fast[200] == fast[100] == 100


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches the per-round lineage truncation to a
    RELIABLE df.checkpoint() (r10, VERDICT r9 #5 — executor-local
    blocks vanish on executor loss at cluster scale): labels must be
    identical to the default path AND the checkpoint directory must
    actually receive RDD checkpoint data."""
    import os

    from artemia_airflow_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)] + [(100, 101)], "src: long, dst: long"
    )
    ckdir = str(tmp_path / "cc_ck")
    labels = {
        r.node: r.label
        for r in connected_components(edges, checkpoint_dir=ckdir).collect()
    }
    assert all(labels[i] == 0 for i in range(20))
    assert labels[100] == labels[101] == 100
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing"


def test_incremental_dedup_reliable_checkpoint(spark, tmp_path):
    """The incremental-dedup survivors pin honors checkpoint_dir: same
    admission decisions, checkpoint data on the fault-tolerant path."""
    import os

    from artemia_airflow_spark.operators.dedup import incremental_exact_dedup

    root = str(tmp_path / "state")
    ckdir = str(tmp_path / "inc_ck")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
        "doc_id: long, text: string",
    )
    s1 = incremental_exact_dedup(
        spark, b1, "text", "doc_id", root, checkpoint_dir=ckdir
    )
    assert {r.doc_id for r in s1.collect()} == {1, 3}
    s1b = incremental_exact_dedup(
        spark, b1, "text", "doc_id", root, checkpoint_dir=ckdir
    )
    assert s1b.count() == 0
    written = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert written, "reliable checkpoint wrote nothing"


def test_hll_union_estimate_close_to_exact(spark):
    """q_agg_hll: daily HLL sketches unioned per event_type must land
    within 5% of the exact distinct-user count (lgK=12 default ~1.6%
    relative error)."""
    from artemia_airflow_spark.operators.relational2 import q_agg_hll

    got = {r.event_type: r.approx_users for r in q_agg_hll(spark, SF_SMOKE).collect()}
    exact = {
        r.event_type: r.n
        for r in scan(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def test_media_neardup_finds_identical_payloads(spark):
    """pHash near-dup: identical payloads (hamming 0) must pair; a
    payload with a very different byte histogram must not pair with
    them at max_hamming=3."""
    from artemia_airflow_spark.operators.multimodal import (
        attach_fake_media,
        media_neardup_pairs,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta " * 4),
        (3, "alpha beta gamma delta epsilon zeta eta theta " * 4),  # dup of 0
        (6, "0123456789" * 40),  # digits only: different histogram
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    media = attach_fake_media(df, "doc_id", "text")  # all ids %3==0 -> image/png
    pairs = media_neardup_pairs(media).collect()
    keyed = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert keyed.get((0, 3)) == 0
    assert (0, 6) not in keyed and (3, 6) not in keyed


def test_embed_centroid_array_face_matches_per_dim_stage(emb):
    """The library (array-native) centroid face must reassemble exactly
    the shared per_dim_means stage's values, in dim order."""
    from artemia_airflow_spark.operators.similarity import (
        embed_centroid,
        per_dim_means,
    )

    flat = {
        (r.label, r.dim): r.mean_v for r in per_dim_means(emb).collect()
    }
    for row in embed_centroid(emb).collect():
        for dim, v in enumerate(row.centroid):
            assert v == pytest.approx(flat[(row.label, dim)], abs=0.0)


def test_semantic_dedup_drops_constructed_near_copies(spark, emb):
    """SemDeDup: inject exact copies of existing vectors under new ids —
    every copy must be dropped (same cell, cosine 1.0), and no original
    loses its min-id survivor status to a copy (copies get higher ids)."""
    from artemia_airflow_spark.operators.dedup import semantic_dedup

    base_max = emb.agg(F.max("vec_id")).collect()[0][0]
    copies = emb.limit(10).select(
        (F.col("vec_id") + F.lit(base_max)).alias("vec_id"),
        "embedding",
        "label",
    )
    corpus = emb.unionByName(copies)
    kept = semantic_dedup(corpus, "vec_id", "embedding", threshold=0.999)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    copy_ids = {r.vec_id for r in copies.select("vec_id").collect()}
    assert not (kept_ids & copy_ids), "exact copies survived semantic dedup"
    # survivors are a subset of the corpus and nonempty
    assert kept_ids and kept_ids <= {r.vec_id for r in corpus.select("vec_id").collect()}


def test_chunk_documents_boundaries(spark):
    """Chunking invariants: short doc -> 1 chunk; exact-window doc -> 1
    chunk; every token index covered; adjacent chunks share exactly
    `overlap` tokens except a clipped tail; reassembly preserves the
    token stream."""
    import pytest as _pytest

    from artemia_airflow_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(5))),     # short: 1 chunk
            (2, " ".join(f"t{i}" for i in range(10))),    # exact window
            (3, " ".join(f"t{i}" for i in range(23))),    # 3 chunks + tail
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "text", "doc_id", max_tokens=10, overlap=2)
    rows = sorted(
        (r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text.split(" "))
        for r in out.collect()
    )
    by_doc = {}
    for d, c, n, toks in rows:
        by_doc.setdefault(d, []).append((c, n, toks))
    assert len(by_doc[1]) == 1 and by_doc[1][0][1] == 5
    assert len(by_doc[2]) == 1 and by_doc[2][0][1] == 10
    # doc 3: stride 8 -> starts 0, 8, 16 -> sizes 10, 10, 7
    assert [(c, n) for c, n, _ in by_doc[3]] == [(0, 10), (1, 10), (2, 7)]
    # overlap: chunk k's last 2 tokens == chunk k+1's first 2
    c0, c1, c2 = (t for _, _, t in by_doc[3])
    assert c0[-2:] == c1[:2] and c1[-2:] == c2[:2]
    # full coverage: de-overlapped reassembly is the original stream
    reassembled = c0 + c1[2:] + c2[2:]
    assert reassembled == [f"t{i}" for i in range(23)]
    with _pytest.raises(ValueError):
        chunk_documents(docs, "text", "doc_id", max_tokens=8, overlap=8)


def test_incremental_exact_dedup_state_and_replay(spark, tmp_path):
    """Incremental dedup: batch-2 rows duplicating batch 1 (or earlier
    batch-2 rows) are dropped; the state grows by exactly the admitted
    hashes; replaying an already-committed batch yields ZERO survivors
    (at-most-once emission across retries)."""
    from artemia_airflow_spark.operators.dedup import incremental_exact_dedup
    from artemia_airflow_spark.sources.txtable import TxTable

    root = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "ALPHA   beta ")],
        "doc_id long, text string",
    )
    s1 = incremental_exact_dedup(spark, b1, "text", "doc_id", root)
    assert sorted(r.doc_id for r in s1.collect()) == [1, 2]  # 3 dups 1
    assert TxTable(spark, root).snapshot().count() == 2

    b2 = spark.createDataFrame(
        [(10, "gamma"), (11, "delta"), (12, "delta"), (13, "epsilon")],
        "doc_id long, text string",
    )
    s2 = incremental_exact_dedup(spark, b2, "text", "doc_id", root)
    # 10 dups state('gamma'); 12 dups 11 intra-batch
    assert sorted(r.doc_id for r in s2.collect()) == [11, 13]
    assert TxTable(spark, root).snapshot().count() == 4

    # replay batch 2: every hash already committed -> nothing emitted,
    # state unchanged AND no empty commit published (r9 review)
    v_before = TxTable(spark, root).version()
    s2b = incremental_exact_dedup(spark, b2, "text", "doc_id", root)
    assert s2b.count() == 0
    assert TxTable(spark, root).snapshot().count() == 4
    assert TxTable(spark, root).version() == v_before

    # NULL text hashes like empty text: admitted once, replay-safe
    b3 = spark.createDataFrame([(20, None), (21, None)],
                               "doc_id long, text string")
    s3 = incremental_exact_dedup(spark, b3, "text", "doc_id", root)
    assert [r.doc_id for r in s3.collect()] == [20]
    s3b = incremental_exact_dedup(spark, b3, "text", "doc_id", root)
    assert s3b.count() == 0


def test_incremental_minhash_dedup_state_and_replay(spark, tmp_path):
    """Incremental near-dup: a batch-2 doc near-identical to admitted
    batch-1 content is dropped (bucket collision against the state);
    novel content survives and its buckets commit; replaying a
    committed batch emits nothing."""
    from artemia_airflow_spark.operators.dedup import incremental_minhash_dedup
    from artemia_airflow_spark.sources.txtable import TxTable

    root = str(tmp_path / "mh_state")
    base = "the quick brown fox jumps over the lazy dog " * 4
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely " * 5)],
        "doc_id long, text string",
    )
    s1 = incremental_minhash_dedup(spark, b1, "text", "doc_id", root)
    assert sorted(r.doc_id for r in s1.collect()) == [1, 2]
    n_state1 = TxTable(spark, root).snapshot().count()
    assert n_state1 > 0

    b2 = spark.createDataFrame(
        [
            (10, base + "extra"),  # near-dup of admitted doc 1
            (11, "unrelated novel content never seen before " * 5),
        ],
        "doc_id long, text string",
    )
    s2 = incremental_minhash_dedup(spark, b2, "text", "doc_id", root)
    assert sorted(r.doc_id for r in s2.collect()) == [11]
    n_state2 = TxTable(spark, root).snapshot().count()
    assert n_state2 > n_state1

    s2b = incremental_minhash_dedup(spark, b2, "text", "doc_id", root)
    assert s2b.count() == 0
    assert TxTable(spark, root).snapshot().count() == n_state2


def test_incremental_dedup_racing_admitters_never_double_emit(spark, tmp_path):
    """The MERGE-serialized state commit under an actual race: two
    threads admit overlapping content concurrently — either the loser
    raises CommitConflict (emitting nothing durable) or it serialized
    behind the winner and emitted nothing; in no interleaving does the
    same content ship twice."""
    import threading

    from artemia_airflow_spark.operators.dedup import incremental_exact_dedup
    from artemia_airflow_spark.sources.txtable import CommitConflict

    root = str(tmp_path / "race_state")
    # seed the state so both racers take the merge path (not create)
    seed = spark.createDataFrame([(0, "seed content")],
                                 "doc_id long, text string")
    incremental_exact_dedup(spark, seed, "text", "doc_id", root)

    batch = [(i, "contested content") for i in range(1, 3)]
    results: dict[str, list] = {"emitted": [], "conflicts": 0,
                                "errors": []}
    lock = threading.Lock()
    barrier = threading.Barrier(2)

    def run(tid):
        try:
            df = spark.createDataFrame(
                [(doc + 10 * tid, t) for doc, t in batch],
                "doc_id long, text string",
            )
            barrier.wait(timeout=60)  # never hang the suite (r9 review)
            rows = incremental_exact_dedup(
                spark, df, "text", "doc_id", root
            ).collect()
            with lock:
                results["emitted"].extend(r.text for r in rows)
        except CommitConflict:
            with lock:
                results["conflicts"] += 1
        except BaseException as e:  # noqa: BLE001 — surface, not hide
            barrier.abort()
            with lock:
                results["errors"].append(repr(e))

    ts = [threading.Thread(target=run, args=(tid,)) for tid in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not results["errors"], results["errors"]
    # "contested content" ships AT MOST once across both racers, via
    # either conflict-loss or state-serialization
    assert results["emitted"].count("contested content") <= 1, results
    assert results["emitted"].count("contested content") + results[
        "conflicts"
    ] >= 1, results


def test_fuzzy_join_exact_recall_vs_brute_force(spark):
    """Deletion-variant blocking has EXACT recall: fuzzy_join at k=1
    and k=2 must return precisely the pairs a brute-force levenshtein
    cross join finds — on a typo-heavy fixture with inserts, deletes,
    substitutions, and transpositions."""
    import itertools

    from pyspark.sql import functions as F

    from artemia_airflow_spark.operators.joins import fuzzy_join

    names = [
        "johann sebastian", "johan sebastian", "johann sebastien",
        "johann sebstian", "johnann sebastian", "ohann sebastian",
        "johann sabastien", "completely different", "different completely",
        "jahann sebastien",
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string")

    def ed(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for k in (1, 2):
        want = {
            (i, j, ed(a, b))
            for (i, a), (j, b) in itertools.combinations(rows, 2)
            if ed(a, b) <= k
        }
        # the natural same-schema call shape: identical column names
        # on both sides (r10 review crash repro) + antisymmetric dedup
        got = {
            (r.id_l, r.id_r, r.edit_distance)
            for r in fuzzy_join(
                df, df, left_col="name", right_col="name",
                left_id="id", right_id="id", max_edits=k,
                antisymmetric=True,
            ).collect()
        }
        assert got == want, (k, sorted(want - got), sorted(got - want))


def test_sq8_packed_roundtrip_matches_exploded(emb):
    """quantize_embeddings_sq8(packed=True) must emit BIT-IDENTICAL
    codes to the exploded oracle face — packed as a BINARY column of
    exactly dim bytes per vector (VERDICT r10 #2: the exploded shape
    written to disk is ~20x larger than the floats it compresses) —
    and sq8_unpack must invert the packing exactly."""
    from artemia_airflow_spark.operators.similarity import (
        quantize_embeddings_sq8,
        sq8_unpack,
    )

    exploded = quantize_embeddings_sq8(emb, id_col="vec_id")
    codes, quant = quantize_embeddings_sq8(emb, id_col="vec_id", packed=True)

    dim = len(emb.select("embedding").first()[0])
    assert quant.count() == dim
    sizes = {len(r.codes) for r in codes.collect()}
    assert sizes == {dim}, sizes  # exactly 1 byte per component

    unpacked = {
        r.vec_id: r.q_arr for r in sq8_unpack(codes).collect()
    }
    want: dict[int, list[int]] = {}
    for r in exploded.collect():
        want.setdefault(r.vec_id, [0] * dim)[r.dim] = r.q
    assert unpacked == want

    # quantizer side table carries the same params as the exploded face
    from_exploded = {
        (r.dim, r.vmin, r.vmax)
        for r in exploded.select("dim", "vmin", "vmax").distinct().collect()
    }
    from_packed = {(r.dim, r.vmin, r.vmax) for r in quant.collect()}
    assert from_packed == from_exploded


def test_deletion_variants_length_guard(spark):
    """The C(len,<=k) blowup guard (VERDICT r10 #4): an overlong
    string must fail LOUDLY with the documented message the moment the
    operator executes — not OOM an executor — while strings at exactly
    max_len pass, and a deliberately raised cap admits longer keys."""
    from pyspark.errors import PySparkException

    from artemia_airflow_spark.operators.joins import deletion_variants

    df = spark.createDataFrame(
        [(1, "a" * 64), (2, "key")], "id int, name string"
    )
    ok = deletion_variants(df, "name", "id", max_edits=1)
    assert ok.count() > 0  # boundary length passes

    bad = spark.createDataFrame(
        [(1, "x" * 65)], "id int, name string"
    )
    with pytest.raises(PySparkException, match="exceeds max_len=64"):
        deletion_variants(bad, "name", "id", max_edits=1).count()

    distinct_chars = "".join(chr(0x100 + i) for i in range(65))
    long_ok = spark.createDataFrame(
        [(1, distinct_chars)], "id int, name string"
    )
    raised = deletion_variants(long_ok, "name", "id", max_edits=1, max_len=80)
    assert raised.count() == 66  # len+1 variants at k=1, all distinct


def test_dct_phash_survives_perturbations(spark):
    """The real DCT pHash kernel (r11, VERDICT r10 item 8) detects
    perceptual near-dups the byte-SimHash stub misses: a global
    brightness shift rewrites EVERY payload byte (stub distance large)
    but only moves the DC coefficient (DCT distance ~0); seeded pixel
    noise lands within a few bits; an unrelated image stays far."""
    import numpy as np

    from artemia_airflow_spark.operators.multimodal import media_phash

    def raw_gray(arr: "np.ndarray") -> bytes:
        h, w = arr.shape
        return (
            int(w).to_bytes(2, "big") + int(h).to_bytes(2, "big")
            + arr.astype("uint8").tobytes()
        )

    y, x = np.mgrid[0:48, 0:64]
    base = (40 + (x * 2 + y) % 160).astype("uint8")       # diagonal gradient
    bright = (base + 10).astype("uint8")                  # no clipping: 40..209
    rng = np.random.RandomState(7)
    noisy = np.clip(
        base.astype(int) + rng.randint(-3, 4, base.shape), 0, 255
    ).astype("uint8")
    other = (40 + (y * 3) % 160).astype("uint8")          # horizontal bands

    rows = [
        (0, raw_gray(base), ("image/png", 0)),
        (1, raw_gray(bright), ("image/png", 0)),
        (2, raw_gray(noisy), ("image/png", 0)),
        (3, raw_gray(other), ("image/png", 0)),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, payload binary, "
        "media_meta struct<media_type:string,declared_len:int>",
    )

    def dists(kernel):
        ph = {r.doc_id: r.phash for r in media_phash(df, kernel=kernel).collect()}
        return {
            k: bin(ph[0] ^ ph[k]).count("1") for k in (1, 2, 3)
        }

    d_dct = dists("dct")
    assert d_dct[1] <= 2, d_dct    # brightness: DC-only move
    assert d_dct[2] <= 6, d_dct    # noise: high-freq, outside the 8x8 block
    assert d_dct[3] >= 10, d_dct   # unrelated image stays far

    # under media_neardup_pairs' default verify threshold (hamming <= 3)
    # the stub MISSES the brightness near-dup the DCT kernel catches
    d_stub = dists("byte-simhash")
    assert d_dct[1] <= 3 < d_stub[1], (d_dct, d_stub)


def test_nonfinite_score_count_observability(spark):
    """ADVICE r10: the rows the two-phase cuts exclude by contract
    (NULL/NaN scores from corrupt embeddings) are countable through
    the observability face instead of silently vanishing."""
    from artemia_airflow_spark.operators.similarity import (
        nonfinite_score_count,
    )

    scored = spark.createDataFrame(
        [(0, 1, 0.5), (0, 2, float("nan")), (0, 3, None), (1, 4, 0.1)],
        "probe_id int, vec_id int, cos_sim double",
    )
    got = nonfinite_score_count(scored, score_col="cos_sim").first()
    assert got.nonfinite_rows == 2


def test_sq8_unpack_empty_binary_is_empty_array(spark):
    """r11 review: sequence(0, -1) is DESCENDING in Spark — an empty
    codes binary must unpack to [], never [null, null]."""
    from artemia_airflow_spark.operators.similarity import sq8_unpack

    df = spark.createDataFrame([(1, b""), (2, b"\x00\xff")],
                               "id int, codes binary")
    got = {r.id: r.q_arr for r in sq8_unpack(df).collect()}
    assert got == {1: [], 2: [0, 255]}


def test_dct_neardup_pipeline_end_to_end(spark):
    """media_neardup_pairs(kernel="dct"): the real perceptual hash
    composed with the banding+verify pipeline reports the
    brightness-shifted near-dup pair the byte kernel misses, and does
    not pair unrelated images."""
    import numpy as np

    from artemia_airflow_spark.operators.multimodal import (
        media_neardup_pairs,
    )

    def raw_gray(arr: "np.ndarray") -> bytes:
        h, w = arr.shape
        return (
            int(w).to_bytes(2, "big") + int(h).to_bytes(2, "big")
            + arr.astype("uint8").tobytes()
        )

    y, x = np.mgrid[0:48, 0:64]
    base = (40 + (x * 2 + y) % 160).astype("uint8")
    bright = (base + 10).astype("uint8")
    other = (40 + (y * 3) % 160).astype("uint8")
    rows = [
        (0, raw_gray(base), ("image/png", 0)),
        (1, raw_gray(bright), ("image/png", 0)),
        (2, raw_gray(other), ("image/png", 0)),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, payload binary, "
        "media_meta struct<media_type:string,declared_len:int>",
    )
    dct_pairs = {
        (r.id_a, r.id_b) for r in media_neardup_pairs(df, kernel="dct").collect()
    }
    assert dct_pairs == {(0, 1)}, dct_pairs
    stub_pairs = {
        (r.id_a, r.id_b) for r in media_neardup_pairs(df).collect()
    }
    assert (0, 1) not in stub_pairs  # the stub misses it (hamming 7 > 3)


def test_sq8_dequantize_error_bound(spark, emb):
    """SQ8 reconstruction error is bounded by half a quantization step
    per component: |v_hat - v| <= (vmax - vmin) / 255 / 2 (+ float
    slack) — the numeric contract a vector store relies on when it
    serves the compressed column instead of the floats."""
    from pyspark.sql import functions as F2

    from artemia_airflow_spark.operators.similarity import (
        quantize_embeddings_sq8,
        sq8_dequantize,
    )

    codes, quant = quantize_embeddings_sq8(emb, id_col="vec_id", packed=True)
    recon = sq8_dequantize(codes, quant, id_col="vec_id")
    truth = emb.select(
        "vec_id", F2.posexplode(F2.col("embedding").cast("array<double>"))
        .alias("dim", "v"),
    ).select("vec_id", F2.col("dim").cast("bigint").alias("dim"), "v")
    joined = recon.join(truth, ["vec_id", "dim"]).join(
        F2.broadcast(quant), "dim"
    )
    viol = joined.filter(
        F2.abs(F2.col("v_hat") - F2.col("v"))
        > (F2.col("vmax") - F2.col("vmin")) / F2.lit(510.0) + F2.lit(1e-9)
    ).count()
    assert viol == 0
    assert recon.count() == truth.count()


def test_unigram_nll_ranks_rare_above_common(spark):
    """The perplexity proxy must score a rare-token document above a
    common-token document, and every score must be positive and finite
    (add-one smoothing: no zero-probability blowups even for
    singletons)."""
    import math

    from artemia_airflow_spark.operators.text import unigram_nll

    rows = [(1, "the the the the"), (2, "zq xv qj wk"), (3, "the the zq the")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in unigram_nll(d, "text", "doc_id").collect()}
    assert all(math.isfinite(r.nll) and r.nll > 0 for r in out.values())
    # doc 2 (all-rare) > doc 3 (mixed) > doc 1 (all-common)
    assert out[2].nll > out[3].nll > out[1].nll
    assert out[1].n_tokens == 4


def test_unigram_nll_matches_hand_model(spark):
    """Exact hand computation on a 2-doc corpus: tokens {a:3, b:1},
    total=4, V=2 -> p(a)=(3+1)/6, p(b)=(1+1)/6."""
    import math

    from artemia_airflow_spark.operators.text import unigram_nll

    d = spark.createDataFrame([(1, "a a b"), (2, "a")], ["doc_id", "text"])
    out = {r.doc_id: r.nll for r in unigram_nll(d, "text", "doc_id").collect()}
    p_a, p_b = 4 / 6, 2 / 6
    exp1 = -(2 * math.log(p_a) + math.log(p_b)) / 3
    exp2 = -math.log(p_a)
    assert abs(out[1] - exp1) < 1e-12 and abs(out[2] - exp2) < 1e-12


def test_postings_cap_order_and_within_doc_dedup(spark):
    """Posting lists are ascending-id, capped at k while doc_freq stays
    exact, and a token repeated WITHIN a doc posts once."""
    from artemia_airflow_spark.operators.text import postings

    rows = [(i, "common common unique%d" % i) for i in range(5)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.token: r for r in postings(d, "text", "doc_id", k=3).collect()}
    c = out["common"]
    assert c.doc_freq == 5 and c.postings == [0, 1, 2]  # capped, sorted, deduped
    u = out["unique3"]
    assert u.doc_freq == 1 and u.postings == [3]


def test_collocations_lift_hand_model(spark):
    """Exact hand computation: corpus 'a b a b' + 'c c' + 'a' ->
    unigrams {a:3, b:2, c:2}, N=7 (the single-token doc counts toward
    the marginals but contributes no pair); bigrams {ab:2, ba:1, cc:1}.
    With min_count=1: lift(a,b) = 2*7/(3*2) = 7/3,
    lift(b,a) = 1*7/(2*3) = 7/6, lift(c,c) = 1*7/(2*2) = 7/4."""
    from artemia_airflow_spark.operators.text import collocations

    d = spark.createDataFrame(
        [(1, "a b a b"), (2, "c c"), (3, "a")], ["doc_id", "text"]
    )
    out = {(r.x, r.y): r for r in collocations(d, "text", min_count=1, k=10).collect()}
    assert out[("a", "b")].c_xy == 2 and out[("a", "b")].lift == round(7 / 3, 6)
    assert out[("b", "a")].c_xy == 1 and out[("b", "a")].lift == round(7 / 6, 6)
    assert out[("c", "c")].c_xy == 1 and out[("c", "c")].lift == round(7 / 4, 6)
    assert len(out) == 3  # doc 3 has no bigram


def test_collocations_min_count_and_k_cap(spark):
    """min_count prunes rare pairs BEFORE ranking; k caps the output
    with the (lift desc, x, y) deterministic order."""
    from artemia_airflow_spark.operators.text import collocations

    d = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "p q")], ["doc_id", "text"]
    )
    rows = collocations(d, "text", min_count=3, k=5).collect()
    assert [(r.x, r.y) for r in rows] == [("x", "y")]  # p q and y x pruned


def test_bm25_hand_model(spark):
    """Exact BM25 on a 2-doc corpus, single-term query: doc 1 = 'x x y'
    (tf_x=2, dl=3), doc 2 = 'y z' (dl=2), avgdl=2.5, N=2, df_x=1.
    idf = ln((2-1+0.5)/(1+0.5)+1) = ln(2); norm = 2*2.2/(2+1.2*(0.25+
    0.75*3/2.5)); score_e6 = floor(idf*norm*1e6+0.5)."""
    import math

    from artemia_airflow_spark.operators.retrieval import bm25_topk

    d = spark.createDataFrame([(1, "x x y"), (2, "y z")], ["doc_id", "text"])
    q = spark.createDataFrame([(7, "x")], ["query_id", "term"])
    rows = bm25_topk(
        d, q, text_col="text", id_col="doc_id",
        query_id_col="query_id", term_col="term", k=5,
    ).collect()
    idf = math.log((2 - 1 + 0.5) / (1 + 0.5) + 1.0)
    norm = (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * (3 / 2.5)))
    exp = math.floor(idf * norm * 1_000_000.0 + 0.5)
    assert len(rows) == 1  # doc 2 shares no query term
    r = rows[0]
    assert (r.query_id, r.doc_id, r.score_e6, r.rank) == (7, 1, exp, 1)


def test_bm25_rare_term_outranks_common(spark):
    """A doc matching the query's RARE term outranks one matching only
    the corpus-wide common term, at equal tf and dl."""
    from artemia_airflow_spark.operators.retrieval import bm25_topk

    docs = [(i, "common filler") for i in range(1, 9)]
    docs += [(9, "rare filler"), (10, "common filler")]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    q = spark.createDataFrame([(0, "rare"), (0, "common")], ["query_id", "term"])
    rows = bm25_topk(
        d, q, text_col="text", id_col="doc_id",
        query_id_col="query_id", term_col="term", k=3,
    ).collect()
    assert rows[0].doc_id == 9 and rows[0].rank == 1


def test_rrf_fuse_hand_model(spark):
    """Integer RRF on two hand lists: doc 5 at rank 1+2, doc 6 only in
    list A at rank 2, doc 7 only in list B at rank 1.  Contributions
    are 1000000 DIV (60+rank): doc5 = 16393+16129, doc6 = 16129,
    doc7 = 16393; fused order (5, 7, 6), ranks 1..3."""
    from artemia_airflow_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(0, 5, 1), (0, 6, 2)], ["probe", "id", "rank"])
    b = spark.createDataFrame([(0, 7, 1), (0, 5, 2)], ["probe", "id", "rank"])
    rows = rrf_fuse([a, b], probe_id_col="probe", id_col="id", k=10).collect()
    got = [(r.id, r.rrf_e6, r.rank) for r in sorted(rows, key=lambda r: r.rank)]
    assert got == [
        (5, 1_000_000 // 61 + 1_000_000 // 62, 1),
        (7, 1_000_000 // 61, 2),
        (6, 1_000_000 // 62, 3),
    ]


def test_rrf_fuse_k_cap_and_empty_input(spark):
    """k caps the fused output; an empty rankings list raises."""
    import pytest

    from artemia_airflow_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, i, i) for i in range(1, 6)], ["probe", "id", "rank"]
    )
    assert rrf_fuse([a], probe_id_col="probe", id_col="id", k=2).count() == 2
    with pytest.raises(ValueError):
        rrf_fuse([], probe_id_col="probe", id_col="id")


def test_matryoshka_unit_norm_and_direction(spark):
    """Renormed prefix has unit L2 norm and preserves the prefix
    direction (components proportional to the original prefix)."""
    import math

    from artemia_airflow_spark.operators.similarity import matryoshka_renorm

    d = spark.createDataFrame(
        [(1, [3.0, 4.0, 100.0, -7.0])], ["vec_id", "embedding"]
    )
    (row,) = matryoshka_renorm(d, dim=2).collect()
    out = row.embedding
    assert len(out) == 2
    assert abs(math.hypot(*out) - 1.0) < 1e-6
    assert abs(out[0] - 0.6) < 1e-6 and abs(out[1] - 0.8) < 1e-6


def test_matryoshka_zero_norm_is_null_and_dim_guard(spark):
    """A zero-norm prefix yields a NULL vector (the non-finite
    exclusion contract downstream), and dim < 1 raises."""
    import pytest

    from artemia_airflow_spark.operators.similarity import matryoshka_renorm

    d = spark.createDataFrame(
        [(1, [0.0, 0.0, 5.0]), (2, [1.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    rows = {r.vec_id: r.embedding for r in matryoshka_renorm(d, dim=2).collect()}
    assert rows[1] is None
    assert rows[2] == [1.0, 0.0]
    with pytest.raises(ValueError, match="dim"):
        matryoshka_renorm(d, dim=0)


def test_bpe_merges_hand_model(spark):
    """Hand-traced 3 merges on {aaab x2, ab x1}: step 1 picks (a,a)
    with overlap-counted weight 4 and merges runs canonically
    ([a,a,a,b] -> [aa,a,b], greedy leftmost); step 2 picks (a,b) 3;
    step 3 picks (aa,ab) 2 — pinning run semantics, frequency
    weighting, and merged-symbol participation."""
    from artemia_airflow_spark.operators.text import bpe_merges

    d = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab")], ["doc_id", "text"]
    )
    assert bpe_merges(d, "text", n_merges=3) == [
        (1, "a", "a", 4),
        (2, "a", "b", 3),
        (3, "aa", "ab", 2),
    ]


def test_bpe_merges_tiebreak_and_early_stop(spark):
    """Equal-count pairs break ties pair-ascending; a corpus of
    single-char words has no pairs and stops early; n_merges < 1
    raises."""
    import pytest

    from artemia_airflow_spark.operators.text import bpe_merges

    d = spark.createDataFrame([(1, "xy xy ab ab")], ["doc_id", "text"])
    assert bpe_merges(d, "text", n_merges=1) == [(1, "a", "b", 2)]
    single = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    assert bpe_merges(single, "text", n_merges=2) == []
    with pytest.raises(ValueError, match="n_merges"):
        bpe_merges(d, "text", n_merges=0)


def test_mmr_diversify_hand_model(spark):
    """Classic MMR behavior: candidate 2 is nearly a duplicate of the
    top pick (sim 95), so the diverse candidate 3 (rel 80) outranks
    the more relevant candidate 2 (rel 90) at lam=0.5."""
    from artemia_airflow_spark.operators.retrieval import mmr_diversify

    rel = spark.createDataFrame(
        [(0, 1, 100), (0, 2, 90), (0, 3, 80)], ["probe", "id", "rel"]
    )
    sims = spark.createDataFrame(
        [(0, a, b, s) for a, b, s in
         [(1, 2, 95), (2, 1, 95), (1, 3, 10), (3, 1, 10),
          (2, 3, 10), (3, 2, 10)]],
        ["probe", "i", "j", "sim"],
    )
    rows = mmr_diversify(
        rel, sims, probe_id_col="probe", id_col="id",
        rel_col="rel", sim_col="sim", n=3,
    ).collect()
    got = [(r.id, r.maxsim) for r in sorted(rows, key=lambda r: r.mmr_rank)]
    assert got == [(1, 0), (3, 10), (2, 95)]


def test_mmr_diversify_guards_and_short_candidate_set(spark):
    """n larger than the candidate set returns every candidate once;
    bad lam / n raise."""
    import pytest

    from artemia_airflow_spark.operators.retrieval import mmr_diversify

    rel = spark.createDataFrame([(0, 1, 5), (0, 2, 4)], ["probe", "id", "rel"])
    sims = spark.createDataFrame(
        [(0, 1, 2, 1), (0, 2, 1, 1)], ["probe", "i", "j", "sim"]
    )
    rows = mmr_diversify(
        rel, sims, probe_id_col="probe", id_col="id",
        rel_col="rel", sim_col="sim", n=5,
    ).collect()
    assert sorted((r.id, r.mmr_rank) for r in rows) == [(1, 1), (2, 2)]
    with pytest.raises(ValueError, match="lam"):
        mmr_diversify(rel, sims, probe_id_col="probe", id_col="id",
                      rel_col="rel", sim_col="sim", lam=0.0)
    with pytest.raises(ValueError, match="n must"):
        mmr_diversify(rel, sims, probe_id_col="probe", id_col="id",
                      rel_col="rel", sim_col="sim", n=0)


def test_mmr_diversify_negative_similarity_not_clamped(spark):
    """Anti-similar candidates (negative cosine) must carry their true
    negative maxsim — clamping at 0 would rank them below unrelated
    ones.  Candidate 3 (sim -50 to the top pick) must outrank
    candidate 2 (sim 0, missing edge) only through the margin:
    rel2 - 0 = 90 vs rel3 - (-50) = 130 -> candidate 3 first."""
    from artemia_airflow_spark.operators.retrieval import mmr_diversify

    rel = spark.createDataFrame(
        [(0, 1, 100), (0, 2, 90), (0, 3, 80)], ["probe", "id", "rel"]
    )
    sims = spark.createDataFrame(
        [(0, 3, 1, -50), (0, 1, 3, -50)], ["probe", "i", "j", "sim"]
    )
    rows = mmr_diversify(
        rel, sims, probe_id_col="probe", id_col="id",
        rel_col="rel", sim_col="sim", n=3,
    ).collect()
    got = [(r.id, r.maxsim) for r in sorted(rows, key=lambda r: r.mmr_rank)]
    assert got == [(1, 0), (3, -50), (2, 0)]


def test_matryoshka_short_vector_guard(spark):
    """dim beyond the vector width must fail LOUDLY in-plan (F.slice
    would silently return the full-width vector), while dim == width
    passes."""
    from pyspark.errors import PySparkException

    from artemia_airflow_spark.operators.similarity import matryoshka_renorm

    d = spark.createDataFrame([(1, [3.0, 4.0])], ["vec_id", "embedding"])
    assert matryoshka_renorm(d, dim=2).count() == 1  # boundary passes
    with pytest.raises(PySparkException, match="matryoshka_renorm"):
        matryoshka_renorm(d, dim=3).collect()


def test_bm25_query_terms_are_case_normalized(spark):
    """Document tokens are lowercased, so query terms must match
    case-insensitively — 'Common' and 'common' retrieve the same
    documents with the same scores."""
    from artemia_airflow_spark.operators.retrieval import bm25_topk

    d = spark.createDataFrame(
        [(1, "common words"), (2, "other stuff")], ["doc_id", "text"]
    )
    out = {}
    for qid, term in [(0, "common"), (1, "Common")]:
        q = spark.createDataFrame([(qid, term)], ["query_id", "term"])
        out[qid] = sorted(
            (r.doc_id, r.score_e6)
            for r in bm25_topk(
                d, q, text_col="text", id_col="doc_id",
                query_id_col="query_id", term_col="term", k=5,
            ).collect()
        )
    assert out[0] and out[0] == out[1]


def test_bm25_duplicate_query_terms_do_not_double_count(spark):
    """BM25 consumes query term SETS (ADVICE r12): a caller handing
    duplicate (query_id, term) rows — e.g. raw tokenization without
    array_distinct — must score identically to the deduped input, not
    multiply that term's contribution through the join."""
    from artemia_airflow_spark.operators.retrieval import bm25_topk

    d = spark.createDataFrame(
        [(1, "common words"), (2, "other stuff")], ["doc_id", "text"]
    )
    out = {}
    for qid, terms in [(0, ["common"]), (1, ["common", "common", "Common"])]:
        q = spark.createDataFrame(
            [(qid, t) for t in terms], ["query_id", "term"]
        )
        out[qid] = sorted(
            (r.doc_id, r.score_e6)
            for r in bm25_topk(
                d, q, text_col="text", id_col="doc_id",
                query_id_col="query_id", term_col="term", k=5,
            ).collect()
        )
    assert out[0] and out[0] == out[1]


def test_bpe_segment_applies_merges_in_order(spark):
    """Segmenting under the learned merges replays them in order:
    with merges [(a,a),(a,b),(aa,ab)] the word 'aaab' collapses to
    ONE symbol, 'ab' to one, and unseen orders stay split."""
    from artemia_airflow_spark.operators.text import bpe_merges, bpe_segment_expr

    d = spark.createDataFrame([(1, "aaab aaab"), (2, "ab")], ["doc_id", "text"])
    merges = bpe_merges(d, "text", n_merges=3)
    w = spark.createDataFrame(
        [("aaab",), ("ab",), ("ba",), ("aab",)], ["word"]
    )
    out = {r.word: r.syms for r in w.select(
        "word", bpe_segment_expr("word", merges).alias("syms")
    ).collect()}
    assert out["aaab"] == ["aaab"]
    assert out["ab"] == ["ab"]
    assert out["ba"] == ["b", "a"]
    # merge 1 collapses the run; merges 2/3 find no ' a  b '/' aa  ab '
    assert out["aab"] == ["aa", "b"]


def test_frequency_drift_hand_model(spark):
    """Exact drift stats on a 10-row cohort split (n_a=5, n_b=5):
    shares quantize per key; a key missing from cohort 1 gets NULL
    ratio, missing from cohort 0 gets ratio 0, and min_count prunes
    on the combined count."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.operators.sketches import frequency_drift

    rows = (
        [("x", 0)] * 3 + [("x", 1)]
        + [("y", 0)] + [("y", 1)] * 3
        + [("z", 1)] + [("w", 0)]
    )
    d = spark.createDataFrame(rows, ["k", "g"])
    out = {r.key: r for r in frequency_drift(d, "k", F.col("g")).collect()}
    assert (out["x"].c_a, out["x"].c_b) == (3, 1)
    assert out["x"].rate_ratio_e6 == 3_000_000      # (3/5)/(1/5)
    assert out["x"].absdiff_e9 == 400_000_000       # |0.6 - 0.2|
    assert out["y"].rate_ratio_e6 == 333_333        # (1/5)/(3/5)
    assert out["z"].rate_ratio_e6 == 0              # vanished from A
    assert out["w"].rate_ratio_e6 is None           # vanished from B
    assert out["w"].absdiff_e9 == 200_000_000
    pruned = {r.key for r in
              frequency_drift(d, "k", F.col("g"), min_count=2).collect()}
    assert pruned == {"x", "y"}


def test_frequency_drift_empty_cohort_is_null_not_crash(spark):
    """A frame where one cohort never appears must return NULL drift
    statistics with intact counts — not throw DIVIDE_BY_ZERO under
    Spark 4 ANSI mode (r12 review)."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.operators.sketches import frequency_drift

    d = spark.createDataFrame([("x", 0), ("y", 0)], ["k", "g"])
    out = {r.key: r for r in frequency_drift(d, "k", F.col("g")).collect()}
    assert (out["x"].c_a, out["x"].c_b) == (1, 0)
    assert out["x"].rate_ratio_e6 is None and out["x"].absdiff_e9 is None


def test_bpe_fertility_degenerate_corpus_parity(spark):
    """A corpus with only ONE learnable merge: bpe_merges stops early
    and segmentation applies just that merge — 6 words collapse to 6
    symbols (fertility exactly 1.0), matching the oracle's sentinel
    no-op handling of the missing steps (r12 review)."""
    from artemia_airflow_spark.operators.text import bpe_merges, bpe_segment_expr

    d = spark.createDataFrame(
        [(0, "ab a b"), (1, "a b c")], ["doc_id", "text"]
    )
    merges = bpe_merges(d, "text", n_merges=3)
    assert merges == [(1, "a", "b", 1)]
    toks = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
    total = toks.select(
        F.size(bpe_segment_expr("word", merges)).alias("n")
    ).agg(F.sum("n"), F.count(F.lit(1))).collect()[0]
    assert tuple(total) == (6, 6)


def test_corr_matrix_hand_cases(spark):
    """Exact-stat Pearson: a perfectly linear pair reads +-1.0, a
    constant column yields NULL (zero variance), and the matrix
    matches numpy on the same cent-quantized data."""
    import numpy as np

    from artemia_airflow_spark.operators.sketches import corr_matrix

    rows = [(float(i), 2.0 * i, -1.0 * i, 7.0) for i in range(1, 21)]
    d = spark.createDataFrame(rows, ["a", "b", "c", "k"])
    out = {(r.x_col, r.y_col): r for r in
           corr_matrix(d, ["a", "b", "c", "k"]).collect()}
    assert len(out) == 6 and all(r.n == 20 for r in out.values())
    assert out[("a", "b")].r_e6 == 1_000_000
    assert out[("a", "c")].r_e6 == -1_000_000
    assert out[("a", "k")].r_e6 is None  # constant column
    x = np.array([r[0] for r in rows]); y = np.array([r[1] for r in rows])
    assert abs(out[("a", "b")].r_e6 / 1e6 - np.corrcoef(x, y)[0, 1]) < 1e-5


def test_corr_matrix_needs_two_columns(spark):
    import pytest

    from artemia_airflow_spark.operators.sketches import corr_matrix

    d = spark.createDataFrame([(1.0,)], ["a"])
    with pytest.raises(ValueError, match="two columns"):
        corr_matrix(d, ["a"])


def test_corr_matrix_listwise_null_deletion(spark):
    """Rows with a NULL in ANY requested column are excluded up front,
    so every sufficient statistic comes from the same row set — the
    NULL rows must not inflate n or skew r (r12 review: mixed per-sum
    NULL skipping produced invalid r silently)."""
    from artemia_airflow_spark.operators.sketches import corr_matrix

    rows = [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (None, 100.0), (4.0, None)]
    d = spark.createDataFrame(rows, "a double, b double")
    (r,) = corr_matrix(d, ["a", "b"]).collect()
    assert r.n == 3  # only complete rows
    assert r.r_e6 == 1_000_000  # perfectly linear on the complete set


def test_discretize_by_sketch_equal_frequency(spark):
    """Quartile binning on 100 uniform values: each bucket holds ~25
    rows (within the sketch's one-bin error), buckets are ordered by
    value, and every row gets exactly one bucket 1..4; n_buckets < 2
    raises."""
    from artemia_airflow_spark.operators.sketches import discretize_by_sketch

    d = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], ["id", "v"]
    )
    out = discretize_by_sketch(
        d, "v", n_buckets=4, lo=0.0, hi=100.0, bins=100
    ).collect()
    assert len(out) == 100 and all(1 <= r.bucket <= 4 for r in out)
    sizes = {}
    hi_lo = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
        lohi = hi_lo.setdefault(r.bucket, [r.v, r.v])
        lohi[0], lohi[1] = min(lohi[0], r.v), max(lohi[1], r.v)
    assert all(20 <= s <= 30 for s in sizes.values()), sizes
    # buckets partition the value range in order
    assert hi_lo[1][1] < hi_lo[2][0] and hi_lo[2][1] < hi_lo[3][0]
    assert hi_lo[3][1] < hi_lo[4][0]
    with pytest.raises(ValueError, match="n_buckets"):
        discretize_by_sketch(d, "v", n_buckets=1, lo=0.0, hi=100.0)


def test_discretize_null_values_get_null_bucket(spark):
    """NULL feature values must come back with a NULL bucket — binning
    them at the lo edge would inflate bucket 1 (the module's r6 NULL
    finding); bins < 1 raises."""
    from artemia_airflow_spark.operators.sketches import discretize_by_sketch

    d = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 90.0)], "id int, v double"
    )
    out = {r.id: r.bucket for r in discretize_by_sketch(
        d, "v", n_buckets=2, lo=0.0, hi=100.0, bins=10
    ).collect()}
    assert out[2] is None and out[1] is not None and out[3] is not None
    with pytest.raises(ValueError, match="bins"):
        discretize_by_sketch(d, "v", n_buckets=2, lo=0.0, hi=100.0, bins=0)


def test_containment_scores_hand_model(spark):
    """Exact containment on a hand corpus: doc 1 shares one of its two
    distinct trigrams with the reference (500000), doc 2 shares none
    (0), and a short doc scores over its single truncated gram."""
    from artemia_airflow_spark.operators.curation import containment_scores

    ref = spark.createDataFrame([(100, "a b c d")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "a b c x y"),   # trigrams: 'a b c'(hit), 'b c x', 'c x y'
         (2, "p q r s"),     # no shared grams
         (3, "a b")],        # truncated gram 'a b' -> not in ref trigrams
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in containment_scores(
        docs, ref, "text", "doc_id", n=3
    ).collect()}
    assert (out[1].n_grams, out[1].hits) == (3, 1)
    assert out[1].containment_e6 == 1_000_000 // 3
    assert (out[2].hits, out[2].containment_e6) == (0, 0)
    assert (out[3].n_grams, out[3].hits) == (1, 0)


def test_containment_zero_gram_doc_still_reported(spark):
    """A NULL-text document must appear in the output with n_grams=0,
    hits=0, and a NULL (undefined) score — not silently vanish from
    the per-document report (r12 review)."""
    from artemia_airflow_spark.operators.curation import containment_scores

    ref = spark.createDataFrame([(100, "a b c")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in containment_scores(
        docs, ref, "text", "doc_id", n=3
    ).collect()}
    assert set(out) == {1, 2}
    assert (out[2].n_grams, out[2].hits) == (0, 0)
    assert out[2].containment_e6 is None
    assert out[1].containment_e6 == 1_000_000


def test_dsir_weights_favor_target_like_documents(spark):
    """DSIR hand model: with target docs full of 'alpha' and raw
    filler full of 'zebra', a raw doc written in target-style
    vocabulary must outweigh one written in filler vocabulary, and
    weights must be symmetric for identical docs."""
    from artemia_airflow_spark.operators.selection import dsir_weights
    from pyspark.sql import functions as F

    rows = [
        (0, "alpha beta alpha beta alpha", True),
        (1, "alpha beta alpha alpha beta", True),
        (2, "zebra yak zebra yak zebra", False),
        (3, "zebra yak yak zebra yak", False),
        (4, "alpha beta alpha beta alpha", False),  # target-style raw doc
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    w = {r.doc_id: r.weight_e6
         for r in dsir_weights(d, "text", "doc_id", "is_t").collect()}
    assert len(w) == 5  # every doc scored, target docs included
    assert w[4] > w[2] and w[4] > w[3]  # target-like beats filler
    assert w[4] == w[0]  # identical text -> identical weight


def test_weighted_sample_keys_proportional_and_guarded(spark):
    """A-ES hand model: across many salts, a row with 10x the weight
    of its peer must win the top-1 draw far more often (probability
    ~10/11); weight<=0 and NULL weights get NULL keys; identical
    (salt, id, weight) always reproduces the identical key."""
    from artemia_airflow_spark.operators.selection import weighted_sample_keys
    from pyspark.sql import functions as F

    rows = [(1, 1000.0), (2, 100.0), (3, 0.0), (4, None)]
    d = spark.createDataFrame(rows, ["id", "w"])
    wins = 0
    for s in range(40):
        keyed = weighted_sample_keys(d, "w", "id", salt=f"s{s}")
        got = {r.id: r.key_e9 for r in keyed.collect()}
        assert got[3] is None and got[4] is None
        top = max((kv for kv in got.items() if kv[1] is not None),
                  key=lambda kv: (kv[1], -kv[0]))
        wins += top[0] == 1
    assert wins >= 28  # E[wins] ~ 36.4 at p=10/11; 28 is ~5 sigma slack
    k1 = {r.id: r.key_e9
          for r in weighted_sample_keys(d, "w", "id", salt="s0").collect()}
    k2 = {r.id: r.key_e9
          for r in weighted_sample_keys(d, "w", "id", salt="s0").collect()}
    assert k1 == k2


def test_mad_outliers_hand_cases(spark):
    """MAD hand model: [1,1,1,1,100] has median 1, MAD 0, and Hampel's
    rule flags exactly the 100 (any nonzero deviation beats 3*0);
    [1,2,3,4,5] has median 3, MAD 1, and flags nothing at k=3 (max
    deviation 2 = 2 MADs); NULL values drop from n; even counts
    interpolate the midpoint exactly ([1,2] -> median 1.5 -> x2=3)."""
    from artemia_airflow_spark.operators.sketches import mad_outliers

    rows = (
        [("a", float(v)) for v in (1, 1, 1, 1, 100)]
        + [("b", float(v)) for v in (1, 2, 3, 4, 5)]
        + [("c", 1.0), ("c", 2.0), ("c", None)]
    )
    d = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = {r.g: r for r in mad_outliers(d, "v", ["g"], k=3).collect()}
    a, b, c = out["a"], out["b"], out["c"]
    assert (a.n, a.med_x2_e6, a.mad_x4_e6, a.n_outliers) == (
        5, 2_000_000, 0, 1)
    assert (b.n, b.med_x2_e6, b.mad_x4_e6, b.n_outliers) == (
        5, 6_000_000, 4_000_000, 0)
    assert (c.n, c.med_x2_e6) == (2, 3_000_000)  # 1.5 * 2 exact


def test_vocabulary_stats_hand_corpus(spark):
    """Vocabulary panel hand model: counts a=6 b=3 c=1 d=1 give 11
    tokens / 4 types / 2 hapax; the Zipf slope equals an independent
    numpy least-squares fit of the e6-quantized ln(freq)-vs-ln(rank)
    points (ranks tie-broken by token: c before d)."""
    import math

    from artemia_airflow_spark.operators.text import vocabulary_stats

    d = spark.createDataFrame(
        [(1, "a a a a b b c"), (2, "a a b d")], ["doc_id", "text"]
    )
    row = vocabulary_stats(d, "text").collect()[0]
    assert (row.n_tokens, row.n_types, row.n_hapax) == (11, 4, 2)
    pts = [(1, 6), (2, 3), (3, 1), (4, 1)]
    xs = [math.floor(math.log(r) * 1e6 + 0.5) for r, _ in pts]
    ys = [math.floor(math.log(f) * 1e6 + 0.5) for _, f in pts]
    m = len(pts)
    num = m * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    den = m * sum(x * x for x in xs) - sum(xs) ** 2
    want = math.floor(num / den * 1e6 + 0.5)
    assert row.zipf_slope_e6 == want
    assert row.zipf_slope_e6 < 0  # frequency falls with rank


def test_vocabulary_stats_whitespace_and_degenerate(spark):
    """ADVICE r13 fixes: (a) tokenization splits on \\s+ and drops
    empty tokens, so tabs/newlines/double spaces neither glue words
    nor mint '' types; (b) a corpus with ONE distinct type has a
    zero regression denominator and yields a NULL slope (never
    NaN/ANSI error), matching ols_trend's guard."""
    from artemia_airflow_spark.operators.text import vocabulary_stats

    d = spark.createDataFrame(
        [(1, "a\tb\nb  a"), (2, " a ")], ["doc_id", "text"]
    )
    row = vocabulary_stats(d, "text").collect()[0]
    assert (row.n_tokens, row.n_types, row.n_hapax) == (5, 2, 0)

    one = spark.createDataFrame([(1, "x x x")], ["doc_id", "text"])
    r1 = vocabulary_stats(one, "text").collect()[0]
    assert (r1.n_tokens, r1.n_types, r1.zipf_slope_e6) == (3, 1, None)


def test_kmeans_portable_iterate_hand_blobs(spark):
    """Lloyd hand model in 2-D e6 space: two far blobs and two seed
    centroids each nearest one blob -> one iteration lands each
    centroid exactly on its blob's truncated integer mean; a second
    iteration is a fixed point; a cell with no members keeps its old
    centroid; and Spark's DIV truncates toward zero like DuckDB's //
    (-7 DIV 2 = -3), the contract the update step leans on."""
    from artemia_airflow_spark.operators.similarity import (
        kmeans_portable_iterate,
    )

    comps = spark.createDataFrame(
        # blob A around +1e6, blob B around -1e6 (2 dims)
        [(1, 0, 900_000), (1, 1, 1_100_000),
         (2, 0, 1_100_000), (2, 1, 900_000),
         (3, 0, -900_000), (3, 1, -1_100_000),
         (4, 0, -1_100_000), (4, 1, -900_001)],
        "vec_id BIGINT, d BIGINT, v6 BIGINT",
    )
    cents = spark.createDataFrame(
        [(0, 0, 500_000), (0, 1, 500_000),
         (1, 0, -500_000), (1, 1, -500_000),
         (2, 0, 90_000_000), (2, 1, 90_000_000)],  # far cell: no members
        "cell BIGINT, d BIGINT, cc6 BIGINT",
    )
    c1 = kmeans_portable_iterate(comps, cents, n_cells=3)
    got = {(r.cell, r.d): r.cc6 for r in c1.collect()}
    assert got[(0, 0)] == 1_000_000 and got[(0, 1)] == 1_000_000
    # truncation toward zero: (-1_100_000 + -900_001) DIV 2 = -1_000_000
    assert got[(1, 0)] == -1_000_000 and got[(1, 1)] == -1_000_000
    assert got[(2, 0)] == 90_000_000  # empty cell retained
    c2 = kmeans_portable_iterate(c1.sparkSession.createDataFrame(
        comps.collect(), comps.schema), c1, n_cells=3)
    assert {(r.cell, r.d): r.cc6 for r in c2.collect()} == got  # fixed point
    div = spark.sql("SELECT -7 DIV 2 AS q").collect()[0].q
    assert div == -3


def test_psi_drift_hand_cases(spark):
    """PSI hand model: identical cohort distributions give PSI ~ 0
    (only Laplace smoothing noise); a cohort shifted to the opposite
    end of the range gives a large positive PSI; NULL values drop
    from both totals; a degenerate min==max group lands everything in
    bin 0 and stays near zero."""
    from artemia_airflow_spark.operators.sketches import psi_drift

    same = [("s", a, float(v)) for a in (True, False)
            for v in (1, 2, 3, 4, 5, 6, 7, 8, 9, 10)]
    shifted = ([("d", True, float(v)) for v in (1, 1, 1, 2, 2)]
               + [("d", False, float(v)) for v in (9, 9, 10, 10, 10)])
    degen = [("c", True, 5.0), ("c", False, 5.0), ("c", False, None)]
    d = spark.createDataFrame(same + shifted + degen,
                              "g STRING, a BOOLEAN, v DOUBLE")
    out = {r.g: r for r in psi_drift(d, "v", "a", ["g"]).collect()}
    assert (out["s"].n_a, out["s"].n_b) == (10, 10)
    assert abs(out["s"].psi_e9) < 50_000_000  # ~0 up to smoothing
    # PSI > 0.5 = severe drift (Laplace smoothing damps tiny cohorts:
    # 10 pseudo-counts against 5 real rows caps how extreme p-ratios
    # get, so the full-range shift lands ~0.85 here, not its
    # asymptotic large-sample value)
    assert out["d"].psi_e9 > 500_000_000
    assert out["d"].psi_e9 > 10 * abs(out["s"].psi_e9)
    assert (out["c"].n_a, out["c"].n_b) == (1, 1)
    assert abs(out["c"].psi_e9) < 50_000_000


def test_ols_trend_hand_line_and_degenerate(spark):
    """OLS hand model: points exactly on y = 3x + 5 recover slope_e6 =
    3e6 and icept_e2 = 500; a group whose x never varies has no line
    (NULL slope/intercept); NULL y rows are excluded from n."""
    from artemia_airflow_spark.operators.sketches import ols_trend

    rows = (
        [("line", x, 3 * x + 5) for x in (0, 1, 2, 3, 10)]
        + [("flat", 7, y) for y in (1, 2, 3)]
        + [("line", 4, None)]
    )
    d = spark.createDataFrame(rows, "g STRING, x BIGINT, y BIGINT")
    out = {r.g: r for r in ols_trend(d, "x", "y", ["g"]).collect()}
    assert (out["line"].n, out["line"].slope_e6, out["line"].icept_e2) == (
        5, 3_000_000, 500)
    assert (out["flat"].n, out["flat"].slope_e6, out["flat"].icept_e2) == (
        3, None, None)


def test_psi_drift_counts_empty_bins(spark):
    """Empty-in-both bins still carry their smoothed pseudo-count term
    when cohort sizes differ (r13 review): a group with all values
    equal (everything in bin 0, nine empty bins) and ta=3 vs tb=1 must
    reproduce the full 10-term hand-computed PSI, not just bin 0's."""
    import math

    from artemia_airflow_spark.operators.sketches import psi_drift

    rows = ([("u", True, 1.0)] * 3) + [("u", False, 1.0)]
    d = spark.createDataFrame(rows, "g STRING, a BOOLEAN, v DOUBLE")
    out = psi_drift(d, "v", "a", ["g"]).collect()[0]
    ta, tb = 3, 1
    want = 0
    for b in range(10):
        ca, cb = (3, 1) if b == 0 else (0, 0)
        pa, pb = (ca + 1) / (ta + 10), (cb + 1) / (tb + 10)
        lnr = math.log(((ca + 1) * (tb + 10)) / ((cb + 1) * (ta + 10)))
        want += math.floor((pa - pb) * lnr * 1e9 + 0.5)
    assert (out.n_a, out.n_b, out.psi_e9) == (3, 1, want)


def test_mutual_information_hand_cases(spark):
    """MI hand model: independent uniform 2x2 gives MI ~ 0 with
    H(X) = H(Y) = ln 2; a perfectly dependent pair (x == y) gives
    MI = H(X) = H(Y) = ln 2; values match an independent Python
    recomputation of the quantized formula; NULL is a real level."""
    import math

    from artemia_airflow_spark.operators.sketches import mutual_information

    ind = [("a", "p"), ("a", "q"), ("b", "p"), ("b", "q")] * 5
    d = spark.createDataFrame(ind, "x STRING, y STRING")
    r = mutual_information(d, "x", "y").collect()[0]
    # each uniform cell's MI term is 0.25*ln(1) = 0 exactly -> MI 0
    assert r.n == 20 and r.mi_e9 == 0
    assert abs(r.h_x_e9 - math.floor(1e9 * math.log(2) / 2 + 0.5) * 2) <= 2
    dep = [("a", "a")] * 7 + [("b", "b")] * 3
    d2 = spark.createDataFrame(dep, "x STRING, y STRING")
    r2 = mutual_information(d2, "x", "y").collect()[0]
    want = sum(
        math.floor(p * math.log(1 / p) * 1e9 + 0.5) for p in (0.7, 0.3)
    )
    assert r2.mi_e9 == want and r2.h_x_e9 == want and r2.h_y_e9 == want
    withnull = [("a", "p"), (None, "p"), (None, "q")]
    d3 = spark.createDataFrame(withnull, "x STRING, y STRING")
    r3 = mutual_information(d3, "x", "y").collect()[0]
    assert r3.n == 3  # NULL level carries mass


def test_cross_source_matrix_orders_source_pairs(spark):
    """Cross-source hand model THROUGH the real operator: identical
    texts across web/wiki land under the ORDERED key (web, wiki)
    regardless of doc-id order, within-source dups land on the
    diagonal (web, web), and an unrelated text contributes nothing
    (r13 review: the first version rebuilt the pair stage inline and
    never asserted the source labeling)."""
    from artemia_airflow_spark.operators.dedup import cross_source_matrix

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "wiki"),
        (2, "the quick brown fox jumps over the lazy dog", "web"),
        (3, "the quick brown fox jumps over the lazy dog", "web"),
        (4, "completely different text about spark engines only", "web"),
    ]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    got = {(r.source_a, r.source_b): r.n_pairs
           for r in cross_source_matrix(d, "text", "doc_id", "source").collect()}
    # pairs (1,2) and (1,3) cross wiki/web -> ordered key (web, wiki);
    # pair (2,3) is the web diagonal; doc 4 pairs with nothing
    assert got == {("web", "wiki"): 2, ("web", "web"): 1}


def test_hash_split_stable_and_proportional(spark):
    """Split hand model: assignments are a pure function of (salt, id)
    — adding rows never moves an existing row's split; proportions
    land near 80/10/10 over 2000 ids; a different salt draws a
    different split."""
    from artemia_airflow_spark.operators.selection import hash_split

    d = spark.createDataFrame([(i,) for i in range(2000)], "id BIGINT")
    s1 = {r.id: r.split for r in hash_split(d, "id").collect()}
    half = spark.createDataFrame([(i,) for i in range(1000)], "id BIGINT")
    s_half = {r.id: r.split for r in hash_split(half, "id").collect()}
    assert all(s1[i] == s_half[i] for i in range(1000))  # growth-stable
    from collections import Counter
    c = Counter(s1.values())
    assert 1500 < c["train"] < 1700 and 140 < c["val"] < 260 \
        and 140 < c["test"] < 260
    s2 = {r.id: r.split for r in hash_split(d, "id", salt="v2").collect()}
    assert any(s1[i] != s2[i] for i in range(2000))


def test_cross_source_matrix_bucket_guard_fires(spark):
    """The max_bucket guard fails loudly on a pathological bucket
    (every doc identical -> one bucket holding the whole corpus)
    instead of silently materializing a quadratic pair join; the same
    corpus passes with a cap above its bucket size (r13 100x-replica
    scale finding)."""
    import pytest

    from artemia_airflow_spark.operators.dedup import cross_source_matrix

    rows = [(i, "same exact text in every document here", "web")
            for i in range(8)]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    with pytest.raises(Exception, match="max_bucket"):
        cross_source_matrix(d, "text", "doc_id", "source",
                            max_bucket=4).collect()
    ok = cross_source_matrix(d, "text", "doc_id", "source",
                             max_bucket=100).collect()
    assert {(r.source_a, r.source_b, r.n_pairs) for r in ok} == {
        ("web", "web", 28)}  # C(8,2) pairs, all on the diagonal


@pytest.mark.parametrize("max_bucket", [0, 1])
def test_cross_source_matrix_rejects_max_bucket_below_two(spark, max_bucket):
    """max_bucket < 2 fails at entry, before any job: the singleton
    filter would otherwise drop every bucket the in-plan guard should
    reject."""
    from artemia_airflow_spark.operators.dedup import cross_source_matrix

    d = spark.createDataFrame([(1, "some text", "web")],
                              "doc_id BIGINT, text STRING, source STRING")
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "max-bucket-entry")
    try:
        with pytest.raises(ValueError, match="max_bucket must be >= 2"):
            cross_source_matrix(d, "text", "doc_id", "source",
                                max_bucket=max_bucket)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("max-bucket-entry") == []


def test_grouped_partial_topk_keeps_null_strata(spark):
    """_grouped_partial_topk must not drop NULL group keys (r13
    review: pandas groupby dropna default) — a NULL stratum cuts to
    its top-r exactly like a real one."""
    from artemia_airflow_spark.operators.similarity import (
        _grouped_partial_topk,
    )

    rows = [("a", 1, 10), ("a", 2, 20), (None, 3, 30), (None, 4, 40),
            (None, 5, 50)]
    # single partition = single Arrow batch, so the per-batch cut is
    # the global answer (multi-batch, the helper only BOUNDS rows and
    # the downstream window finishes the cut)
    d = spark.createDataFrame(rows, "g STRING, id BIGINT, s BIGINT").coalesce(1)
    out = _grouped_partial_topk(
        d, probe_id_col="g", id_col="id", score_col="s", r=2
    ).collect()
    nulls = sorted(r.id for r in out if r.g is None)
    assert nulls == [4, 5]  # top-2 of the NULL stratum survive the cut
    assert sorted(r.id for r in out if r.g == "a") == [1, 2]


def test_classifier_scores_hand_model(spark):
    """NB log-odds hand model: recompute one document's score in pure
    Python (hashlib md5 buckets, Laplace doc frequencies, prior bias)
    and demand exact equality; directionally, a target-vocabulary doc
    must outscore filler and cross the score>0 decision boundary while
    filler stays below it; identical text gives identical scores."""
    import hashlib
    import math

    from artemia_airflow_spark.operators.selection import classifier_scores

    rows = [
        (0, "alpha beta alpha beta alpha", True),
        (1, "alpha beta gamma alpha beta", True),
        (2, "zebra yak zebra yak zebra", False),
        (3, "zebra yak yak zebra yak", False),
        (4, "alpha beta alpha beta alpha", False),  # target-style text
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    got = {r.doc_id: (r.score_e6, r.pred_target)
           for r in classifier_scores(d, "text", "doc_id", "is_t").collect()}
    assert len(got) == 5

    def buckets(text):
        toks = text.lower().split(" ")
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return {hashlib.md5(f.encode()).hexdigest()[:2] for f in feats}

    pres = {i: buckets(t) for i, t, _ in rows}
    tgt = {i for i, _, is_t in rows if is_t}
    nt, nn = len(tgt), len(rows) - len(tgt)
    allb = set().union(*pres.values())
    w6 = {}
    for b in allb:
        n_t = sum(1 for i in tgt if b in pres[i])
        n_n = sum(1 for i in pres if i not in tgt and b in pres[i])
        w6[b] = math.floor(math.log(
            ((n_t + 1) * (nn + 2)) / ((n_n + 1) * (nt + 2))) * 1e6 + 0.5)
    bias6 = math.floor(math.log((nt + 1) / (nn + 1)) * 1e6 + 0.5)
    for i in pres:
        want = sum(w6[b] for b in pres[i]) + bias6
        assert got[i][0] == want, (i, got[i][0], want)
    assert got[4][0] > got[2][0] and got[4][0] > got[3][0]
    assert got[4] == got[0]  # identical text -> identical score+pred
    assert got[4][1] == 1 and got[2][1] == 0 and got[3][1] == 0


def test_index_upsert_value_neutral_and_exactly_once(spark, tmp_path):
    """Incremental index maintenance contract: starting from a stale
    persisted index (odd vectors encoded wrong, two ghost vectors that
    should not be indexed), ONE index_upsert commit makes the table
    row-identical to a from-scratch rebuild of the true corpus; and
    re-applying the identical increment is content-neutral (the
    exactly-once property a restarted CDC maintenance loop needs)."""
    from artemia_airflow_spark.operators.similarity import (
        _IVF_PQ_PORTABLE_M,
        _ivf_pq_portable_encode,
        index_upsert,
        ivf_portable_centroids_df,
        pq_portable_codebooks_df,
    )
    from artemia_airflow_spark.sources.txtable import TxTable
    from pyspark.sql import functions as F

    m = _IVF_PQ_PORTABLE_M
    rows = [
        (v, d, ((v * 17 + d * 31) % 2000 - 1000) * 1000)
        for v in list(range(10)) + [100, 101]
        for d in range(64)
    ]
    comps = spark.createDataFrame(rows, "vec_id bigint, d bigint, v6 bigint")
    cells = ivf_portable_centroids_df(spark, n_cells=8, dim=64)
    books = pq_portable_codebooks_df(
        spark, m_subspaces=m, n_codes=16, sub_dim=8, salt=99991
    )
    true_corpus = comps.filter(F.col("vec_id") < 100)
    rebuild = sorted(
        tuple(r) for r in
        _ivf_pq_portable_encode(true_corpus, cells, books).collect()
    )

    evens = true_corpus.filter(F.col("vec_id") % 2 == 0)
    odds = true_corpus.filter(F.col("vec_id") % 2 == 1)
    ghosts = comps.filter(F.col("vec_id") >= 100)
    stale = (
        odds.select("vec_id").distinct()
        .select("vec_id",
                F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__j"))
        .select("vec_id", F.lit(0).cast("bigint").alias("cell"),
                F.col("__j").cast("bigint").alias("j"),
                F.lit(0).cast("bigint").alias("code"))
    )
    initial = (
        _ivf_pq_portable_encode(evens, cells, books)
        .unionByName(stale)
        .unionByName(_ivf_pq_portable_encode(ghosts, cells, books))
        .select((F.col("vec_id") * m + F.col("j")).alias("k"),
                "vec_id", "cell", "j", "code")
    )
    t = TxTable.create(spark, initial, str(tmp_path / "idx"), key_col="k")
    assert sorted(
        tuple(r) for r in
        t.snapshot().select("vec_id", "cell", "j", "code").collect()
    ) != rebuild  # genuinely stale before maintenance

    v1 = index_upsert(
        t, odds, cells, books,
        delete_ids=ghosts.select("vec_id").distinct(),
    )
    got = sorted(
        tuple(r) for r in
        t.snapshot().select("vec_id", "cell", "j", "code").collect()
    )
    assert got == rebuild  # maintained == full rebuild, row for row

    v2 = index_upsert(
        t, odds, cells, books,
        delete_ids=ghosts.select("vec_id").distinct(),
    )
    assert v2 > v1  # a commit happened...
    again = sorted(
        tuple(r) for r in
        t.snapshot().select("vec_id", "cell", "j", "code").collect()
    )
    assert again == rebuild  # ...but content is exactly-once

    # r18 overlap seam: the PRE-BUILT change relation
    # (index_upsert_changes + changes=) must maintain the table to the
    # identical rebuild state — same kernel, same tombstone fold —
    # and the two entry forms are mutually exclusive.
    from artemia_airflow_spark.operators.similarity import (
        index_upsert_changes,
    )

    t2 = TxTable.create(
        spark, initial, str(tmp_path / "idx2"), key_col="k"
    )
    ch = index_upsert_changes(
        odds, cells, books, delete_ids=ghosts.select("vec_id").distinct()
    )
    index_upsert(t2, None, cells, books, changes=ch)
    got2 = sorted(
        tuple(r) for r in
        t2.snapshot().select("vec_id", "cell", "j", "code").collect()
    )
    assert got2 == rebuild  # precomputed-changes entry == inline entry
    import pytest as _pytest

    with _pytest.raises(ValueError, match="changes"):
        index_upsert(t2, odds, cells, books, changes=ch)


def test_temporal_split_boundaries_and_embargo(spark):
    """Temporal split hand model over a 1000s span: with an 800-permille
    cutoff and a 100s embargo, the event AT the cutoff is train, one
    microsecond past it is embargo, the event at exactly cutoff+100s is
    embargo, and past that is test; growth stability does NOT hold (by
    design — extending the span moves the cutoff), which is why this
    face complements, not replaces, the hash split."""
    import datetime as dt

    from artemia_airflow_spark.operators.selection import temporal_split
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base),                                        # mn
        (2, base + dt.timedelta(seconds=800)),            # == cutoff
        (3, base + dt.timedelta(seconds=800, microseconds=1)),
        (4, base + dt.timedelta(seconds=900)),            # == embargo end
        (5, base + dt.timedelta(seconds=900, microseconds=1)),
        (6, base + dt.timedelta(seconds=1000)),           # mx
    ]
    d = spark.createDataFrame(rows, "id bigint, ts timestamp")
    out = {r.id: r.split
           for r in temporal_split(d, "ts", embargo_s=100).collect()}
    assert out == {1: "train", 2: "train", 3: "embargo",
                   4: "embargo", 5: "test", 6: "test"}


def test_js_token_divergence_hand_model(spark):
    """JS divergence hand model: identical corpora give exactly 0;
    fully disjoint vocabularies give ln(2) e6-scaled (the JS upper
    bound, 693147); the statistic is symmetric under side swap; and a
    mixed case equals the pure-Python recompute of the exact integer
    recipe term for term."""
    import math

    from artemia_airflow_spark.operators.sketches import js_token_divergence

    def js(rows):
        d = spark.createDataFrame(rows, ["text", "is_a"])
        return js_token_divergence(d, "text", "is_a").collect()[0]

    same = js([("a b c", True), ("a b c", False)])
    assert same.js_e6 == 0 and same.n_types_shared == 3

    disj = js([("a a b", True), ("x y z z", False)])
    assert disj.js_e6 == 693147 and disj.n_types_shared == 0

    mixed_rows = [("a a b", True), ("a c c c", False)]
    got = js(mixed_rows)
    swapped = js([(t, not s) for t, s in mixed_rows])
    assert got.js_e6 == swapped.js_e6

    counts = {"a": (2, 1), "b": (1, 0), "c": (0, 3)}
    t1 = sum(ca for ca, _ in counts.values())
    t2 = sum(cb for _, cb in counts.values())
    sa = sum(ca * math.floor(
        math.log(2 * ca * t2 / (ca * t2 + cb * t1)) * 1e6 + 0.5)
        for ca, cb in counts.values() if ca > 0)
    sb = sum(cb * math.floor(
        math.log(2 * cb * t1 / (ca * t2 + cb * t1)) * 1e6 + 0.5)
        for ca, cb in counts.values() if cb > 0)
    want = math.floor((sa / t1 + sb / t2) / 2 + 0.5)
    assert got.js_e6 == want
    assert (got.n_tokens_a, got.n_tokens_b) == (3, 4)
    assert (got.n_types_a, got.n_types_b, got.n_types_shared) == (2, 2, 1)


def test_js_token_divergence_headroom_guard(spark, monkeypatch):
    """ADVICE r14: the t1*t2 < 2^62 int64 headroom is enforced in-plan.
    With the bound lowered below the test corpus, the query fails loud
    (raise_error), and the default bound leaves the result untouched."""
    import pytest

    from artemia_airflow_spark.operators import sketches

    d = spark.createDataFrame(
        [("a a b", True), ("a c c c", False)], ["text", "is_a"]
    )
    ok = sketches.js_token_divergence(d, "text", "is_a").collect()
    assert len(ok) == 1

    monkeypatch.setattr(sketches, "_JS_MAX_T1T2", 10)  # t1*t2 = 12 > 10
    with pytest.raises(Exception, match="exceed the int64 headroom"):
        sketches.js_token_divergence(d, "text", "is_a").collect()


def test_token_budget_select_null_tokens_fail_loud(spark):
    """ADVICE r14: NULL token counts must hit the positivity guard
    (NULL <= 0 is NULL, so the pre-fix filter silently KEPT such rows
    on the map side while the naive oracle's window dropped them)."""
    import pytest

    from artemia_airflow_spark.operators.selection import (
        token_budget_select,
    )

    d = spark.createDataFrame(
        [("a", 9, 4), ("b", 9, None)], "doc_id string, s bigint, t bigint"
    )
    with pytest.raises(Exception, match="must be positive, got NULL"):
        token_budget_select(d, "s", "t", "doc_id", 100).collect()


def test_curriculum_phases_value_grain_quartiles(spark):
    """Curriculum hand model: single-token docs of 1,1,1,2,3,4,5,6
    chars score 1..6e6; value-grain thresholds are q1=1, q2=2, q3=4
    (smallest score whose cumulative count reaches ceil(N*k/4)), so
    the tied score-1 trio stays together in phase 1, score 4 lands in
    phase 3 WITH score 3 (ties/boundaries never split a value), and
    first_doc_id per phase is the md5('cur:'||id) argmin."""
    import hashlib

    from artemia_airflow_spark.operators.curation import curriculum_phases

    rows = [(i + 1, "a" * s)
            for i, s in enumerate([1, 1, 1, 2, 3, 4, 5, 6])]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.phase: (r.n_docs, r.n_tokens, r.min_score_e6,
                     r.max_score_e6, r.first_doc_id)
           for r in curriculum_phases(d, "text", "doc_id").collect()}

    def first(ids):
        return min(ids, key=lambda i: (
            hashlib.md5(f"cur:{i}".encode()).hexdigest(), i))

    assert out == {
        1: (3, 3, 1_000_000, 1_000_000, first([1, 2, 3])),
        2: (1, 1, 2_000_000, 2_000_000, 4),
        3: (2, 2, 3_000_000, 4_000_000, first([5, 6])),
        4: (2, 2, 5_000_000, 6_000_000, first([7, 8])),
    }


def test_triplet_mining_hand_model(spark):
    """Triplet hand model on a 1-d line (A at 0,1,5; B at 2,3; C at 9):
    each anchor pairs its nearest same-label and nearest other-label
    point; the id tiebreak is exercised by anchor 4, whose negatives
    ids 1 and 2 tie at 4e12 and resolve to the lower id 1; `hard`
    fires exactly when the negative is at least as close as the
    positive (anchors 1 and 3 tie at margin 0, anchor 2's negative is
    strictly closer), and the lone-label C anchor forms no triplet."""
    from artemia_airflow_spark.operators.similarity import triplet_mining

    rows = [
        (0, "A", [0.0, 0.0]), (1, "A", [1.0, 0.0]), (2, "A", [5.0, 0.0]),
        (3, "B", [2.0, 0.0]), (4, "B", [3.0, 0.0]),
        (5, "C", [9.0, 0.0]),
    ]
    d = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    e12 = 10 ** 12
    out = {r.anchor_id: (r.pos_id, r.pos_dist2, r.neg_id, r.neg_dist2,
                         r.margin, r.hard)
           for r in triplet_mining(
               d, id_col="vec_id", vec_col="embedding",
               label_col="label").collect()}
    assert out == {
        0: (1, 1 * e12, 3, 4 * e12, 3 * e12, False),
        1: (0, 1 * e12, 3, 1 * e12, 0, True),
        2: (1, 16 * e12, 4, 4 * e12, -12 * e12, True),
        3: (4, 1 * e12, 1, 1 * e12, 0, True),
        4: (3, 1 * e12, 1, 4 * e12, 3 * e12, False),
    }
    assert 5 not in out  # lone-label anchor: no positive, no triplet


def test_sim_recall_properties_and_self_recall(spark):
    """Recall-audit invariants on the fixture: one row per probe,
    hits bounded by k, recall_e6 exactly n_hits*1e5, deterministic
    across runs, and strictly between the degenerate extremes (the
    quantized index finds SOME true neighbors but routing 3 of 8
    cells cannot find them all on random data) — plus the
    intersection arithmetic pinned by self-recall: the exact tier
    joined with itself scores 1e6 on every probe."""
    import __spark_entry__ as E

    from artemia_airflow_spark.operators import similarity as S
    from tests.conftest import SF_ORACLE

    q = E.queries()["q_sim_recall_portable"]
    rows = sorted(map(tuple, q(spark, SF_ORACLE).collect()))
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]
    assert all(0 <= r[1] <= 10 and r[2] == r[1] * 100_000 for r in rows)
    assert any(r[1] > 0 for r in rows), "index found nothing"
    assert any(r[1] < 10 for r in rows), "suspiciously perfect"
    assert rows == sorted(map(tuple, q(spark, SF_ORACLE).collect()))

    # self-recall: exact-vs-exact intersection is 10/10 per probe
    comps, corp, probe = S._ivf_pq_portable_frames(spark, SF_ORACLE)
    probe_ids = comps.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id")).distinct()
    corp_ids = comps.filter(F.col("vec_id") >= 5).select(
        "vec_id").distinct()
    exact = S._portable_exact_rerank(
        comps, F.broadcast(probe_ids).crossJoin(corp_ids), k=10,
    )
    hits = (
        exact.select("probe_id", "vec_id")
        .join(exact.select("probe_id", "vec_id"), ["probe_id", "vec_id"])
        .groupBy("probe_id").count()
    )
    assert {r["count"] for r in hits.collect()} == {10}


def test_embedding_outliers_exact_distances_and_tiebreak(spark):
    """Outlier hand model: label A = {(0,0), (0,0), (3,0)} has
    centroid (1,0); distances² are 1, 1, 4 — so rank 1 is the (3,0)
    vector at 4e12 and rank 2 the LOWER vec_id of the tied (0,0) pair
    at 1e12; label B's two mirrored vectors tie and break by vec_id."""
    from artemia_airflow_spark.operators.similarity import (
        embedding_outliers,
    )

    rows = [
        (1, "A", [0.0, 0.0]), (2, "A", [0.0, 0.0]), (3, "A", [3.0, 0.0]),
        (10, "B", [1.0, 0.0]), (11, "B", [-1.0, 0.0]),  # centroid (0,0)
    ]
    d = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    out = [(r.label, r.rank, r.vec_id, r.dist2_e12)
           for r in embedding_outliers(
               d, id_col="vec_id", vec_col="embedding",
               label_col="label", k=2,
           ).orderBy("label", "rank").collect()]
    assert out == [
        ("A", 1, 3, 4_000_000_000_000),
        ("A", 2, 1, 1_000_000_000_000),
        ("B", 1, 10, 1_000_000_000_000),
        ("B", 2, 11, 1_000_000_000_000),
    ]


def test_text_compression_hand_model(spark):
    """Byte/char/token hand model: 'héllo wörld' is 13 UTF-8 bytes /
    11 chars / 2 tokens (two 2-byte letters) → 6.5e6 bytes-per-token
    and multibyte share 2/13; pure ASCII has share exactly 0."""
    from artemia_airflow_spark.operators.text import text_compression

    d = spark.createDataFrame(
        [("A", "héllo wörld"), ("B", "ab cd")], ["source", "text"]
    )
    out = {r.source: (r.n_bytes, r.n_chars, r.n_tokens,
                      r.bytes_per_token_e6, r.multibyte_ratio_e6)
           for r in text_compression(d, "text", "source").collect()}
    assert out == {
        "A": (13, 11, 2, 6_500_000, 153_846),
        "B": (5, 5, 2, 2_500_000, 0),
    }


def test_langid_quality_hand_model(spark):
    """P/R/F1 hand model: en has 2 true docs (1 correctly predicted,
    1 und) and 2 predictions (1 stolen from es) → P=R=F1=0.5; es has
    perfect precision but 0.5 recall (F1 = 2/3); fr is never
    predicted → precision 0 by convention, recall 0, F1 0."""
    from artemia_airflow_spark.operators.text import langid_quality

    d = spark.createDataFrame(
        [("en", "the cat"), ("en", "xyz zz"),
         ("es", "the"), ("es", "el gato"),
         ("fr", "zzz")],
        ["lang", "text"],
    )
    out = {r.lang: (r.n_true, r.n_pred, r.tp, r.precision_e6,
                    r.recall_e6, r.f1_e6)
           for r in langid_quality(d, "text", "lang").collect()}
    assert out == {
        "en": (2, 2, 1, 500_000, 500_000, 500_000),
        "es": (2, 1, 1, 1_000_000, 500_000, 666_666),
        "fr": (1, 0, 0, 0, 0, 0),
    }


def test_source_influence_hand_model(spark):
    """Leave-one-out hand model: A = 2 docs/10 tokens, B = 1 doc/1
    token → global mean 11/3 (3666666 e6); dropping A leaves 1/1
    (influence -2666666), dropping B leaves 10/2 (influence
    +1333334).  A single-source corpus takes the convention
    mean_wo == global, influence 0."""
    from artemia_airflow_spark.operators.curation import source_influence

    d = spark.createDataFrame(
        [("A", "a b c d e"), ("A", "f g h i j"), ("B", "x")],
        ["source", "text"],
    )
    out = {r.source: (r.global_mean_e6, r.mean_wo_e6, r.influence_e6)
           for r in source_influence(d, "text", "source").collect()}
    assert out == {
        "A": (3_666_666, 1_000_000, -2_666_666),
        "B": (3_666_666, 5_000_000, 1_333_334),
    }

    solo = source_influence(
        spark.createDataFrame([("A", "a b")], ["source", "text"]),
        "text", "source",
    ).collect()[0]
    assert (solo.mean_wo_e6, solo.influence_e6) == (2_000_000, 0)


def test_epoch_plan_hand_model_and_guard(spark):
    """Epoch-plan hand model: sources with 9/4/1 tokens get sqrt
    masses 3/2/1; under a 2x budget (28 tokens) the targets are
    14/9/4 (truncating DIV) and the implied epochs 1.555/2.25/4.0 e6 —
    with warn at 3e6 only the 1-token source flags (exactly-4e6 under
    the default 4e6 threshold does NOT).  An absurd budget factor
    trips the in-plan 2^62 headroom guard loudly."""
    import pytest

    from artemia_airflow_spark.operators.curation import epoch_plan

    d = spark.createDataFrame(
        [("A", "a b c"), ("A", "d e f"), ("A", "g h i"),
         ("B", "a b c d"), ("C", "x")],
        ["source", "text"],
    )
    out = {r.source: r for r in epoch_plan(
        d, "text", "source", epoch_warn_e6=3_000_000).collect()}
    assert (out["A"].n_tokens, out["A"].mass,
            out["A"].target_tokens, out["A"].epochs_e6,
            out["A"].repeat_warn) == (9, 3, 14, 1_555_555, False)
    assert (out["B"].target_tokens, out["B"].epochs_e6,
            out["B"].repeat_warn) == (9, 2_250_000, False)
    assert (out["C"].target_tokens, out["C"].epochs_e6,
            out["C"].repeat_warn) == (4, 4_000_000, True)
    # default threshold: exactly 4e6 does not warn (strictly greater)
    out4 = {r.source: r.repeat_warn
            for r in epoch_plan(d, "text", "source").collect()}
    assert out4 == {"A": False, "B": False, "C": False}

    with pytest.raises(Exception, match="headroom exceeded"):
        epoch_plan(
            d, "text", "source", budget_tokens_factor=2 ** 45
        ).collect()


def test_vocabulary_coverage_hand_model(spark):
    """Coverage hand model: counts a=5 b=3 c=1 d=1 (total 10); N=1
    covers 5/10 (500000 e6), N=2 covers 8/10, N=10 (beyond the vocab)
    covers everything; ties rank by token so c precedes d."""
    from artemia_airflow_spark.operators.text import vocabulary_coverage

    d = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a a b d")], ["doc_id", "text"]
    )
    out = {r.n_vocab: (r.covered_tokens, r.coverage_e6)
           for r in vocabulary_coverage(d, "text", (1, 2, 3, 10)).collect()}
    assert out == {
        1: (5, 500000),
        2: (8, 800000),
        3: (9, 900000),
        10: (10, 1000000),
    }


def test_token_budget_select_greedy_cut_and_edges(spark):
    """Budget-cut hand model: docs (score, tokens) = a:(9,4) b:(9,3)
    c:(5,5) d:(1,2) under budget 8 select a then b (cum 7) and stop —
    c would overshoot; equal scores consume in id order (a before b);
    budget >= total selects everything; budget smaller than the first
    document selects nothing; budget 0 selects nothing."""
    from artemia_airflow_spark.operators.selection import (
        token_budget_select,
    )

    rows = [("a", 9, 4), ("b", 9, 3), ("c", 5, 5), ("d", 1, 2)]
    d = spark.createDataFrame(rows, "doc_id string, s bigint, t bigint")

    def sel(budget):
        out = token_budget_select(d, "s", "t", "doc_id", budget)
        return sorted(r.doc_id for r in out.collect())

    assert sel(8) == ["a", "b"]
    assert sel(7) == ["a", "b"]
    assert sel(6) == ["a"]       # b's cum 7 > 6
    assert sel(14) == ["a", "b", "c", "d"]
    assert sel(100) == ["a", "b", "c", "d"]
    assert sel(3) == []          # first doc alone overshoots
    assert sel(0) == []


def test_dedup_rate_by_source_hand_model(spark):
    """Dup-rate hand model: source A has 4 docs / 2 distinct texts
    (one text three times -> max_cluster 3, rate (4-2)/4 = 500000);
    source B is all unique (rate 0); identical texts across DIFFERENT
    sources do NOT count against either (per-source grouping)."""
    from artemia_airflow_spark.operators.dedup import dedup_rate_by_source

    rows = [
        ("A", "x"), ("A", "x"), ("A", "x"), ("A", "y"),
        ("B", "x"), ("B", "z"),
    ]
    d = spark.createDataFrame(rows, ["source", "text"])
    out = {r.source: (r.n_docs, r.n_distinct_texts, r.max_cluster,
                      r.dup_rate_e6)
           for r in dedup_rate_by_source(d, "text", "source").collect()}
    assert out == {"A": (4, 2, 3, 500000), "B": (2, 2, 1, 0)}


def test_ngram_novelty_hand_model(spark):
    """Novelty hand model with 3-grams: doc 1 and doc 2 share one gram
    ('a b c'), each owns the rest — doc 1 has 2 grams (1 unique ->
    500000), doc 2 has 3 grams (2 unique -> 666666); a doc shorter
    than n tokens contributes nothing; a doc with entirely unseen
    grams is fully novel."""
    from artemia_airflow_spark.operators.curation import ngram_novelty

    rows = [
        (1, "A", "a b c d"),        # grams: 'a b c', 'b c d'
        (2, "A", "z a b c q"),      # grams: 'z a b', 'a b c', 'b c q'
        (3, "B", "p q"),            # too short for n=3
        (4, "B", "u v w x"),        # fully novel (2 grams, both unique)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: (r.n_docs, r.avg_novelty_e6, r.n_fully_novel)
           for r in ngram_novelty(d, "text", "doc_id", "source", n=3)
           .collect()}
    # doc1: 1/2 -> 500000; doc2: 2/3 -> 666666; avg = 1166666 DIV 2
    assert out["A"] == (2, 583333, 0)
    assert out["B"] == (1, 1_000_000, 1)


def test_centroid_drift_matrix_exact_distances(spark):
    """Drift-matrix hand model in 2-D: label A = {(0,0), (2,0)} has
    centroid (1,0); B = {(4,3)} centroid (4,3); C = {(1,0)} equals
    A's centroid exactly.  |A-B|^2 = 9+9 = 18 (18e12 at e12 scale,
    exact), |A-C|^2 = 0 despite different counts (the n_a*n_b
    denominator normalizes), and the matrix is upper-triangular
    (label_a < label_b, no self-pairs)."""
    from artemia_airflow_spark.operators.similarity import (
        centroid_drift_matrix,
    )

    rows = [
        (1, [0.0, 0.0], "A"), (2, [2.0, 0.0], "A"),
        (3, [4.0, 3.0], "B"),
        (4, [1.0, 0.0], "C"),
    ]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label string")
    out = {(r.label_a, r.label_b): (r.n_a, r.n_b, r.dist2_e12)
           for r in centroid_drift_matrix(
               d, id_col="vec_id", vec_col="embedding", label_col="label"
           ).collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    assert out[("A", "B")] == (2, 1, 18_000_000_000_000)
    assert out[("A", "C")] == (2, 1, 0)
    assert out[("B", "C")] == (1, 1, 18_000_000_000_000)


def test_calibration_curve_bins_and_rates(spark):
    """Calibration hand model: integer scores 0..9 with label =
    score >= 5 bin one per decile (equal-width math (s-0)*10 DIV 10),
    giving rate 0 in bins 0-4 and 1e6 in bins 5-9; mean_score equals
    the bin's single score."""
    from artemia_airflow_spark.operators.sketches import calibration_curve

    rows = [(s, s >= 5) for s in range(10)]
    d = spark.createDataFrame(rows, "score bigint, pos boolean")
    out = {r.bin: (r.n, r.n_pos, r.pos_rate_e6, r.mean_score_e6)
           for r in calibration_curve(d, "score", "pos").collect()}
    assert set(out) == set(range(10))
    for b in range(10):
        want_rate = 1_000_000 if b >= 5 else 0
        assert out[b] == (1, 1 if b >= 5 else 0, want_rate, b)


def test_knn_label_noise_hand_model(spark):
    """Label-noise hand model in 1-D-ish 2-D space: probe 0 (label A)
    has nearest neighbors one A and one B -> 50% disagreement; probe 1
    (label B) sits in a pure-B neighborhood -> 0%; distances are exact
    integer squared-L2 and ties cannot occur."""
    from artemia_airflow_spark.operators.similarity import knn_label_noise

    rows = [
        (0, [0.0, 0.0], "A"), (1, [10.0, 0.0], "B"),
        (100, [1.0, 0.0], "A"), (101, [2.0, 0.0], "B"),
        (102, [11.0, 0.0], "B"),
    ]
    d = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string")
    out = {r.label: (r.n_probes, r.n_neighbors, r.n_disagree,
                     r.disagree_rate_e6)
           for r in knn_label_noise(
               d, id_col="vec_id", vec_col="embedding",
               label_col="label", n_probes=50, k=2).collect()}
    assert out == {"A": (1, 2, 1, 500000), "B": (1, 2, 0, 0)}


def test_gapfill_interpolate_hand_model(spark):
    """Interpolation hand model built directly on the operator's
    expression recipe via a tiny orders-shaped frame is impractical
    (the face generates its own calendar), so model the algebra: with
    observations day0=100 and day3=400, days 1 and 2 interpolate to
    100 + 300*1 DIV 3 = 200 and 100 + 300*2 DIV 3 = 300; a NEGATIVE
    slope (400 -> 100) gives 300 and 200 (truncating DIV is exact
    here); head days before the first observation back-fill, tail
    days forward-fill.  Verified through the same Spark expressions
    the face uses."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = dt.date(2024, 1, 1)
    days = [(base + dt.timedelta(days=i),
             {0: 100, 3: 400}.get(i)) for i in range(-1, 6)]
    d = spark.createDataFrame(days, "day date, v bigint")
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    carried = d.select(
        "day", "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.expr(
        "pv + (nv - pv) * datediff(day, pd) DIV datediff(nd, pd)")
    out = carried.select(
        "day",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv")).cast("bigint").alias("val"),
    ).collect()
    got = {(r.day - base).days: r.val for r in out}
    assert got == {-1: 100, 0: 100, 1: 200, 2: 300, 3: 400,
                   4: 400, 5: 400}


def test_packing_efficiency_hand_model(spark):
    """B182: one shard, capacity 4, docs of 3 tokens each — the first
    sequence overflows to 6 (the straddling-doc convention), fill is
    exactly 1e6 (12 tokens over 3 sequences x 4 capacity)."""
    from artemia_airflow_spark.operators.curation import packing_efficiency

    d = spark.createDataFrame(
        [(i, "a b c") for i in range(4)], "doc_id long, text string"
    )
    rows = packing_efficiency(
        d, "text", "doc_id", capacity=4, shards=1
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.shard, r.n_seqs, r.sum_tokens, r.max_seq_tokens, r.fill_e6) \
        == (0, 3, 12, 6, 1_000_000)


def test_agreement_kappa_hand_model(spark):
    """B183 against hand-computed confusions: the classic
    75%-accuracy/50%-chance case gives kappa exactly 0.5; systematic
    disagreement gives kappa -1 (negative truncation path); constant
    labelings on both sides hit the pe=1 undefined point -> NULL."""
    from artemia_airflow_spark.operators.text import agreement_kappa

    d = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b")],
        "lab string, pred string",
    )
    r = agreement_kappa(d, "lab", "pred").collect()[0]
    assert (r.n, r.n_agree, r.po_e6, r.pe_e6, r.kappa_e6) == (
        4, 3, 750_000, 500_000, 500_000,
    )

    neg = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "lab string, pred string"
    )
    r2 = agreement_kappa(neg, "lab", "pred").collect()[0]
    assert (r2.n, r2.n_agree, r2.kappa_e6) == (2, 0, -1_000_000)

    const = spark.createDataFrame(
        [("a", "a"), ("a", "a")], "lab string, pred string"
    )
    r3 = agreement_kappa(const, "lab", "pred").collect()[0]
    assert (r3.po_e6, r3.pe_e6, r3.kappa_e6) == (1_000_000, 1_000_000, None)


def test_data_card_hand_model(spark):
    """B184: 4 docs — one exact-dup pair (whitespace-normalized), one
    marker-free 'und' doc, two sources, two label langs — every card
    number hand-computed."""
    from artemia_airflow_spark.operators.text import data_card

    d = spark.createDataFrame(
        [
            (1, "the and of to in", "en", "s1"),
            (2, "  THE and   of to in ", "en", "s1"),   # normalized dup
            (3, "el la de que los", "es", "s2"),
            (4, "qq rr ss tt uu vv", "en", "s2"),       # und
        ],
        "doc_id long, text string, lang string, source string",
    )
    r = data_card(d, "text").collect()[0]
    # tokens: 5 + 7 + 5 + 6 = 23 — doc 2's padded text splits to a
    # LEADING and a TRAILING empty token besides its 5 words (both
    # engines' raw '\\s+' split keeps them: Spark split(limit=-1) ==
    # DuckDB regexp_split_to_array), pinned as a literal so the
    # empty-token convention can never silently diverge
    assert r.n_docs == 4
    assert r.n_tokens == 23
    assert r.n_sources == 2 and r.n_langs == 2
    assert r.dup_rate_e6 == 250_000            # 1 dup of 4
    assert r.und_share_e6 == 250_000           # 1 und of 4
    assert r.mean_doc_tokens_e6 == 23 * 1_000_000 // 4
