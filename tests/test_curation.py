"""Semantic unit tests for the corpus-curation operators
(decontamination, sharding, mixing weights, repetition scoring)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.operators.curation import decontaminate, word_ngrams
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return scan(spark, SF_SMOKE, "documents").cache()


def test_word_ngrams_basic(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], ["text"])
    rows = df.select(word_ngrams("text", 3).alias("g")).collect()
    assert rows[0].g == ["a b c", "b c d"]
    # shorter than n: single truncated gram (list_slice convention)
    assert rows[1].g == ["x"]


def test_decontaminate_flags_verbatim_copy(spark, docs):
    """A training doc that IS an eval doc (verbatim) must be flagged."""
    eval_df = docs.limit(1)
    train = eval_df.withColumn("doc_id", F.col("doc_id") + 10_000_000).unionByName(
        spark.createDataFrame(
            [(10_000_001, "zz yy xx ww vv uu tt ss", "en", "srcX", 23)],
            docs.schema,
        )
    )
    out = {r.doc_id: r.contaminated for r in
           decontaminate(train, eval_df, "text", "doc_id").collect()}
    copied_id = eval_df.first().doc_id + 10_000_000
    assert out[copied_id] is True
    assert out[10_000_001] is False


def test_shard_partitions_the_corpus(spark, docs):
    from artemia_airflow_spark.plans.registry import QUERIES

    out = QUERIES["q_shard"](spark, SF_SMOKE).collect()
    assert 1 <= len(out) <= 16
    assert all(r.shard in "0123456789abcdef" for r in out)
    assert sum(r.n_docs for r in out) == docs.count()


def test_mix_weights_bounded_and_fair(spark):
    from artemia_airflow_spark.plans.registry import QUERIES

    rows = QUERIES["q_mix_weights"](spark, SF_SMOKE).collect()
    total = sum(r.n_tokens for r in rows)
    fair = total / len(rows)
    for r in rows:
        assert 0.0 < r.weight <= 1.0
        # weight hits 1 exactly for under-represented sources
        if r.n_tokens <= fair:
            assert r.weight == 1.0


def test_repetition_in_unit_interval(spark):
    from artemia_airflow_spark.plans.registry import QUERIES

    rows = QUERIES["q_text_repetition"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.avg_repetition < 1.0


@pytest.mark.parametrize("schema", [
    "g STRING", "gram BIGINT", "gram STRING, n BIGINT",
])
def test_decontaminate_rejects_malformed_eval_grams(spark, schema):
    """A supplied eval_grams relation must be exactly one string column
    ``gram``; anything else fails on the schema alone, with no job."""
    d = spark.createDataFrame([(1, "a b c d e")], "doc_id BIGINT, text STRING")
    grams = spark.createDataFrame([], schema)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "eval-grams-schema")
    try:
        with pytest.raises(ValueError, match="eval_grams"):
            decontaminate(d, d, "text", "doc_id", eval_grams=grams)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("eval-grams-schema") == []


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-gram semi-join must be broadcast (map-side), never a
    shuffled join of the exploded training grams."""
    from artemia_airflow_spark.plans.registry import QUERIES

    df = QUERIES["q_decontaminate"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan


# ---- exact-substring tier (winnowed fingerprints) ----

_PAD_A = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon")
_PAD_B = ("one two three four five six seven eight nine ten eleven "
          "twelve thirteen fourteen fifteen sixteen seventeen")
_SHARED = "the quick brown fox jumps over the lazy dog near the river bank"


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_substring_overlap_detects_long_shared_substring(spark):
    from artemia_airflow_spark.operators.curation import exact_substring_overlap

    df = _docs_df(
        spark,
        [
            (1, f"{_PAD_A} {_SHARED} more trailing words here"),
            (2, f"{_PAD_B} {_SHARED} and a different ending"),
            (3, _PAD_A + " completely unrelated continuation text"),
        ],
    )
    hit_ids = {r.doc_id for r in exact_substring_overlap(df, "text", "doc_id").collect()}
    assert {1, 2} <= hit_ids
    # doc 3 shares _PAD_A with doc 1 (>=40 chars) so it may legitimately
    # appear; the essential property is 1 and 2 are caught via _SHARED.


def test_substring_overlap_no_false_positives(spark):
    from artemia_airflow_spark.operators.curation import exact_substring_overlap

    df = _docs_df(spark, [(1, _PAD_A), (2, _PAD_B)])
    assert exact_substring_overlap(df, "text", "doc_id").collect() == []


def test_substring_decontaminate_flags_containing_doc(spark):
    from artemia_airflow_spark.operators.curation import decontaminate_substrings

    eval_df = _docs_df(spark, [(100, _SHARED)])
    train = _docs_df(
        spark,
        [
            (1, f"{_PAD_A} {_SHARED} trailing"),  # contains eval substring
            (2, _PAD_B),                            # clean
        ],
    )
    out = {r.doc_id: r.substr_contaminated
           for r in decontaminate_substrings(train, eval_df, "text", "doc_id").collect()}
    assert out == {1: True, 2: False}


def test_substring_fingerprints_whitespace_normalized(spark):
    """Winnowing runs on whitespace-collapsed lowercase text, so
    formatting differences don't defeat exact-substring matching."""
    from artemia_airflow_spark.operators.curation import decontaminate_substrings

    eval_df = _docs_df(spark, [(100, _SHARED)])
    train = _docs_df(spark, [(1, f"{_PAD_A}  {_SHARED.upper()}  trailing")])
    out = decontaminate_substrings(train, eval_df, "text", "doc_id").collect()
    assert out[0].substr_contaminated is True


def test_redact_pii_constructed_cases(spark):
    from artemia_airflow_spark.operators.curation import redact_pii

    rows = [
        (1, "mail a.b+c@x-y.example.org end"),
        (2, "ssn 123-45-6789 phone 555-123-4567 both"),
        (3, "ip 192.168.1.255 ok"),
        (4, "clean text stays untouched"),
        (5, "two mails a@b.co c@d.io"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r.doc_id: r.text for r in redact_pii(df, "text").collect()}
    assert got[1] == "mail [EMAIL] end"
    assert got[2] == "ssn [SSN] phone [PHONE] both"
    assert got[3] == "ip [IP] ok"
    assert got[4] == "clean text stays untouched"
    assert got[5] == "two mails [EMAIL] [EMAIL]"


def test_pack_firstfit_respects_capacity(spark):
    """Constructed shard: docs of 300/300/300/500/900/1200 tokens with
    capacity 1000 must pack first-fit as [300+300+300], [500], [900],
    [1200] (oversize doc alone in its own sequence)."""
    from artemia_airflow_spark.operators.curation import pack_sequences_firstfit

    sizes = [300, 300, 300, 500, 900, 1200]
    rows = [(i * 16, " ".join(["w"] * n)) for i, n in enumerate(sizes)]  # all shard 0
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    packed = pack_sequences_firstfit(df, "text", "doc_id", capacity=1000, shards=16)
    got = {r.doc_id: r.seq_id for r in packed.collect()}
    assert [got[i * 16] for i in range(6)] == [0, 0, 0, 1, 2, 3]


def test_pack_budget_matches_manual_cumsum(spark):
    """Budget strategy: seq_id == floor(prev-cumsum / capacity) within
    the shard, docs straddling a boundary stay in the earlier seq."""
    from artemia_airflow_spark.operators.curation import pack_sequences_budget

    sizes = [600, 600, 600, 600]  # cum_prev: 0, 600, 1200, 1800 / cap 1000
    rows = [(i * 8, " ".join(["w"] * n)) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    packed = pack_sequences_budget(df, "text", "doc_id", capacity=1000, shards=8)
    got = {r.doc_id: r.seq_id for r in packed.collect()}
    assert [got[i * 8] for i in range(4)] == [0, 0, 1, 1]


def test_bloom_decontamination_never_misses(spark):
    """Bloom tier guarantee: flags ⊇ exact tier's flags (false
    positives allowed, false negatives never)."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.curation import (
        decontaminate,
        decontaminate_bloom,
    )
    from tests.conftest import SF_SMOKE

    d = scan(spark, SF_SMOKE, "documents")
    train = d.filter(F.col("doc_id") % 20 != 0)
    ev = d.filter(F.col("doc_id") % 20 == 0)
    exact = {
        r.doc_id
        for r in decontaminate(train, ev, "text", "doc_id", n=4)
        .filter("contaminated").select("doc_id").collect()
    }
    bloom = {
        r.doc_id
        for r in decontaminate_bloom(train, ev, "text", "doc_id", n=4)
        .filter("contaminated_bloom").select("doc_id").collect()
    }
    assert exact, "fixture should contain contaminated docs"
    assert exact <= bloom, f"bloom missed: {sorted(exact - bloom)[:5]}"


def test_apply_mixture_tracks_weights_and_is_deterministic(spark):
    """apply_mixture: full-weight sources keep every doc; downsampled
    sources keep ~weight fraction (binomial tolerance); identical
    seed -> identical sample."""
    from pyspark.sql import functions as F

    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.curation import apply_mixture
    from tests.conftest import SF_ORACLE

    d = scan(spark, SF_ORACLE, "documents")
    kept = apply_mixture(d)
    # recompute the weights independently
    stats = {
        r.source: r.n_tokens
        for r in d.groupBy("source")
        .agg(F.sum(F.size(F.split(F.lower("text"), r"\s+"))).alias("n_tokens"))
        .collect()
    }
    fair = sum(stats.values()) / len(stats)
    n_total = {r.source: r.n for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_kept = {r.source: r.n for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, toks in stats.items():
        w = min(1.0, fair / toks)
        got = n_kept.get(src, 0) / n_total[src]
        if w == 1.0:
            assert n_kept[src] == n_total[src], src
        else:
            # binomial 4-sigma tolerance
            import math

            sigma = math.sqrt(w * (1 - w) / n_total[src])
            assert abs(got - w) < 4 * sigma + 0.02, (src, got, w)
    # determinism: second invocation yields the identical id set
    ids1 = {r.doc_id for r in kept.select("doc_id").collect()}
    ids2 = {r.doc_id for r in apply_mixture(d).select("doc_id").collect()}
    assert ids1 == ids2


def test_cap_per_group_caps_and_is_deterministic(spark):
    from artemia_airflow_spark.operators.curation import cap_per_group

    df = spark.createDataFrame(
        [(i, "big" if i < 47 else "small") for i in range(50)],
        "doc_id long, source string",
    )
    kept = cap_per_group(df, "source", "doc_id", max_rows=5)
    counts = {r.source: r.n for r in kept.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("doc_id").alias("n")
    ).collect()}
    assert counts["big"] == 5          # capped
    assert counts["small"] == 3        # under the cap: keep everything
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(r.doc_id for r in cap_per_group(df, "source", "doc_id", max_rows=5).collect())
    assert a == b                      # hash-rank pick is reproducible


def test_scrub_web_noise_removes_noise_keeps_text(spark):
    from artemia_airflow_spark.operators.curation import scrub_web_noise

    df = spark.createDataFrame(
        [(1, "keep this https://x.example/path <div>tag</div> a@b.example wow!!!! end")],
        "doc_id long, text string",
    )
    out = scrub_web_noise(df, "text", out_col="clean").collect()[0].clean
    assert "https://" not in out and "<div>" not in out and "a@b.example" not in out
    assert "!!!!" not in out
    assert out.startswith("keep this") and out.endswith("end")
    assert "  " not in out             # whitespace re-collapsed


# ---- segment-level (CCNet paragraph) dedup -------------------------------


def _seg_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_segments_drops_shared_keeps_unique(spark):
    from artemia_airflow_spark.operators.curation import dedup_segments

    shared = " ".join(f"s{i}" for i in range(10))
    u1 = " ".join(f"a{i}" for i in range(10))
    u2 = " ".join(f"b{i}" for i in range(10))
    d = _seg_docs(spark, [(1, f"{shared} {u1}"), (2, f"{shared} {u2}")])
    out = {r.doc_id: r for r in dedup_segments(d).collect()}
    assert out[1].n_segments == 2 and out[1].n_dropped == 1
    assert out[1].text_clean == u1
    assert out[2].text_clean == u2


def test_dedup_segments_all_boilerplate_doc_empties(spark):
    from artemia_airflow_spark.operators.curation import dedup_segments

    shared = " ".join(f"s{i}" for i in range(10))
    d = _seg_docs(spark, [(1, shared), (2, shared)])
    out = dedup_segments(d).collect()
    assert all(r.text_clean == "" and r.n_dropped == 1 for r in out)


def test_dedup_segments_preserves_order_and_short_tail(spark):
    from artemia_airflow_spark.operators.curation import dedup_segments

    # 25 words -> segments [0:10], [10:20], [20:25] (short tail kept)
    words = [f"w{i}" for i in range(25)]
    d = _seg_docs(spark, [(1, " ".join(words))])
    out = dedup_segments(d).collect()[0]
    assert out.n_segments == 3 and out.n_dropped == 0
    assert out.text_clean == " ".join(words)


def test_dedup_segments_within_doc_repeat_is_not_cross_doc(spark):
    from artemia_airflow_spark.operators.curation import dedup_segments

    # the SAME segment twice within one doc: doc-frequency is 1 -> kept
    seg = " ".join(f"r{i}" for i in range(10))
    d = _seg_docs(spark, [(1, f"{seg} {seg}")])
    out = dedup_segments(d).collect()[0]
    assert out.n_dropped == 0 and out.text_clean == f"{seg} {seg}"


def test_dedup_segments_null_text_keeps_row(spark):
    """NULL text is treated as '' — the one-row-per-document contract
    must hold even for NULL inputs (they reassemble to '' or to the
    shared empty segment, never vanish)."""
    from artemia_airflow_spark.operators.curation import dedup_segments

    d = spark.createDataFrame(
        [(1, "alpha " + " ".join(f"x{i}" for i in range(9))), (2, None)],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in dedup_segments(d).collect()}
    assert set(out) == {1, 2}
    assert out[2].n_segments == 1 and out[2].text_clean == ""


def test_corpus_pipeline_matches_python_reference_on_crafted_corpus(spark):
    """The composed capstone vs an independent pure-Python twin on a
    corpus CRAFTED so every gate provably fires: a marker-free doc
    dies at language-ID; a byte-identical copy dies at exact dedup; a
    same-token-set/different-order doc dies at the portable minhash
    LSH (identical signature — the set semantics exact dedup cannot
    see); a doc embedding the eval slice's 4-gram dies at
    decontamination; the tail source's sqrt-temperature factor is
    exactly 2.0 (deterministic double up-sampling, no Lehmer
    boundary); packing uses capacity=8 so sequence boundaries land
    mid-split.  The Python twin recomputes every stage (md5 buckets,
    NB log-odds, minhash bands, Lehmer, md5 split, running-sum pack)
    from scratch and the manifests must agree row-for-row."""
    import hashlib
    import math
    import re as _re

    from artemia_airflow_spark.operators.curation import corpus_pipeline

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731

    # -- fixture ---------------------------------------------------------
    # eval doc (id 20): its 4-gram "alpha beta gamma delta" is the
    # contamination probe
    ev_rows = [(20, "en", "srcA", "alpha beta gamma delta")]
    tr_rows = [
        (1, "en", "srcA", "the and of to in quick brown fox"),
        (2, "en", "srcA", "the and of to in quick brown fox"),   # exact dup
        (3, "en", "srcA", "in to of and the quick brown fox"),   # set dup
        (4, "en", "srcA", "the and of to in alpha beta gamma delta"),
        (6, "en", "srcA", "zz yy xx ww vv uu tt ss"),            # und
        # 32 tokens via repetition: presence features stay mostly the
        # shared positive pool, so the NB gate passes it, while the
        # token SET differs from doc 1's, so the LSH does not merge it
        (5, "en", "srcB", ("the and of to in red blue sky " * 4).strip()),
    ]
    train = spark.createDataFrame(
        tr_rows, "doc_id long, lang string, source string, text string")
    ev = spark.createDataFrame(
        ev_rows, "doc_id long, lang string, source string, text string")

    # -- python twin ------------------------------------------------------
    MARKERS = {
        "en": ["the", "and", "of", "to", "in"],
        "es": ["el", "la", "de", "que", "los"],
        "fr": ["le", "la", "les", "des", "est"],
        "de": ["der", "die", "das", "und", "ist"],
        "zh": ["de5", "shi4", "le5", "zai4", "he2"],
    }

    def lang_pred(text):
        toks = set(text.lower().split())
        best = max(sorted(MARKERS), key=lambda lg: (
            len(toks & set(MARKERS[lg])), lg))
        return best if len(toks & set(MARKERS[best])) > 0 else "und"

    lid = [r for r in tr_rows if lang_pred(r[3]) != "und"]
    assert {r[0] for r in tr_rows} - {r[0] for r in lid} == {6}

    # classifier: NB log-odds over 256 md5 buckets, presence features
    def buckets(text):
        t = text.lower().split()
        feats = t + [f"{a} {b}" for a, b in zip(t, t[1:])]
        return {md5(f)[:2] for f in feats}

    nd = len(lid)
    ndt = sum(1 for r in lid if r[1] == "en")
    bias6 = math.floor(math.log((ndt + 1) / (nd - ndt + 1)) * 1e6 + 0.5)
    bstats: dict = {}
    for r in lid:
        for b in buckets(r[3]):
            n_all, n_t = bstats.get(b, (0, 0))
            bstats[b] = (n_all + 1, n_t + (r[1] == "en"))
    def score(text):
        s = bias6
        for b in buckets(text):
            n_all, n_t = bstats[b]
            s += math.floor(math.log(
                ((n_t + 1) * (nd - ndt + 2))
                / ((n_all - n_t + 1) * (ndt + 2))) * 1e6 + 0.5)
        return s
    cls = [r for r in lid if score(r[3]) > 0]
    assert {r[0] for r in cls} == {r[0] for r in lid}, (
        "fixture drift: the classifier gate was crafted to pass all "
        "langid survivors")

    # exact dedup: min id per normalized text
    seen: dict = {}
    for r in sorted(cls):
        key = _re.sub(r"\s+", " ", r[3].strip().lower())
        seen.setdefault(key, r)
    ex = sorted(seen.values())
    assert {r[0] for r in cls} - {r[0] for r in ex} == {2}

    # portable minhash LSH (16 hashes, 2 bands x 8)
    def bands(text):
        toks = set(text.lower().split())
        sig = [min(md5(f"{i // 4}:{tok}")[(i % 4) * 8:(i % 4) * 8 + 8]
                   for tok in toks) for i in range(16)]
        return [(b, md5(",".join(sig[b * 8:(b + 1) * 8]))) for b in (0, 1)]
    bb = {r[0]: bands(r[3]) for r in ex}
    dups = {i for i, bs in bb.items()
            if any(j < i and set(bs) & set(bj) for j, bj in bb.items())}
    assert dups == {3}, "fixture drift: id 3 must LSH-collide with id 1"
    near = [r for r in ex if r[0] not in dups]

    # decontaminate: 4-gram overlap with the eval slice
    def grams(text):
        t = text.lower().split()
        return {" ".join(t[i:i + 4]) for i in range(max(len(t) - 3, 1))}
    eg = set().union(*(grams(r[3]) for r in ev_rows))
    dec = [r for r in near if not (grams(r[3]) & eg)]
    assert {r[0] for r in near} - {r[0] for r in dec} == {4}

    # sqrt-temperature: srcB (32 tokens) is the head, srcA (8) doubles
    ntok = lambda t: len(t.lower().split())  # noqa: E731
    src_tokens: dict = {}
    for r in dec:
        src_tokens[r[2]] = src_tokens.get(r[2], 0) + ntok(r[3])
    mx = max(src_tokens.values())
    def copies(r):
        f = math.sqrt(mx / src_tokens[r[2]])
        frac_e6 = math.floor((f - math.floor(f)) * 1e6 + 0.5)
        lehmer = ((r[0] % 2147483647) * 48271 + 77) % 2147483647 % 1000000
        return int(f) + (1 if lehmer < frac_e6 else 0)
    assert {r[2]: copies(r) for r in dec} == {"srcA": 2, "srcB": 1}

    # md5 split + capacity-8 pack over 4 shards
    def split_of(i):
        b = int(md5(f"split:{i}")[:12], 16) % 1000
        return "test" if b < 100 else ("val" if b < 200 else "train")
    rows = [(split_of(r[0]), r[2], r[0], ntok(r[3]), c + 1)
            for r in dec for c in range(copies(r))]
    packed = []
    for sp in sorted({r[0] for r in rows}):
        for sh in range(4):
            cum = 0
            # pack in (doc_id, copy_id) order — the engine's window
            # order within (split, shard); sorting whole tuples would
            # walk (source, id) and only coincidentally agree
            for (s, src, i, t, c) in sorted(rows, key=lambda r: (r[2], r[4])):
                if s == sp and i % 4 == sh:
                    packed.append((s, src, i, t, sh, cum // 8))
                    cum += t
    want_m1: dict = {}
    for (s, src, i, t, sh, q) in packed:
        k = (s, src)
        nr, docs, st = want_m1.get(k, (0, set(), 0))
        want_m1[k] = (nr + 1, docs | {i}, st + t)
    want_seqs = {
        s: len({(sh, q) for (s2, _, _, _, sh, q) in packed if s2 == s})
        for s in {p[0] for p in packed}
    }
    want = sorted(
        (s, src, nr, len(docs), st, want_seqs[s])
        for (s, src), (nr, docs, st) in want_m1.items()
    )

    got = sorted(map(tuple, corpus_pipeline(
        train, ev, capacity=8, shards=4,
    ).collect()))
    assert got == want, (got, want)


def test_corpus_release_manifest_order_and_pruning(spark, tmp_path):
    """corpus_release (B186) on a crafted all-survivor corpus: 8
    English docs in 4 score pairs (equal chars-per-token within a
    pair) quartile cleanly into phases 1-4 with 2 docs each.  The
    export manifest's footer-harvested counts must equal the read-back
    panel, the TxTable version is pinned, reading one shard prunes
    partitions (PartitionFilters on shard), and rows inside a shard's
    files are written in curriculum order (phase, then score)."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from artemia_airflow_spark.operators.curation import corpus_release

    # filler length doubles every pair, so chars-per-token scores come
    # in 4 equal pairs; the doc-id suffix keeps token SETS distinct
    # across docs (LSH must not merge a pair)
    fill = {1: "aa", 2: "ee", 3: "aaaa", 4: "eeee",
            5: "aaaaaaaa", 6: "eeeeeeee",
            7: "a" * 16, 8: "e" * 16}
    tr_rows = [
        (i, "en", "srcA", "the and of to in " + " ".join(
            f"{fill[i]}{i}x{j}" for j in range(4)))
        for i in range(1, 9)
    ]
    train = spark.createDataFrame(
        tr_rows, "doc_id long, lang string, source string, text string")
    ev = spark.createDataFrame(
        [(20, "en", "srcA", "alpha beta gamma delta")],
        "doc_id long, lang string, source string, text string")

    out_root = str(tmp_path / "rel")
    manifest_out: list = []
    panel = sorted(map(tuple, corpus_release(
        train, ev, shards=4, out_root=out_root,
        manifest_out=manifest_out,
    ).collect()))

    (manifest,) = manifest_out
    assert manifest["version"] == 0  # create commits version 0
    assert manifest["shards"] == 4
    assert manifest["total_rows"] == 8 == sum(r[2] for r in panel)
    # per-phase doc counts: the 4 score pairs quartile 2-2-2-2
    per_phase: dict = {}
    for (phase, _sh, n, _t, _mn, _mx) in panel:
        per_phase[phase] = per_phase.get(phase, 0) + n
    assert per_phase == {1: 2, 2: 2, 3: 2, 4: 2}
    # footer-harvested manifest counts equal the read-back panel's
    per_shard: dict = {}
    for (_ph, sh, n, _t, _mn, _mx) in panel:
        per_shard[sh] = per_shard.get(sh, 0) + n
    assert {int(k): v for k, v in manifest["shard_rows"].items()
            if v} == per_shard
    # the on-disk manifest is the same object
    with open(os.path.join(out_root, "export", "_manifest.json")) as f:
        assert json.load(f) == manifest

    # partition pruning: a shard filter must reach PartitionFilters
    some_shard = next(iter(per_shard))
    plan = (
        spark.read.parquet(os.path.join(out_root, "export"))
        .filter(F.col("shard") == some_shard)
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
    )
    import re as _re
    assert _re.search(r"PartitionFilters: \[[^\]]*shard", plan), plan[:1500]

    # curriculum order within each shard's files: (phase, score_e6)
    # non-decreasing in row order
    for d in sorted(glob.glob(os.path.join(out_root, "export", "shard=*"))):
        rows = []
        for fn in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(fn, columns=["phase", "score_e6"])
            rows.extend(zip(t["phase"].to_pylist(),
                            t["score_e6"].to_pylist()))
        assert rows == sorted(rows), (d, rows)
