"""Seeded input tables for the benchmark.

The tables mirror the shape of the engine's synthetic fixtures (same
column names, types and value domains) so the declared faces and their
DuckDB oracles run on them unchanged: ``documents`` at sf0.1 (5,000
docs over a 30-word vocabulary, 5% near-duplicates, a few exact
duplicates) and the TPC-H subset that Q3/Q5/Q10/Q18 read at sf0.01.
The same seed always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
# the language-ID hint words of operators.text.language_id
FUNCTION_WORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "das", "und", "ist"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EPOCH = np.datetime64("1995-01-01", "us")
DAY_US = 86_400 * 1_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_documents(out_dir: str, seed: int, n: int = 5000) -> None:
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(10, 101, n)
    langs = rng.choice(LANGS, n, p=LANG_P)
    # about one word in ten is a function word of the doc's language, so
    # the language-ID gate and the quality classifier (trained on
    # lang == 'en') see the signal real text carries
    texts = []
    for k, lang in zip(lens, langs):
        words = rng.choice(VOCAB, k)
        own = rng.random(k) < 0.1
        words[own] = rng.choice(FUNCTION_WORDS[lang], own.sum())
        texts.append(" ".join(words))
    # 5% near-duplicates (a copy of an earlier doc plus one token) and a
    # handful of exact duplicates, so both dedup gates remove rows
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), 8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _dates(rng, n: int) -> pa.Array:
    return pa.array(EPOCH + rng.integers(0, 2500, n) * DAY_US, pa.timestamp("us"))


def write_tpch(out_dir: str, seed: int, sf: float = 0.01) -> None:
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n_line),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line),
    })
