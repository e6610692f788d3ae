"""The engine's one SRP-LSH hash: the production kernel behind
``lsh_topk`` and ``embedding_neardup_lsh`` is the plane family that the
DuckDB oracle of ``q_sim_ann_lsh_portable`` computes, and NULL or empty
vectors get no bucket rows."""
from __future__ import annotations

from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from tests.conftest import SF_SMOKE


def test_production_buckets_equal_oracle_buckets(spark):
    """At ``q_sim_ann_lsh``'s config (bits=4, tables=8), the production
    kernel's (vec_id, t, bucket) rows on sf0.001 equal DuckDB's, run from
    the planes/comps/sdots/buckets CTEs of ``q_sim_ann_lsh_portable``'s
    oracle with the table and bit ranges widened to that config."""
    import duckdb

    import __spark_entry__ as entrymod
    from artemia_airflow_spark.operators.similarity import srp_bucket_rows

    oracle = entrymod.oracle_sql()["q_sim_ann_lsh_portable"]
    ctes = oracle[: oracle.index("), cand AS (")] + ")"
    for old, new in (("range(0, 2)) AS t", "range(0, 8)) AS t"),
                     ("range(0, 6)) AS b", "range(0, 4)) AS b")):
        assert old in ctes, old
        ctes = ctes.replace(old, new)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
        )
        want = sorted(
            con.execute(f"{ctes} SELECT vec_id, t, bucket FROM buckets").fetchall()
        )
    finally:
        con.close()
    emb = scan(spark, SF_SMOKE, "embeddings")
    got = sorted(
        (r.vec_id, r.t, r.bucket)
        for r in srp_bucket_rows(
            emb, id_col="vec_id", vec_col="embedding", bits=4, tables=8
        ).collect()
    )
    assert len(got) == 8 * emb.count()
    assert got == want


def test_null_and_empty_vectors_get_no_bucket_rows(spark):
    """A corpus row with a NULL or empty vector has no bucket rows, so
    ``lsh_topk`` runs and never returns it."""
    from artemia_airflow_spark.operators.similarity import lsh_topk, srp_bucket_rows

    emb = scan(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    bad = spark.createDataFrame(
        [(10**9, None), (10**9 + 1, [])], "vec_id long, embedding array<float>"
    )
    corpus = emb.filter(F.col("vec_id") >= 5).unionByName(bad)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    rows = srp_bucket_rows(
        corpus, id_col="vec_id", vec_col="embedding", bits=4, tables=8
    )
    assert rows.filter(F.col("vec_id") >= 10**9).count() == 0
    assert rows.count() == 8 * (corpus.count() - 2)
    out = lsh_topk(
        corpus, probes, id_col="vec_id", probe_id_col="probe_id",
        k=10, bits=4, tables=8,
    ).collect()
    assert {r.probe_id for r in out} == set(range(5))
    assert all(r.vec_id < 10**9 for r in out)
