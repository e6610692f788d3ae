"""Fixture-drift tripwire: the round driver regenerates /root/testdata
between rounds and has already shipped schema changes mid-build
(events.ts flipped ns-as-long -> timestamp[us] in round 3, breaking
the whole events family at the driver gate).  This module fails FAST
and LOUD in local pytest when a fixture table drifts, instead of
surfacing as cryptic per-query analysis errors."""

from __future__ import annotations

import pytest

from artemia_airflow_spark.catalog import TABLES, scan
from tests.conftest import SF_ORACLE

# column -> expected Spark simpleString type, per FIXTURES.md §1.
# Only contract-critical columns are pinned; extra columns are fine.
_EXPECTED = {
    "region": {"r_regionkey": {"int", "bigint"}, "r_name": {"string"}},
    "nation": {"n_nationkey": {"int", "bigint"}, "n_regionkey": {"int", "bigint"}},
    "customer": {"c_custkey": {"bigint"}, "c_acctbal": {"double"},
                 "c_mktsegment": {"string"}},
    "supplier": {"s_suppkey": {"bigint"}, "s_nationkey": {"int", "bigint"}},
    "part": {"p_partkey": {"bigint"}, "p_brand": {"string"}, "p_type": {"string"},
             "p_size": {"int", "bigint"}},
    "orders": {"o_orderkey": {"bigint"}, "o_custkey": {"bigint"},
               "o_orderdate": {"timestamp", "timestamp_ntz"},
               "o_orderpriority": {"string"}},
    "lineitem": {"l_orderkey": {"bigint"}, "l_partkey": {"bigint"},
                 "l_suppkey": {"bigint"}, "l_quantity": {"double"},
                 "l_extendedprice": {"double"}, "l_discount": {"double"},
                 "l_shipdate": {"timestamp", "timestamp_ntz"}},
    # events.ts: catalog.scan must have normalized it to TimestampType
    # regardless of the on-disk encoding (the round-3 breakage)
    "events": {"event_id": {"bigint"}, "ts": {"timestamp"},
               "user_id": {"bigint"}, "event_type": {"string"},
               "value": {"double"}, "props": {"string"}},
    "documents": {"doc_id": {"bigint"}, "text": {"string"}, "lang": {"string"},
                  "source": {"string"}},
    "embeddings": {"vec_id": {"bigint"}, "embedding": {"array<float>", "array<double>"},
                   "label": {"int", "bigint"}},
}


@pytest.mark.parametrize("table", sorted(TABLES))
def test_fixture_schema_contract(spark, table):
    df = scan(spark, SF_ORACLE, table)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for col, allowed in _EXPECTED[table].items():
        assert col in got, f"{table}.{col} missing — fixture drifted: {sorted(got)}"
        assert got[col] in allowed, (
            f"{table}.{col} is {got[col]}, expected one of {sorted(allowed)} — "
            "fixture encoding drifted; check catalog.scan normalization"
        )
    assert df.limit(1).count() == 1, f"{table}: fixture is empty"


def test_rwlock_writer_preference_blocks_new_readers():
    """ADVICE r8: once a writer waits on the views lock, NEW readers
    queue behind it — a sustained reader stream can no longer starve
    a re-registration (the writer runs as soon as in-flight readers
    drain)."""
    import threading
    import time

    from artemia_airflow_spark.catalog import _RWLock

    lock = _RWLock()
    order: list[str] = []
    lock.acquire_read()  # in-flight reader

    writer_in = threading.Event()
    reader_in = threading.Event()

    def writer():
        lock.acquire_write()
        order.append("writer")
        writer_in.set()
        lock.release_write()

    def late_reader():
        # started AFTER the writer is waiting: must queue behind it
        lock.acquire_read()
        order.append("reader")
        reader_in.set()
        lock.release_read()

    tw = threading.Thread(target=writer)
    tw.start()
    # wait until the writer is registered as waiting
    for _ in range(200):
        if lock._writers_waiting:
            break
        time.sleep(0.01)
    assert lock._writers_waiting == 1
    tr = threading.Thread(target=late_reader)
    tr.start()
    time.sleep(0.05)
    assert not order, "writer or late reader ran past the held read lock"
    lock.release_read()  # drain the in-flight reader
    assert writer_in.wait(5.0) and reader_in.wait(5.0)
    tw.join(5.0), tr.join(5.0)
    assert order == ["writer", "reader"]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_second_scan_reuses_the_parquet_schema(spark):
    """Only the first scan of a fixture file runs the schema-inference
    job; a later scan passes the remembered schema and submits none."""
    first = scan(spark, SF_ORACLE, "nation")
    second, jobs = _jobs_in_group(
        spark, "scan-memo-hit", lambda: scan(spark, SF_ORACLE, "nation"))
    assert jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_concurrent_scans_of_a_fresh_file_infer_once(spark, tmp_path):
    """Four threads scanning one file nobody has read yet run one
    schema-inference job: the others wait for it and reuse its schema."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from artemia_airflow_spark.functions.core import spark_thread

    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
                   str(tmp_path / "region.parquet"))
    start = threading.Barrier(4)
    frames = []

    def scan_at_once():
        start.wait()
        frames.append(scan(spark, str(tmp_path), "region"))

    def scan_from_four_threads():
        threads = [spark_thread(scan_at_once) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60.0)

    _, jobs = _jobs_in_group(spark, "scan-concurrent-miss", scan_from_four_threads)
    assert len(frames) == 4
    assert len(jobs) == 1, jobs
    assert {tuple(f.columns) for f in frames} == {("r_regionkey", "r_name")}


def test_scan_sees_a_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert scan(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"],
                             "r_comment": ["x", "y"]}), path)
    df = scan(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]


def test_scan_reinfers_when_an_inference_setting_changes(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"r_regionkey": [0], "r_name": [b"A"]}),
                   str(tmp_path / "region.parquet"))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(scan(spark, str(tmp_path), "region").dtypes)["r_name"] == "binary"
        spark.conf.set(key, "true")
        assert dict(scan(spark, str(tmp_path), "region").dtypes)["r_name"] == "string"
    finally:
        spark.conf.set(key, before)


def test_events_scan_on_a_memo_hit_keeps_timestamp_ts(spark):
    from pyspark.sql.types import TimestampType

    scan(spark, SF_ORACLE, "events")
    df, jobs = _jobs_in_group(
        spark, "scan-events-hit", lambda: scan(spark, SF_ORACLE, "events"))
    assert jobs == []
    assert isinstance(df.schema["ts"].dataType, TimestampType)
