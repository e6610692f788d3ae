"""Tests for the httpjson Python DataSource (B3) and the stateful
streaming operator (applyInPandasWithState)."""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from artemia_airflow_spark.catalog import scan
from artemia_airflow_spark.sources.http_datasource import register
from artemia_airflow_spark.streaming.stateful import (
    running_user_stats_batch,
    running_user_stats_stream,
)
from tests.conftest import SF_SMOKE


def test_httpjson_datasource_reads_pages(spark):
    register(spark)
    df = (
        spark.read.format("httpjson")
        .schema("id long, status string, conclusion string")
        .option("url", "https://api.example.test/runs")
        .option("pages", "4")
        .option("records_key", "workflow_runs")
        .option("transport_module", "artemia_airflow_spark.sources._canned_http")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 40  # 4 pages x 10 records
    assert df.rdd.getNumPartitions() == 4  # one partition per page
    # top-1-by-recency, the reference's fetch pattern
    latest = df.orderBy(F.col("id").desc()).limit(1).collect()[0]
    assert latest.id == 409


def test_httpjson_requires_url(spark):
    register(spark)
    with pytest.raises(Exception, match="url"):
        spark.read.format("httpjson").schema("id long").load().collect()


def _flaky_read(spark, path: str, pages: int = 2, **opts):
    register(spark)
    r = (
        spark.read.format("httpjson")
        .schema("id long, status string, conclusion string")
        .option("url", f"https://api.example.test/{path}")
        .option("pages", str(pages))
        .option("records_key", "workflow_runs")
        .option(
            "transport_module", "artemia_airflow_spark.sources._canned_http_flaky"
        )
        .option("retry_backoff_sec", "0.01")
    )
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_httpjson_retries_transient_failures(spark):
    """VERDICT r5 item 7: a page whose transport fails twice then
    succeeds must be read by the in-read retry loop (default
    max_retries=2 -> 3 attempts) with no Spark-level task retry."""
    rows = _flaky_read(spark, "flaky", pages=2).collect()
    assert len(rows) == 20  # both pages recovered

def test_httpjson_exhausted_retries_name_the_page(spark):
    """A permanently-down page fails the scan with the page URL and
    attempt count in the error, not a bare transport traceback."""
    with pytest.raises(Exception, match=r"3 attempts.*alwaysdown.*page=1"):
        _flaky_read(spark, "alwaysdown", pages=1).collect()


def test_httpjson_malformed_midpagination_page(spark):
    """Page 1 is valid, page 2 returns a non-JSON body: the error names
    the malformed page so the operator points at the culprit."""
    with pytest.raises(Exception, match=r"malformed JSON.*page=2"):
        _flaky_read(spark, "malformed", pages=2).collect()


def test_httpjson_missing_records_key(spark):
    """The reference's defensive .get() move
    (dags/update_tr_from_ex_dag.py:59-63): a response without the
    records_key raises naming the missing AND present keys."""
    with pytest.raises(Exception, match=r"workflow_runs.*something_else"):
        _flaky_read(spark, "missingkey", pages=1).collect()


def test_httpjson_records_not_a_list(spark):
    with pytest.raises(Exception, match=r"expected a list"):
        _flaky_read(spark, "notalist", pages=1).collect()


def test_httpjson_empty_tail_is_not_an_error(spark):
    """An exhausted pagination tail (empty records list) is valid data,
    not a failure — the sensor semantics ('error when nothing is
    there') live in HttpSensor, not the table scan."""
    rows = _flaky_read(spark, "emptytail", pages=3).collect()
    assert len(rows) == 10  # page 1 only; pages 2-3 empty, no error


def test_stateful_running_stats_converges_to_batch(spark):
    """Replay events in 3 chunks; the stream's LAST update per user must
    equal the batch aggregate over all events."""
    ev = scan(spark, SF_SMOKE, "events").select("user_id", "value", "ts").orderBy("ts")
    src = tempfile.mkdtemp(prefix="aas_state_")
    try:
        pdf = ev.toPandas()
        chunk = len(pdf) // 3 + 1
        for i in range(3):
            part = pdf.iloc[i * chunk : (i + 1) * chunk]
            if len(part):
                spark.createDataFrame(part, schema=ev.schema).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(os.path.join(src, f"chunk={i}"))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/chunk=*")
        )
        q = (
            running_user_stats_stream(stream)
            .writeStream.format("memory")
            .queryName("t_state")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        # update mode appends one row per (user, batch); the final row
        # per user is the converged state
        got_df = spark.table("t_state")
        final = {}
        for r in got_df.collect():
            # n_events grows monotonically, so the max-count row per
            # user IS the final state (sink row order isn't contractual)
            if r.user_id not in final or r.n_events > final[r.user_id][0]:
                final[r.user_id] = (r.n_events, r.sum_value, r.max_value)
        want = {
            r.user_id: (r.n_events, r.sum_value, r.max_value)
            for r in running_user_stats_batch(
                scan(spark, SF_SMOKE, "events").select("user_id", "value")
            ).collect()
        }
        assert set(final) == set(want)
        for uid, (n, s, m) in want.items():
            gn, gs, gm = final[uid]
            assert gn == n and gm == m
            assert math.isclose(gs, s, rel_tol=1e-9)
    finally:
        shutil.rmtree(src, ignore_errors=True)
