"""scripts/bench_scale.py: the N-copy replica builder and the one-line
JSON record, plus a guard that keeps timing in one tool."""

from __future__ import annotations

import filecmp
import importlib.util
import json
import os
import pathlib
import re
import subprocess
import sys

import pytest

from conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = REPO / "scripts"

_spec = importlib.util.spec_from_file_location("bench_scale", SCRIPTS / "bench_scale.py")
bench_scale = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_scale)


def _files(root):
    return {
        p: p.stat().st_mtime_ns for p in pathlib.Path(root).rglob("*") if p.is_file()
    }


def _parts(path):
    return sorted(p for p in os.listdir(path) if p.endswith(".parquet"))


@pytest.fixture(scope="module")
def replica(spark, tmp_path_factory):
    dst = tmp_path_factory.mktemp("replica_x2")
    bench_scale.replicate(spark, SF_SMOKE, str(dst), 2)
    return dst


@pytest.mark.parametrize("table", sorted(bench_scale.OFFSETS))
def test_replicated_table_doubles_rows_with_unique_ids(spark, replica, table):
    path = str(replica / f"{table}.parquet")
    src = spark.read.parquet(f"{SF_SMOKE}/{table}.parquet").count()
    df = spark.read.parquet(path)
    assert df.count() == 2 * src
    for col in bench_scale.OFFSETS[table]:
        if col != "user_id":  # one user has many events
            assert df.select(col).distinct().count() == 2 * src
    assert len(_parts(path)) == bench_scale.N_FILES


def test_events_copies_are_distinct_user_populations(spark, replica):
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    users = src.select("user_id").distinct().count()
    df = spark.read.parquet(str(replica / "events.parquet"))
    assert df.select("user_id").distinct().count() == 2 * users


def test_untouched_tables_are_byte_copies(replica):
    from artemia_airflow_spark.catalog import TABLES

    untouched = [t for t in TABLES if t not in bench_scale.OFFSETS]
    assert untouched
    for t in untouched:
        assert filecmp.cmp(
            f"{SF_SMOKE}/{t}.parquet", replica / f"{t}.parquet", shallow=False
        ), t


def test_second_build_writes_nothing(spark, replica):
    before = _files(replica)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "replica-rebuild")
    try:
        bench_scale.replicate(spark, SF_SMOKE, str(replica), 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("replica-rebuild") == []
    assert _files(replica) == before


def test_table_without_success_marker_is_rebuilt(spark, replica):
    """An interrupted write leaves part files but no ``_SUCCESS``: the
    next build redoes that table and leaves the others alone."""
    docs = replica / "documents.parquet"
    os.remove(docs / "_SUCCESS")
    os.remove(docs / _parts(docs)[0])
    others = {p: m for p, m in _files(replica).items() if docs not in p.parents}
    bench_scale.replicate(spark, SF_SMOKE, str(replica), 2)
    assert (docs / "_SUCCESS").exists()
    assert len(_parts(docs)) == bench_scale.N_FILES
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert spark.read.parquet(str(docs)).count() == 2 * src
    assert {p: m for p, m in _files(replica).items() if docs not in p.parents} == others


def test_cli_ends_stdout_with_the_json_record(replica):
    env = dict(
        os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_DRIVER_MEM="2g"
    )
    proc = subprocess.run(
        [sys.executable, str(SCRIPTS / "bench_scale.py"), "--copies", "2",
         "--replica-dir", str(replica), "q_agg_group"],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(rec) == {"q_agg_group", "q_agg_group@1x"}
    assert set(rec["q_agg_group"]) == {
        "t_1x", "t_2x", "growth", "compiles_1x", "compiles_2x",
    }
    assert rec["q_agg_group@1x"] > 0


def test_timing_lives_in_one_tool():
    """Scale and adjudication timing goes through ``bench.time_face``
    via scripts/bench_scale.py: no round-stamped script, and no
    hand-rolled timer, under scripts/."""
    assert [p.name for p in SCRIPTS.iterdir() if re.search(r"_r\d+", p.name)] == []
    timer = re.compile(r"perf_counter|monotonic\(")
    hits = [
        f"{p.name}:{n}"
        for p in sorted(SCRIPTS.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), start=1)
        if timer.search(line)
    ]
    assert hits == []
