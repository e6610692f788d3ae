"""The engine's one concurrency seam, ``functions.core.overlap``: side
threads keep the caller's Spark local properties, results come back in
argument order, errors surface only after every thread finished, and
the seam works without a SparkContext."""

from __future__ import annotations

import pathlib
import re
import threading
import time

import pytest

from artemia_airflow_spark.functions.core import overlap, spark_thread

PROPS = ("spark.jobGroup.id", "spark.scheduler.pool", "spark.job.description")


def test_overlap_threads_inherit_callers_local_properties(spark):
    sc = spark.sparkContext
    sc.setJobGroup("overlap-group", "overlap test")
    sc.setLocalProperty("spark.scheduler.pool", "overlap-pool")
    try:
        seen = overlap(
            *(lambda: tuple(sc.getLocalProperty(k) for k in PROPS),) * 3
        )
    finally:
        for k in (*PROPS, "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert seen == [("overlap-group", "overlap-pool", "overlap test")] * 3


def test_overlap_returns_in_order_and_raises_first_error_after_all_finish():
    assert overlap(lambda: 1, lambda: 2, lambda: 3, workers=2) == [1, 2, 3]
    finished = []

    def slow():
        time.sleep(0.3)
        finished.append("slow")

    def fail(msg):
        raise ValueError(msg)

    with pytest.raises(ValueError, match="first"):
        overlap(lambda: fail("first"), slow, lambda: fail("second"))
    assert finished == ["slow"]


def test_overlap_without_active_spark_context(monkeypatch):
    from pyspark import InheritableThread, SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert not isinstance(spark_thread(lambda: None), InheritableThread)
    names = overlap(
        lambda: threading.current_thread().name, lambda: 6 * 7
    )
    assert names[1] == 42
    assert names[0] != threading.current_thread().name


def test_no_hand_rolled_thread_seams_outside_overlap():
    """New driver-thread seams go through ``overlap``/``spark_thread``:
    a plain thread or executor drops the caller's job group."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "artemia_airflow_spark"
    banned = re.compile(r"concurrent\.futures|ThreadPoolExecutor|threading\.Thread\(")
    files = [*sorted((pkg / "operators").rglob("*.py")), pkg / "schedule.py"]
    hits = [
        f"{f.relative_to(pkg)}:{n}"
        for f in files
        for n, line in enumerate(f.read_text().splitlines(), start=1)
        if banned.search(line)
    ]
    assert hits == []
