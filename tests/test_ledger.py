"""RunLedger (ledger.py): atomic commits, failure recording, and the
concurrent-writer guarantee the plain parquet-append design lacked
(VERDICT r4 "What's missing" #4)."""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

import pytest

from artemia_airflow_spark.ledger import RunLedger
from artemia_airflow_spark.pipeline import Pipeline, StageFailed, StageResult


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="aas_ledger_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_pipeline_run_commits_ledger_row_per_stage(spark, root):
    led = RunLedger(root)
    pipe = Pipeline("demo", ledger=led)

    @pipe.stage("a")
    def a(ctx):
        return 1

    @pipe.stage("b")
    def b(ctx):
        return ctx.xcom_pull("a") + 1

    pipe.stages["a"] >> pipe.stages["b"]
    pipe.run(spark)

    rows = led.read(spark).collect()
    assert {(r.stage, r.state) for r in rows} == {("a", "success"), ("b", "success")}
    agg = led.runs(spark, "demo").collect()
    assert len(agg) == 1 and agg[0].any_failed == 0 and agg[0].n_stages == 2


def test_failed_run_is_recorded_before_raise(spark, root):
    led = RunLedger(root)
    pipe = Pipeline("boom", ledger=led)

    @pipe.stage("explode")
    def explode(ctx):
        raise RuntimeError("nope")

    with pytest.raises(StageFailed):
        pipe.run(spark)

    rows = led.read(spark).collect()
    assert len(rows) == 1 and rows[0].state == "failed" and "nope" in rows[0].error
    assert led.runs(spark, "boom").collect()[0].any_failed == 1


def test_concurrent_writers_lose_nothing(spark, root):
    """Two interleaved writers x 8 runs each: every run commits exactly
    once, no lost updates, no torn reads — the property the
    write-temp-then-rename protocol exists for."""
    led = RunLedger(root)
    results = {"s1": StageResult("success", attempts=1),
               "s2": StageResult("success", attempts=2)}
    errors: list[Exception] = []

    def writer(tag: str) -> None:
        try:
            for _ in range(8):
                led.record(spark, f"pipe_{tag}", results)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("x", "y")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    df = led.read(spark)
    assert df.count() == 2 * 8 * 2  # 2 writers x 8 runs x 2 stages
    agg = led.runs(spark).collect()
    assert len(agg) == 16
    assert all(r.n_stages == 2 and r.any_failed == 0 for r in agg)


def test_in_flight_temp_dirs_are_invisible(spark, root):
    led = RunLedger(root)
    led.record(spark, "p", {"s": StageResult("success", attempts=1)})
    # simulate a writer that died mid-write: a _tmp_ orphan with real data
    orphan = os.path.join(root, "_tmp_deadbeef")
    spark.createDataFrame(
        [("p", "ghost", "success", 1, None, 0.0, 0.0)],
        "pipeline string, stage string, state string, attempts int, "
        "error string, started_at double, finished_at double",
    ).write.parquet(orphan)

    rows = led.read(spark).collect()
    assert len(rows) == 1 and rows[0].stage == "s"  # ghost never surfaces


def test_empty_ledger_reads_empty_with_schema(spark, root):
    df = RunLedger(root).read(spark)
    assert df.count() == 0
    assert "run_id" in df.columns and "state" in df.columns


def test_zero_stage_run_does_not_poison_ledger(spark, root):
    """ADVICE r5: recording an EMPTY results mapping used to commit a
    run_id=* directory with no part files; when that was the only
    committed run, read() passed the listdir check but
    spark.read.parquet failed with 'unable to infer schema', breaking
    the whole ledger root.  record() now short-circuits: the run_id is
    returned but nothing is committed, and read()/runs() keep working."""
    led = RunLedger(root)
    run_id = led.record(spark, "noop_pipeline", {})
    assert run_id.startswith("noop_pipeline__")
    assert not [d for d in os.listdir(root) if d.startswith("run_id=")]
    assert led.read(spark).count() == 0  # would have raised before the fix
    assert led.runs(spark).count() == 0

    # a real run afterwards still commits normally
    led.record(
        spark, "p", {"s": StageResult(state="success", value=1, attempts=1)}
    )
    assert led.read(spark).count() == 1


def test_resume_skips_recorded_successes(spark, root):
    """Airflow-parity 'clear failed and re-run': the flaky stage fails
    once, the rerun resumes from the recorded run — upstream executes
    exactly once across both runs, its XCom value is injected from the
    ledger, and the rerun goes green."""
    led = RunLedger(root)
    calls = {"a": 0, "b": 0}
    flaky = {"fail": True}

    def build():
        pipe = Pipeline("resume_demo", ledger=led)

        @pipe.stage("a")
        def a(ctx):
            calls["a"] += 1
            return {"n": 41}

        @pipe.stage("b")
        def b(ctx):
            calls["b"] += 1
            if flaky["fail"]:
                raise RuntimeError("transient")
            return ctx.xcom_pull("a")["n"] + 1

        pipe.stages["a"] >> pipe.stages["b"]
        return pipe

    with pytest.raises(StageFailed):
        build().run(spark)
    run1 = led.runs(spark, "resume_demo").collect()[0].run_id

    flaky["fail"] = False
    results = build().run(spark, resume_from=run1)
    assert results["a"].state == "success" and results["a"].attempts == 0
    assert results["b"].value == 42
    assert calls == {"a": 1, "b": 2}  # a never re-ran; b: 1 fail + 1 success


def test_resume_reruns_non_serializable_values(spark, root):
    """A succeeded stage whose XCom value is not JSON-serializable is
    not resumable — it must re-execute on resume (correct, just not
    free) rather than resurface as None."""
    led = RunLedger(root)
    calls = {"obj": 0}

    def build():
        pipe = Pipeline("resume_obj", ledger=led)

        @pipe.stage("obj")
        def obj(ctx):
            calls["obj"] += 1
            return object()  # not JSON-serializable

        @pipe.stage("use")
        def use(ctx):
            return ctx.xcom_pull("obj") is not None

        pipe.stages["obj"] >> pipe.stages["use"]
        return pipe

    build().run(spark)
    run1 = led.runs(spark, "resume_obj").collect()[0].run_id
    results = build().run(spark, resume_from=run1)
    assert calls["obj"] == 2  # re-executed: its value never hit the ledger
    assert results["use"].value is True


def test_resume_requires_ledger(spark):
    pipe = Pipeline("no_ledger")

    @pipe.stage("x")
    def x(ctx):
        return 1

    with pytest.raises(ValueError, match="ledger"):
        pipe.run(spark, resume_from="whatever")


def test_health_rolls_up_runs_stages_and_percentiles(spark, root):
    """q_ledger_health's engine: per-pipeline run/failure/SLA counts
    plus exact p50/p95 stage durations as scaled-int ms.  Declared
    fixture values are pinned in ledger.py's VALUES oracle; here the
    same rollup is checked over a REAL pipeline run too."""
    from artemia_airflow_spark.pipeline import StageResult

    led = RunLedger(root)
    ok = lambda d: StageResult("success", duration_s=d)  # noqa: E731
    led.record(spark, "p", {"s1": ok(1.0), "s2": ok(3.0)})
    led.record(spark, "p", {
        "s1": ok(2.0),
        "s2": StageResult("failed", duration_s=5.0, sla_missed=True),
    })
    row = {r.pipeline: r for r in led.health(spark).collect()}["p"]
    assert (row.n_runs, row.n_failed_runs) == (2, 1)
    assert (row.n_stages, row.n_stage_failures, row.n_sla_missed) == (4, 1, 1)
    # sorted [1.0, 2.0, 3.0, 5.0]: p50 = 2.5s, p95 = 4.7s (interpolated)
    assert (row.p50_stage_ms, row.p95_stage_ms) == (2500, 4700)

    # skipped / upstream_failed stages never ran (duration 0.0 is a
    # placeholder, not a latency) — they count in n_stages but are
    # excluded from the duration percentiles (ADVICE r8)
    led.record(spark, "p", {
        "s1": StageResult("skipped"),
        "s2": StageResult("upstream_failed"),
    })
    row = {r.pipeline: r for r in led.health(spark).collect()}["p"]
    assert (row.n_runs, row.n_stages) == (3, 6)
    assert (row.p50_stage_ms, row.p95_stage_ms) == (2500, 4700)

    # a real run's health row: counts exact, durations merely sane
    pipe = Pipeline("real", ledger=led)

    @pipe.stage("a")
    def a(ctx):
        return 1

    pipe.run(spark)
    real = {r.pipeline: r for r in led.health(spark).collect()}["real"]
    assert (real.n_runs, real.n_failed_runs, real.n_stages) == (1, 0, 1)
    assert real.p95_stage_ms >= 0


def test_runs_report_orders_newest_first_and_caps(spark, root):
    """runs_report (r13): one row per run, run_seq 1 = most recently
    started, limit_per_pipeline trims the tail per pipeline (not
    globally), and a run is 'failed' iff any stage failed."""
    led = RunLedger(root)
    for t0, result in [
        (10.0, StageResult("success", attempts=1)),
        (20.0, StageResult("failed", attempts=2)),
        (30.0, StageResult("success", attempts=1)),
    ]:
        led.record(spark, "p", {"s": result},
                   started_at=t0, finished_at=t0 + 1.0)
    led.record(spark, "q", {"s": StageResult("success", attempts=1)},
               started_at=5.0, finished_at=6.5)

    rows = led.runs_report(spark, limit_per_pipeline=2).collect()
    by = {(r.pipeline, r.run_seq): r for r in rows}
    assert len(rows) == 3  # p capped at 2, q has 1
    assert by[("p", 1)].state == "success"  # t0=30 run
    assert by[("p", 2)].state == "failed"   # t0=20 run
    assert ("p", 3) not in by               # t0=10 run trimmed
    assert by[("q", 1)].duration_ms == 1500
    assert by[("p", 2)].total_attempts == 2


def test_record_submits_no_spark_job(spark, root):
    """The commit is a driver-side write plus rename: recording a run
    must not cost a Spark job on the DAG's metadata path."""
    led = RunLedger(root)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "ledger-record")
    try:
        run_id = led.record(spark, "p", {"s1": StageResult("success", value=1),
                                         "s2": StageResult("failed", attempts=2)})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ledger-record") == []
    assert os.listdir(root) == [f"run_id={run_id}"]


def _record_with_spark_writer(spark, root, pipeline, results, started_at):
    """A run directory as the earlier Spark-writer ledger committed it
    (part file plus _SUCCESS and .crc files)."""
    import json
    import uuid

    from artemia_airflow_spark.ledger import RUN_SCHEMA

    run_id = f"{pipeline}__{uuid.uuid4().hex}"
    rows = [
        (pipeline, run_id, stage, r.state, int(r.attempts),
         None if r.error is None else str(r.error),
         json.dumps(r.value) if r.state == "success" else None,
         started_at, started_at + 1.0, float(r.duration_s),
         bool(r.sla_missed), "scheduled")
        for stage, r in results.items()
    ]
    tmp = os.path.join(root, f"_tmp_{uuid.uuid4().hex}")
    (spark.createDataFrame(rows, RUN_SCHEMA).coalesce(1)
     .drop("run_id").write.parquet(tmp))
    os.rename(tmp, os.path.join(root, f"run_id={run_id}"))
    return run_id


def test_mixed_vintage_root_reads_back_every_row(spark, root):
    """Run directories written by the earlier Spark writer and by the
    driver-side writer share one ledger root: every reader returns all
    rows with RUN_SCHEMA's types."""
    led = RunLedger(root)
    old = _record_with_spark_writer(spark, root, "p", {
        "s1": StageResult("success", value={"n": 1}, attempts=1, duration_s=1.0),
        "s2": StageResult("failed", error="boom", attempts=3, duration_s=3.0,
                          sla_missed=True),
    }, started_at=10.0)
    new1 = led.record(spark, "p", {
        "s1": StageResult("success", value=[1, 2], attempts=2, duration_s=2.0),
        "s2": StageResult("skipped"),
    }, started_at=20.0, finished_at=21.0, source="manual")
    new2 = led.record(spark, "p", {
        "s1": StageResult("success", value="x", attempts=1, duration_s=4.0),
        "s2": StageResult("success", value=None, attempts=1, duration_s=5.0),
    }, started_at=30.0, finished_at=31.0)

    df = led.read(spark)
    assert dict(df.dtypes)["attempts"] == "int"
    rows = {(r.run_id, r.stage): r for r in df.collect()}
    assert len(rows) == 6 and {k[0] for k in rows} == {old, new1, new2}
    assert all(isinstance(r.attempts, int) for r in rows.values())
    assert rows[(old, "s2")].attempts == 3 and rows[(old, "s2")].error == "boom"
    assert rows[(old, "s2")].sla_missed is True
    assert rows[(new1, "s1")].attempts == 2 and rows[(new1, "s1")].source == "manual"
    assert rows[(new1, "s2")].value_json is None
    assert rows[(new2, "s2")].duration_s == 5.0

    runs = {r.run_id: r for r in led.runs(spark, "p").collect()}
    assert {k: (r.n_stages, r.any_failed, r.total_attempts, r.n_sla_missed)
            for k, r in runs.items()} == {
        old: (2, 1, 4, 1), new1: (2, 0, 2, 0), new2: (2, 0, 2, 0)}

    (h,) = led.health(spark).collect()
    assert (h.n_runs, h.n_failed_runs, h.n_stages, h.n_stage_failures,
            h.n_sla_missed) == (3, 1, 6, 1, 1)
    # executed durations [1, 2, 3, 4, 5] (the skipped stage is out)
    assert (h.p50_stage_ms, h.p95_stage_ms) == (3000, 4800)

    assert led.last_run_states(spark, "p") == {"s1": "success", "s2": "success"}
    assert led.resumable_values(spark, old) == {"s1": {"n": 1}}
    assert led.resumable_values(spark, new1) == {"s1": [1, 2]}
    assert led.resumable_values(spark, new2) == {"s1": "x", "s2": None}
