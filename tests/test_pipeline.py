"""Orchestration-semantics tests (SURVEY.md §5.2 item 3, FIXTURES.md §2):
behavioral parity with the reference DAGs using a mock HTTP transport —
no network, no real sleeping.
"""

from __future__ import annotations

import json
import threading

import pytest

from artemia_airflow_spark.pipeline import (
    Pipeline,
    PipelineTimeout,
    RetryPolicy,
    Stage,
    StageFailed,
)
from artemia_airflow_spark.pipelines.reference_dags import (
    build_azure_pipeline,
    build_update_pipeline,
    check_github_action_run_status,
)
from artemia_airflow_spark.streaming.sensor import SensorTimeout


class FakeTransport:
    """Scripted HTTP transport; records every call."""

    def __init__(self):
        self.calls: list[tuple[str, str]] = []
        self.run_status_sequence: list[dict] = []
        self.fail_urls: set[str] = set()

    def __call__(self, method, url, body, conn):
        self.calls.append((method, url))
        if any(frag in url for frag in self.fail_urls):
            raise ConnectionError(f"scripted failure for {url}")
        if url.endswith("/dispatches"):
            return {"status_code": 204}
        if "actions/runs?" in url or "actions/runs?" in url:
            return {"workflow_runs": [{"id": 4242}]}
        if "/actions/runs/" in url:
            return self.run_status_sequence.pop(0)
        return {"ok": True}


def no_sleep(_s: float) -> None:
    return None


# ---------------------------------------------------------------------------
# Sensor predicate: the reference's 3-way truth table
# (dags/update_tr_from_ex_dag.py:18-39)
# ---------------------------------------------------------------------------

def test_predicate_completed_success_is_true():
    assert check_github_action_run_status({"status": "completed", "conclusion": "success"})


def test_predicate_in_progress_keeps_polling():
    assert not check_github_action_run_status({"status": "in_progress"})
    assert not check_github_action_run_status({})  # missing fields -> keep polling


def test_predicate_completed_failure_raises():
    with pytest.raises(RuntimeError):
        check_github_action_run_status({"status": "completed", "conclusion": "failure"})


# ---------------------------------------------------------------------------
# Main pipeline end-to-end traces (§3.2)
# ---------------------------------------------------------------------------

def test_update_pipeline_success_trace():
    t = FakeTransport()
    t.run_status_sequence = [
        {"status": "queued"},
        {"status": "in_progress"},
        {"status": "completed", "conclusion": "success"},
    ]
    pipe = build_update_pipeline(transport=t, sleep=no_sleep)
    results = pipe.run(spark=None)

    assert results["trigger_github_action"].state == "success"
    assert results["get_latest_run_id"].value == 4242  # XCom
    assert results["wait_for_github_action"].state == "success"
    assert results["wait_for_github_action"].value == 3  # pokes
    assert results["notify_success"].state == "success"
    assert results["notify_failure"].state == "skipped"
    # XCom run id was interpolated into the poll URL (reference :121)
    assert any(url.endswith("/actions/runs/4242") for _, url in t.calls)
    # exactly one notification went out
    notify_calls = [u for _, u in t.calls if u.endswith("/notify")]
    assert len(notify_calls) == 1


def test_update_pipeline_failure_branch():
    t = FakeTransport()
    t.run_status_sequence = [
        {"status": "in_progress"},
        {"status": "completed", "conclusion": "failure"},
    ]
    pipe = build_update_pipeline(transport=t, sleep=no_sleep)
    results = pipe.run(spark=None)  # failure is HANDLED by notify_failure

    assert results["wait_for_github_action"].state == "failed"
    assert results["notify_success"].state == "upstream_failed"
    assert results["notify_failure"].state == "success"


def test_update_pipeline_sensor_timeout():
    t = FakeTransport()
    t.run_status_sequence = [{"status": "in_progress"}] * 1000
    fake_now = {"t": 0.0}

    def clock():
        return fake_now["t"]

    def tick(s):
        fake_now["t"] += s

    pipe = build_update_pipeline(
        transport=t, sleep=tick, clock=clock, poke_interval_s=60, sensor_timeout_s=3600
    )
    results = pipe.run(spark=None)
    res = results["wait_for_github_action"]
    assert res.state == "failed"
    assert isinstance(res.error, SensorTimeout)
    # 3600s budget / 60s poke -> ~60 pokes plus the settle sleep offset
    assert any(u.endswith("/actions/runs/4242") for _, u in t.calls)
    assert results["notify_failure"].state == "success"


# ---------------------------------------------------------------------------
# Azure pipeline: retry/backoff schedule (hello_function_dag.py:30-33)
# ---------------------------------------------------------------------------

def test_azure_pipeline_retry_backoff_schedule():
    sleeps: list[float] = []

    t = FakeTransport()
    t.fail_urls = {"/api/hello1"}
    pipe = build_azure_pipeline(transport=t, sleep=sleeps.append)
    results = pipe.run(spark=None)

    assert results["call_azure_function"].state == "failed"
    assert results["call_azure_function"].attempts == 4  # 1 + 3 retries
    # exponential 180 -> 360 -> 720 capped at 600
    assert sleeps == [180.0, 360.0, 600.0]
    assert results["notify_failure"].state == "success"
    assert results["notify_success"].state == "upstream_failed"


def test_azure_pipeline_success_path():
    t = FakeTransport()
    pipe = build_azure_pipeline(transport=t, sleep=no_sleep)
    results = pipe.run(spark=None)
    assert results["call_azure_function"].state == "success"
    assert results["notify_success"].state == "success"
    assert results["notify_failure"].state == "skipped"


# ---------------------------------------------------------------------------
# Trigger-rule truth table (A9)
# ---------------------------------------------------------------------------

def _two_upstream_pipeline(fail_a: bool, fail_b: bool, rule: str):
    pipe = Pipeline("truth", sleep=no_sleep)

    def mk(fail):
        def fn(ctx):
            if fail:
                raise ValueError("boom")
            return "ok"

        return fn

    a = pipe.add(Stage("a", mk(fail_a)))
    b = pipe.add(Stage("b", mk(fail_b)))
    c = pipe.add(Stage("c", lambda ctx: "ran", trigger_rule=rule))
    a >> c
    b >> c
    return pipe


@pytest.mark.parametrize(
    "fail_a,fail_b,rule,expected",
    [
        (False, False, "all_success", "success"),
        (True, False, "all_success", "upstream_failed"),
        (False, False, "one_failed", "skipped"),
        (True, False, "one_failed", "success"),
        (True, True, "one_failed", "success"),
        (True, False, "all_failed", "skipped"),
        (True, True, "all_failed", "success"),
        (True, True, "all_done", "success"),
    ],
)
def test_trigger_rule_truth_table(fail_a, fail_b, rule, expected):
    pipe = _two_upstream_pipeline(fail_a, fail_b, rule)
    results = pipe.run(spark=None, raise_on_failure=False)
    assert results["c"].state == expected


# ---------------------------------------------------------------------------
# Core pipeline mechanics
# ---------------------------------------------------------------------------

def test_xcom_dataframe_handoff(spark):
    pipe = Pipeline("xcom", sleep=no_sleep)

    @pipe.stage("produce")
    def produce(ctx):
        return ctx.spark.range(10)

    @pipe.stage("consume")
    def consume(ctx):
        return ctx.xcom_pull("produce").count()

    produce >> consume
    results = pipe.run(spark)
    assert results["consume"].value == 10


def test_cycle_detection():
    pipe = Pipeline("cyclic", sleep=no_sleep)
    a = pipe.add(Stage("a", lambda ctx: 1))
    b = pipe.add(Stage("b", lambda ctx: 2))
    a >> b
    b >> a
    with pytest.raises(ValueError, match="cycle"):
        pipe.run(spark=None)


def test_run_timeout():
    pipe = Pipeline("slow", run_timeout_s=0.0, sleep=no_sleep)
    a = pipe.add(Stage("a", lambda ctx: 1))
    b = pipe.add(Stage("b", lambda ctx: 2))
    a >> b
    with pytest.raises(PipelineTimeout):
        pipe.run(spark=None)


def test_unhandled_failure_raises():
    pipe = Pipeline("boom", sleep=no_sleep)
    pipe.add(Stage("a", lambda ctx: 1 / 0))
    with pytest.raises(StageFailed):
        pipe.run(spark=None)


def test_parallel_fanout_executes_all():
    pipe = Pipeline("fan", sleep=no_sleep)
    seen = []
    root = pipe.add(Stage("root", lambda ctx: seen.append("root")))
    kids = [pipe.add(Stage(f"k{i}", lambda ctx, i=i: seen.append(i))) for i in range(4)]
    root >> kids
    pipe.run(spark=None)
    assert seen[0] == "root" and sorted(seen[1:]) == [0, 1, 2, 3]


def test_default_retry_applies():
    calls = {"n": 0}
    pipe = Pipeline("defretry", default_retry=RetryPolicy(retries=2, retry_delay_s=1), sleep=no_sleep)

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("flaky")
        return "ok"

    pipe.add(Stage("f", flaky))
    results = pipe.run(spark=None)
    assert results["f"].state == "success"
    assert results["f"].attempts == 3


def test_run_timeout_bounds_hung_stage():
    """A11: a stage that blocks past the deadline trips PipelineTimeout
    mid-wave — the reference kills the dagrun at dagrun_timeout
    regardless of task state, not only between task waves."""
    import threading
    import time as _time

    gate = threading.Event()
    pipe = Pipeline("hung", run_timeout_s=0.3, sleep=no_sleep)
    pipe.add(Stage("a", lambda ctx: gate.wait(30)))
    t0 = _time.monotonic()
    with pytest.raises(PipelineTimeout):
        pipe.run(spark=None)
    assert _time.monotonic() - t0 < 5  # did not wait out the stage
    gate.set()  # release the abandoned daemon thread


def test_stage_sla_miss_recorded_and_notified(spark):
    """A8+ Airflow-parity SLA: exceeding sla_s RECORDS the miss on the
    StageResult and fires on_sla_miss, but never fails the stage —
    distinct from the hard A11 run timeout. A broken callback must not
    fail the stage either."""
    import time as _time

    from artemia_airflow_spark.pipeline import Pipeline

    misses = []
    pipe = Pipeline("sla_demo", on_sla_miss=lambda tid, res: misses.append(tid))

    @pipe.stage("slow", sla_s=0.01)
    def slow(ctx):
        _time.sleep(0.05)
        return "done"

    @pipe.stage("fast", sla_s=10.0)
    def fast(ctx):
        return "quick"

    res = pipe.run(spark)
    assert res["slow"].state == "success" and res["slow"].sla_missed
    assert res["slow"].duration_s >= 0.05
    assert not res["fast"].sla_missed
    assert misses == ["slow"]

    # a failing stage still times + reports its SLA
    boom = Pipeline("sla_fail", on_sla_miss=lambda tid, res: misses.append(tid))

    @boom.stage("bad", sla_s=0.0)
    def bad(ctx):
        raise RuntimeError("x")

    r2 = boom.run(spark, raise_on_failure=False)
    assert r2["bad"].state == "failed" and r2["bad"].sla_missed
    assert "bad" in misses

    # broken callback never fails the stage
    broken = Pipeline(
        "sla_broken", on_sla_miss=lambda tid, res: (_ for _ in ()).throw(ValueError())
    )

    @broken.stage("s", sla_s=0.0)
    def s_(ctx):
        return 1

    assert broken.run(spark)["s"].state == "success"


def test_branch_stage_chooses_path(spark):
    """A17 BranchPythonOperator parity: the chooser's returned task_id
    runs; sibling branches skip; skips cascade through all_success
    descendants; a join stage with all_done still runs; the choice
    lands in XCom."""
    from artemia_airflow_spark.pipeline import Pipeline, branch_stage

    pipe = Pipeline("branchy")
    ran = []

    br = pipe.add(branch_stage("pick", lambda ctx: "path_a"))

    @pipe.stage("path_a")
    def path_a(ctx):
        ran.append("a")
        return "A"

    @pipe.stage("path_b")
    def path_b(ctx):
        ran.append("b")
        return "B"

    @pipe.stage("after_b")
    def after_b(ctx):
        ran.append("after_b")
        return "AB"

    @pipe.stage("join", trigger_rule="all_done")
    def join(ctx):
        ran.append("join")
        return "J"

    br >> [path_a, path_b]
    path_b >> after_b
    join << [path_a, after_b]

    res = pipe.run(spark)
    assert res["pick"].state == "success" and res["pick"].value == "path_a"
    assert res["path_a"].state == "success"
    assert res["path_b"].state == "skipped"
    assert res["after_b"].state == "skipped"  # cascade through all_success
    assert res["join"].state == "success"  # all_done joins both paths
    assert ran == ["a", "join"]


def test_branch_stage_multi_and_none(spark):
    """Branch may choose multiple paths or none (None skips all)."""
    from artemia_airflow_spark.pipeline import Pipeline, branch_stage

    pipe = Pipeline("branchy2")
    br = pipe.add(branch_stage("pick", lambda ctx: ["x", "y"]))

    @pipe.stage("x")
    def x(ctx):
        return 1

    @pipe.stage("y")
    def y(ctx):
        return 2

    @pipe.stage("z")
    def z(ctx):
        return 3

    br >> [x, y, z]
    res = pipe.run(spark)
    assert res["x"].state == res["y"].state == "success"
    assert res["z"].state == "skipped"

    pipe2 = Pipeline("branchy3")
    br2 = pipe2.add(branch_stage("pick", lambda ctx: None))

    @pipe2.stage("only")
    def only(ctx):
        return 1

    br2 >> only
    res2 = pipe2.run(spark)
    assert res2["only"].state == "skipped"


def test_branch_failure_is_a_normal_failure(spark):
    """A failing branch stage behaves like any failed upstream (no
    special-case: downstream all_success marks upstream_failed)."""
    from artemia_airflow_spark.pipeline import Pipeline, StageFailed, branch_stage

    pipe = Pipeline("branchy4")

    def boom(ctx):
        raise RuntimeError("nope")

    br = pipe.add(branch_stage("pick", boom))

    @pipe.stage("down")
    def down(ctx):
        return 1

    br >> down
    res = pipe.run(spark, raise_on_failure=False)
    assert res["pick"].state == "failed"
    assert res["down"].state == "upstream_failed"


def test_mapped_stage_expands_runtime_worklist(spark):
    """A19 dynamic task mapping: the work-list comes from upstream XCom
    at run time; per-item values land in order; per-item retries are
    independent; all items run (no fail-fast) and the stage fails with
    the precise failed-index map."""
    from artemia_airflow_spark.pipeline import (
        MappedItemsFailed,
        Pipeline,
        RetryPolicy,
        mapped_stage,
    )

    pipe = Pipeline("mappy")

    @pipe.stage("discover")
    def discover(ctx):
        return [1, 2, 3, 4]

    attempts = {}

    def work(ctx, item):
        attempts[item] = attempts.get(item, 0) + 1
        if item == 3 and attempts[item] < 2:
            raise RuntimeError("flaky once")
        return item * 10

    m = pipe.add(
        mapped_stage(
            "fanout",
            work,
            over=lambda ctx: ctx.xcom_pull("discover"),
            retry=RetryPolicy(retries=1, retry_delay_s=0.0),
        )
    )

    @pipe.stage("collect")
    def collect(ctx):
        return sum(ctx.xcom_pull("fanout"))

    discover >> m
    m >> collect
    res = pipe.run(spark)
    assert res["fanout"].value == [10, 20, 30, 40]  # item order preserved
    assert attempts[3] == 2  # per-item retry recovered item 3
    assert res["collect"].value == 100

    # permanent failures: ALL items still run, stage fails with index map
    pipe2 = Pipeline("mappy2")

    def bad(ctx, item):
        if item % 2 == 0:
            raise RuntimeError(f"item {item}")
        return item

    m2 = pipe2.add(mapped_stage("fan", bad, over=lambda ctx: [0, 1, 2, 3, 4]))
    res2 = pipe2.run(spark, raise_on_failure=False)
    assert res2["fan"].state == "failed"
    err = res2["fan"].error
    assert isinstance(err, MappedItemsFailed)
    assert sorted(err.errors) == [0, 2, 4] and err.n_items == 5


def test_mapped_stage_empty_worklist(spark):
    from artemia_airflow_spark.pipeline import Pipeline, mapped_stage

    pipe = Pipeline("mappy3")
    m = pipe.add(mapped_stage("fan", lambda ctx, it: it, over=lambda ctx: []))
    res = pipe.run(spark)
    assert res["fan"].state == "success" and res["fan"].value == []


def test_branch_unknown_target_fails_loudly(spark):
    """Code-review regression (r6): a chooser typo must FAIL the branch
    stage (Airflow parity), not silently skip every path; a non-string
    return is an explicit ValueError, not a TypeError lost in a worker
    thread."""
    from artemia_airflow_spark.pipeline import Pipeline, branch_stage

    pipe = Pipeline("br_typo")
    br = pipe.add(branch_stage("pick", lambda ctx: "path_A"))  # typo case

    @pipe.stage("path_a")
    def path_a(ctx):
        return 1

    br >> path_a
    res = pipe.run(spark, raise_on_failure=False)
    assert res["pick"].state == "failed"
    assert "unknown downstream" in str(res["pick"].error)

    pipe2 = Pipeline("br_int")
    br2 = pipe2.add(branch_stage("pick", lambda ctx: 2))

    @pipe2.stage("x")
    def x(ctx):
        return 1

    br2 >> x
    res2 = pipe2.run(spark, raise_on_failure=False)
    assert res2["pick"].state == "failed"
    assert "must return a task_id" in str(res2["pick"].error)


def test_mapped_stage_not_multiplied_by_default_retry(spark):
    """Code-review regression (r6): Pipeline(default_retry=...) must
    not wrap the whole map in stage-level retries — per-item budgets
    only (each failing item tries 1+retries times, the MAP itself
    exactly once)."""
    from artemia_airflow_spark.pipeline import Pipeline, RetryPolicy, mapped_stage

    pipe = Pipeline(
        "no_multiply", default_retry=RetryPolicy(retries=2, retry_delay_s=0.0)
    )
    calls = {"n": 0}

    def always_fail(ctx, item):
        calls["n"] += 1
        raise RuntimeError("x")

    pipe.add(mapped_stage("fan", always_fail, over=lambda ctx: [1]))
    res = pipe.run(spark, raise_on_failure=False)
    assert res["fan"].state == "failed"
    assert calls["n"] == 1  # no per-item retry configured, no map-level retry


def test_mapped_stage_records_base_exceptions(spark):
    """Code-review regression (r6): SystemExit from an item is RECORDED
    as that item's failure — never a silent None in a 'successful'
    XCom."""
    from artemia_airflow_spark.pipeline import (
        MappedItemsFailed,
        Pipeline,
        mapped_stage,
    )

    pipe = Pipeline("base_exc")

    def work(ctx, item):
        if item == 1:
            raise SystemExit(3)
        return item

    pipe.add(mapped_stage("fan", work, over=lambda ctx: [0, 1, 2]))
    res = pipe.run(spark, raise_on_failure=False)
    assert res["fan"].state == "failed"
    assert isinstance(res["fan"].error, MappedItemsFailed)
    assert sorted(res["fan"].error.errors) == [1]


# ---------------------------------------------------------------------------
# Concurrency caps: max_active_tasks + named pools (Airflow parity — a
# capped stage is QUEUED, never failed; mirrors the CeleryExecutor
# worker-slot behavior the reference deploys, docker-compose.yaml:165-188)
# ---------------------------------------------------------------------------


def test_pool_of_one_serializes_ready_stages():
    """3 dependency-ready stages sharing a 1-slot pool execute one at a
    time (max observed concurrency == 1), all succeed, and downstream
    trigger rules are unaffected."""
    import threading as _th

    active = {"n": 0, "max": 0}
    lock = _th.Lock()

    def work(ctx):
        with lock:
            active["n"] += 1
            active["max"] = max(active["max"], active["n"])
        # without a cap all three overlap here (threaded wave)
        import time as _time

        _time.sleep(0.05)
        with lock:
            active["n"] -= 1
        return "ok"

    pipe = Pipeline("pools", sleep=no_sleep, pools={"etl": 1})
    root = pipe.add(Stage("root", lambda ctx: "go"))
    kids = [
        pipe.add(Stage(f"k{i}", work, pool="etl")) for i in range(3)
    ]
    done = pipe.add(Stage("done", lambda ctx: "end"))
    root >> kids
    for k in kids:
        k >> done
    res = pipe.run(spark=None)
    assert active["max"] == 1
    assert all(res[f"k{i}"].state == "success" for i in range(3))
    assert res["done"].state == "success"


def test_max_active_tasks_bounds_wave_width():
    import threading as _th

    active = {"n": 0, "max": 0}
    lock = _th.Lock()

    def work(ctx):
        with lock:
            active["n"] += 1
            active["max"] = max(active["max"], active["n"])
        import time as _time

        _time.sleep(0.05)
        with lock:
            active["n"] -= 1

    pipe = Pipeline("capped", sleep=no_sleep, max_active_tasks=2)
    for i in range(5):
        pipe.add(Stage(f"s{i}", work))
    res = pipe.run(spark=None)
    assert active["max"] <= 2
    assert all(r.state == "success" for r in res.values())


def test_pool_full_queues_but_trigger_rules_unaffected():
    """A failure upstream of a pooled stage still cascades normally —
    the pool defers execution, it never changes gating semantics."""
    pipe = Pipeline("poolgate", sleep=no_sleep, pools={"p": 1})
    bad = pipe.add(Stage("bad", lambda ctx: 1 / 0))
    a = pipe.add(Stage("a", lambda ctx: "a", pool="p"))
    b = pipe.add(Stage("b", lambda ctx: "b", pool="p"))
    handler = pipe.add(
        Stage("handler", lambda ctx: "handled", trigger_rule="one_failed", pool="p")
    )
    bad >> a
    bad >> handler
    res = pipe.run(spark=None, raise_on_failure=False)
    assert res["bad"].state == "failed"
    assert res["a"].state == "upstream_failed"
    assert res["b"].state == "success"
    assert res["handler"].state == "success"


def test_unknown_pool_fails_at_construction():
    pipe = Pipeline("nopool", pools={"known": 2})
    with pytest.raises(ValueError, match="unknown pool"):
        pipe.add(Stage("s", lambda ctx: None, pool="typo"))
    with pytest.raises(ValueError, match=">= 1"):
        Pipeline("zero", max_active_tasks=0)
    with pytest.raises(ValueError, match=">= 1 slot"):
        Pipeline("zslot", pools={"p": 0})


# ---------------------------------------------------------------------------
# Per-stage failure callbacks (Airflow on_failure_callback parity)
# ---------------------------------------------------------------------------


def test_on_failure_fires_once_after_final_attempt():
    fired = []
    pipe = Pipeline("cb", sleep=no_sleep)
    pipe.add(
        Stage(
            "f",
            lambda ctx: 1 / 0,
            retry=RetryPolicy(retries=2, retry_delay_s=1),
            on_failure=lambda task_id, res: fired.append((task_id, res.attempts)),
        )
    )
    res = pipe.run(spark=None, raise_on_failure=False)
    assert res["f"].state == "failed"
    # once, after the FINAL attempt (3 attempts with retries=2)
    assert fired == [("f", 3)]


def test_on_failure_not_fired_on_success_or_recovered_retry():
    fired = []
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 2:
            raise ValueError("flaky")
        return "ok"

    pipe = Pipeline("cb2", sleep=no_sleep)
    pipe.add(
        Stage(
            "f",
            flaky,
            retry=RetryPolicy(retries=2, retry_delay_s=1),
            on_failure=lambda task_id, res: fired.append(task_id),
        )
    )
    res = pipe.run(spark=None)
    assert res["f"].state == "success"
    assert fired == []  # recovered on retry: no failure callback


def test_on_failure_exception_never_masks_outcome():
    def broken_cb(task_id, res):
        raise RuntimeError("callback bug")

    pipe = Pipeline("cb3", sleep=no_sleep)
    pipe.add(Stage("f", lambda ctx: 1 / 0, on_failure=broken_cb))
    res = pipe.run(spark=None, raise_on_failure=False)
    assert res["f"].state == "failed"
    assert isinstance(res["f"].error, ZeroDivisionError)  # not the cb error


# ---------------------------------------------------------------------------
# ADVICE r6 regression pins
# ---------------------------------------------------------------------------


def test_branch_chooser_generator_return_runs_chosen_branch():
    """A chooser may return any iterable — including a one-shot
    generator.  The stored XCom must be the NORMALIZED choice, so
    _should_run (re-applied per downstream stage) still sees it after
    the validation pass consumed the raw iterator (ADVICE r6)."""
    from artemia_airflow_spark.pipeline import branch_stage

    ran = []
    pipe = Pipeline("gen_branch", sleep=no_sleep)
    br = pipe.add(
        branch_stage("pick", lambda ctx: (t for t in ["left", "right"]))
    )
    left = pipe.add(Stage("left", lambda ctx: ran.append("left")))
    right = pipe.add(Stage("right", lambda ctx: ran.append("right")))
    other = pipe.add(Stage("other", lambda ctx: ran.append("other")))
    br >> [left, right, other]
    res = pipe.run(spark=None)
    assert sorted(ran) == ["left", "right"]
    assert res["other"].state == "skipped"
    # XCom holds the normalized, re-iterable value
    assert res["pick"].value == ["left", "right"]


def test_should_run_exception_recorded_not_respawned():
    """A harness-path exception inside the wave worker (e.g. in
    _should_run) must record a failed StageResult — not kill the daemon
    thread and leave the run loop re-spawning the stage forever
    (ADVICE r6).  Forced via a poisoned _should_run; run_timeout_s
    forces the threaded path."""
    import time as _time

    pipe = Pipeline("poison", sleep=no_sleep, run_timeout_s=10.0)
    pipe.add(Stage("a", lambda ctx: "ok"))

    orig = pipe._should_run

    def poisoned(stage, results):
        raise RuntimeError("harness bug")

    pipe._should_run = poisoned
    t0 = _time.monotonic()
    res = pipe.run(spark=None, raise_on_failure=False)
    assert _time.monotonic() - t0 < 5  # terminated, no respawn loop
    assert res["a"].state == "failed"
    assert isinstance(res["a"].error, RuntimeError)
    pipe._should_run = orig


def test_priority_weight_orders_contended_slots():
    """Airflow priority_weight parity: when a 1-slot pool is contended,
    higher-weight ready stages win slots first; ties keep declaration
    order.  Without caps the weight is irrelevant (all ready stages run
    concurrently)."""
    order = []
    pipe = Pipeline("prio", sleep=no_sleep, pools={"p": 1})
    pipe.add(Stage("low", lambda ctx: order.append("low"), pool="p", priority_weight=1))
    pipe.add(Stage("high", lambda ctx: order.append("high"), pool="p", priority_weight=5))
    pipe.add(Stage("mid", lambda ctx: order.append("mid"), pool="p", priority_weight=3))
    res = pipe.run(spark=None)
    assert order == ["high", "mid", "low"]
    assert all(r.state == "success" for r in res.values())


def test_skipped_stages_consume_no_pool_slot():
    """r7 review fix: a stage resolving to skipped/upstream_failed runs
    no user code and must not occupy a slot — the unchosen branch's
    fan-out resolves in ONE wave alongside the chosen path instead of
    serializing through the pool."""
    from artemia_airflow_spark.pipeline import branch_stage

    pipe = Pipeline("skipslots", sleep=no_sleep, pools={"p": 1})
    br = pipe.add(branch_stage("pick", lambda ctx: "chosen"))
    chosen = pipe.add(Stage("chosen", lambda ctx: "ran", pool="p"))
    skips = [
        pipe.add(Stage(f"skip{i}", lambda ctx: "never", pool="p",
                       priority_weight=10))
        for i in range(3)
    ]
    br >> [chosen, *skips]
    res = pipe.run(spark=None)
    assert res["chosen"].state == "success"
    assert all(res[f"skip{i}"].state == "skipped" for i in range(3))
    # wave 1: branch; wave 2: chosen (slot) + 3 slotless skips
    assert pipe.last_run_waves == 2


def test_on_failure_fires_for_harness_path_failure():
    """r7 review fix: the A21 contract is 'fires when the stage ends
    failed' — including failures recorded by the wave worker's
    harness-path handler (which bypasses _run_stage/_finish)."""
    fired = []
    pipe = Pipeline("cbharness", sleep=no_sleep, run_timeout_s=10.0)
    pipe.add(
        Stage("a", lambda ctx: "ok",
              on_failure=lambda task_id, res: fired.append(task_id))
    )

    def poisoned(stage, results):
        raise RuntimeError("harness bug")

    pipe._should_run = poisoned
    res = pipe.run(spark=None, raise_on_failure=False)
    assert res["a"].state == "failed"
    assert fired == ["a"]


def test_on_retry_fires_per_retried_attempt_never_after_final():
    """Airflow on_retry_callback parity: fires after each failed
    attempt that WILL be retried, never after the final one; a
    recovered retry stops the callbacks; a broken callback never
    changes retry behavior."""
    events = []

    def cb(task_id, attempt, exc):
        events.append((task_id, attempt, type(exc).__name__))

    pipe = Pipeline("retrycb", sleep=no_sleep)
    pipe.add(
        Stage("f", lambda ctx: 1 / 0,
              retry=RetryPolicy(retries=2, retry_delay_s=1), on_retry=cb)
    )
    res = pipe.run(spark=None, raise_on_failure=False)
    assert res["f"].state == "failed" and res["f"].attempts == 3
    assert events == [("f", 1, "ZeroDivisionError"), ("f", 2, "ZeroDivisionError")]

    events.clear()
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 2:
            raise ValueError("flaky")
        return "ok"

    pipe2 = Pipeline("retrycb2", sleep=no_sleep)
    pipe2.add(
        Stage("g", flaky, retry=RetryPolicy(retries=3, retry_delay_s=1), on_retry=cb)
    )
    res2 = pipe2.run(spark=None)
    assert res2["g"].state == "success"
    assert events == [("g", 1, "ValueError")]  # only the retried attempt

    def broken(task_id, attempt, exc):
        raise RuntimeError("cb bug")

    calls2 = {"n": 0}

    def flaky2(ctx):
        calls2["n"] += 1
        if calls2["n"] < 3:
            raise ValueError("flaky")
        return "ok"

    pipe3 = Pipeline("retrycb3", sleep=no_sleep)
    pipe3.add(
        Stage("h", flaky2, retry=RetryPolicy(retries=2, retry_delay_s=1),
              on_retry=broken)
    )
    res3 = pipe3.run(spark=None)
    assert res3["h"].state == "success" and res3["h"].attempts == 3


def test_on_retry_and_priority_thread_through_all_construction_paths():
    """ADVICE r7 parity fix: @pipe.stage, branch_stage and mapped_stage
    expose on_retry (and priority_weight) like Stage does; mapped_stage
    fires the callback PER ITEM with the mapped-instance id."""
    from artemia_airflow_spark.pipeline import branch_stage, mapped_stage

    events = []

    def cb(task_id, attempt, exc):
        events.append((task_id, attempt, type(exc).__name__))

    # decorator path
    pipe = Pipeline("cbdeco", sleep=no_sleep)
    calls = {"n": 0}

    @pipe.stage("d", retry=RetryPolicy(retries=1, retry_delay_s=1),
                priority_weight=3, on_retry=cb)
    def d(ctx):
        calls["n"] += 1
        if calls["n"] < 2:
            raise ValueError("flaky")
        return "ok"

    assert pipe.stages["d"].priority_weight == 3
    res = pipe.run(spark=None)
    assert res["d"].state == "success"
    assert events == [("d", 1, "ValueError")]

    # branch path accepts both kwargs
    br = branch_stage("pick", lambda ctx: "x", priority_weight=2, on_retry=cb)
    assert br.priority_weight == 2 and br.on_retry is cb

    # mapped path: per-item callback with the item index in the id
    events.clear()
    item_calls = {"n": 0}

    def flaky_item(ctx, item):
        if item == 1:
            item_calls["n"] += 1
            if item_calls["n"] < 2:
                raise ValueError("flaky item")
        return item * 10

    pipe2 = Pipeline("cbmap", sleep=no_sleep)
    pipe2.add(mapped_stage(
        "m", flaky_item, lambda ctx: [0, 1, 2],
        retry=RetryPolicy(retries=2, retry_delay_s=1),
        priority_weight=5, on_retry=cb, sleep=no_sleep,
    ))
    assert pipe2.stages["m"].priority_weight == 5
    res2 = pipe2.run(spark=None)
    assert res2["m"].state == "success" and res2["m"].value == [0, 10, 20]
    assert events == [("m[1]", 1, "ValueError")]


def test_to_dot_renders_nodes_edges_and_annotations():
    """Graph-view stand-in: DOT text carries every node, every edge,
    and the semantic annotations (branch shape, trigger rule, pool,
    retries) a debugger needs."""
    from artemia_airflow_spark.pipeline import branch_stage

    pipe = Pipeline("viz", pools={"p": 1})
    a = pipe.add(Stage("a", lambda ctx: 1, retry=RetryPolicy(retries=2)))
    br = pipe.add(branch_stage("pick", lambda ctx: "b"))
    b = pipe.add(Stage("b", lambda ctx: 2, pool="p"))
    c = pipe.add(Stage("c", lambda ctx: 3, trigger_rule="one_failed"))
    a >> br
    br >> [b, c]
    dot = pipe.to_dot()
    assert dot.startswith('digraph "viz"')
    assert '"a" -> "pick";' in dot and '"pick" -> "b";' in dot and '"pick" -> "c";' in dot
    assert '"pick" [shape=diamond' in dot
    assert "retries=2" in dot and "pool=p" in dot and "one_failed" in dot


def test_to_dot_escapes_quotes():
    from artemia_airflow_spark.pipeline import Pipeline, Stage

    pipe = Pipeline('night "prod" sync')
    pipe.add(Stage('load "raw"', lambda ctx: 1))
    dot = pipe.to_dot()
    assert 'digraph "night \\"prod\\" sync"' in dot
    assert '"load \\"raw\\""' in dot


def test_max_active_runs_queues_excess_runs(spark):
    """A-surface parity (VERDICT r8 item 4): max_active_runs caps RUN
    concurrency at the pipeline — a third concurrent run() blocks
    (queues) until a slot frees; nothing fails, everything executes;
    the high-water mark proves the cap actually bound."""
    import threading
    import time as _time

    from artemia_airflow_spark.pipeline import Pipeline

    pipe = Pipeline("capped", max_active_runs=2)

    @pipe.stage("work")
    def work(ctx):
        _time.sleep(0.15)
        return 1

    threads = [
        threading.Thread(target=pipe.run, args=(spark,)) for _ in range(5)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30.0)
    assert not any(t.is_alive() for t in threads)
    assert pipe.peak_active_runs == 2  # bound AND saturated

    with pytest.raises(ValueError, match="max_active_runs"):
        Pipeline("bad", max_active_runs=0)


def test_depends_on_past_gates_on_previous_run(spark, tmp_path):
    """depends_on_past (VERDICT r8 item 4): a stage runs only if its
    own instance in the most recent ledger run did not fail.  First
    run allowed; after a failure the stage (and its all_success
    downstream) resolve upstream_failed run after run, until an
    ignore_depends_on_past=True run repairs the chain — the engine's
    `airflow dags backfill -i` moment."""
    from artemia_airflow_spark.ledger import RunLedger
    from artemia_airflow_spark.pipeline import Pipeline

    led = RunLedger(str(tmp_path / "led"))
    pipe = Pipeline("dop", ledger=led)
    fail_now = {"flag": False}

    @pipe.stage("a", depends_on_past=True)
    def a(ctx):
        if fail_now["flag"]:
            raise RuntimeError("boom")
        return "ok"

    @pipe.stage("b")
    def b(ctx):
        return ctx.xcom_pull("a") + "!"

    pipe.stages["a"] >> pipe.stages["b"]

    r1 = pipe.run(spark)                       # first run: no past -> runs
    assert r1["a"].state == r1["b"].state == "success"

    fail_now["flag"] = True
    r2 = pipe.run(spark, raise_on_failure=False)
    assert r2["a"].state == "failed"

    fail_now["flag"] = False                   # stage would succeed now...
    r3 = pipe.run(spark, raise_on_failure=False)
    assert r3["a"].state == "upstream_failed"  # ...but the past gates it
    assert "depends_on_past" in str(r3["a"].error)
    assert r3["b"].state == "upstream_failed"  # cascade via all_success

    r4 = pipe.run(spark, raise_on_failure=False)
    assert r4["a"].state == "upstream_failed"  # stays blocked

    # a blocked run must be LOUD under the default exception contract:
    # nothing executed, so returning normally would look like success
    with pytest.raises(StageFailed, match="depends_on_past"):
        pipe.run(spark)

    r5 = pipe.run(spark, ignore_depends_on_past=True)
    assert r5["a"].state == r5["b"].state == "success"

    r6 = pipe.run(spark)                       # past success -> unblocked
    assert r6["a"].state == "success"


def test_depends_on_past_resume_from_repairs_chain(spark, tmp_path):
    """r9 review: resume_from IS the clear-and-rerun — the gate must
    not read the failed states of the very run being resumed, or the
    documented repair path silently repairs nothing."""
    from artemia_airflow_spark.ledger import RunLedger
    from artemia_airflow_spark.pipeline import Pipeline

    led = RunLedger(str(tmp_path / "led2"))
    pipe = Pipeline("dop2", ledger=led)
    fail_now = {"flag": True}
    run_ids = []

    @pipe.stage("a", depends_on_past=True)
    def a(ctx):
        if fail_now["flag"]:
            raise RuntimeError("boom")
        return "ok"

    pipe.run(spark, raise_on_failure=False)    # run 1: a failed
    failed_run = led.runs(spark).collect()[0].run_id
    fail_now["flag"] = False
    r = pipe.run(spark, resume_from=failed_run)  # clear-and-rerun
    assert r["a"].state == "success"
    r2 = pipe.run(spark)                       # chain repaired
    assert r2["a"].state == "success"


def test_depends_on_past_requires_ledger(spark):
    from artemia_airflow_spark.pipeline import Pipeline

    pipe = Pipeline("noledger")

    @pipe.stage("a", depends_on_past=True)
    def a(ctx):
        return 1

    with pytest.raises(ValueError, match="ledger"):
        pipe.run(spark)


# ---------------------------------------------------------------------------
# TaskGroup (round 9 A-surface parity)
# ---------------------------------------------------------------------------


def test_task_group_prefixes_and_wires_roots_and_leaves(spark):
    """Stages inside a group get the dotted prefix; a >> group >> b
    wires a to the group's roots and its leaves to b; execution order
    respects the group boundary."""
    from artemia_airflow_spark.pipeline import Pipeline

    pipe = Pipeline("tg1")
    order: list[str] = []

    def mk(name):
        def fn(ctx, name=name):
            order.append(name)
            return name
        return fn

    start = pipe.add(Stage("start", mk("start")))
    with pipe.task_group("g") as g:
        t1 = pipe.add(Stage("t1", mk("t1")))
        t2 = pipe.add(Stage("t2", mk("t2")))
        t3 = pipe.add(Stage("t3", mk("t3")))
        t1 >> t3
        t2 >> t3
    end = pipe.add(Stage("end", mk("end")))
    start >> g >> end

    assert t1.task_id == "g.t1" and t3.task_id == "g.t3"
    assert sorted(s.task_id for s in g._roots()) == ["g.t1", "g.t2"]
    assert [s.task_id for s in g._leaves()] == ["g.t3"]
    # start wired to BOTH roots, only the leaf wired to end
    assert {d.task_id for d in start.downstream} == {"g.t1", "g.t2"}
    assert {u.task_id for u in end.upstream} == {"g.t3"}

    res = pipe.run(spark)
    assert all(r.state == "success" for r in res.values())
    assert order[0] == "start" and order[-1] == "end"
    assert order.index("t3") > max(order.index("t1"), order.index("t2"))


def test_task_group_nesting_and_duplicate_base_names(spark):
    """Nested groups chain prefixes; the same base task name in two
    sibling groups does not collide; an outer-group arrow covers
    nested members (roots computed over ALL members)."""
    from artemia_airflow_spark.pipeline import Pipeline

    pipe = Pipeline("tg2")
    with pipe.task_group("outer") as outer:
        with pipe.task_group("inner") as inner:
            a = pipe.add(Stage("work", lambda ctx: 1))
        b = pipe.add(Stage("work", lambda ctx: 2))  # same base name
        a >> b
    assert a.task_id == "outer.inner.work"
    assert b.task_id == "outer.work"
    assert {s.task_id for s in outer.members} == {
        "outer.inner.work", "outer.work",
    }
    assert [s.task_id for s in inner.members] == ["outer.inner.work"]
    # outer's root is the nested stage (its upstream b-edge is inward)
    assert [s.task_id for s in outer._roots()] == ["outer.inner.work"]
    assert [s.task_id for s in outer._leaves()] == ["outer.work"]
    res = pipe.run(spark)
    assert res["outer.inner.work"].value == 1
    assert res["outer.work"].value == 2


def test_task_group_rejects_dotted_name(spark):
    from artemia_airflow_spark.pipeline import Pipeline, TaskGroup

    with pytest.raises(ValueError, match="no dots"):
        TaskGroup("a.b")
    pipe = Pipeline("tg3")
    with pytest.raises(ValueError, match="no dots"):
        with pipe.task_group("x.y"):
            pass


def test_task_group_arrows_inside_block_cover_later_members(spark):
    """r9 review: an arrow drawn while the group is still OPEN must
    cover members and internal edges declared AFTER it — resolution
    defers to the with-block exit (Airflow resolves at DAG build)."""
    from artemia_airflow_spark.pipeline import Pipeline

    pipe = Pipeline("tg4")
    order: list[str] = []

    def mk(name):
        def fn(ctx, name=name):
            order.append(name)
        return fn

    start = pipe.add(Stage("start", mk("start")))
    end = None
    with pipe.task_group("g") as g:
        t1 = pipe.add(Stage("t1", mk("t1")))
        start >> g          # drawn BEFORE t2 exists
        t2 = pipe.add(Stage("t2", mk("t2")))   # also a root
        t3 = pipe.add(Stage("t3", mk("t3")))
        t1 >> t3
        t2 >> t3            # leaf changes after any earlier arrow
    end = pipe.add(Stage("end", mk("end")))
    g >> end                # closed group: immediate leaf wiring

    # BOTH roots got the upstream edge, including the late t2
    assert {d.task_id for d in start.downstream} == {"g.t1", "g.t2"}
    assert {u.task_id for u in end.upstream} == {"g.t3"}
    res = pipe.run(spark)
    assert all(r.state == "success" for r in res.values())
    assert order.index("t2") > order.index("start")
    assert order[-1] == "end"


def test_pipeline_add_failure_leaves_stage_and_group_untouched(spark):
    """r9 review: a failed add() (unknown pool) must not mutate the
    stage's task_id or group membership — a corrected retry succeeds
    with a single prefix and single membership."""
    from artemia_airflow_spark.pipeline import Pipeline

    pipe = Pipeline("tg5", pools={"ok": 1})
    with pipe.task_group("g") as g:
        bad = Stage("t", lambda ctx: 1, pool="missing")
        with pytest.raises(ValueError, match="unknown pool"):
            pipe.add(bad)
        assert bad.task_id == "t"          # not mutated
        assert g.members == []             # not registered
        bad.pool = "ok"
        added = pipe.add(bad)
        assert added.task_id == "g.t"      # single prefix
        assert [s.task_id for s in g.members] == ["g.t"]


def test_to_dot_renders_task_groups_as_clusters(spark):
    """TaskGroups appear as nested subgraph clusters (Airflow graph
    view grouping); ungrouped stages stay at top level; edges are
    global and unchanged."""
    from artemia_airflow_spark.pipeline import Pipeline

    pipe = Pipeline("dotg")
    start = pipe.add(Stage("start", lambda ctx: 1))
    with pipe.task_group("outer") as g:
        with pipe.task_group("inner"):
            pipe.add(Stage("w", lambda ctx: 1))
        b = pipe.add(Stage("b", lambda ctx: 1))
    start >> g
    dot = pipe.to_dot()
    assert 'subgraph "cluster_outer"' in dot
    assert 'subgraph "cluster_outer.inner"' in dot
    assert '"outer.inner.w"' in dot and '"outer.b"' in dot
    assert '"start" -> "outer.inner.w"' in dot  # root wiring survives
    # inner cluster nested INSIDE outer (appears after outer's open,
    # before outer's close)
    o = dot.index('subgraph "cluster_outer"')
    i = dot.index('subgraph "cluster_outer.inner"')
    close = dot.index("}", i)
    assert o < i < close


def test_execution_timeout_kills_hung_stage_and_gates_downstream():
    """A-gap #1 (r10): a hung stage dies at its hard deadline — the
    run does NOT block until run_timeout — with a distinct failure
    kind (StageTimeout, StageResult.timed_out), on_failure fired
    exactly once, and downstream gated per trigger rules (all_success
    child upstream_failed, one_failed handler runs)."""
    import time as _time

    from artemia_airflow_spark.pipeline import StageTimeout

    fired = []
    pipe = Pipeline("exec-timeout")
    hung = pipe.add(
        Stage(
            "hung",
            lambda ctx: _time.sleep(30),
            execution_timeout_s=0.2,
            on_failure=lambda tid, res: fired.append((tid, res.timed_out)),
        )
    )
    child = pipe.add(Stage("child", lambda ctx: "ran"))
    handler = pipe.add(
        Stage("handler", lambda ctx: "handled", trigger_rule="one_failed")
    )
    hung >> [child, handler]
    t0 = _time.monotonic()
    results = pipe.run(spark=None, raise_on_failure=False)
    assert _time.monotonic() - t0 < 5.0  # deadline, not the 30s sleep
    r = results["hung"]
    assert r.state == "failed" and r.timed_out and r.attempts == 1
    assert isinstance(r.error, StageTimeout)
    assert results["child"].state == "upstream_failed"
    assert results["handler"].state == "success"
    assert fired == [("hung", True)]


def test_execution_timeout_consumes_one_attempt_and_composes_with_retry():
    """A timed-out attempt consumes exactly one retry attempt:
    on_retry fires with the StageTimeout, and a fast second attempt
    succeeds (timed_out stays False on the final result)."""
    import time as _time

    from artemia_airflow_spark.pipeline import StageTimeout

    calls = {"n": 0}
    retried = []

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] == 1:
            _time.sleep(30)  # first attempt hangs past the deadline
        return "ok"

    pipe = Pipeline("exec-timeout-retry")
    pipe.add(
        Stage(
            "flaky",
            flaky,
            retry=RetryPolicy(retries=1, retry_delay_s=0.0),
            execution_timeout_s=0.2,
            on_retry=lambda tid, n, exc: retried.append(type(exc).__name__),
        )
    )
    results = pipe.run(spark=None)
    r = results["flaky"]
    assert r.state == "success" and r.value == "ok" and r.attempts == 2
    assert not r.timed_out
    assert retried == ["StageTimeout"]


def test_execution_timeout_cancels_spark_job_group(spark):
    """The deadline kill actually cancels the attempt's SPARK work:
    a stage stuck inside a Spark action (slow Python batches) dies at
    the deadline and the pipeline regains control in seconds — the
    cancelled job group stops the executors, not just the wait."""
    import time as _time

    def slow_job(ctx):
        import pandas as _pd

        def crawl(batches):
            for pdf in batches:
                _time.sleep(20)
                yield pdf

        return (
            ctx.spark.range(8).repartition(4)
            .mapInPandas(crawl, schema="id long")
            .count()
        )

    pipe = Pipeline("exec-timeout-spark")
    pipe.add(Stage("crawl", slow_job, execution_timeout_s=1.5))
    t0 = _time.monotonic()
    results = pipe.run(spark=spark, raise_on_failure=False)
    assert _time.monotonic() - t0 < 15.0
    assert results["crawl"].state == "failed" and results["crawl"].timed_out


def test_execution_timeout_cancels_overlap_side_thread_jobs(spark):
    """The deadline's job-group cancel reaches Spark work submitted
    from an ``overlap`` side thread: the side thread inherits the
    attempt's group, so the 20 s job dies at the 1.5 s deadline instead
    of running on holding executors."""
    import time as _time

    from artemia_airflow_spark.functions.core import overlap

    side_done = threading.Event()

    def crawl(batches):
        for pdf in batches:
            _time.sleep(20)
            yield pdf

    # one shuffle-free job: AQE shuffle-stage jobs submitted after the
    # deadline escape cancelJobGroupAndFutureJobs, which would let a
    # slow-to-start job outlive the cancel with or without inheritance
    def side_job(spark_):
        try:
            return (
                spark_.range(0, 8, 1, 4)
                .mapInPandas(crawl, schema="id long").collect()
            )
        finally:
            side_done.set()

    pipe = Pipeline("exec-timeout-overlap")
    pipe.add(Stage(
        "crawl", lambda ctx: overlap(lambda: side_job(ctx.spark)),
        execution_timeout_s=1.5,
    ))
    results = pipe.run(spark=spark, raise_on_failure=False)
    assert results["crawl"].state == "failed" and results["crawl"].timed_out
    # an uncancelled side job would sleep its full 20 s
    assert side_done.wait(8.0)
    tracker = spark.sparkContext.statusTracker()
    deadline = _time.monotonic() + 5.0
    while tracker.getActiveJobsIds() and _time.monotonic() < deadline:
        _time.sleep(0.1)
    assert tracker.getActiveJobsIds() == []


def test_execution_timeout_stops_aqe_stage_jobs_submitted_after_the_cancel(spark):
    """A zombie attempt that first touches Spark after its deadline gets
    no job of its group through.  AQE submits each shuffle stage as its
    own job, and a group cancel-and-future-jobs alone let those run."""
    import time as _time

    seen = {}
    finished = threading.Event()

    def late(ctx):
        seen["group"] = ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        try:
            _time.sleep(2.0)
            return ctx.spark.range(0, 1000, 1, 4).repartition(4).count()
        finally:
            finished.set()

    pipe = Pipeline("exec-timeout-aqe")
    pipe.add(Stage("late", late, execution_timeout_s=0.5))
    results = pipe.run(spark=spark, raise_on_failure=False)
    assert results["late"].state == "failed" and results["late"].timed_out
    assert finished.wait(30.0)
    tracker = spark.sparkContext.statusTracker()
    completed = [
        j for j in tracker.getJobIdsForGroup(seen["group"])
        if tracker.getJobInfo(j).status == "SUCCEEDED"
    ]
    assert completed == []


def test_deferrable_sensor_releases_pool_slot_while_waiting():
    """A14 (r10): a deferred sensor holds NO pool slot — a same-pool
    stage runs to completion WHILE the sensor waits, then the trigger
    fires and the sensor resumes with the trigger's value."""
    from artemia_airflow_spark.pipeline import deferrable_sensor_stage

    done = []
    pipe = Pipeline("defer", pools={"p": 1})
    sensor = pipe.add(
        deferrable_sensor_stage(
            "sensor",
            # fires only after the OTHER pool-p stage finished: if the
            # sensor held the single slot while waiting, this would
            # deadlock instead of passing
            trigger=lambda ctx: "payload" if done else None,
            poke_interval_s=0.01,
            timeout_s=10.0,
            pool="p",
        )
    )
    worker = pipe.add(
        Stage("worker", lambda ctx: done.append("w") or "done", pool="p")
    )
    results = pipe.run(spark=None)
    assert results["worker"].state == "success"
    assert results["sensor"].state == "success"
    assert results["sensor"].value == "payload"
    assert sensor is not None and worker is not None


def test_deferrable_sensor_timeout_fails_and_gates_downstream():
    """Deferral timeout surfaces as SensorTimeout (the poke-mode
    contract) and trigger rules gate downstream normally."""
    from artemia_airflow_spark.pipeline import deferrable_sensor_stage
    from artemia_airflow_spark.streaming.sensor import SensorTimeout

    pipe = Pipeline("defer-timeout")
    sensor = pipe.add(
        deferrable_sensor_stage(
            "sensor",
            trigger=lambda ctx: None,  # never fires
            poke_interval_s=0.02,
            timeout_s=0.15,
        )
    )
    ok = pipe.add(Stage("ok", lambda ctx: 1))
    handler = pipe.add(
        Stage("handler", lambda ctx: "handled", trigger_rule="one_failed")
    )
    sensor >> [ok, handler]
    results = pipe.run(spark=None, raise_on_failure=False)
    assert results["sensor"].state == "failed"
    assert isinstance(results["sensor"].error, SensorTimeout)
    assert results["ok"].state == "upstream_failed"
    assert results["handler"].state == "success"


def test_deferrable_sensor_trigger_error_fails_loudly():
    """A trigger that raises fails the stage with that error — a
    broken trigger is never a silent forever-wait."""
    from artemia_airflow_spark.pipeline import deferrable_sensor_stage

    def bad_trigger(ctx):
        raise ConnectionError("upstream gone")

    pipe = Pipeline("defer-err")
    pipe.add(
        deferrable_sensor_stage(
            "sensor", trigger=bad_trigger,
            poke_interval_s=0.01, timeout_s=5.0,
        )
    )
    results = pipe.run(spark=None, raise_on_failure=False)
    assert results["sensor"].state == "failed"
    assert isinstance(results["sensor"].error, ConnectionError)


def test_deferrable_sensor_reads_xcom_in_trigger():
    """The deferred trigger closes over the submit-time ctx, so it can
    poll upstream XCom values (the Airflow trigger kwargs analogue)."""
    from artemia_airflow_spark.pipeline import deferrable_sensor_stage

    pipe = Pipeline("defer-xcom")
    up = pipe.add(Stage("up", lambda ctx: {"run_id": 42}))
    sensor = pipe.add(
        deferrable_sensor_stage(
            "sensor",
            trigger=lambda ctx: ctx.xcom_pull("up")["run_id"],
            poke_interval_s=0.01,
            timeout_s=5.0,
        )
    )
    up >> sensor
    results = pipe.run(spark=None)
    assert results["sensor"].value == 42


def test_deferrable_sensor_retry_re_defers_with_fresh_window():
    """A timed-out deferral that has retries left RE-DEFERS (the stale
    TriggerEvent is cleared on retry), so the retry waits a fresh
    window instead of instantly replaying the timeout (r10 review)."""
    from artemia_airflow_spark.pipeline import deferrable_sensor_stage

    t0 = __import__("time").monotonic()

    def late_trigger(ctx):
        # fires only after ~0.4s — past the first 0.15s window, inside
        # the retry's fresh one
        return "late" if __import__("time").monotonic() - t0 > 0.4 else None

    pipe = Pipeline("defer-retry")
    pipe.add(
        deferrable_sensor_stage(
            "sensor",
            trigger=late_trigger,
            poke_interval_s=0.03,
            timeout_s=0.15,
            retry=RetryPolicy(retries=3, retry_delay_s=0.0),
        )
    )
    results = pipe.run(spark=None)
    assert results["sensor"].state == "success"
    assert results["sensor"].value == "late"


def test_deferrable_sensor_events_do_not_leak_across_runs():
    """A stale TriggerEvent from an abandoned/failed run is never
    consumed by a later run of the same pipeline (run-scoped trigger
    keys + run-exit cancellation — r10 review)."""
    from artemia_airflow_spark.pipeline import deferrable_sensor_stage

    armed = []

    pipe = Pipeline("defer-isolated")
    pipe.add(
        deferrable_sensor_stage(
            "sensor",
            trigger=lambda ctx: "go" if armed else None,
            poke_interval_s=0.02,
            timeout_s=0.15,
        )
    )
    r1 = pipe.run(spark=None, raise_on_failure=False)
    assert r1["sensor"].state == "failed"  # first run times out
    armed.append(True)
    r2 = pipe.run(spark=None)  # must defer FRESH, not replay run 1
    assert r2["sensor"].state == "success" and r2["sensor"].value == "go"


def test_update_pipeline_deferrable_sensor_trace():
    """The reference DAG with its wait stage in A14 triggerer mode:
    same terminal states and single success notification as poke mode,
    with the polling done by the shared triggerer thread."""
    t = FakeTransport()
    t.run_status_sequence = [
        {"status": "queued"},
        {"status": "in_progress"},
        {"status": "completed", "conclusion": "success"},
    ]
    pipe = build_update_pipeline(
        transport=t, sleep=no_sleep, deferrable=True, poke_interval_s=0.01,
        settle_sleep_s=0.0, sensor_timeout_s=10.0,
    )
    results = pipe.run(spark=None)
    assert results["wait_for_github_action"].state == "success"
    assert results["wait_for_github_action"].value is True  # trigger value
    assert results["notify_success"].state == "success"
    assert results["notify_failure"].state == "skipped"
    assert any(url.endswith("/actions/runs/4242") for _, url in t.calls)
    notify_calls = [u for _, u in t.calls if u.endswith("/notify")]
    assert len(notify_calls) == 1


def test_update_pipeline_deferrable_concluded_failure_branch():
    """A deferred wait whose action concludes 'failure' raises through
    the trigger-error path; the DAG's default retry (1) re-defers ONCE
    with a fresh window (which fails the same way), then the stage is
    terminally failed with the cumulative attempt count and
    notify_failure (one_failed) handles it."""
    t = FakeTransport()
    t.run_status_sequence = [
        {"status": "in_progress"},
        {"status": "completed", "conclusion": "failure"},
        {"status": "in_progress"},
        {"status": "completed", "conclusion": "failure"},
    ]
    pipe = build_update_pipeline(
        transport=t, sleep=no_sleep, deferrable=True, poke_interval_s=0.01,
        settle_sleep_s=0.0, sensor_timeout_s=10.0,
    )
    results = pipe.run(spark=None, raise_on_failure=False)
    wait = results["wait_for_github_action"]
    assert wait.state == "failed"
    assert isinstance(wait.error, RuntimeError)
    assert wait.attempts == 2  # budget spans both deferral cycles
    assert results["notify_success"].state == "upstream_failed"
    assert results["notify_failure"].state == "success"


def test_deferrable_retry_backoff_paid_once():
    """The retry backoff before a re-defer is NOT re-slept on resume
    (r10 review: delays[consumed:] kept the paid backoff as the
    resume's first delay, double-sleeping 300s after the trigger had
    already fired)."""
    from artemia_airflow_spark.pipeline import deferrable_sensor_stage

    slept = []
    calls = {"n": 0}

    def trigger(ctx):
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConnectionError("transient")
        return "done"

    pipe = Pipeline("defer-backoff")
    pipe._sleep = lambda s: slept.append(s)
    pipe.add(
        deferrable_sensor_stage(
            "sensor",
            trigger=trigger,
            poke_interval_s=0.01,
            timeout_s=10.0,
            retry=RetryPolicy(retries=1, retry_delay_s=300.0),
        )
    )
    results = pipe.run(spark=None)
    assert results["sensor"].state == "success"
    assert results["sensor"].value == "done"
    assert results["sensor"].attempts == 2  # cumulative across cycles
    assert slept.count(300.0) == 1, slept  # backoff paid exactly once


def test_shared_triggerer_isolates_same_named_stages():
    """Two pipelines sharing ONE injected Triggerer (the deployment
    shape: one poller process) with identically-named sensors must
    never consume each other's events — run-scoped trigger keys."""
    from artemia_airflow_spark.pipeline import (
        Triggerer,
        deferrable_sensor_stage,
    )

    shared = Triggerer()
    outcomes = {}

    def build(name, value):
        pipe = Pipeline(name, triggerer=shared)
        pipe.add(
            deferrable_sensor_stage(
                "sensor",
                trigger=lambda ctx, v=value: v,
                poke_interval_s=0.01,
                timeout_s=5.0,
            )
        )
        return pipe

    import threading

    def run(name, value):
        outcomes[name] = build(name, value).run(spark=None)

    threads = [
        threading.Thread(target=run, args=("p-a", "from-a")),
        threading.Thread(target=run, args=("p-b", "from-b")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(20)
    assert outcomes["p-a"]["sensor"].value == "from-a"
    assert outcomes["p-b"]["sensor"].value == "from-b"


@pytest.mark.filterwarnings(
    "ignore::pytest.PytestUnhandledThreadExceptionWarning"
)
def test_triggerer_crash_while_deferred_is_recovered():
    """ADVICE r10: if the triggerer loop thread dies on an unexpected
    exception (an injected sleep raising) while stages are deferred,
    the wave loop's ensure_running must re-spawn it — the waiting
    entries keep their original deadlines and the run completes
    instead of spinning on a dead thread forever."""
    import time as _time

    from artemia_airflow_spark.pipeline import (
        Triggerer,
        deferrable_sensor_stage,
    )

    crash_once = iter([True])

    def bad_sleep(s: float) -> None:
        if next(crash_once, False):
            raise RuntimeError("injected sleep crash")
        _time.sleep(min(s, 0.01))

    trig = Triggerer(sleep=bad_sleep, tick_s=0.01)
    pokes = {"n": 0}

    def trigger(ctx):
        pokes["n"] += 1
        return "payload" if pokes["n"] >= 3 else None

    pipe = Pipeline("trig-crash", triggerer=trig, run_timeout_s=20.0)
    pipe.add(
        deferrable_sensor_stage(
            "s", trigger=trigger, poke_interval_s=0.01, timeout_s=15.0
        )
    )
    results = pipe.run(spark=None)
    assert results["s"].state == "success"
    assert results["s"].value == "payload"
    assert pokes["n"] >= 3


def test_isolated_stage_returns_value_and_propagates_error(tmp_path):
    """isolate=True round-trip: a picklable return value crosses the
    process pipe; a child exception surfaces as the stage error."""
    from artemia_airflow_spark.pipeline import Stage

    pipe = Pipeline("iso-ok")
    pipe.add(Stage(
        "ok", lambda ctx: {"answer": 42},
        execution_timeout_s=10.0, isolate=True,
    ))
    pipe.add(Stage(
        "boom", lambda ctx: (_ for _ in ()).throw(ValueError("child boom")),
        execution_timeout_s=10.0, isolate=True,
        trigger_rule="all_done",
    ))
    results = pipe.run(spark=None, raise_on_failure=False)
    assert results["ok"].state == "success"
    assert results["ok"].value == {"answer": 42}
    assert results["boom"].state == "failed"
    assert isinstance(results["boom"].error, ValueError)
    assert "child boom" in str(results["boom"].error)


def test_isolated_stage_hard_kill_leaves_no_zombie(tmp_path):
    """VERDICT r10 missing #1: a pure-Python hang under isolate=True
    actually DIES at the deadline (heartbeat file stops growing after
    the kill), the failure is StageTimeout, and no zombie attempt
    survives — the retry runs with zero overlap (zombie_attempts=0,
    and at most one writer pid is ever concurrently active)."""
    import os
    import time as _time

    from artemia_airflow_spark.pipeline import RetryPolicy, Stage, StageTimeout

    beat = tmp_path / "beats.txt"

    def hang(ctx):
        # pure Python, never touches Spark: the thread path could NOT
        # kill this; the process path must
        while True:
            with open(beat, "a") as f:
                f.write(f"{os.getpid()}\n")
            _time.sleep(0.02)

    pipe = Pipeline("iso-kill")
    pipe.add(Stage(
        "hang", hang, execution_timeout_s=0.4, isolate=True,
        retry=RetryPolicy(retries=1, retry_delay_s=0.05),
    ))
    results = pipe.run(spark=None, raise_on_failure=False)
    assert results["hang"].state == "failed"
    assert results["hang"].timed_out
    assert isinstance(results["hang"].error, StageTimeout)
    assert results["hang"].attempts == 2
    assert results["hang"].zombie_attempts == 0

    _time.sleep(0.3)  # let any survivor write a few more beats
    size_a = beat.stat().st_size
    _time.sleep(0.3)
    assert beat.stat().st_size == size_a, "killed attempt kept writing"
    # attempts never overlapped: beats interleave at most one pid at a
    # time (two pids total — one per attempt)
    pids = beat.read_text().split()
    assert len(set(pids)) == 2
    switches = sum(1 for a, b in zip(pids, pids[1:]) if a != b)
    assert switches == 1, "pid interleaving => overlapping attempts"


def test_isolated_stage_requires_timeout():
    from artemia_airflow_spark.pipeline import Stage

    with pytest.raises(ValueError, match="isolate=True only makes sense"):
        Stage("s", lambda ctx: None, isolate=True)


def test_thread_deadline_zombie_is_surfaced(recwarn):
    """ADVICE r10: on the default thread path, a timed-out pure-Python
    attempt that keeps running is counted on the final StageResult and
    warned about — observable, not silent."""
    import time as _time

    from artemia_airflow_spark.pipeline import Stage

    release = threading.Event()

    def stall(ctx):
        release.wait(10.0)

    pipe = Pipeline("zombie")
    pipe.add(Stage("stall", stall, execution_timeout_s=0.2))
    results = pipe.run(spark=None, raise_on_failure=False)
    try:
        assert results["stall"].state == "failed"
        assert results["stall"].timed_out
        assert results["stall"].zombie_attempts == 1
        assert any(
            "still executing pure-Python work" in str(w.message)
            for w in recwarn.list
        )
    finally:
        release.set()


def test_isolated_stage_works_inside_spark_pipeline(spark):
    """The isolate guard is per-STAGE, not per-pipeline (r11 review):
    a pure-Python isolated stage runs fine in a DAG that HAS a Spark
    session — the child just sees ctx.spark=None, so a body that does
    touch Spark fails in-child with a clear error instead of speaking
    to the parent's JVM sockets."""
    from artemia_airflow_spark.pipeline import Stage

    pipe = Pipeline("iso-spark")
    pipe.add(Stage(
        "pure", lambda ctx: ("spark_is_none", ctx.spark is None),
        execution_timeout_s=10.0, isolate=True,
    ))
    pipe.add(Stage(
        "touches_spark", lambda ctx: ctx.spark.range(1).count(),
        execution_timeout_s=10.0, isolate=True, trigger_rule="all_done",
    ))
    results = pipe.run(spark=spark, raise_on_failure=False)
    assert results["pure"].state == "success"
    assert results["pure"].value == ("spark_is_none", True)
    assert results["touches_spark"].state == "failed"
    assert isinstance(results["touches_spark"].error, AttributeError)


def test_isolated_stage_blocks_jvm_backed_xcom(spark):
    """r11 review: a DataFrame XCom must not be reachable from the
    forked child (it is a handle over the parent's py4j sockets) —
    using it fails loudly with the remedy; plain-value XComs pass
    through untouched."""
    from artemia_airflow_spark.pipeline import Stage

    pipe = Pipeline("iso-xcom")
    up = pipe.add(Stage("up", lambda ctx: ctx.spark.range(3)))
    plain = pipe.add(Stage("plain", lambda ctx: 41))
    bad = pipe.add(Stage(
        "bad", lambda ctx: ctx.xcom_pull("up").count(),
        execution_timeout_s=10.0, isolate=True, trigger_rule="all_done",
    ))
    ok = pipe.add(Stage(
        "ok", lambda ctx: ctx.xcom_pull("plain") + 1,
        execution_timeout_s=10.0, isolate=True, trigger_rule="all_done",
    ))
    up >> bad
    plain >> ok
    results = pipe.run(spark=spark, raise_on_failure=False)
    assert results["ok"].state == "success"
    assert results["ok"].value == 42
    assert results["bad"].state == "failed"
    assert "JVM-backed XCom" in str(results["bad"].error)


@pytest.mark.filterwarnings(
    "ignore::pytest.PytestUnhandledThreadExceptionWarning"
)
def test_triggerer_crash_recovered_while_ready_work_flows():
    """r11 review: the crashed triggerer must be re-spawned EVERY wave
    while stages are deferred, not only when nothing is ready — a
    sensor whose condition fires early must resume alongside a busy
    compute chain, not after it drains."""
    import time as _time

    from artemia_airflow_spark.pipeline import (
        Stage,
        Triggerer,
        deferrable_sensor_stage,
    )

    crash_once = iter([True])

    def bad_sleep(s: float) -> None:
        if next(crash_once, False):
            raise RuntimeError("injected sleep crash")
        _time.sleep(min(s, 0.01))

    trig = Triggerer(sleep=bad_sleep, tick_s=0.01)
    pokes = {"n": 0}
    order: list[str] = []

    def trigger(ctx):
        pokes["n"] += 1
        return "fired" if pokes["n"] >= 2 else None

    pipe = Pipeline("trig-busy", triggerer=trig, run_timeout_s=30.0)
    sensor = pipe.add(deferrable_sensor_stage(
        "sensor", trigger=trigger, poke_interval_s=0.01, timeout_s=20.0,
    ))
    pipe.add(Stage(
        "sensor_done", lambda ctx: order.append("sensor_done"),
    ))
    # a sequential compute chain that keeps the ready queue non-empty
    # for many waves (one stage per wave)
    prev = None
    for i in range(8):
        st = pipe.add(Stage(
            f"chain{i}",
            lambda ctx, i=i: (_time.sleep(0.1), order.append(f"chain{i}"))[1],
        ))
        if prev is not None:
            prev >> st
        prev = st
    sensor >> pipe.stages["sensor_done"]
    results = pipe.run(spark=None)
    assert results["sensor"].state == "success"
    # the sensor's downstream completed BEFORE the chain drained: the
    # wave-loop re-spawn let the fired trigger resume mid-chain
    assert "sensor_done" in order
    assert order.index("sensor_done") < order.index("chain7"), order


def test_isolated_stage_blocks_nested_jvm_xcom_allows_rows(spark):
    """r11 review pass 3: JVM handles nested in container XComs (the
    repo's own packed-SQ8 stage returns a (codes_df, quantizer_df)
    tuple) must hit the barrier too, while collect()ed Row lists —
    pure-Python pyspark values — pass through fork-safe."""
    from artemia_airflow_spark.pipeline import Stage

    pipe = Pipeline("iso-nested")
    pipe.add(Stage("pair", lambda ctx: (ctx.spark.range(2), {"df": ctx.spark.range(1)})))
    pipe.add(Stage("rows", lambda ctx: ctx.spark.range(3).collect()))
    pipe.add(Stage(
        "bad", lambda ctx: ctx.xcom_pull("pair")[0].count(),
        execution_timeout_s=10.0, isolate=True, trigger_rule="all_done",
    ))
    pipe.add(Stage(
        "ok", lambda ctx: sum(r.id for r in ctx.xcom_pull("rows")),
        execution_timeout_s=10.0, isolate=True, trigger_rule="all_done",
    ))
    pipe.stages["pair"] >> pipe.stages["bad"]
    pipe.stages["rows"] >> pipe.stages["ok"]
    results = pipe.run(spark=spark, raise_on_failure=False)
    assert results["ok"].state == "success"
    assert results["ok"].value == 3
    assert results["bad"].state == "failed"
    assert "JVM-backed XCom" in str(results["bad"].error)
    # feature probes on a barrier take their fallback, never crash
    from artemia_airflow_spark.pipeline import _IsolationBarrier

    b = _IsolationBarrier("t", "DataFrame")
    assert not hasattr(b, "value")
    assert getattr(b, "value", "fallback") == "fallback"


def test_isolation_barrier_edges_pickle_sets_subclasses():
    """r11 review pass 4 pins: barriers survive pickle/deepcopy (the
    __getstate__ probe on an unset-slots instance must not recurse);
    handles hiding in sets, dict keys, and tuple-subclass containers
    are caught; clean subclass containers pass through intact."""
    import copy
    import pickle
    from collections import namedtuple

    from artemia_airflow_spark.pipeline import (
        _IsolationBarrier,
        _contains_jvm,
        _is_jvm_backed,
        _sanitize_for_fork,
    )

    b = _IsolationBarrier("t", "DataFrame")
    b2 = pickle.loads(pickle.dumps(b))
    assert isinstance(b2, _IsolationBarrier)
    assert isinstance(copy.deepcopy(b), _IsolationBarrier)
    assert not hasattr(b2, "value")
    with pytest.raises(AttributeError, match="JVM-backed XCom"):
        b2.count

    class FakeDF:
        __module__ = "pyspark.sql.dataframe"

    fdf = FakeDF()
    assert _is_jvm_backed(fdf)
    assert _contains_jvm({fdf}) and _contains_jvm({fdf: 1})
    assert all(
        isinstance(x, _IsolationBarrier)
        for x in _sanitize_for_fork({fdf}, "t")
    )
    assert all(
        isinstance(k, _IsolationBarrier)
        for k in _sanitize_for_fork({fdf: 2}, "t")
    )
    NT = namedtuple("NT", "a b")
    assert isinstance(_sanitize_for_fork(NT(1, fdf), "t"), _IsolationBarrier)
    assert _sanitize_for_fork(NT(1, 2), "t") == NT(1, 2)

    class Sibling:
        __module__ = "pyspark_utils.helpers"

    assert not _is_jvm_backed(Sibling())


def test_isolation_walker_deep_mapping_and_bare_py4j_edges():
    """r11 review pass 5 pins: bare top-level py4j types are detected;
    handles nested past the rebuild depth or inside non-dict Mappings
    (UserDict, MappingProxyType) are wholesale barrier-replaced, never
    passed through live; non-dataclass doubles lacking
    trigger_event/params no longer crash the isolate path."""
    from collections import UserDict
    from types import MappingProxyType

    from artemia_airflow_spark.pipeline import (
        Pipeline,
        Stage,
        _IsolationBarrier,
        _contains_jvm,
        _is_jvm_backed,
        _sanitize_for_fork,
    )

    class FakeDF:
        __module__ = "pyspark.sql.dataframe"

    class BareP4J:
        __module__ = "py4j"

    fdf = FakeDF()
    assert _is_jvm_backed(BareP4J())
    deep = fdf
    for _ in range(11):
        deep = [deep]
    assert _contains_jvm(deep)

    def leaks_handle(v):
        if isinstance(v, FakeDF):
            return True
        if isinstance(v, list):
            return any(leaks_handle(x) for x in v)
        return False

    assert not leaks_handle(_sanitize_for_fork(deep, "t"))
    for wrapped in (UserDict({"k": fdf}), MappingProxyType({"k": fdf})):
        assert _contains_jvm(wrapped)
        assert isinstance(_sanitize_for_fork(wrapped, "t"),
                          _IsolationBarrier)

    # pre-A14-shaped context double (no trigger_event attribute) still
    # runs an isolated stage via the fallback path
    class OldCtx:
        spark = None
        results: dict = {}
        params: dict = {}

        def xcom_pull(self, t):
            return self.results[t]

    pipe = Pipeline("iso-double")
    st = Stage("s", lambda ctx: 7, execution_timeout_s=10.0, isolate=True)
    pipe.add(st)
    assert pipe._call_isolated(st, OldCtx()) == 7
