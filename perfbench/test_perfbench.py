"""Unit tests of the benchmark's own code: the event-log parser on a
canned Spark 4.1 snippet, and BENCHMARK.json against the metrics the
traced run emits.

Run with ``python -m pytest perfbench/test_perfbench.py``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import layers  # noqa: E402


def _acc(name, value):
    return {"ID": hash(name) % 1000, "Name": name, "Value": value,
            "Internal": name.startswith("internal."), "Count Failed Values": True}


def _stage(sid, tasks, accs):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                           "Number of Tasks": tasks, "Accumulables": accs}}


def _job(jid, stage_ids, group, submit_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": submit_ms, "Stage IDs": stage_ids,
            "Properties": props}


SNIPPET = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job(0, [0], "span-1", 1_000),
    _stage(0, 4, [_acc("internal.metrics.executorRunTime", 1500),
                  _acc("internal.metrics.executorCpuTime", 2_000_000_000),
                  _acc("internal.metrics.jvmGCTime", 30),
                  _acc("internal.metrics.shuffle.write.bytesWritten", 700),
                  _acc("number of output rows", "10")]),
    _job(1, [1, 2], "span-1", 2_000),
    _stage(1, 2, [_acc("internal.metrics.shuffle.read.localBytesRead", 500),
                  _acc("internal.metrics.shuffle.read.remoteBytesRead", 200),
                  _acc("internal.metrics.memoryBytesSpilled", 64),
                  _acc("internal.metrics.diskBytesSpilled", 32)]),
    _stage(2, 3, [_acc("time to start Python workers", "1200"),
                  _acc("time to run Python workers", "4500")]),
    # job 2 lists stage 2 again (a reused shuffle stage) and runs stage 3
    _job(2, [2, 3], None, 3_000),
    _stage(3, 1, [_acc("internal.metrics.executorRunTime", 100)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3_500},
]


def test_parse_and_attribute():
    log = eventlog.parse_lines(json.dumps(e) for e in SNIPPET)
    assert {j: log.jobs[j].group for j in log.jobs} == {
        0: "span-1", 1: "span-1", 2: None}
    grouped = log.totals([0, 1])
    assert grouped["jobs"] == 2
    assert grouped["stages"] == 3
    assert grouped["tasks"] == 9
    assert grouped["executor_run_s"] == 1.5
    assert grouped["executor_cpu_s"] == 2.0
    assert grouped["jvm_gc_s"] == 0.03
    assert grouped["shuffle_write_bytes"] == 700
    assert grouped["shuffle_read_bytes"] == 700
    assert grouped["spill_bytes"] == 96
    assert grouped["python_worker_boot_s"] == 1.2
    assert grouped["python_worker_s"] == 4.5
    # the reused stage 2 stays charged to job 1
    rest = log.totals([2])
    assert (rest["jobs"], rest["stages"], rest["tasks"]) == (1, 1, 1)
    assert rest["executor_run_s"] == 0.1


def test_jobs_between_uses_submission_time():
    log = eventlog.parse_lines(json.dumps(e) for e in SNIPPET)
    assert sorted(log.jobs_between(1_500, 3_000)) == [1, 2]
    assert log.totals([])["jobs"] == 0


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == layers.per_layer_units()
