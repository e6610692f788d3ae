"""Spark event-log parser: per-job and per-job-group Spark counters.

Reads an uncompressed, non-rolling event log (``spark.eventLog.enabled``
with ``compress=false`` and ``rolling.enabled=false``).  Each
``SparkListenerJobStart`` carries the submitting thread's
``spark.jobGroup.id`` and the ids of the stages the job may run; each
``SparkListenerStageCompleted`` carries the stage's accumulables: the
internal task metrics and the SQL metrics, including the Python-worker
timings.  A stage is charged to the first job that lists it, so a
shuffle stage reused by later jobs is counted once.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# accumulable name -> (counter, scale to the counter's unit)
_STAGE_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("jvm_gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    # Python SQL metrics (PythonSQLMetrics), millisecond timings
    "time to start Python workers": ("python_worker_boot_s", 1e-3),
    "time to run Python workers": ("python_worker_s", 1e-3),
}

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_worker_boot_s", "python_worker_s",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class StageRun:
    stage_id: int
    tasks: int
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: list[StageRun] = field(default_factory=list)

    def stage_owner(self) -> dict[int, int]:
        """stage id -> the first job that lists it."""
        owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid].stage_ids:
                owner.setdefault(sid, jid)
        return owner

    def totals(self, job_ids) -> dict[str, float]:
        """Summed counters of the given jobs and the stages they ran."""
        job_ids = set(job_ids)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(job_ids & set(self.jobs)))
        owner = self.stage_owner()
        for st in self.stages:
            if owner.get(st.stage_id) not in job_ids:
                continue
            out["stages"] += 1
            out["tasks"] += st.tasks
            for k, v in st.metrics.items():
                out[k] += v
        return out

    def jobs_between(self, start_ms: float, end_ms: float) -> list[int]:
        return [j.job_id for j in self.jobs.values()
                if start_ms <= j.submit_ms <= end_ms]


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                ev.get("Submission Time", 0), list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = StageRun(info["Stage ID"], info.get("Number of Tasks", 0))
            for acc in info.get("Accumulables", []):
                spec = _STAGE_ACCUMULABLES.get(acc.get("Name"))
                if spec is not None:
                    name, scale = spec
                    st.metrics[name] = (st.metrics.get(name, 0.0)
                                        + _number(acc.get("Value")) * scale)
            log.stages.append(st)
    return log


def parse_file(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)
