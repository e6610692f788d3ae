"""Per-layer metrics of a traced run.

``install`` wraps the layers' public functions in spans; ``report``
joins the spans with the Spark event log and reduces every metric to
the median over the passes after the first (the first pass alone when
there is no other).  Span metrics are ``<span>.s`` (summed wall time of
the calls in a pass) and ``<span>.jobs`` (Spark jobs whose job group is
the span or one nested in it).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import eventlog
from spans import Tracer

SPANS = (
    "catalog.scan",
    "curation.scrub_web_noise",
    "text.language_id",
    "selection.classifier_scores",
    "dedup.exact_dedup",
    "dedup.minhash_portable_duplicates",
    "curation.decontaminate",
    "curation.apply_temperature",
    "selection.hash_split",
    "stage.scrub_langid",
    "stage.exact_dedup",
    "stage.near_dedup",
    "stage.decontaminate",
    "stage.mix_split_pack",
    "pipeline.run",
    "ledger.record",
    "schedule.backfill",
)
# event-log counter -> (metric, unit), summed over the jobs of a pass
PASS_COUNTERS = {
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "tasks": ("spark.tasks", "count"),
    "executor_run_s": ("spark.executor_run_s", "s"),
    "executor_cpu_s": ("spark.executor_cpu_s", "s"),
    "jvm_gc_s": ("spark.jvm_gc_s", "s"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", "bytes"),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", "bytes"),
    "spill_bytes": ("spark.spill_bytes", "bytes"),
    "python_worker_boot_s": ("python.worker_boot_s", "s"),
    "python_worker_s": ("python.worker_s", "s"),
}
# recorded by the workload after each pass (0 where it has none)
EXTRAS = {
    "spark.storage_mem_bytes": "bytes",
    "pipeline.waves": "count",
    "pipeline.overhead_s": "s",
    "ledger.bytes_written": "bytes",
    "schedule.windows": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {"session.start_s": "s", "session.registry_load_s": "s",
             "jvm.peak_rss_mb": "MB", "trace.first_pass_s": "s",
             "trace.pass_s": "s", "spark.unattributed_jobs": "count",
             "catalog.scan.calls": "count"}
    units.update(dict(PASS_COUNTERS.values()))
    units.update(EXTRAS)
    for name in SPANS:
        units[f"{name}.s"] = "s"
        units[f"{name}.jobs"] = "count"
    return units


def install(spark, wl) -> Tracer:
    """Trace catalog.scan wherever an engine module imported it, then
    the workload's own layers."""
    from artemia_airflow_spark import catalog

    tracer = Tracer(spark.sparkContext)
    scan = catalog.scan
    for name, mod in list(sys.modules.items()):
        if name.startswith("artemia_airflow_spark") and getattr(mod, "scan", None) is scan:
            tracer.wrap(mod, "scan", "catalog.scan")
    wl.instrument(tracer)
    return tracer


def _event_log(events_dir: str) -> eventlog.EventLog:
    (name,) = os.listdir(events_dir)
    return eventlog.parse_file(os.path.join(events_dir, name))


def report(tracer: Tracer, passes, events_dir: str, *, session: dict,
           jvm_peak_rss_mb: float, dump: str) -> dict:
    log = _event_log(events_dir)
    span_jobs: dict[int, set[int]] = {}
    unattributed = set()
    for job in log.jobs.values():
        sid = tracer.span_of_group(job.group)
        if sid is None:
            unattributed.add(job.job_id)
            continue
        for a in tracer.ancestors(sid):
            span_jobs.setdefault(a, set()).add(job.job_id)

    per_pass = []
    for k, start, end, ok, extras in passes:
        jobs = log.jobs_between(start * 1000.0, end * 1000.0)
        totals = log.totals(jobs)
        row = {m: totals[c] for c, (m, _) in PASS_COUNTERS.items()}
        row["spark.unattributed_jobs"] = len(unattributed.intersection(jobs))
        row["trace.pass_s"] = end - start
        spans = [s for s in tracer.spans if s["pass"] == k and s["end"] is not None]
        for name in SPANS:
            mine = [s for s in spans if s["name"] == name]
            row[f"{name}.s"] = sum(s["end"] - s["start"] for s in mine)
            row[f"{name}.jobs"] = len(set().union(
                *(span_jobs.get(s["id"], set()) for s in mine)))
            if name == "catalog.scan":
                row["catalog.scan.calls"] = len(mine)
        for name in EXTRAS:
            row[name] = extras.get(name, 0)
        per_pass.append(row)

    later = per_pass[1:] or per_pass
    units = per_layer_units()
    values = {name: statistics.median(r[name] for r in later)
              for name in per_pass[0]}
    values.update(session)
    values["jvm.peak_rss_mb"] = jvm_peak_rss_mb
    values["trace.first_pass_s"] = per_pass[0]["trace.pass_s"]
    assert set(values) == set(units), set(values) ^ set(units)

    with open(dump, "w") as f:
        json.dump({
            "spans": [dict(s, self_s=tracer.self_time(s["id"]))
                      for s in tracer.spans if s["end"] is not None],
            "passes": per_pass,
            "unattributed_jobs": sorted(unattributed),
        }, f, indent=1)
    print(f"spans written to {dump}", file=sys.stderr)
    return {name: {"value": float(values[name]), "unit": units[name]}
            for name in sorted(units)}
