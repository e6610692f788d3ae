"""The benchmark's workloads.

A workload builds its inputs from the seed, computes the DuckDB oracle
once, then runs one pass at a time; ``check`` compares a pass's result
with the oracle outside the timed region.  ``instrument`` installs the
spans of a traced run and ``pass_extras`` records the counters that
only the workload can read.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from contextlib import nullcontext
from datetime import datetime, timedelta

import numpy as np

import inputs

CURATION_OPERATORS = (
    # (module, function) pairs the capstone calls; corpus_survivors and
    # corpus_pipeline import them at call time or read them as module
    # globals, so replacing the module attribute reaches the call
    ("curation", "scrub_web_noise"),
    ("text", "language_id"),
    ("selection", "classifier_scores"),
    ("dedup", "exact_dedup"),
    ("dedup", "minhash_portable_duplicates"),
    ("curation", "decontaminate"),
    ("curation", "apply_temperature"),
    ("selection", "hash_split"),
)
# the corpus_pipeline materialization cuts, by their stage_fn name
CURATION_STAGES = {
    "scrub+langid": "scrub_langid",
    "exact-dedup": "exact_dedup",
    "near-dedup": "near_dedup",
    "decontaminate": "decontaminate",
    "mix+split+pack": "mix_split_pack",
}
TPCH_FACES = ("q_tpch_q3", "q_tpch_q5", "q_tpch_q10", "q_tpch_q18")


def canon(rows, names) -> tuple:
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted, doubles by exact repr, dates by ISO text."""
    def value(v):
        if isinstance(v, float):
            return ("f", "nan" if math.isnan(v) else repr(v))
        if hasattr(v, "isoformat"):
            return ("t", v.isoformat())
        return (type(v).__name__, v)

    idx = sorted(range(len(names)), key=lambda i: names[i])
    return (tuple(names[i] for i in idx),
            sorted(tuple(value(r[i]) for i in idx) for r in rows))


ORACLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracles")


def duck_oracle(data_dir: str, tables, sql: str) -> tuple:
    """The canonical DuckDB result of an oracle query over the inputs."""
    import duckdb

    with duckdb.connect() as con:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return canon(cur.fetchall(), [d[0] for d in cur.description])


def cached_oracle(cache_dir: str, data_dir: str, tables, sql: str) -> tuple:
    """duck_oracle, looked up by query text and input bytes in
    perfbench/oracles, then in ``cache_dir`` where a miss is stored.
    The curation oracle takes minutes in DuckDB; its result for the
    fixed curation input is committed, and any change to the query or
    the input bytes changes the key, so it is recomputed."""
    key = hashlib.sha256(sql.encode())
    for t in tables:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            key.update(f.read())
    name = f"oracle-{key.hexdigest()[:32]}.json"
    for d in (ORACLE_DIR, cache_dir):
        if os.path.exists(os.path.join(d, name)):
            with open(os.path.join(d, name)) as f:
                got = json.load(f)
            return (tuple(got["names"]),
                    [tuple(tuple(v) for v in row) for row in got["rows"]])
    names, rows = duck_oracle(data_dir, tables, sql)
    path = os.path.join(cache_dir, name)
    with open(path + ".tmp", "w") as f:
        json.dump({"names": names, "rows": rows}, f)
    os.replace(path + ".tmp", path)
    return names, rows


def matches(rows, expected: tuple) -> bool:
    if not rows:
        return not expected[1]
    return canon(rows, list(rows[0].__fields__)) == expected


class Curation:
    """One pass = curation.corpus_pipeline over 5,000 documents, the
    q_corpus_pipeline face (train is doc_id % 20 != 0, eval the rest).
    The documents do not depend on the seed, so the oracle is computed
    once per checkout."""

    DOCUMENTS_SEED = 0

    def __init__(self, spark, data_dir: str, seed: int, work: str,
                 cache_dir: str) -> None:
        from artemia_airflow_spark.plans.registry import ORACLE, QUERIES

        self.spark, self.data_dir = spark, data_dir
        inputs.write_documents(data_dir, self.DOCUMENTS_SEED)
        self.face = QUERIES["q_corpus_pipeline"]
        self.expected = cached_oracle(cache_dir, data_dir, ["documents"],
                                      ORACLE["q_corpus_pipeline"])

    def run_pass(self, k: int):
        return self.face(self.spark, self.data_dir).collect()

    def check(self, rows) -> bool:
        return matches(rows, self.expected)

    def instrument(self, tracer) -> None:
        import importlib

        for mod, fn in CURATION_OPERATORS:
            m = importlib.import_module(f"artemia_airflow_spark.operators.{mod}")
            tracer.wrap(m, fn, f"{mod}.{fn}")
        dedup = importlib.import_module("artemia_airflow_spark.operators.dedup")
        make_stage = dedup.stage_fn

        def stage_fn(audit):
            stage = make_stage(audit)

            def traced_stage(df, name):
                with tracer.span(f"stage.{CURATION_STAGES.get(name, name)}"):
                    return stage(df, name)

            return traced_stage

        dedup.stage_fn = stage_fn

    def pass_extras(self, k: int, result) -> dict:
        return {}


class CannedGitHub:
    """Offline transport for the GitHub API and the notify webhook: the
    dispatched run reports "in_progress" ``next(polls)`` times, then
    "completed/success"."""

    def __init__(self, polls) -> None:
        self.polls = polls
        self.left = 0

    def __call__(self, method, url, body, conn):
        if url.endswith("/dispatches"):
            self.left = next(self.polls)
            return {}
        if "/actions/runs/" in url:
            if self.left > 0:
                self.left -= 1
                return {"status": "in_progress", "conclusion": None}
            return {"status": "completed", "conclusion": "success"}
        return {"ok": True}


class DagBackfill:
    """One pass = one DAG run of the reference's daily shape through
    schedule.backfill: trigger a GitHub Action, wait for it, four
    parallel TPC-H stages at sf0.01, a gate, and success/failure
    notifications selected by trigger rules, recorded in a RunLedger."""

    def __init__(self, spark, data_dir: str, seed: int, work: str,
                 cache_dir: str) -> None:
        from artemia_airflow_spark.ledger import RunLedger
        from artemia_airflow_spark.plans.registry import ORACLE, QUERIES

        self.spark, self.data_dir = spark, data_dir
        rng = np.random.default_rng([seed, 3])
        inputs.write_tpch(data_dir, seed)
        tables = "customer orders lineitem supplier nation region".split()
        self.expected = {f: duck_oracle(data_dir, tables, ORACLE[f])
                         for f in TPCH_FACES}
        self.faces = {f: QUERIES[f] for f in TPCH_FACES}
        self.start = datetime(2024, 1, 1) + timedelta(days=int(rng.integers(0, 365)))
        self.transport = CannedGitHub(int(n) for n in rng.integers(1, 6, 10_000))
        self.ledger_root = os.path.join(work, "ledger")
        self.ledger = RunLedger(self.ledger_root)
        self.tracer = None
        self.pipe = self._build()

    def _spark_stage(self, face: str):
        def fn(ctx):
            # stages run on pipeline threads: the span gives their jobs a group
            span = (self.tracer.span(f"dag.{face}") if self.tracer is not None
                    else nullcontext())
            with span:
                return self.faces[face](ctx.spark, self.data_dir).collect()
        return fn

    def _build(self):
        from artemia_airflow_spark.pipeline import (
            Connection, Pipeline, Stage, http_stage, sensor_stage)
        from artemia_airflow_spark.pipelines.reference_dags import (
            check_github_action_run_status)

        gh = self.transport
        pipe = Pipeline("dag_backfill", schedule="@daily", ledger=self.ledger,
                        sleep=lambda s: None)
        pipe.connections.register(
            Connection("github_api_conn", base_url="https://api.github.com"))
        pipe.connections.register(
            Connection("powerautomate_webhook", base_url="https://webhook.example"))

        def poll(ctx):
            conn = ctx.connections.get("github_api_conn")
            return check_github_action_run_status(
                gh("GET", conn.base_url + "/repos/o/r/actions/runs/1", "", conn))

        trigger = pipe.add(http_stage(
            "trigger_github_action", conn_id="github_api_conn",
            endpoint="/repos/o/r/dispatches", transport=gh))
        wait = pipe.add(sensor_stage(
            "wait_for_github_action", predicate=poll, poke_interval_s=0.0,
            sleep=lambda s: None))
        queries = [pipe.add(Stage(f, self._spark_stage(f))) for f in TPCH_FACES]

        def gate_fn(ctx):
            counts = [len(ctx.xcom_pull(f)) for f in TPCH_FACES]
            if not all(counts):
                raise RuntimeError(f"empty stage result: {counts}")
            return sum(counts)

        gate = pipe.add(Stage("gate", gate_fn))
        ok = pipe.add(http_stage(
            "notify_success", conn_id="powerautomate_webhook",
            endpoint="/notify", transport=gh, trigger_rule="all_success"))
        failed = pipe.add(http_stage(
            "notify_failure", conn_id="powerautomate_webhook",
            endpoint="/notify", transport=gh, trigger_rule="one_failed"))
        trigger >> wait
        for q in queries:
            wait >> q
            q >> gate
        gate >> [ok, failed]
        return pipe

    def run_pass(self, k: int):
        from artemia_airflow_spark import schedule

        day = self.start + timedelta(days=k)
        return schedule.backfill(self.pipe, self.spark, day,
                                 day + timedelta(days=1), parallelism=1)

    def check(self, runs) -> bool:
        if len(runs) != 1:
            return False
        (results,) = runs.values()
        if results["notify_success"].state != "success":
            return False
        return all(matches(results[f].value, self.expected[f])
                   for f in TPCH_FACES)

    def instrument(self, tracer) -> None:
        from artemia_airflow_spark import schedule

        self.tracer = tracer
        tracer.wrap(schedule, "backfill", "schedule.backfill")
        tracer.wrap(self.pipe, "run", "pipeline.run")
        tracer.wrap(self.ledger, "record", "ledger.record")
        self._ledger_bytes = _tree_bytes(self.ledger_root)

    def pass_extras(self, k: int, runs) -> dict:
        (results,) = runs.values()
        run = [s for s in self.tracer.spans
               if s["name"] == "pipeline.run" and s["pass"] == k]
        wrote = _tree_bytes(self.ledger_root)
        extras = {
            "schedule.windows": len(runs),
            "pipeline.waves": self.pipe.last_run_waves,
            "pipeline.overhead_s": (run[-1]["end"] - run[-1]["start"]
                                    - _critical_path(self.pipe, results)),
            "ledger.bytes_written": wrote - self._ledger_bytes,
        }
        self._ledger_bytes = wrote
        return extras


def _critical_path(pipe, results) -> float:
    """Longest chain of StageResult.duration_s through the DAG."""
    longest: dict[str, float] = {}
    # stages were added upstream-first, so insertion order is topological
    for stage in pipe.stages.values():
        upstream = [u for u in pipe.stages.values() if stage in u.downstream]
        longest[stage.task_id] = results[stage.task_id].duration_s + max(
            (longest[u.task_id] for u in upstream), default=0.0)
    return max(longest.values(), default=0.0)


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


WORKLOADS = {"curation": Curation, "dag_backfill": DagBackfill}
