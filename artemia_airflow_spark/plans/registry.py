"""Declared-query registry — the normative map the driver consumes.

Every implemented operator registers a ``(spark, sf_dir) -> DataFrame``
builder under a stable key; oracle-checkable ones also register the
equivalent DuckDB SQL (FIXTURES.md §3).  ``__spark_entry__.queries`` /
``oracle_sql`` simply re-export these dicts.

Determinism contract applied to every registered query (SURVEY.md §7):
money/quantity sums via DECIMAL(18,2) then DOUBLE; counts are BIGINT in
both engines; every top-k/rank order ends in a unique-key tiebreak;
``events.ts`` is second-truncated or exported as epoch BIGINT; every
computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Driver-check ordering: the per-round CORRECTNESS gate walks ``queries()``
# in insertion order and caps at ~50 entries per round (observed: 50 in
# r07/r10/r16, 48 in r08, 45 in r09 — treat 50 as a hard cap).
#
# ROTATION IS DERIVED, NOT HAND-ROLLED (VERDICT r16 item 4: the
# hand-maintained window twice let its tail roll over, aging 7 rows to
# a 6-round attestation gap).  ``derive_priority()`` reads the
# CORRECTNESS_r*.json history the driver leaves at the repo root and
# orders the window: NEW_FACES first (faces that have never had a
# driver row), then every declared query oldest-attested-first.  With
# T declared queries and a 50-row window, oldest-first rotation
# guarantees every row is re-attested at worst every ceil(T/50)
# rounds; scripts/dryrun.py asserts that bound holds.  The per-round
# local dry run runs ALL declared queries against their oracles
# (window at three SFs, the rest at sf0.01) as compensating evidence
# between driver visits.
DRIVER_WINDOW = 50

# Faces with no driver CORRECTNESS row yet (new this round) — they
# lead the derived window.  Names not yet registered are skipped
# (forward-safe), and entries SELF-RETIRE into the normal rotation as
# soon as a green driver row exists; delete them here on the next
# registry edit purely for tidiness.
NEW_FACES: list[str] = []

_CORRECTNESS_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def _history_dir() -> Path:
    """Where the driver writes CORRECTNESS_r{N}.json: the repo root
    (two levels above this package), overridable for tests via
    SPARK_GRAFT_HISTORY_DIR."""
    env = os.environ.get("SPARK_GRAFT_HISTORY_DIR")
    if env:
        return Path(env)
    return Path(__file__).resolve().parents[2]


# (files-signature) -> parsed result: E.queries() is called by every
# driver/dryrun/test/bench entry, and re-parsing a history that grows
# by one file per round forever is pure waste; the signature (name,
# mtime, size) invalidates on any new or rewritten file
_HISTORY_CACHE: dict = {}


def latest_attested_rounds(history_dir: Path | None = None) -> dict[str, int]:
    """Per-query round of the most recent GREEN driver row.

    Green = ``hash_match is True`` (full oracle match) or the declared
    rows-only shape (``err == 'no_oracle'`` with a recorded row count).
    Red rows (real errors, hash mismatches) do NOT attest — a query
    that last FAILED sorts as stale and stays in the window.
    Returns {} when no history is readable.
    """
    root = history_dir or _history_dir()
    try:
        files = sorted(root.glob("CORRECTNESS_r*.json"))
        sig = (str(root),) + tuple(
            (f.name, f.stat().st_mtime_ns, f.stat().st_size) for f in files
        )
    except OSError:
        return {}
    cached = _HISTORY_CACHE.get(str(root))
    if cached and cached[0] == sig:
        return dict(cached[1])
    latest: dict[str, int] = {}
    for f in files:
        m = _CORRECTNESS_RE.search(f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            # a stray non-object JSON at the repo root must degrade
            # like any other unreadable history file, not crash the
            # whole registry (r17 review)
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green and rnd >= latest.get(name, -1):
                latest[name] = rnd
    _HISTORY_CACHE[str(root)] = (sig, latest)
    return dict(latest)


def derive_priority(
    window: int = DRIVER_WINDOW, history_dir: Path | None = None
) -> list[str]:
    """The driver-check window, derived from attestation history:
    NEW_FACES that are still unattested first (an attested new face
    self-retires into the normal rotation), then every registered
    query oldest-attested-first (never-attested sorts oldest;
    registration order breaks ties), capped at ``window``.  With no
    CORRECTNESS history every query is unattested, so the window is
    NEW_FACES, then registration order."""
    attested = latest_attested_rounds(history_dir)
    front = [
        n for n in NEW_FACES if n in QUERIES and n not in attested
    ]
    seen = set(front)
    reg_idx = {n: i for i, n in enumerate(QUERIES)}
    rest = sorted(
        (n for n in QUERIES if n not in seen),
        key=lambda n: (attested.get(n, -1), reg_idx[n]),
    )
    out = front + rest
    return out[: max(window, len(front))]


def ordered_queries() -> dict[str, QueryFn]:
    """Registry in driver-check order: the derived rotation window
    first (stalest attestations lead), then the rest in registration
    order."""
    front = {n: QUERIES[n] for n in derive_priority()}
    rest = {n: f for n, f in QUERIES.items() if n not in front}
    return {**front, **rest}


def declared(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query; ``oracle=None`` marks the weaker
    rows-only check (non-SQL-expressible / nondeterministic ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate declared query {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all_query_modules() -> None:
    """Import every module that declares queries (idempotent)."""
    import artemia_airflow_spark.ledger  # noqa: F401
    import artemia_airflow_spark.operators.analytics  # noqa: F401
    import artemia_airflow_spark.operators.behavior  # noqa: F401
    import artemia_airflow_spark.operators.cdc  # noqa: F401
    import artemia_airflow_spark.operators.curation  # noqa: F401
    import artemia_airflow_spark.operators.dedup  # noqa: F401
    import artemia_airflow_spark.operators.joins  # noqa: F401
    import artemia_airflow_spark.operators.multimodal  # noqa: F401
    import artemia_airflow_spark.operators.relational  # noqa: F401
    import artemia_airflow_spark.operators.relational2  # noqa: F401
    import artemia_airflow_spark.operators.retrieval  # noqa: F401
    import artemia_airflow_spark.operators.selection  # noqa: F401
    import artemia_airflow_spark.operators.similarity  # noqa: F401
    import artemia_airflow_spark.operators.sketches  # noqa: F401
    import artemia_airflow_spark.operators.sqltext  # noqa: F401
    import artemia_airflow_spark.operators.text  # noqa: F401
    import artemia_airflow_spark.pipelines.analytics_demo  # noqa: F401
    import artemia_airflow_spark.sources.files  # noqa: F401
    import artemia_airflow_spark.sources.http  # noqa: F401
    import artemia_airflow_spark.sources.txtable  # noqa: F401
    import artemia_airflow_spark.streaming.stateful  # noqa: F401
    import artemia_airflow_spark.streaming.windows  # noqa: F401
