"""Cron scheduling for pipelines (A10).

The reference schedules DAGs with cron strings / aliases and
``catchup=False`` (dags/update_tr_from_ex_dag.py:82-84,
dags/hello_function_dag.py:16-18); Airflow's scheduler service
evaluates them.  Here a dependency-free 5-field cron evaluator plus a
driver-side ticker loop replace that service — Spark executes the work,
so the "scheduler" is just next-fire computation + a loop.

Supported field syntax: ``*``, ``N``, ``N-M``, ``*/S``, ``N-M/S``,
comma lists; aliases ``@daily``/``@hourly``/``@weekly``/``@midnight``.
Day-of-week: 0=Sunday (cron convention).  catchup=False semantics: the
ticker always schedules from *now*, never backfills missed windows.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from datetime import datetime, timedelta

ALIASES = {
    "@daily": "0 0 * * *",
    "@midnight": "0 0 * * *",
    "@hourly": "0 * * * *",
    "@weekly": "0 0 * * 0",
    "@monthly": "0 0 1 * *",
    "@yearly": "0 0 1 1 *",
    "@annually": "0 0 1 1 *",
}

_FIELD_RANGES = ((0, 59), (0, 23), (1, 31), (1, 12), (0, 6))


def _parse_field(spec: str, lo: int, hi: int) -> set[int]:
    out: set[int] = set()
    for part in spec.split(","):
        step, had_step = 1, False
        if "/" in part:
            part, step_s = part.split("/", 1)
            step, had_step = int(step_s), True
            if step <= 0:
                raise ValueError(f"cron step must be positive: {spec!r}")
        if part == "*" or part == "":
            start, end = lo, hi
        elif "-" in part:
            a, b = part.split("-", 1)
            start, end = int(a), int(b)
        else:
            start = end = int(part)
            if had_step:
                end = hi  # "N/S" means start at N, every S
        if not (lo <= start <= hi and lo <= end <= hi):
            raise ValueError(f"cron field value out of range [{lo},{hi}]: {spec!r}")
        out.update(range(start, end + 1, step))
    return out


class Cron:
    """Parsed 5-field cron expression with next-fire computation."""

    def __init__(self, expr: str) -> None:
        self.expr = expr
        expr = ALIASES.get(expr.strip(), expr).strip()
        fields = expr.split()
        if len(fields) != 5:
            raise ValueError(f"cron needs 5 fields (or a known @alias): {self.expr!r}")
        self.minute, self.hour, self.dom, self.month, self.dow = (
            _parse_field(f, lo, hi) for f, (lo, hi) in zip(fields, _FIELD_RANGES)
        )
        self._dom_restricted = fields[2] != "*"
        self._dow_restricted = fields[4] != "*"

    def _day_matches(self, dt: datetime) -> bool:
        dom_ok = dt.day in self.dom
        dow_ok = (dt.weekday() + 1) % 7 in self.dow  # python Mon=0 -> cron Sun=0
        if self._dom_restricted and self._dow_restricted:
            return dom_ok or dow_ok  # standard cron OR rule
        return dom_ok and dow_ok

    def matches(self, dt: datetime) -> bool:
        return (
            dt.minute in self.minute
            and dt.hour in self.hour
            and dt.month in self.month
            and self._day_matches(dt)
        )

    def next_fire(self, after: datetime) -> datetime:
        """Smallest minute-aligned time strictly after ``after`` that
        matches.  Minute-stepped scan bounded to 4 years (cron always
        fires within that on a valid spec)."""
        dt = after.replace(second=0, microsecond=0) + timedelta(minutes=1)
        limit = after + timedelta(days=4 * 366)
        while dt <= limit:
            if dt.month not in self.month:
                # jump to the 1st of the next month (fast-forward)
                dt = (dt.replace(day=1, hour=0, minute=0) + timedelta(days=32)).replace(day=1)
                continue
            if not self._day_matches(dt):
                dt = dt.replace(hour=0, minute=0) + timedelta(days=1)
                continue
            if dt.hour not in self.hour:
                dt = dt.replace(minute=0) + timedelta(hours=1)
                continue
            if dt.minute not in self.minute:
                dt += timedelta(minutes=1)
                continue
            return dt
        raise ValueError(f"cron {self.expr!r} never fires")


class SchedulerControl:
    """Operator pause/unpause surface for :func:`run_scheduler` (r10,
    VERDICT r9 missing #2 — the `airflow dags pause` analogue).

    Thread-safe by construction (set mutation under a lock), so an
    operator thread can pause a pipeline while the ticker sleeps
    toward its next fire; the decision is read AT FIRE TIME, so a
    pause taken mid-sleep suppresses the very next fire.  A paused
    pipeline's fires are SKIPPED, not deferred: unpausing resumes at
    the next cron match (catchup=False, like Airflow with catchup
    disabled), and nothing is recorded for skipped fires."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self._paused: set[str] = set()

    def pause(self, name: str) -> None:
        with self._lock:
            self._paused.add(name)

    def unpause(self, name: str) -> None:
        with self._lock:
            self._paused.discard(name)

    def is_paused(self, name: str) -> bool:
        with self._lock:
            return name in self._paused


def trigger_now(pipe, spark, *, conf: dict | None = None, **run_kwargs):
    """Manual trigger with conf — the `airflow dags trigger --conf`
    analogue (r10): runs ``pipe`` immediately, outside any schedule,
    with ``conf`` as the run params (stages read ``ctx.params``), and
    ledger-records the run with ``source="manual"`` so audits can tell
    operator triggers from cron fires.  Extra ``run_kwargs`` pass
    through to :meth:`Pipeline.run` (e.g. raise_on_failure)."""
    return pipe.run(spark, dict(conf or {}), source="manual", **run_kwargs)


def run_scheduler(
    pipelines: list,
    spark,
    *,
    now: Callable[[], datetime] = datetime.now,
    sleep: Callable[[float], None] = time.sleep,
    max_runs: int | None = None,
    on_run=None,
    control: SchedulerControl | None = None,
    on_skip=None,
    max_ticks: int | None = None,
) -> int:
    """Driver-side ticker (replaces the Airflow scheduler service).

    Runs each pipeline at its cron next-fire, always computed from the
    current time — catchup=False semantics, matching the reference.
    ``max_runs`` bounds total executions (tests / bounded batch use);
    None runs forever.  Returns the number of runs executed.

    ``control``: a :class:`SchedulerControl`; a pipeline paused at its
    fire time is skipped — no run, no ledger record, no ``on_run`` —
    and its next fire is computed as usual (``on_skip(name, when)``
    observes skips; skipped fires do NOT count toward ``max_runs``,
    which bounds executions).  Because skips don't count, ``max_runs``
    alone cannot terminate a scheduler whose every pipeline stays
    paused (r10 review) — bounded-batch callers that pause should also
    pass ``max_ticks``, which bounds loop iterations (fires + skips).
    """
    crons = {p.name: Cron(p.schedule) for p in pipelines if p.schedule}
    nxt = {name: crons[name].next_fire(now()) for name in crons}
    executed = 0
    ticks = 0
    while nxt and (max_runs is None or executed < max_runs):
        if max_ticks is not None:
            if ticks >= max_ticks:
                break
            ticks += 1
        name, when = min(nxt.items(), key=lambda kv: (kv[1], kv[0]))  # name tiebreak: deterministic
        delay = (when - now()).total_seconds()
        if delay > 0:
            sleep(delay)
        if control is not None and control.is_paused(name):
            if on_skip is not None:
                on_skip(name, when)
            nxt[name] = crons[name].next_fire(max(when, now()))
            continue
        pipe = next(p for p in pipelines if p.name == name)
        result = pipe.run(spark)
        executed += 1
        if on_run is not None:
            on_run(name, when, result)
        nxt[name] = crons[name].next_fire(max(when, now()))
    return executed


def schedule_windows(
    expr: str, start: datetime, end: datetime
) -> list[tuple[datetime, datetime]]:
    """All logical data intervals of cron ``expr`` whose START falls in
    ``[start, end)`` — Airflow's data-interval convention: a run with
    logical date L covers [L, next_fire(L)) and executes after that
    interval closes."""
    cron = Cron(expr)  # Cron resolves ALIASES itself
    out: list[tuple[datetime, datetime]] = []
    t0 = start.replace(second=0, microsecond=0)
    # start inclusive ONLY when the aligned minute is not before the
    # requested start (truncation must never emit a window that begins
    # before `start` — r6 review finding)
    cur = t0 if (cron.matches(t0) and t0 >= start) else cron.next_fire(t0)
    while cur < end:
        nxt = cron.next_fire(cur)
        out.append((cur, nxt))
        cur = nxt
    return out


def backfill(
    pipe,
    spark,
    start: datetime,
    end: datetime,
    *,
    params: dict | None = None,
    raise_on_failure: bool = True,
    on_run=None,
    parallelism: int = 1,
) -> dict[datetime, dict]:
    """Airflow-parity BACKFILL: execute ``pipe`` once per scheduled
    logical date in ``[start, end)``, oldest first, with the logical
    date and data interval injected into ``params`` (stages read them
    as ``ctx.params['logical_date'] / 'data_interval_start' /
    'data_interval_end']`` — the engine's analogue of Airflow's
    template context).  The live scheduler stays catchup=False like the
    reference (run_scheduler's contract); backfill is the explicit,
    bounded historical re-run — `airflow dags backfill` parity.

    Each run records in the pipeline's ledger like any other run (the
    logical date rides params; stage results are per-run), so a
    backfill is resumable per-date and auditable in `runs()`.  Returns
    {logical_date: per-stage results}.

    ``parallelism=1`` (default) executes dates SEQUENTIALLY oldest
    first (deterministic, bounded load).  ``parallelism=N`` submits up
    to N dates at once on driver threads — the `airflow dags backfill
    --max-active-runs`-style fan-out — and the pipeline's OWN
    ``max_active_runs`` semaphore still caps what actually executes
    (Pipeline.run blocks past the cap), so the effective concurrency
    is min(parallelism, max_active_runs).  Dates are SUBMITTED oldest
    first, but overlapping runs commit in completion order; a
    ``depends_on_past`` stage gates on the most recent COMMITTED run,
    so strict per-date chaining needs parallelism=1 (which Airflow
    likewise forces by serializing such tasks)."""
    if pipe.schedule is None:
        raise ValueError(f"pipeline {pipe.name!r} has no schedule to backfill")
    if parallelism < 1:
        raise ValueError("parallelism must be >= 1")
    windows = schedule_windows(pipe.schedule, start, end)

    def one(ds: datetime, de: datetime) -> dict:
        p = dict(params or {})
        p.update(
            {
                "logical_date": ds,
                "data_interval_start": ds,
                "data_interval_end": de,
            }
        )
        results = pipe.run(
            spark, p, raise_on_failure=raise_on_failure, source="backfill"
        )
        if on_run is not None:
            on_run(ds, results)
        return results

    if parallelism == 1:
        return {ds: one(ds, de) for ds, de in windows}
    from artemia_airflow_spark.functions.core import overlap

    results = overlap(
        *(lambda ds=ds, de=de: one(ds, de) for ds, de in windows),
        workers=parallelism,
    )
    return {ds: r for (ds, _), r in zip(windows, results)}
