"""Determinism-hardened column helpers (SURVEY.md §7 hazards H1-H3).

Floating-point SUM is partition-order dependent on any distributed
engine; these helpers route money/quantity aggregation through
DECIMAL(18,2) (exact, order-independent, partial-aggregatable) and cast
the final value back to DOUBLE so the result is bit-stable across
Spark AND matches the DuckDB oracle computing the same way.
"""

from __future__ import annotations

import threading
import warnings
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def dec_sum(col: Column | str) -> Column:
    """Order-independent SUM of a money/quantity double.

    Exact decimal partial sums combine associatively, so map-side
    combine + final merge give identical results at any partitioning —
    this is what makes the value-hash stable at 32 or 32,000 partitions.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dec_avg(col: Column | str) -> Column:
    """Deterministic AVG: exact decimal sum divided by count, in double.

    One IEEE division on exact operands — identical in Spark and DuckDB
    (`CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)`).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1))


def check_violation_count(pred: str) -> Column:
    """CHECK-constraint violation counter for a SQL predicate string:
    counts rows where the predicate evaluates FALSE — NULL passes
    (SQL-standard CHECK semantics).  The SINGLE implementation shared
    by the TxTable constraint enforcer (sources/txtable.py) and
    validation_report (operators/sketches.py), so the NULL/boolean
    semantics can never drift between the two (r7 review finding)."""
    return F.sum(
        F.when(
            ~F.coalesce(F.expr(pred).cast("boolean"), F.lit(True)), 1
        ).otherwise(0)
    )


def check_rule_name(name: str) -> str:
    """Validate a CHECK-constraint / validation-rule name: names become
    aggregate aliases, error-report keys, and selectExpr fragments, so
    they must be identifier-safe.  The SINGLE validator shared by
    TxTable.create and validation_report (r7 review: the regex had
    been copy-pasted and could drift)."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9_.-]+", name):
        raise ValueError(f"rule name {name!r} must be identifier-safe")
    return name


def ts_second(col: Column | str) -> Column:
    """Truncate an event-time column to whole seconds (hazard H1: the
    events fixture stores timestamp[ns]; Spark reads µs, DuckDB ns —
    both agree after second truncation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("second", c)


def spread_for_compute(df, min_partitions: int | None = None):
    """Round-robin repartition a DataFrame up to the cluster's core
    count before a CPU-bound (pandas-UDF) stage.

    Small single-file parquet inputs arrive as ONE partition, which
    serializes an expensive kernel onto one core; the repartition
    shuffle of the raw rows is cheap relative to the compute.  No-op
    when the input already has enough partitions (the 100 TB case —
    real inputs arrive with thousands of splits).

    The input must hold no exchange (pass the scan side, before any
    join or aggregation): counting partitions plans the frame, and
    under AQE that runs every exchange below it as a job, which the
    returned frame then runs again.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# The engine's bounded-collect budget for driver-side graph tiers
# (``dedup.connected_components``' union-find, ``behavior.pagerank_types``):
# <= ~32 MB of int64 pairs collected — the same budget as the Bloom
# bitmap tier.  LSH dedup graphs at corpus scale blow far past this, so
# production connected-components runs take the distributed loop.
DRIVER_TIER_MAX_EDGES = 2_000_000


# ``SparkContext.setCheckpointDir`` is context-GLOBAL: two threads
# re-pointing it concurrently can land one caller's checkpoint blocks
# in the OTHER caller's scratch directory — which that caller then
# retires per the documented contract, deleting live blocks a
# DataFrame still references (ADVICE r10).  Every reliable checkpoint
# holds this lock across set-dir + materialize.
_RELIABLE_CHECKPOINT_LOCK = threading.Lock()

# The source frame of the latest lazy cut of each name.  A lazy cut's
# deferred result stage reports SQL metrics into accumulators of the
# source's physical plan; once Python drops the source, the JVM can
# collect that plan while the stage still runs, and the DAGScheduler
# logs "Failed to update accumulator ... (Unknown class)".  Cut names
# are literal and unique, so this holds at most one frame per site.
_LAZY_SOURCES: dict = {}


def cut(df, name: str, *, eager: bool = True, checkpoint_dir: str | None = None):
    """The engine's one lineage cut: materialize ``df`` and return a
    frame whose plan starts at the stored blocks.  ``name`` is a
    literal unique in the package (``module.function.var``); the jobs a
    cut runs here carry the Spark job description ``cut <name>``, and
    the caller's description comes back afterwards, also when the cut
    raises.  A lazy local cut (``eager=False``) still runs jobs here
    under AQE: planning the frame runs every query stage (each
    exchange's map side, each broadcast) at the call; only the final
    result stage is deferred, and the first consumer's job computes and
    stores the blocks in-flight.  So a lazy cut saves exactly one job,
    the one that only materializes the store, and truncates the lineage
    all the same.

    Durability tier (round 10): with ``checkpoint_dir`` set, a RELIABLE
    ``df.checkpoint()`` writes the blocks to that fault-tolerant path
    and survives executor loss (iterative loops on a 1000-executor
    cluster); with ``None``, ``localCheckpoint`` keeps the blocks on
    executors — faster, and fine in local mode or when the caller
    consumes the result before depending on it.  ``setCheckpointDir``
    is SparkContext-global, so the reliable tier holds a module lock
    across set-dir + materialize (ADVICE r10) and therefore ALWAYS
    materializes eagerly, warning on ``eager=False``: a lazy reliable
    checkpoint would bind the global dir at a later action, outside
    the lock.  It persists BEFORE checkpointing, so the write reads
    the cached blocks instead of recomputing the plan, and drops the
    persist once the data is durable — unless the caller had cached
    the frame.  Files under ``checkpoint_dir`` are the caller's scratch
    to retire: Spark only self-cleans with
    ``spark.cleaner.referenceTracking.cleanCheckpoints``, a
    context-start conf this library cannot set."""
    if checkpoint_dir is not None and not eager:
        # observable, not just documented (ADVICE r11): the override
        # is a correctness rule of the reliable tier, but a caller
        # passing eager=False deserves a runtime signal
        warnings.warn(
            f"cut {name}: eager=False is ignored on the reliable "
            "(checkpoint_dir) tier — the checkpoint always materializes "
            "eagerly under the module lock so the global checkpoint dir "
            "cannot be rebound before the write",
            stacklevel=2,
        )
    sc = df.sparkSession.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"cut {name}")
    try:
        if checkpoint_dir is None:
            if not eager:
                _LAZY_SOURCES[name] = df
            return df.localCheckpoint(eager=eager)
        # unpersisting a cache the CALLER established would evict its
        # blocks and force full recomputes downstream (r10 review)
        already = df.storageLevel.useMemory or df.storageLevel.useDisk
        if not already:
            df.persist()
        try:
            with _RELIABLE_CHECKPOINT_LOCK:
                sc.setCheckpointDir(checkpoint_dir)
                return df.checkpoint(eager=True)
        finally:
            if not already:
                df.unpersist()
    finally:
        sc.setLocalProperty("spark.job.description", prior)


def spark_thread(target: Callable, *args, name: str | None = None) -> threading.Thread:
    """An unstarted daemon thread whose ``target`` starts with the Spark
    local properties (job group, scheduler pool, description) of the
    thread that starts it.  PySpark's pinned-thread mode gives each
    Python thread a fresh JVM thread, so a plain thread's jobs carry no
    job group and a caller's group cancel (stage deadline, streaming
    ``stop()``) misses them.  A plain thread when no SparkContext is
    active, where ``InheritableThread`` would assert.  Not for
    long-lived threads serving many callers."""
    from pyspark import InheritableThread, SparkContext

    cls = (
        threading.Thread if SparkContext._active_spark_context is None
        else InheritableThread
    )
    return cls(target=target, args=args, name=name, daemon=True)


def overlap(*thunks: Callable[[], Any], workers: int | None = None) -> list:
    """Run independent driver-side job chains on :func:`spark_thread`
    threads, at most ``workers`` at once (default: all), and return
    their results in argument order.  Every thunk runs to completion;
    the first error in argument order is re-raised after all threads
    finish, so no chain outlives the call."""
    results: list[Any] = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)
    todo = iter(enumerate(thunks))
    lock = threading.Lock()

    def drain() -> None:
        while True:
            with lock:
                i, thunk = next(todo, (None, None))
            if thunk is None:
                return
            try:
                results[i] = thunk()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors[i] = exc

    threads = [
        spark_thread(drain) for _ in range(min(workers or len(thunks), len(thunks)))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results


def epoch_seconds(col: Column | str) -> Column:
    """Timestamp → epoch seconds as BIGINT (timezone-independent wire
    format for oracle comparison; avoids tz/precision surface entirely)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("long")


def lehmer_bucket(id_col: Column | str, seed: int, *, buckets: int = 1_000_000) -> Column:
    """Engine-portable deterministic bucket in [0, buckets):
    ``((id % (2^31-1)) * 48271 + seed) % (2^31-1) % buckets`` — the
    Lehmer-style multiplicative hash every deterministic sampler in the
    engine shares (stratified sample, per-source quota cap, mixture
    apply, temperature up-sampling).  Plain BIGINT arithmetic with max
    intermediate < 2^47 (ANSI-overflow-safe) that Spark and DuckDB
    evaluate identically, unlike xxhash64.  ONE definition on purpose:
    a constant tweak made in one sampler but not its SQL oracle (or a
    sibling sampler) silently breaks cross-engine reproducibility of
    WHICH rows survive — keep this and the oracles' inline arithmetic
    in lockstep."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    m31 = F.lit(2147483647)
    return ((c % m31) * F.lit(48271) + F.lit(seed)) % m31 % F.lit(buckets)


# int64 headroom for the e6 ratio family: a BIGINT numerator past
# 2^62 / 1e6 would overflow when scaled to parts-per-million.  ANSI
# mode already throws on the overflow itself; the guard exists to fail
# EARLY with the operator's name and the remediation, and to make the
# guarded shape auditable in plan text (tests/test_properties.py).
E6_HEADROOM = (2 ** 62) // 1_000_000


def guarded_e6_ratio(num_sql: str, den_sql: str, *, op: str) -> Column:
    """Exact parts-per-million ratio ``num * 1000000 DIV den`` (BIGINT,
    truncating — Spark DIV == DuckDB //) with the int64-headroom guard
    INLINE (VERDICT r15 #7): a numerator past ``E6_HEADROOM`` raises a
    named, actionable error instead of ANSI's anonymous overflow.

    The guard is division-free and sits inside the product expression
    (``CASE ... END * 1000000``), so the raise evaluates before the
    multiply — the guard-placement rule the epoch-plan face
    established: a guard referenced from the SAME select as the
    product resolves to the unguarded input and overflows first.  The
    resulting ``END * 1000000) DIV`` plan text is the marker the
    e6-headroom property test keys on.  ``num_sql``/``den_sql`` are
    SQL fragments (column names or aggregate expressions); an
    aggregate numerator appears twice textually but Spark deduplicates
    identical aggregate expressions, so it computes once.

    Contract (r16 advice): ``num_sql``/``den_sql`` MUST be
    deterministic SQL fragments — the numerator is textually inlined
    three times into one CASE expression, so a nondeterministic
    fragment (e.g. containing ``rand()``) would evaluate independently
    per occurrence and the guard could test a different value than the
    one multiplied.  ``op`` must not contain single quotes: it is
    spliced unescaped into the ``raise_error`` message literal.
    """
    msg = (
        f"{op}: e6 numerator past int64 headroom (|num| > 2^62/1e6 ~ "
        "4.6e12) — widen the ratio arithmetic to DECIMAL(38,0)"
    )
    # both signs guarded (r16 review): the current call sites are
    # provably non-negative, but the helper is the designated recipe
    # for the whole e6 family — a signed difference numerator must hit
    # the named raise, not ANSI's anonymous overflow
    return F.expr(
        f"(CASE WHEN ({num_sql}) > {E6_HEADROOM}"
        f" OR ({num_sql}) < -{E6_HEADROOM} THEN "
        f"CAST(raise_error('{msg}') AS BIGINT) "
        f"ELSE CAST(({num_sql}) AS BIGINT) END * 1000000) DIV ({den_sql})"
    ).cast("bigint")


# -- process-scoped scratch directories --------------------------------

import threading as _threading

_SCRATCH_LOCK = _threading.Lock()  # module-scoped: lazy creation of the
# lock itself would be the very race it exists to prevent
_SCRATCH_PARENTS: dict[str, str] = {}


def process_scratch_dir(prefix: str) -> str:
    """A fresh per-invocation temp dir nested under ONE process-scoped,
    atexit-reaped parent per ``prefix`` — the shared implementation of
    the q_ledger_health / q_runs_report / q_sim_index_persisted
    scratch idiom (r13 review: three pasted copies of the
    lock+globals+atexit block were one future fix away from diverging).

    Per-invocation children stay unique (concurrent callers can never
    rmtree each other's live data); the parent is removed once, at
    interpreter exit, so repeated correctness sweeps cannot leak one
    /tmp tree per run (ADVICE r12)."""
    import atexit
    import shutil
    import tempfile

    with _SCRATCH_LOCK:
        parent = _SCRATCH_PARENTS.get(prefix)
        if parent is None:
            parent = tempfile.mkdtemp(prefix=prefix)
            _SCRATCH_PARENTS[prefix] = parent
            atexit.register(shutil.rmtree, parent, ignore_errors=True)
    return tempfile.mkdtemp(dir=parent)
