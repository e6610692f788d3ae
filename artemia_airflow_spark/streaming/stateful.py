"""Custom stateful streaming operator via applyInPandasWithState (B50+).

``running_user_stats``: per-user cumulative (count, sum, max) over an
event stream — the canonical "operator Spark lacks" shape: arbitrary
per-key state evolved batch by batch, with timeout-based state expiry
bounded by the watermark.

Works identically on a static DataFrame (via groupBy/agg fallback) and
a stream; tests assert the stream's final state equals the batch
aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATS_SCHEMA = "user_id long, n_events long, sum_value double, max_value double"
_STATE_SCHEMA = "n long, s double, m double"


def _update_user_stats(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State update fn: fold each micro-batch's rows for this user into
    (count, sum, max).  Emits the running totals after every batch."""
    if state.hasTimedOut:
        state.remove()
        return
    n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            s += float(pdf["value"].sum())
            m = max(m, float(pdf["value"].max()))
    state.update((n, s, m))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "max_value": [m]}
    )


def running_user_stats_stream(events: DataFrame) -> DataFrame:
    """Stateful per-user running stats over a stream (update mode)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_TTL_STATE_SCHEMA = "n long, s double, m double, last_s long"


def _make_ttl_stats_fn(ttl_s: int):
    """Update fn for :func:`running_user_stats_ttl` — running stats
    whose state EXPIRES after ``ttl_s`` of event-time inactivity."""
    import numpy as np

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # idle past TTL with no further events: silent expiry —
            # exactly state-v2 TTL's contract (no tombstone row)
            state.remove()
            return
        n, s, m, last = (
            state.get if state.exists else (0, 0.0, float("-inf"), None)
        )
        ts_all: list[np.ndarray] = []
        v_all: list[np.ndarray] = []
        for pdf in pdfs:
            if len(pdf):
                ts_all.append(
                    pdf["ts"].to_numpy().astype("datetime64[s]").astype("int64")
                )
                v_all.append(pdf["value"].to_numpy(dtype="float64"))
        if not ts_all:
            return
        ts = np.concatenate(ts_all)
        vs = np.concatenate(v_all)
        order = np.argsort(ts, kind="stable")
        ts, vs = ts[order], vs[order]
        # the live segment starts after the LAST gap > ttl (gaps vs the
        # carried state's last-seen time included) — everything before
        # it is expired state that must not leak into the totals
        prev = np.concatenate(([last if last is not None else ts[0]], ts[:-1]))
        resets = np.flatnonzero(ts - prev > ttl_s)
        if len(resets):
            seg = slice(int(resets[-1]), None)
            n, s, m = 0, 0.0, float("-inf")
        else:
            seg = slice(None)
        n += int(len(ts[seg]))
        s += float(vs[seg].sum())
        m = max(m, float(vs[seg].max()))
        last = int(ts[-1])
        state.update((n, s, m, last))
        state.setTimeoutTimestamp((last + ttl_s) * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s],
             "max_value": [m]}
        )

    return fn


def running_user_stats_ttl(events: DataFrame, *, ttl_s: int = 1800) -> DataFrame:
    """Per-user running stats with per-key state TTL, on pure
    ``applyInPandasWithState`` (Spark's state-v2 TTL in
    ``transformWithStateInPandas`` needs ``google.protobuf``, which the
    engine does not depend on).

    TTL here is EVENT-time idle expiry, enforced on two paths: (a)
    in-band — an arriving event more than ``ttl_s`` after the key's
    last event resets the totals before folding (expired state can
    never leak into results, regardless of when the store cleans up);
    (b) out-of-band — once the watermark passes last + ttl the
    event-time timeout removes the key's state silently (no tombstone
    row), bounding the state store by #keys active inside the TTL
    horizon exactly like state-v2's RocksDB TTL compaction."""
    e = events.select(
        "user_id", F.date_trunc("second", "ts").alias("ts"), "value"
    ).withWatermark("ts", "1 second")
    return e.groupBy("user_id").applyInPandasWithState(
        _make_ttl_stats_fn(ttl_s),
        outputStructType=STATS_SCHEMA,
        stateStructType=_TTL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def running_user_stats_batch(events: DataFrame) -> DataFrame:
    """Batch twin: the closed-form aggregate the stream's final state
    must converge to."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Custom stateful sessionization (the "q_stream_session_state" op)
# ---------------------------------------------------------------------------

SESSION_ROLLUP_SCHEMA = (
    "user_id long, session_start long, session_end long, n_events long"
)
_SESSION_STATE_SCHEMA = "start_s long, last_s long, n long"


def _make_session_fn(gap_s: int):
    """Build the applyInPandasWithState update fn for gap sessionization.

    Within each micro-batch the split into sessions is vectorized
    (numpy diff >= gap), so the per-row Python loop the naive version
    would need never runs; state carries only the OPEN session
    (start, last, n) per user, and closed sessions are emitted either
    by an in-batch gap or by event-time timeout once the watermark
    passes last_event + gap.
    """
    import numpy as np

    def fn(key, pdf_iter, state: GroupState):
        uid = int(key[0])
        if state.hasTimedOut:
            start_s, last_s, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start": [start_s],
                    "session_end": [last_s + gap_s],
                    "n_events": [n],
                }
            )
            return
        cur = list(state.get) if state.exists else None
        out: list[tuple[int, int, int]] = []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            ts = np.sort(pdf["ts"].to_numpy().astype("datetime64[s]").astype("int64"))
            # boundary i: event i starts a new session — STRICTLY more
            # than gap after i-1.  session_window (the built-in twin)
            # merges windows that meet (diff == gap), so the kernel
            # must too or the stream/batch faces disagree on exact-gap
            # pairs (first observed at sf0.1).
            boundaries = np.flatnonzero(np.diff(ts) > gap_s) + 1
            seg_starts = np.concatenate(([0], boundaries))
            seg_ends = np.concatenate((boundaries, [len(ts)]))
            for a, b in zip(seg_starts, seg_ends):
                first, last, n = int(ts[a]), int(ts[b - 1]), int(b - a)
                if cur is not None and first <= cur[1] + gap_s:
                    cur = [cur[0], max(cur[1], last), cur[2] + n]
                else:
                    if cur is not None:
                        out.append(tuple(cur))
                    cur = [first, last, n]
        if cur is not None:
            state.update(tuple(int(x) for x in cur))
            state.setTimeoutTimestamp((cur[1] + gap_s) * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [uid] * len(out),
                    "session_start": [s for s, _, _ in out],
                    "session_end": [l + gap_s for _, l, _ in out],
                    "n_events": [n for _, _, n in out],
                }
            )

    return fn


def stateful_sessionize(events: DataFrame, *, gap_s: int = 1800) -> DataFrame:
    """Custom stateful streaming sessionization via
    ``applyInPandasWithState`` + event-time timeout — the from-scratch
    twin of the built-in ``session_window`` (B48), for semantics the
    built-in can't host (per-session state machines, mid-session
    emission policies).

    Sessions are emitted as they CLOSE: by an observed in-batch gap, or
    by timeout once the watermark passes last_event + gap.  State per
    user is a single (start, last, n) tuple — at 100 TB the state store
    is RocksDB-backed and sized by #active users in the gap horizon,
    not by events.  Event time is second-truncated (H1) so the emitted
    rows equal ``session_counts``'s (start, end, n) exactly.

    Like :func:`~artemia_airflow_spark.streaming.windows.stateful_first_event`,
    correctness of the per-user merge assumes the source replays in
    event-time order per key (log/Kafka streams are time-ordered per
    partition); an event arriving AFTER the watermark closed its
    session is dropped by the watermark itself, and intra-batch
    disorder is handled by the kernel's sort.
    """
    e = events.select(
        "user_id", F.date_trunc("second", "ts").alias("ts")
    ).withWatermark("ts", "1 second")
    return e.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(gap_s),
        outputStructType=SESSION_ROLLUP_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _declare_session_state_query() -> None:
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.plans.registry import declared
    from artemia_airflow_spark.session import ensure_engine_conf

    @declared(
        "q_stream_session_state",
        oracle="""
        WITH e AS (
          SELECT user_id, date_trunc('second', ts) AS tsec FROM events
        ), marked AS (
          SELECT *, CASE WHEN lag(tsec) OVER w IS NULL
                           OR tsec > lag(tsec) OVER w + INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec)
        ), sess AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsec
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked
        ), per AS (
          SELECT user_id, sid, COUNT(*) AS n_events,
                 CAST(epoch(MAX(tsec)) - epoch(MIN(tsec)) AS BIGINT) AS span_s
          FROM sess GROUP BY user_id, sid
        )
        SELECT user_id,
               COUNT(*) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS total_events,
               MAX(span_s) AS max_span_s
        FROM per GROUP BY user_id
        """,
    )
    def q_stream_session_state(spark, sf_dir):
        """Batch face of the custom stateful sessionizer: per-user
        session rollup (how many sessions, how many events, longest
        span).  Declarative twin: built-in session_window does the
        gap-merge, then a per-user re-aggregation — two shuffles on
        user-sized keys, both partial-aggregated map-side.  Stream/batch
        equivalence of the underlying sessionization is asserted by
        tests/test_streaming.py::test_stateful_sessionize_equals_batch.
        """
        ensure_engine_conf(spark)
        ev = scan(spark, sf_dir, "events").withColumn(
            "ts", F.date_trunc("second", "ts")
        )
        per = (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                "n_events",
                # session_window end = last + gap; span = last - first
                (
                    F.col("w.end").cast("long")
                    - F.col("w.start").cast("long")
                    - F.lit(1800)
                ).alias("span_s"),
            )
        )
        return per.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("total_events"),
            F.max("span_s").alias("max_span_s"),
        )


_declare_session_state_query()
