"""Semantic edge-case tests for the behavioral operators (behavior.py):
gap boundaries, timestamp ties, funnel ordering, cohort offsets.
The oracle face (test_oracle.py) proves corpus-level equivalence; these
pin the boundary semantics a differential run might never exercise."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from artemia_airflow_spark.operators.behavior import (
    funnel,
    retention_cohorts,
    sessionize,
)

_TS = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, t, v)
         for i, (s, u, t, v) in enumerate(rows)],
        _TS,
    )


def test_sessionize_gap_boundary_is_strict(spark):
    """A gap of EXACTLY gap_s seconds stays in the same session (the
    split condition is strictly greater-than); one microsecond more
    splits."""
    e = _events(spark, [
        (0, 1, "view", 1.0),
        (3600, 1, "view", 1.0),          # exactly 1h later -> same session
        (3600 * 2 + 1, 1, "view", 1.0),  # 1h + 1s after prev -> new session
    ])
    out = sessionize(e, gap_s=3600).orderBy("session_idx").collect()
    assert [(r.session_idx, r.n_events) for r in out] == [(1, 2), (2, 1)]


def test_sessionize_equal_ts_share_a_session_and_decimal_sum(spark):
    """Tied timestamps have gap 0 -> always one session regardless of
    tiebreak order; the value sum is the exact decimal total."""
    e = _events(spark, [
        (0, 7, "view", 0.1),
        (0, 7, "click", 0.2),
        (0, 7, "purchase", 0.3),
    ])
    out = sessionize(e, gap_s=1).collect()
    assert len(out) == 1
    assert out[0].n_events == 3
    assert abs(out[0].total_value - 0.6) < 1e-12


def test_sessionize_sessions_are_per_user(spark):
    e = _events(spark, [(0, 1, "view", 1.0), (0, 2, "view", 1.0)])
    out = sessionize(e, gap_s=60).collect()
    assert sorted((r.user_id, r.session_idx) for r in out) == [(1, 1), (2, 1)]


def test_funnel_requires_stage_order(spark):
    """A purchase BEFORE the user's click must not count as stage 3:
    user 1 converts in order (depth 3), user 2 purchases before
    clicking (depth 2 only)."""
    e = _events(spark, [
        # user 1: view -> click -> purchase (in order)
        (0, 1, "view", 0.0), (10, 1, "click", 0.0), (20, 1, "purchase", 0.0),
        # user 2: purchase first, then view -> click, no purchase after
        (0, 2, "purchase", 0.0), (10, 2, "view", 0.0), (20, 2, "click", 0.0),
    ])
    out = funnel(e, ["view", "click", "purchase"]).collect()
    counts = {r.stage: r.n_users for r in out}
    assert counts == {"view": 2, "click": 2, "purchase": 1}


def test_funnel_unreached_stage_reports_zero(spark):
    """A stage no user reached must still appear with n_users=0 —
    consumers index rows by stage position (conversion ratios)."""
    e = _events(spark, [(0, 1, "view", 0.0), (10, 1, "click", 0.0)])
    out = funnel(e, ["view", "click", "purchase"]).orderBy("stage_idx").collect()
    assert [(r.stage, r.n_users) for r in out] == [
        ("view", 1), ("click", 1), ("purchase", 0),
    ]


def test_funnel_same_ts_satisfies_at_or_after(spark):
    """The chain uses ts >= previous entry: a click at the SAME instant
    as the view counts."""
    e = _events(spark, [(0, 1, "view", 0.0), (0, 1, "click", 0.0)])
    out = funnel(e, ["view", "click"]).collect()
    counts = {r.stage: r.n_users for r in out}
    assert counts == {"view": 1, "click": 1}


def test_funnel_counts_are_monotone_on_fixture(spark):
    from artemia_airflow_spark.catalog import scan
    from tests.conftest import SF_ORACLE

    e = scan(spark, SF_ORACLE, "events")
    out = funnel(e, ["signup", "view", "click", "purchase"]).orderBy("stage_idx").collect()
    ns = [r.n_users for r in out]
    assert ns == sorted(ns, reverse=True)


def test_retention_offsets_are_week_exact(spark):
    """User first seen Tue Jan 2 cohorts to Mon Jan 1; an event the
    following Wed is offset 1; same-week events are offset 0."""
    day = 86400
    e = _events(spark, [
        (1 * day, 5, "view", 0.0),        # Tue Jan 2 -> cohort Mon Jan 1
        (3 * day, 5, "view", 0.0),        # Thu Jan 4 -> offset 0
        (9 * day, 5, "view", 0.0),        # Wed Jan 10 -> offset 1
    ])
    out = retention_cohorts(e).orderBy("week_offset").collect()
    assert [(str(r.cohort_week), r.week_offset, r.n_users) for r in out] == [
        ("2024-01-01", 0, 1),
        ("2024-01-01", 1, 1),
    ]


def test_retention_counts_distinct_users(spark):
    e = _events(spark, [
        (0, 1, "view", 0.0), (10, 1, "view", 0.0),  # same user twice, week 0
        (0, 2, "view", 0.0),
    ])
    out = retention_cohorts(e).collect()
    assert len(out) == 1 and out[0].n_users == 2


def test_event_transitions_hand_matrix(spark):
    """Sequence a->b->a->b for one user: transitions ab x2, ba x1;
    probabilities row-normalize over prev_type."""
    e = _events(spark, [
        (0, 1, "a", 0.0), (1, 1, "b", 0.0), (2, 1, "a", 0.0), (3, 1, "b", 0.0),
    ])
    from artemia_airflow_spark.operators.behavior import event_transitions

    out = {(r.prev_type, r.next_type): r for r in event_transitions(e).collect()}
    assert out[("a", "b")].n_transitions == 2 and out[("a", "b")].p_transition == 1.0
    assert out[("b", "a")].n_transitions == 1 and out[("b", "a")].p_transition == 1.0
    assert ("b", "b") not in out


def test_event_transitions_do_not_cross_users(spark):
    """The last event of user 1 must not chain into user 2's first."""
    e = _events(spark, [(0, 1, "a", 0.0), (10, 2, "b", 0.0)])
    from artemia_airflow_spark.operators.behavior import event_transitions

    assert event_transitions(e).count() == 0


def test_event_transitions_rows_sum_to_one(spark):
    from artemia_airflow_spark.catalog import scan
    from artemia_airflow_spark.operators.behavior import event_transitions
    from tests.conftest import SF_ORACLE

    out = event_transitions(scan(spark, SF_ORACLE, "events")).collect()
    by_prev = {}
    for r in out:
        by_prev.setdefault(r.prev_type, 0.0)
        by_prev[r.prev_type] += r.p_transition
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-4, (prev, total)


def test_pagerank_hub_ranks_first_and_mass_conserved(spark):
    """PageRank hand model: with every user funneling into H (A->H,
    B->H, and H's only exit H->A), H must take rank 1; total e9 mass
    stays within integer-floor slack of 1e9; a dangling type (D has
    no out-transitions) redistributes rather than absorbing — its
    score stays at the (1-d)/n floor tier, not above H's."""
    from artemia_airflow_spark.operators.behavior import pagerank_types

    e = _events(spark, [
        (0, 1, "A", 1.0), (10, 1, "H", 1.0),
        (0, 2, "B", 1.0), (10, 2, "H", 1.0),
        (0, 3, "A", 1.0), (10, 3, "H", 1.0),
        (0, 4, "H", 1.0), (10, 4, "A", 1.0),
        (0, 5, "A", 1.0), (10, 5, "D", 1.0),  # D: dangling sink
    ])
    out = {r.event_type: (r.pr_e9, r.rank)
           for r in pagerank_types(e).collect()}
    assert set(out) == {"A", "B", "H", "D"}
    assert out["H"][1] == 1
    total = sum(pr for pr, _ in out.values())
    assert 970_000_000 <= total <= 1_000_000_000
    assert out["D"][0] < out["H"][0]
    # B receives nothing (no in-edges): exactly the teleport floor tier
    assert out["B"][1] == 4


def test_pagerank_null_type_is_a_dangling_node_without_mass(spark):
    """A NULL type is a node that matches no edge endpoint (the SQL
    join rule): the A->NULL transition's mass leaves the graph, NULL
    receives nothing and counts as dangling, so it ties B (no edges at
    all) on the floor tier, and the tie ranks NULL first (Spark's
    ascending order puts NULLs first)."""
    from artemia_airflow_spark.operators.behavior import pagerank_types

    e = _events(spark, [
        (0, 1, "A", 1.0), (10, 1, "H", 1.0),
        (0, 2, "A", 1.0), (10, 2, "H", 1.0),
        (0, 3, "H", 1.0), (10, 3, "A", 1.0),
        (0, 4, None, 1.0), (10, 4, "H", 1.0),
        (0, 5, "A", 1.0), (10, 5, None, 1.0),
        (0, 6, "B", 1.0),
    ])
    out = {r.event_type: (r.pr_e9, r.rank)
           for r in pagerank_types(e).collect()}
    assert out == {
        "A": (334_800_608, 1),
        "H": (272_747_567, 2),
        None: (79_402_343, 3),
        "B": (79_402_343, 4),
    }


def test_pagerank_empty_events_give_no_rows(spark):
    from artemia_airflow_spark.operators.behavior import pagerank_types

    out = pagerank_types(_events(spark, []))
    assert out.columns == ["event_type", "pr_e9", "rank"]
    assert out.collect() == []


def test_pagerank_over_the_driver_cap_raises(spark, monkeypatch):
    """A type graph past the bounded-collect cap breaks the
    bounded-vocabulary contract: a named error, no distributed
    fallback."""
    from artemia_airflow_spark.operators import behavior

    monkeypatch.setattr(behavior, "DRIVER_TIER_MAX_EDGES", 3)
    e = _events(spark, [
        (0, 1, "A", 1.0), (10, 1, "B", 1.0),
        (0, 2, "B", 1.0), (10, 2, "C", 1.0),
    ])
    with pytest.raises(ValueError, match="bounded-vocabulary contract"):
        behavior.pagerank_types(e)


def test_pagerank_job_budget(spark):
    """At sf0.01 the distributed power loop ran 40 Spark jobs (29 in
    its cuts); one collect of the type graph leaves the lag-pair
    exchanges, the collect and the result.  The first run warms the
    scan-schema memo."""
    import __spark_entry__ as entry

    from conftest import SF_ORACLE

    sc = spark.sparkContext
    run = lambda: entry.queries()["q_graph_pagerank"](spark, SF_ORACLE).write.format(  # noqa: E731
        "noop").mode("overwrite").save()
    run()
    group = "pagerank-jobs"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) <= 5, jobs


def test_last_touch_attribution_hand_cases(spark):
    """Attribution hand model: a purchase 10s after a click credits
    the click; a purchase with no touch in the 1h lookback (or no
    prior event at all) is unattributed; a purchase right after
    another purchase still credits the last NON-conversion touch; the
    carried touch never crosses users."""
    from artemia_airflow_spark.operators.behavior import (
        last_touch_attribution,
    )

    e = _events(spark, [
        (0, 1, "click", 1.0),
        (10, 1, "purchase", 10.0),      # -> click
        (20, 1, "purchase", 5.0),       # still -> click (10s-old touch)
        (8000, 1, "purchase", 2.0),     # touch now 8000s old -> unattributed
        (0, 2, "purchase", 7.0),        # first event ever -> unattributed
        (5, 2, "view", 1.0),
        (9, 2, "purchase", 3.0),        # -> view
    ])
    out = {r.channel: (r.n_conversions, r.value_cents)
           for r in last_touch_attribution(e, "purchase").collect()}
    assert out == {
        "click": (2, 1500),
        "view": (1, 300),
        "unattributed": (2, 900),
    }


def test_interevent_gaps_hand_cases(spark):
    """Gap hand model: user 1 hits 'view' at 0/10/30s -> gaps 10s,20s:
    median 15s (interpolated midpoint, med_x2 = 30s worth of us), p90
    = 19s (0.9*(2-1)=0.9 between 10 and 20 -> 19s at 10x); same-type
    partitioning means the interleaved 'click' contributes its own
    stream, and a type seen once per user yields no gap row."""
    from artemia_airflow_spark.operators.behavior import interevent_gaps

    e = _events(spark, [
        (0, 1, "view", 1.0), (5, 1, "click", 1.0),
        (10, 1, "view", 1.0), (30, 1, "view", 1.0),
        (100, 2, "solo", 1.0),
    ])
    out = {r.event_type: r for r in interevent_gaps(e).collect()}
    assert set(out) == {"view"}  # click: 1 event; solo: 1 event
    v = out["view"]
    assert v.n_gaps == 2
    assert v.med_x2_us == 30_000_000          # 2 x 15s
    assert v.p90_x10_us == 190_000_000        # 10 x 19s


def test_active_users_rolling_window_hand_case(spark):
    """DAU/WAU hand model: user 1 active day 0 only, user 2 active
    days 0 and 6 -> day 0: DAU 2 / WAU 2; day 6: DAU 1 (user 2) but
    WAU 2 (both users' day-0 activity still inside the 7-day window);
    a user active twice in one day counts once; day 7 (only user 2's
    day-6 fact in range) reports nothing because no event lands ON
    day 7."""
    from artemia_airflow_spark.operators.behavior import active_users

    e = _events(spark, [
        (0, 1, "view", 1.0),
        (100, 1, "view", 1.0),              # same day, same user
        (50, 2, "view", 1.0),
        (6 * 86400, 2, "view", 1.0),        # day 6
    ])
    out = {r.day: (r.dau, r.wau, r.stickiness_e6)
           for r in active_users(e).collect()}
    days = sorted(out)
    d0, d6 = days[0], days[-1]
    assert d6 - d0 == 6 and len(out) == 2  # only event days report
    assert out[d0] == (2, 2, 1_000_000)
    assert out[d6] == (1, 2, 500_000)


def test_covisitation_lift_hand_case(spark):
    """Lift hand model over 4 single-user sessions (gaps > 1h apart):
    sessions {A,B}, {A,B}, {A}, {C} -> (A,B): n_both=2, P(ab)=1/2,
    P(a)=3/4, P(b)=1/2 -> lift 4/3 (e6-floored via integer DIV);
    (A,C) and (B,C) never co-occur and don't report; duplicate events
    of one type within a session count the basket once."""
    from artemia_airflow_spark.operators.behavior import covisitation_lift

    h = 7200
    e = _events(spark, [
        (0, 1, "A", 1.0), (1, 1, "A", 1.0), (2, 1, "B", 1.0),
        (h, 1, "A", 1.0), (h + 1, 1, "B", 1.0),
        (2 * h, 1, "A", 1.0),
        (3 * h, 1, "C", 1.0),
    ])
    out = {(r.type_a, r.type_b): (r.n_both, r.lift_e6)
           for r in covisitation_lift(e, gap_s=3600).collect()}
    # n_both * N * 1e6 DIV (n_a * n_b) = 2*4*1e6 DIV (3*2) = 1_333_333
    assert out == {("A", "B"): (2, 1_333_333)}


def test_funnel_latency_hand_case(spark):
    """Latency hand model: two converters through signup->view (10s
    and 30s) give median 20s (med_x2 = 40) and p90 = 28s (0.9 between
    10 and 30 at 10x = 280); a user who views BEFORE signing up does
    not convert (chain order), so only the valid chains count."""
    from artemia_airflow_spark.operators.behavior import (
        funnel_stage_latency,
    )

    e = _events(spark, [
        (0, 1, "signup", 1.0), (10, 1, "view", 1.0),
        (0, 2, "signup", 1.0), (30, 2, "view", 1.0),
        (0, 3, "view", 1.0), (10, 3, "signup", 1.0),  # wrong order
    ])
    out = {r.transition: r
           for r in funnel_stage_latency(e, ["signup", "view"]).collect()}
    t = out["signup->view"]
    assert (t.n_converted, t.med_x2_s, t.p90_x10_s) == (2, 40, 280)


def test_session_attribution_hand_cases(spark):
    """Session-grain attribution hand model: a purchase credits its
    same-session preceding touch; a touch in a PRIOR session does not
    carry across the gap (unattributed, even though the event-grain
    1h-lookback face might still credit it); a session's channel is
    its FIRST purchase's, while all its purchases' values roll into
    that one session row; a first-ever-event purchase is unattributed."""
    from artemia_airflow_spark.operators.behavior import session_attribution

    e = _events(spark, [
        # user 1, session 1: click -> purchase, purchase (one session,
        # channel = click, 2 conversions, 1500 cents)
        (0, 1, "click", 1.0),
        (10, 1, "purchase", 10.0),
        (20, 1, "purchase", 5.0),
        # user 1, session 2 (gap > 1h): purchase first, then view ->
        # purchase: first purchase unattributed names the session
        (8000, 1, "purchase", 2.0),
        (8005, 1, "view", 1.0),
        (8010, 1, "purchase", 3.0),
        # user 2: touch only in session 1, purchase opens session 2
        # 2h later -> carried touch has session_idx 1 != 2 -> unattributed
        (0, 2, "view", 1.0),
        (7200, 2, "purchase", 7.0),
    ])
    out = {r.channel: (r.n_sessions, r.n_conversions, r.value_cents)
           for r in session_attribution(e, "purchase").collect()}
    assert out == {
        "click": (1, 2, 1500),
        "unattributed": (2, 3, 1200),
    }


def test_funnel_stage_value_hand_cases(spark):
    """Value-funnel hand model (stages signup→view→click→purchase):
    u1 walks the full chain with an attributed 1.25 purchase (depth 4,
    125 cents count at every stage); u2's purchase is their FIRST
    event (no preceding touch → unattributed, its 10.00 never counts)
    and depth is 1 (signup only); u3 reaches view, their purchase sits
    in a LATER session than its carried touch (unattributed); u4's
    click precedes their view so the chain stops at depth 2, yet their
    same-session 0.995 purchase is attributed (rounds to 100 cents) —
    so stage value is NOT 'value of chain completers', it is the
    attributed value of everyone who got at least that far."""
    from artemia_airflow_spark.operators.behavior import funnel_stage_value

    e = _events(spark, [
        # u1: full chain, purchase attributed (touch = click, same sess)
        (0, 1, "signup", 1.0), (10, 1, "view", 1.0),
        (20, 1, "click", 1.0), (30, 1, "purchase", 1.25),
        # u2: purchase first (unattributed), then signup -> depth 1
        (0, 2, "purchase", 10.0), (5, 2, "signup", 1.0),
        # u3: signup, view; purchase 3990s after view -> new session,
        # carried touch is prior-session view -> unattributed; depth 2
        (0, 3, "signup", 1.0), (10, 3, "view", 1.0),
        (4000, 3, "purchase", 2.0),
        # u4: click BEFORE view -> chain depth 2 (signup, view);
        # purchase attributed (touch = view, same session), 0.995 ->
        # floor(99.5 + 0.5) = 100 cents
        (0, 4, "signup", 1.0), (5, 4, "click", 1.0),
        (10, 4, "view", 1.0), (15, 4, "purchase", 0.995),
    ])
    out = {r.stage: (r.n_users, r.n_conversions, r.value_cents)
           for r in funnel_stage_value(
               e, ["signup", "view", "click", "purchase"]).collect()}
    assert out == {
        "signup": (4, 2, 225),
        "view": (3, 2, 225),
        "click": (1, 1, 125),
        "purchase": (1, 1, 125),
    }


def test_decayed_engagement_exact_shift_weights(spark):
    """Decay hand model (horizon 20, half-life 1): an event today
    weighs 2^20 per cent, yesterday 2^19, at the horizon 2^0, past it
    exactly 0 — and the score is the exact integer sum of shifted
    cents (recomputed in pure Python); day boundaries use DIV (an
    event 23h59m old still counts as day 0)."""
    import datetime as dt

    from artemia_airflow_spark.operators.behavior import decayed_engagement

    ref = dt.datetime(2024, 2, 1)

    def ev(days_ago, user, cents):
        return (user, ref - dt.timedelta(days=days_ago), cents / 100.0)

    rows = [
        ev(0, 1, 100), ev(1, 1, 100),          # 100*2^20 + 100*2^19
        ev(20, 2, 100), ev(21, 2, 100),        # horizon in, past-horizon out
        (3, ref - dt.timedelta(hours=23, minutes=59), 1.0),  # still day 0
        ev(0, 9, 0),                           # anchor: fixes ref = max ts
    ]
    d = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    out = {r.user_id: r.score for r in decayed_engagement(d).collect()}
    assert out[1] == 100 * 2**20 + 100 * 2**19
    assert out[2] == 100 * 2**0          # the 21-day-old event adds 0
    assert out[3] == 100 * 2**20         # 23h59m old -> day 0 weight
    assert out[9] == 0


def test_rate_anomalies_exact_z_and_guards(spark):
    """Anomaly hand model: 12 alternating 9/11 hours then a 40-count
    spike — trailing stats w=12, S=120, Q=1212 give z = (12*40-120) /
    sqrt(144) = 30 exactly (30e6 at e6 scale); early buckets with
    fewer than 8 trailing observations score NULL, and a constant
    (zero-variance) history scores NULL rather than dividing by 0."""
    import datetime as dt

    from artemia_airflow_spark.operators.behavior import rate_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    counts = [9, 11] * 6 + [40]
    for h, c in enumerate(counts):
        for i in range(c):
            rows.append((len(rows), base + dt.timedelta(hours=h, seconds=i),
                         1, "spiky", 1.0))
    # constant-rate type: 10 every hour -> variance 0 -> never scored
    for h in range(13):
        for i in range(10):
            rows.append((len(rows), base + dt.timedelta(hours=h, seconds=i),
                         1, "flat", 1.0))
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    out = {r.event_type: r for r in rate_anomalies(e).collect()}
    s = out["spiky"]
    assert s.n_buckets == 13
    # buckets 0..7 have < 8 trailing rows -> NULL; 8..12 scored
    assert s.n_scored == 5
    assert s.n_anomalies == 1
    assert s.max_z_e6 == 30_000_000
    f = out["flat"]
    assert (f.n_scored, f.n_anomalies, f.max_z_e6) == (0, 0, None)


def test_weekly_churn_lifecycle_decomposition(spark):
    """Churn hand model on week-aligned timestamps: u1 active weeks
    0/1/2 (new, retained, retained), u2 weeks 0/2 (new, resurrected),
    u3 week 0 only (new, then churned); week 1 loses u2+u3 (churned 2),
    week 2 loses nobody from week 1; duplicate events within a week
    count once; every active user is in exactly one lifecycle class."""
    import datetime as dt

    from artemia_airflow_spark.operators.behavior import weekly_churn

    week0 = dt.datetime.utcfromtimestamp(2818 * 604800)

    def ev(week, user, sec=0):
        return (week * 1000 + user * 10 + sec,
                week0 + dt.timedelta(weeks=week, seconds=sec), user)

    rows = [ev(0, 1), ev(0, 1, 1), ev(1, 1), ev(2, 1),
            ev(0, 2), ev(2, 2),
            ev(0, 3)]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint")
    out = {r.week - 2818: (r.n_active, r.n_new, r.n_retained,
                           r.n_resurrected, r.n_churned_from_prev)
           for r in weekly_churn(e).collect()}
    assert out == {
        0: (3, 3, 0, 0, 0),
        1: (1, 0, 1, 0, 2),
        2: (2, 0, 1, 1, 0),
    }
    for active, new, ret, res, _ in out.values():
        assert active == new + ret + res


def test_value_percentiles_daily_exact_interpolation(spark):
    """Percentile-panel hand model: one (type, day) cell with values
    1.00/2.00/3.00 -> total 600 cents, exact median 200 cents
    (med_x2 = 400), interpolated p90 280 cents (p90_x10 = 2800); a
    second day splits into its own cell."""
    import datetime as dt

    from artemia_airflow_spark.operators.behavior import (
        value_percentiles_daily,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "buy", 1.0),
        (2, base + dt.timedelta(hours=1), 1, "buy", 2.0),
        (3, base + dt.timedelta(hours=2), 1, "buy", 3.0),
        (4, base + dt.timedelta(days=1), 1, "buy", 5.0),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    out = {r.day: (r.n_events, r.value_cents, r.med_cents_x2,
                   r.p90_cents_x10)
           for r in value_percentiles_daily(e).collect()}
    days = sorted(out)
    assert out[days[0]] == (3, 600, 400, 2800)
    assert out[days[1]] == (1, 500, 1000, 5000)


def test_user_features_hand_model(spark):
    """Feature-export hand model: u1 has 3 events across 3 sessions
    (the 1h+1us gap opens session 2, the next-day event session 3 —
    the strictly-greater-than-gap contract) and 2 distinct days,
    1 view + 1 click + 1 purchase, 630 value cents; u2 is a
    single-event user with zero of the counted types."""
    import datetime as dt

    from artemia_airflow_spark.operators.behavior import user_features

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "view", 1.0),
        (2, base + dt.timedelta(seconds=3600, microseconds=1), 1,
         "click", 2.0),
        (3, base + dt.timedelta(days=1), 1, "purchase", 3.3),
        (4, base, 2, "signup", 0.5),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    out = {r.user_id: r for r in
           user_features(e, ["view", "click", "purchase"]).collect()}
    u1 = out[1]
    assert (u1.n_events, u1.n_sessions, u1.n_active_days) == (3, 3, 2)
    assert (u1.n_view, u1.n_click, u1.n_purchase) == (1, 1, 1)
    assert u1.value_cents == 630
    u2 = out[2]
    assert (u2.n_events, u2.n_sessions, u2.n_view) == (1, 1, 0)
    assert u2.value_cents == 50


def test_winsorized_mean_clamps_exactly(spark):
    """Winsorize hand model: values 1..10 give c10 = 1000..10000;
    interpolated p10 = 1000 + 0.9*1000 = 1900 (positions 0..9,
    0.1*9 = 0.9) and p90 = 9100.  Clamped sum = 1900 + 2000 + ... +
    9000 + 9100 = 55000 -> mean 5500, equal to the unclamped mean
    here because the clamp is symmetric; a fat outlier moves the
    plain mean but enters the winsorized one only as the p90
    bound."""
    from artemia_airflow_spark.operators.behavior import winsorized_mean

    rows = [(i, "t", float(i)) for i in range(1, 11)]
    e = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double")
    r = winsorized_mean(e).collect()[0]
    assert (r.n, r.lo_cents_x10, r.hi_cents_x10) == (10, 1900, 9100)
    assert r.wmean_cents_x10 == 5500

    rows_out = rows + [(99, "t", 1000000.0)]
    e2 = spark.createDataFrame(
        rows_out, "event_id bigint, event_type string, value double")
    r2 = winsorized_mean(e2).collect()[0]
    # the outlier enters as the (clamped) p90 bound, not as 1e6
    assert r2.hi_cents_x10 < 200000
    assert r2.wmean_cents_x10 < 20000


def test_behavior_pipeline_hand_model(spark):
    """Composed behavioral pipeline on a hand-computable log: 2 users,
    2024-01-01 (a Monday) base.  User 1 converts twice — once with a
    same-session 'view' touch (credited) and once in a fresh session
    whose only preceding touch lives in the previous session
    ('unattributed').  User 2 never signs up (funnel depth 0) but is
    active in weeks 0 and 1 (retention)."""
    import datetime as dt

    from artemia_airflow_spark.operators.behavior import behavior_pipeline

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        (1, s(0), "signup", 1.004, 1),
        (1, s(100), "view", 2.0, 2),
        (1, s(200), "purchase", 10.0, 3),
        (1, s(8000), "purchase", 5.0, 4),
        (2, s(0), "view", 1.0, 5),
        (2, s(100), "click", 0.0, 6),
        (2, s(8 * 86400), "view", 0.0, 7),
    ]
    e = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_type string, "
        "value double, event_id long",
    )
    out = sorted(
        tuple(r) for r in behavior_pipeline(
            e, ["signup", "view", "click", "purchase"], "purchase"
        ).collect()
    )
    assert out == sorted([
        ("sessions", "all", 0, 4, 7, 1900),
        ("funnel", "signup", 1, 1, 0, 0),
        ("funnel", "view", 2, 1, 0, 0),
        ("funnel", "click", 3, 0, 0, 0),
        ("funnel", "purchase", 4, 0, 0, 0),
        ("attribution", "view", 0, 1, 1, 1000),
        ("attribution", "unattributed", 0, 1, 1, 500),
        ("retention", "2024-01-01", 0, 2, 0, 0),
        ("retention", "2024-01-01", 1, 1, 0, 0),
    ])
