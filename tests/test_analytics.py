"""Funnel and retention-cohort analytics on a hand-built event stream."""

from __future__ import annotations

import datetime as dt

import pytest

from parcial_bigdata_spark.functions.money import ratio_round_float
from parcial_bigdata_spark.operators import analytics


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, et, 0.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


@pytest.fixture(scope="module")
def funnel_events(spark):
    d = lambda day, h=0: dt.datetime(2024, 1, day, h)  # noqa: E731
    return _ev(spark, [
        (d(1), 1, "view"), (d(2), 1, "click"), (d(3), 1, "purchase"),
        (d(1), 2, "view"), (d(2), 2, "purchase"),        # skips click
        (d(1), 3, "click"), (d(2), 3, "view"), (d(3), 3, "click"),
        (d(1), 4, "purchase"), (d(2), 4, "view"),        # purchase BEFORE view
    ])


def test_funnel_strict_ordering(funnel_events):
    out = {r.step: r.n_users for r in analytics.funnel_steps(funnel_events).collect()}
    # all four users viewed; only 1 and 3 clicked AFTER their first view;
    # only user 1 purchased after that click (user 4's purchase predates
    # the view, user 2 never clicked)
    assert out == {"view": 4, "click": 2, "purchase": 1}


def test_funnel_step_order_and_rejects_empty(funnel_events):
    rows = analytics.funnel_steps(funnel_events).collect()
    assert [r.step_idx for r in rows] == [0, 1, 2]
    with pytest.raises(ValueError):
        analytics.funnel_steps(funnel_events, steps=())


def test_retention_weekly_triangle(spark):
    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    # weeks: Jan 1 (Mon) starts week0, Jan 8 week1, Jan 15 week2
    ev = _ev(spark, [
        (d(1), 1, "signup"), (d(2), 1, "click"), (d(9), 1, "view"),   # w0, active w0+w1
        (d(8), 2, "signup"), (d(10), 2, "click"),                     # w1, active w1
        (d(2), 3, "view"),                                            # never signed up
        (d(15), 1, "click"),                                          # w2 activity for user 1
    ])
    out = {(r.cohort_week.date(), r.week_offset): r.n_users
           for r in analytics.retention_cohorts(ev).collect()}
    w0, w1 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
    assert out == {(w0, 0): 1, (w0, 1): 1, (w0, 2): 1, (w1, 0): 1}


def test_retention_excludes_pre_cohort_activity(spark):
    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    ev = _ev(spark, [
        (d(1), 1, "view"),          # week0 activity BEFORE the signup
        (d(8), 1, "signup"), (d(9), 1, "click"),
    ])
    out = {(r.cohort_week.date(), r.week_offset): r.n_users
           for r in analytics.retention_cohorts(ev).collect()}
    assert out == {(dt.date(2024, 1, 8), 0): 1}


def test_funnel_user_without_first_step(spark):
    """A user with later-step events but NO step-0 event must count
    toward nothing — and must not crash the query under ANSI
    (element_at on an empty array throws; F.get returns null)."""
    import datetime as dt

    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    events = spark.createDataFrame(
        [
            (1, 1, base, "view", 1.0),
            (2, 1, base + dt.timedelta(minutes=1), "click", 1.0),
            (3, 2, base, "click", 1.0),  # user 2: click without view
        ],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    got = {r.step: r.n_users
           for r in analytics.funnel_steps(events, ("view", "click")).collect()}
    assert got == {"view": 1, "click": 1}


def test_funnel_hostile_step_names(spark):
    """Step names with quotes/backslashes must pass through verbatim —
    the funnel builds its output rows with inline() over literal structs,
    not an interpolated stack() SQL string (round-6 ADVICE item)."""
    import datetime as dt

    steps = ("it's \\ tricky", "o'br\\'ien")
    events = spark.createDataFrame(
        [
            (1, 10, steps[0], dt.datetime(2025, 1, 1, 10, 0)),
            (2, 10, steps[1], dt.datetime(2025, 1, 1, 11, 0)),
            (3, 20, steps[1], dt.datetime(2025, 1, 1, 9, 0)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    rows = analytics.funnel_steps(events, steps).collect()
    assert [r.step for r in rows] == list(steps)
    assert [r.n_users for r in rows] == [1, 1]


def test_multi_touch_attribution_weight_model(spark):
    """U-shaped weights: 1 touch -> 1.0; 2 -> .5/.5; 4 -> .4/.1/.1/.4.
    Clicks outside the lookback or after the purchase get nothing."""
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import (
        multi_touch_attribution,
    )

    base = dt.datetime(2025, 1, 1, 12, 0, 0)

    def ev(eid, uid, mins, etype, value=0.0):
        return (eid, base + dt.timedelta(minutes=mins), uid, etype, value)

    rows = [
        # user 1: four clicks then a 100.0 purchase
        ev(1, 1, 0, "click"), ev(2, 1, 10, "click"),
        ev(3, 1, 20, "click"), ev(4, 1, 30, "click"),
        ev(5, 1, 60, "purchase", 100.0),
        # user 2: two clicks, 10.0 purchase
        ev(6, 2, 0, "click"), ev(7, 2, 5, "click"),
        ev(8, 2, 30, "purchase", 10.0),
        # user 3: one click in-window, one after the purchase
        ev(9, 3, 0, "click"), ev(11, 3, 40, "click"),
        ev(10, 3, 30, "purchase", 8.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r.purchase_id, r.click_id): (r.touch_rank, r.n_touches, r.credit)
        for r in multi_touch_attribution(events, lookback="1 day").collect()
    }
    assert got == {
        (5, 1): (1, 4, 40.0), (5, 2): (2, 4, 10.0),
        (5, 3): (3, 4, 10.0), (5, 4): (4, 4, 40.0),
        (8, 6): (1, 2, 5.0), (8, 7): (2, 2, 5.0),
        (10, 9): (1, 1, 8.0),
    }


def test_time_decay_attribution_halving_weights(spark):
    """Day-bucketed power-of-two decay: clicks 0, 1, and 2 whole days
    before the purchase weight 1, 1/2, 1/4 → credits 4/7, 2/7, 1/7 of
    the value; clicks outside the 7-day lookback get nothing."""
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import (
        time_decay_attribution,
    )

    base = dt.datetime(2025, 1, 10, 12, 0, 0)

    def ev(eid, uid, days_before, etype, value=0.0):
        return (
            eid,
            base - dt.timedelta(days=days_before),
            uid,
            etype,
            value,
        )

    rows = [
        ev(1, 1, 0, "purchase", 70.0),
        ev(2, 1, 0, "click"),       # same instant: bucket 0, weight 1
        ev(3, 1, 1, "click"),       # 1 day: weight 1/2
        ev(4, 1, 2, "click"),       # 2 days: weight 1/4
        ev(5, 1, 9, "click"),       # outside the 7-day lookback
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r.click_id: (r.decay_weight, r.credit)
        for r in time_decay_attribution(events).collect()
    }
    assert got == {
        2: (1.0, 40.0),     # 70 * 4/7
        3: (0.5, 20.0),     # 70 * 2/7
        4: (0.25, 10.0),    # 70 * 1/7
    }


def test_event_transition_matrix_counts_and_probs(spark):
    """Per-user timelines: u1 a→b→a, u2 a→b. Edges: a→b ×2, b→a ×1;
    P(b|a)=1.0, P(a|b)=1.0 — and cross-user boundaries never pair."""
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import (
        event_transition_matrix,
    )

    base = dt.datetime(2025, 1, 1)

    def ev(eid, uid, mins, etype):
        return (eid, base + dt.timedelta(minutes=mins), uid, etype, 0.0)

    events = spark.createDataFrame(
        [ev(1, 1, 0, "a"), ev(2, 1, 1, "b"), ev(3, 1, 2, "a"),
         ev(4, 2, 0, "a"), ev(5, 2, 1, "b")],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.probability)
        for r in event_transition_matrix(events).collect()
    }
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_cohort_revenue_triangle(spark):
    """Signup week anchors the cohort; purchase revenue lands in the
    week-offset cell; pre-cohort purchases are excluded."""
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import cohort_revenue

    w0 = dt.datetime(2025, 1, 6)  # a Monday

    def ev(eid, uid, day, etype, value=0.0):
        return (eid, w0 + dt.timedelta(days=day), uid, etype, value)

    events = spark.createDataFrame(
        [
            ev(1, 1, 0, "signup"),
            ev(2, 1, 1, "purchase", 10.0),
            ev(3, 1, 8, "purchase", 20.0),   # week offset 1
            ev(4, 2, 7, "signup"),
            ev(5, 2, 9, "purchase", 5.0),
            ev(6, 3, -3, "purchase", 99.0),  # never signs up: excluded
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        (r.cohort_week, r.week_offset): (r.n_buyers, r.n_purchases, r.revenue)
        for r in cohort_revenue(events).collect()
    }
    w1 = w0 + dt.timedelta(days=7)
    assert got == {
        (w0, 0): (1, 1, 10.0),
        (w0, 1): (1, 1, 20.0),
        (w1, 0): (1, 1, 5.0),
    }


def test_repeat_purchase_intervals_gaps(spark):
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import (
        repeat_purchase_intervals,
    )

    d0 = dt.datetime(2025, 1, 1)
    orders = spark.createDataFrame(
        [
            (1, 7, "O", 1.0, d0, "x"),
            (2, 7, "O", 1.0, d0 + dt.timedelta(days=3), "x"),
            (3, 7, "O", 1.0, d0 + dt.timedelta(days=10), "x"),
            (4, 8, "O", 1.0, d0, "x"),  # single order: no gaps row
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    rows = {r.o_custkey: r for r in repeat_purchase_intervals(orders).collect()}
    assert set(rows) == {7}
    r = rows[7]
    assert (r.n_gaps, r.min_gap_days, r.avg_gap_days, r.max_gap_days) == (
        2, 3, 5.0, 7,
    )


def test_copurchase_rules_counts_and_lift(spark):
    """Baskets {1,2,3}x4, {1,2}x2: pair (1,2) in 6 baskets, (1,3)/(2,3)
    in 4; duplicate lines in one order must not double-count."""
    rows = []
    okey = 0
    for _ in range(4):
        okey += 1
        rows += [(okey, p) for p in (1, 2, 3)]
    for _ in range(2):
        okey += 1
        rows += [(okey, 1), (okey, 2), (okey, 2)]  # dup line: still 1 basket
    lineitem = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    from parcial_bigdata_spark.operators.analytics import copurchase_rules

    out = {
        (r.part_a, r.part_b): r
        for r in copurchase_rules(lineitem, min_support=4).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    r12 = out[(1, 2)]
    assert (r12.n_together, r12.n_a, r12.n_b) == (6, 6, 6)
    assert r12.confidence_a_to_b == 1.0
    assert r12.lift == 1.0  # 6*6/(6*6)
    r13 = out[(1, 3)]
    assert (r13.n_together, r13.n_a, r13.n_b) == (4, 6, 4)
    assert r13.lift == round(4 * 6 / (6 * 4), 6)  # = 1.0


def test_value_outliers_exact_rule(spark):
    """u1: values 10,10,10,100 — z(100) = (100-32.5)/45 = 1.5: NOT an
    outlier at z=3 but IS at z=1; u2 has n<3 and drops out."""
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import value_outliers_exact

    base = dt.datetime(2025, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "t", v)
        for i, v in enumerate([10.0, 10.0, 10.0, 100.0])
    ] + [(10, base, 2, "t", 5.0), (11, base, 2, "t", 6.0)]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out3 = {r.user_id: r for r in value_outliers_exact(events).collect()}
    assert set(out3) == {1}
    assert (out3[1].n_events, out3[1].n_outliers) == (4, 0)
    out1 = {
        r.user_id: r
        for r in value_outliers_exact(events, z_threshold=1).collect()
    }
    assert out1[1].n_outliers == 1  # only the 100.0


def test_revenue_gini_extremes(spark):
    """Equal spend -> gini (n-1 correction form) = (n-1)/(2n)... no:
    with the standard formula equal x gives gini = (n-1)/n - ... pin by
    direct formula instead; one-customer nation -> gini 0."""
    orders = spark.createDataFrame(
        [(1, 1, "O", 100.0, None, "x"), (2, 2, "O", 100.0, None, "x"),
         (3, 3, "O", 100.0, None, "x"), (4, 4, "O", 300.0, None, "x")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    customer = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1)], "c_custkey long, c_nationkey int"
    )
    nation = spark.createDataFrame(
        [(0, "EQUAL"), (1, "SOLO")], "n_nationkey int, n_name string"
    )
    from parcial_bigdata_spark.operators.analytics import revenue_gini_by_nation

    out = {r.nation: r for r in
           revenue_gini_by_nation(orders, customer, nation).collect()}
    # EQUAL: x=(100,100,100), ranks 1..3: (2*600 - 4*300)/(3*300) = 0
    assert out["EQUAL"].gini == 0.0
    assert out["EQUAL"].n_customers == 3
    # SOLO: single customer: (2*300 - 2*300)/300 = 0
    assert out["SOLO"].gini == 0.0
    # skewed: move all spend to one of three
    orders2 = spark.createDataFrame(
        [(1, 1, "O", 0.01, None, "x"), (2, 2, "O", 0.01, None, "x"),
         (3, 3, "O", 300.0, None, "x")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    got = {r.nation: r.gini for r in revenue_gini_by_nation(
        orders2, customer, nation).collect()}
    assert got["EQUAL"] > 0.66  # near-total concentration


def test_daily_user_accumulation_first_seen(spark):
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import (
        daily_user_accumulation,
    )

    d0 = dt.datetime(2025, 1, 1)

    def ev(eid, uid, day):
        return (eid, d0 + dt.timedelta(days=day), uid, "t", 0.0)

    events = spark.createDataFrame(
        [ev(1, 1, 0), ev(2, 2, 0), ev(3, 1, 1),       # day1: u1 returns
         ev(4, 3, 2), ev(5, 1, 2), ev(6, 2, 2)],      # day2: u3 new
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    rows = [(r.n_active, r.n_new, r.cum_users)
            for r in daily_user_accumulation(events).collect()]
    assert rows == [(2, 2, 2), (1, 0, 2), (3, 1, 3)]


def test_rfm_quintiles_exact(spark):
    """10 customers, one order each with strictly increasing date /
    spend and custkey-aligned order: every metric's rank equals the
    custkey order, so quintiles split 2-2-2-2-2 and the segment label
    repeats the quintile digit three times."""
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import (
        rfm_customer_segments,
    )

    rows = [
        (k * 10 + 1, k, "O", 100.0 + 10 * k,
         dt.date(2024, 1, 1) + dt.timedelta(days=k), "p")
        for k in range(1, 11)
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    got = rfm_customer_segments(orders).collect()
    assert [r.o_custkey for r in got] == list(range(1, 11))
    for i, r in enumerate(got):
        q = 1 + (5 * i) // 10
        # frequency is CONSTANT (1 order each): the rank falls back to
        # the custkey tiebreak, so f quintiles take the same
        # 2-per-bucket split — the tie semantics the SQL oracle pins
        assert (r.r_score, r.f_score, r.m_score) == (q, q, q)
        assert r.rfm_segment == f"{q}{q}{q}"
        assert r.n_orders == 1 and r.total_spend == 100.0 + 10 * (i + 1)


def test_quantile_normalize_values_golden(spark):
    import datetime as dt

    from parcial_bigdata_spark.operators.analytics import (
        quantile_normalize_values,
    )

    t0 = dt.datetime(2025, 1, 1)
    events = spark.createDataFrame(
        [
            (1, t0, 1, "a", 10.0),
            (2, t0, 1, "a", 30.0),
            (3, t0, 1, "a", 20.0),
            (4, t0, 1, "a", 30.0),  # tie with event 2: event_id breaks it
            (5, t0, 1, "b", 7.0),   # singleton type -> 0.0
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {r.event_id: r.qnorm for r in quantile_normalize_values(events).collect()}
    assert got[1] == 0.0
    assert got[3] == round(1 / 3, 6)
    assert got[2] == round(2 / 3, 6)  # first of the tied pair by event_id
    assert got[4] == 1.0
    assert got[5] == 0.0


def test_sliding_distinct_users_window_and_zero_fill(spark):
    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    ev = _ev(spark, [
        (d(1), 1, "a"), (d(3), 2, "a"), (d(10), 1, "a"),
        (d(5), 3, "b"),  # single event; grid must zero-fill days 1-4
    ])
    out = {
        (r.event_type, r.day.day): r.active_users_w
        for r in analytics.sliding_distinct_users(ev).collect()
    }
    # type a: day1 window holds u1 alone; u1's day-1 activity covers
    # days 1-7, u2's day-3 covers 3-9, u1's day-10 covers 10 (clipped)
    assert [out[("a", i)] for i in range(1, 11)] == [
        1, 1, 2, 2, 2, 2, 2, 1, 1, 1,
    ]
    # type b: zero-filled over the GLOBAL span, active only days 5-10
    assert [out[("b", i)] for i in range(1, 11)] == [
        0, 0, 0, 0, 1, 1, 1, 1, 1, 1,
    ]
    # full |types| x |days| grid, nothing beyond the span
    assert len(out) == 20


def test_mad_outliers_rank_selected_medians(spark):
    rows = [(dt.datetime(2024, 1, 1, 0, i), 1, "a") for i in range(7)]
    ev = spark.createDataFrame(
        [
            (i, ts, uid, et, v, "{}")
            for (i, ((ts, uid, et), v)) in enumerate(
                zip(rows, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 100.0])
            )
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    [r] = analytics.mad_outliers(ev).collect()
    # median = 4th smallest = 4; devs sorted [0,1,1,2,2,3,96] -> MAD = 2;
    # outliers where dev > 3*2: only the 100.0 spike
    assert (r.n_events, r.median_value, r.mad, r.n_outliers) == (7, 4.0, 2.0, 1)


def test_mad_outliers_even_count_lower_middle(spark):
    ev = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, i), 1, "a", v, "{}")
            for i, v in enumerate([1.0, 2.0, 3.0, 1000.0])
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    [r] = analytics.mad_outliers(ev).collect()
    # lower-middle rank floor((4+1)/2)=2: median = 2; devs sorted
    # [0,1,1,998] -> MAD = 1; outliers where dev > 3: the 1000.0 row
    assert (r.n_events, r.median_value, r.mad, r.n_outliers) == (4, 2.0, 1.0, 1)


def test_activity_streaks_gaps_and_islands(spark):
    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    ev = _ev(spark, [
        # user 1: days 1,2,3 then 5,6 -> streaks 3 and 2
        (d(1), 1, "a"), (d(2), 1, "a"), (d(3), 1, "a"),
        (d(5), 1, "a"), (d(6), 1, "a"),
        # duplicate activity inside a day must not split or extend a run
        (d(2), 1, "b"),
        # user 2: a single day
        (d(9), 2, "a"),
    ])
    out = {r.user_id: r for r in analytics.activity_streaks(ev).collect()}
    assert (out[1].n_active_days, out[1].n_streaks, out[1].longest_streak) == (5, 2, 3)
    assert (out[2].n_active_days, out[2].n_streaks, out[2].longest_streak) == (1, 1, 1)


def test_user_behavior_entropy_golden(spark):
    import math

    d = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    ev = _ev(spark, [
        # user 1: uniform 2-way mix of 4 events -> ln(2)
        (d(1), 1, "a"), (d(2), 1, "a"), (d(3), 1, "b"), (d(4), 1, "b"),
        # user 2: degenerate single-type -> 0
        (d(1), 2, "a"), (d(2), 2, "a"),
    ])
    out = {r.user_id: r for r in analytics.user_behavior_entropy(ev).collect()}
    assert (out[1].n_events, out[1].n_types) == (4, 2)
    assert out[1].entropy == round(math.log(2), 4)
    assert (out[2].n_types, out[2].entropy) == (1, 0.0)


def test_sliding_distinct_users_rejects_bad_window(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window_days"):
        analytics.sliding_distinct_users(spark.range(1), window_days=0)


def test_interarrival_histogram_buckets(spark):
    ev = _ev(spark, [
        (dt.datetime(2024, 1, 1, 0, 0, 0), 1, "a"),
        (dt.datetime(2024, 1, 1, 0, 0, 1), 1, "a"),   # gap 1 -> bucket 1
        (dt.datetime(2024, 1, 1, 0, 0, 8), 1, "a"),   # gap 7 -> bucket 3
        (dt.datetime(2024, 1, 1, 0, 0, 8), 2, "a"),   # other user: no gap
    ])
    out = {
        (r.event_type, r.log2_bucket): (r.n_gaps, r.min_gap_s, r.max_gap_s)
        for r in analytics.interarrival_histogram(ev).collect()
    }
    assert out == {("a", 1): (1, 1, 1), ("a", 3): (1, 7, 7)}


# The dense daily series the day-grain operators share: each type's
# count per day from its own first to its own last event day, a day
# without events counting 0.  "a" has no event on its third day, "b"
# none on its second, and the two spans differ.
GRID_T0 = dt.datetime(2024, 1, 1)  # a Monday
GRID = {"a": (0, [3, 1, 0, 2, 5]), "b": (2, [2, 0, 2, 6, 6, 1])}


def _grid_days(t):
    start, xs = GRID[t]
    return [GRID_T0 + dt.timedelta(days=start + i) for i in range(len(xs))]


def _change_point(xs):
    # the split maximizing L·R·(mean_L − mean_R)², ties to the earlier day
    n, s = len(xs), sum(xs)

    def score(lft):
        sl = sum(xs[:lft])
        gap = sl * (n - lft) - (s - sl) * lft
        return gap * gap / (lft * (n - lft) * n)

    lft = max(range(1, n), key=lambda k: (score(k), -k))
    sl = sum(xs[:lft])
    mean_r = (s - sl) / (n - lft)
    return lft, ratio_round_float(sl / lft, 6), ratio_round_float(mean_r, 6)


def _holt(xs, alpha=0.5, beta=0.25):
    level, trend = float(xs[0]), float(xs[1] - xs[0])
    for x in xs[2:]:
        prev = level
        level = alpha * x + (1.0 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1.0 - beta) * trend
    return ratio_round_float(level, 6), ratio_round_float(trend, 6)


def _per_weekday(t):
    out = {}
    for day, x in zip(_grid_days(t), GRID[t][1]):
        dow = day.isoweekday() % 7 + 1  # Spark dayofweek: Sunday = 1
        n_days, n_events = out.get(dow, (0, 0))
        out[dow] = (n_days + 1, n_events + x)
    return out


def _view_change_point(df):
    return {
        r.event_type: (
            r.n_days_before, r.mean_before, r.mean_after,
            r.n_days_before + r.n_days_after,
            r.split_after_day == _grid_days(r.event_type)[r.n_days_before - 1],
        )
        for r in df.collect()
    }


def _view_cusum(df):
    out = {}
    for r in df.orderBy("event_type", "d").collect():
        out.setdefault(r.event_type, []).append((r.d, r.c))
    return out


def _view_holt(df):
    return {
        r.event_type: (r.level, r.trend)
        for r in df.where("horizon_days = 1").collect()
    }


def _view_weekday(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.event_type, {})[r.dow] = (r.n_days, r.n_events)
    return out


DAILY_CONSUMERS = {
    "change_point": (
        analytics.daily_change_point,
        _view_change_point,
        lambda t: (*_change_point(GRID[t][1]), len(GRID[t][1]), True),
    ),
    "cusum": (
        analytics.cusum_alarms,
        _view_cusum,
        lambda t: list(zip(_grid_days(t), GRID[t][1])),
    ),
    "holt": (analytics.holt_linear_smoothing, _view_holt, lambda t: _holt(GRID[t][1])),
    "weekday": (analytics.weekday_seasonality, _view_weekday, _per_weekday),
}


@pytest.mark.parametrize("consumer", sorted(DAILY_CONSUMERS))
def test_daily_consumers_read_each_types_dense_span(spark, consumer):
    rows, eid = [], 0
    for t in GRID:
        for day, x in zip(_grid_days(t), GRID[t][1]):
            for h in range(x):
                rows.append((eid, t, day + dt.timedelta(hours=h)))
                eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    operator, view, expected = DAILY_CONSUMERS[consumer]
    assert view(operator(ev)) == {t: expected(t) for t in GRID}
