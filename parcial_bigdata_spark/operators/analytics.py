"""Product and statistical analytics over the ``events``, ``orders``
and ``lineitem`` tables — 52 operators: funnels, retention and revenue
cohorts, attribution, customer segmentation, time-series diagnostics
and forecasts, survival estimates, and the classical parametric, rank
and trend tests.  Each reduces the fact table in a linear pass (never a
self-join on the raw event stream) and does the rest of its work on a
dimension-sized frame.

Beyond-reference capability (SURVEY.md §2.11): the reference stores one
value series; these operators define the event-analytics surface a user
of a general engine expects.

Frames that several operators build come from the private helpers
below, one definition each: the dense per-type count series, the
right-censored life table, the click→purchase pairs, the cohort-week
join, the double-rank of a tied block, the Mann-Kendall terms, the daily
revenue frame and the quantity×discount cells.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parcial_bigdata_spark.functions.money import ratio_round, ratio_round_float
from parcial_bigdata_spark.operators.scale import (
    distributed_rank,
    iter_checkpoint,
    lit_lookup,
)

_DEC = "decimal(38,0)"


def _since_cohort(rows: DataFrame, events: DataFrame, cohort_type: str) -> DataFrame:
    """``rows`` (user_id, week, ...) joined to each user's ``cohort_week``
    — the Monday of the user's first ``cohort_type`` event — from that
    week on: one min-aggregate per user, one |users|-keyed join."""
    cohort = (
        events.where(F.col("event_type") == cohort_type)
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week"))
    )
    return rows.join(cohort, "user_id").where(F.col("week") >= F.col("cohort_week"))


def _week_offset() -> Column:
    """``week_offset``: whole weeks from ``cohort_week`` to ``week``."""
    return (
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset")
    )


def _click_purchase_pairs(events: DataFrame, lookback: str) -> DataFrame:
    """Each purchase (user_id, purchase_id, purchase_ts, purchase_value)
    paired with every same-user click (click_user, click_id, click_ts)
    in the ``lookback`` interval (SQL interval text, e.g. ``1 day``)
    that ends at the purchase: one interval join, shuffled on user_id,
    the range predicate applied in the join."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""user_id = click_user
                AND click_ts BETWEEN purchase_ts - INTERVAL {lookback}
                                 AND purchase_ts"""
        ),
        "inner",
    )


def _dense_counts(events: DataFrame, unit: str, col: str) -> DataFrame:
    """(event_type, lo, ``col``, c): each event type's event count per
    ``unit`` (``day`` or ``hour``, truncated from ``ts``) on the DENSE
    grid from the type's first unit ``lo`` to its last — a missing unit
    is a true zero, not a dropped point.  The (type, unit) count is the
    only fact-sized work; the grid explode and the zero-filling left
    join run on the |types|·|units| dimension frame."""
    counts = events.groupBy(
        F.col("event_type"), F.date_trunc(unit, F.col("ts")).alias(col)
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = counts.groupBy("event_type").agg(
        F.min(col).alias("lo"), F.max(col).alias("hi")
    )
    return (
        bounds.select(
            "event_type",
            "lo",
            F.explode(F.expr(f"sequence(lo, hi, interval 1 {unit})")).alias(col),
        )
        .join(counts, ["event_type", col], "left")
        .select("event_type", "lo", col, F.coalesce("c", F.lit(0)).alias("c"))
    )


def _life_table(orders: DataFrame, bin_days: int) -> DataFrame:
    """The right-censored repeat-purchase life table on ``bin_days``
    bins: (bin_start_days, n_events, n_censored, n_at_risk).  Each gap
    between a customer's consecutive orders is an observed event; the
    span from the customer's LAST order to the horizon (the latest
    order date) is censored.  n_at_risk is every span minus those of
    the earlier bins (0-risk bins stay; callers filter them).

    One (custkey)-partitioned lead() window over orders; the bin frame
    (≤|horizon/bin| rows) is checkpointed, and the unpartitioned
    windows over it are bounded by the bin count."""
    wc = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    horizon = orders.agg(F.max(F.col("o_orderdate")).alias("hz"))
    spans = (
        orders.select(
            "o_custkey",
            "o_orderdate",
            F.lead("o_orderdate", 1).over(wc).alias("next_date"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("next_date").isNotNull(),
                F.datediff(F.col("next_date"), F.col("o_orderdate")),
            )
            .otherwise(F.datediff(F.col("hz"), F.col("o_orderdate")))
            .alias("days"),
            F.col("next_date").isNotNull().alias("observed"),
        )
    )
    bins = iter_checkpoint(
        spans.groupBy(
            (F.floor(F.col("days") / bin_days) * bin_days).alias(
                "bin_start_days"
            )
        ).agg(
            F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias(
                "n_events"
            ),
            F.sum(F.when(F.col("observed"), 0).otherwise(1)).alias(
                "n_censored"
            ),
        )
    )
    earlier = Window.orderBy(F.col("bin_start_days").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = bins.agg(
        F.sum(F.col("n_events") + F.col("n_censored")).alias("tot")
    )
    return bins.crossJoin(F.broadcast(total)).select(
        "bin_start_days",
        "n_events",
        "n_censored",
        (
            F.col("tot")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(earlier),
                F.lit(0),
            )
        ).alias("n_at_risk"),
    )


def _double_rank(c: str, order: str) -> Column:
    """Twice the average rank of a tied block, on a frame of one row per
    distinct ``order`` value holding its count ``c``:
    dr = 2·(rows before the block) + c + 1, always an integer.  The
    window is unpartitioned; it runs on the ≤|distinct values| frame
    (the census-pinned post-aggregation single-partition pattern)."""
    before = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
    return 2 * F.coalesce(F.sum(c).over(before), F.lit(0)) + F.col(c) + 1


def _daily_revenue(orders: DataFrame) -> DataFrame:
    """(d, y): exact DECIMAL(18,2) order revenue per order date,
    checkpointed for callers that read it more than once (each read
    would otherwise replay the fact scan).  NULL dates are excluded: a
    null day would count toward the series but hold no date."""
    return iter_checkpoint(
        orders.where(F.col("o_orderdate").isNotNull())
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    )


def _quantity_discount_cells(lineitem: DataFrame) -> DataFrame:
    """(x, y, n): the line count per (quantity, discount) cell on the
    cent grid, checkpointed for callers that read it more than once
    (each read would otherwise replay the fact scan).  NULLs are
    excluded: Spark windows order NULLS FIRST where DuckDB orders NULLS
    LAST, so a NULL cell would rank apart on the two engines."""
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_discount").cast("decimal(12,2)")
    return iter_checkpoint(
        lineitem.where(
            F.col("l_quantity").isNotNull() & F.col("l_discount").isNotNull()
        )
        .groupBy(x.alias("x"), y.alias("y"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _mk_s(daily: DataFrame, pair: Column) -> DataFrame:
    """The Mann-Kendall S = Σ sign(y_b − y_a) over the pairs of the
    (d, y) ``daily`` frame, aliased ``a`` and ``b``, that satisfy
    ``pair`` (0 with no pair): a 1-row frame (s_stat)."""
    a, b = daily.alias("a"), daily.alias("b")
    return a.join(b, pair).agg(
        F.coalesce(
            F.sum(F.signum(F.col("b.y") - F.col("a.y")).cast("long")),
            F.lit(0),
        ).alias("s_stat")
    )


def _mk_term(t: str) -> Column:
    """t(t−1)(2t+5) of the count column ``t`` in exact DECIMAL(38,0):
    the Mann-Kendall variance term of a series of t points (18·Var(S)
    with no ties) and of a tied block of size t."""
    return F.col(t).cast(_DEC) * (F.col(t) - 1) * (2 * F.col(t) + 5)


def _mk_z(var: Column) -> Column:
    """The continuity-corrected Mann-Kendall z of s_stat with variance
    ``var``: the ±1 pulls |S| toward 0 (z = 0 at S = 0).  NULL when
    n_days < 2 or the variance is 0 (every count tied)."""
    sd = F.col("s_stat").cast("double")
    return F.when(
        F.col("n_days") > 1,
        F.when(
            var > 0,
            F.when(F.col("s_stat") > 0, (sd - 1) / F.sqrt(var))
            .when(F.col("s_stat") < 0, (sd + 1) / F.sqrt(var))
            .otherwise(F.lit(0.0)),
        ),
    )


def funnel_steps(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered funnel: how many users completed each step AFTER their
    earliest completion of the previous step (classic earliest-
    completion semantics, strict ordering).

    Plan: ONE scan of the step-pruned events and ONE shuffle on
    user_id — per user, the sorted event-time array of each step is
    collected, and the sequential earliest-completion chain (t_i = min
    step-i time strictly after t_{i-1}) evaluates ROW-LOCALLY with
    array HOFs; the per-step user counts collapse in a final 1-row
    aggregate.  The previous formulation re-executed each step's whole
    join chain per count — O(k²) scans of events for k steps; this is
    O(1) scans, and per-user state is bounded by that user's own
    funnel-event count (the same bound sessionization carries)."""
    if not steps:
        raise ValueError("steps must be non-empty")
    per_user = (
        events.where(F.col("event_type").isin(*steps))
        .groupBy("user_id")
        .agg(
            *[
                F.sort_array(
                    F.collect_list(F.when(F.col("event_type") == s, F.col("ts")))
                ).alias(f"_ts_{i}")
                for i, s in enumerate(steps)
            ]
        )
    )

    def _next_after(arr, prev):
        # earliest element strictly after prev; null prev (step i-1 not
        # reached) nulls the comparison, empties the filter, and
        # array_min(empty) = null — unreachable propagates correctly
        return F.array_min(F.filter(arr, lambda x: x > prev))

    # F.get (0-based) returns null on an empty array; element_at THROWS
    # under default-on ANSI for any user who has later-step events but
    # no step-0 event
    t = F.get(F.col("_ts_0"), 0)
    step_ts = [t]
    for i in range(1, len(steps)):
        t = _next_after(F.col(f"_ts_{i}"), t)
        step_ts.append(t)
    counts = per_user.agg(
        *[
            F.coalesce(F.sum(step_ts[i].isNotNull().cast("long")), F.lit(0)).alias(
                f"_n_{i}"
            )
            for i in range(len(steps))
        ]
    )
    # one row per step via inline() over literal structs — no SQL-string
    # interpolation, so step names with quotes/backslashes (or a parser
    # running escapedStringLiterals) can't corrupt the plan
    step_rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(s).alias("step"),
                F.col(f"_n_{i}").alias("n_users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.inline(step_rows)).orderBy("step_idx")


def retention_cohorts(events: DataFrame, cohort_type: str = "signup") -> DataFrame:
    """Weekly retention triangle: users grouped by the week of their
    first ``cohort_type`` event, counted once per subsequent week they
    show ANY activity.

    Plan: first-seen week is one min-aggregate per user; activity weeks
    are a (user, week) distinct; one |users|-sized join keys them
    together and the triangle is a final groupBy — three linear
    shuffles on user_id/(cohort, offset), nothing pairwise.  Weeks are
    Monday-truncated dates, offset = whole weeks since cohort entry
    (activity before the cohort event is excluded)."""
    # weeks stay TIMESTAMP (Monday 00:00), not DATE — the oracle compare
    # renders dates and timestamps differently across engines
    week = F.date_trunc("week", F.col("ts"))
    activity = events.select("user_id", week.alias("week")).distinct()
    return (
        _since_cohort(activity, events, cohort_type)
        .select("user_id", "cohort_week", _week_offset())
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def cohort_revenue(events: DataFrame, cohort_type: str = "signup") -> DataFrame:
    """Weekly cohort REVENUE triangle — the LTV companion of
    ``retention_cohorts``: purchase value summed per (cohort week,
    weeks-since-entry), the matrix whose row-cumsum is lifetime value
    by cohort age.

    Same three-linear-shuffle shape as the retention triangle (first
    purchase... first cohort event per user, one |users| join, one
    final groupBy); revenue sums in exact DECIMAL so the triangle is
    bit-identical across engines."""
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    return (
        _since_cohort(purchases, events, cohort_type)
        .groupBy("cohort_week", _week_offset())
        .agg(
            F.countDistinct("user_id").alias("n_buyers"),
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("v").cast("double").alias("revenue"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def repeat_purchase_intervals(orders: DataFrame) -> DataFrame:
    """Per-customer repeat-order cadence: gaps in days between
    consecutive orders (by order date, order-key tiebreak) reduced to
    count/min/avg/max — the reorder-rate input of any retention model.

    One customer-keyed shuffle shared by the lag window and the
    closing groupBy; gaps are exact datediff integers, so the average
    (an integer quotient of identical ints) matches bit-for-bit."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate", 1).over(w)
        ).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_days").alias("min_gap_days"),
            ratio_round(F.avg("gap_days"), 4).alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy("o_custkey")
    )


def multi_touch_attribution(
    events: DataFrame, lookback: str = "1 day"
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each purchase
    splits its value across the same-user clicks in the ``lookback``
    window ending at the purchase — 100% to a lone touch, 50/50 for
    two, else 40% first / 40% last / 20% shared equally by the middle
    touches.  The standard marketing-attribution model, expressed as
    one interval join (shuffle on user_id, range predicate applied in
    the join) plus one window keyed by purchase — no event-stream
    self-join ever materializes beyond the matched pairs.

    Touch order is (click_ts, click_id) — a total order, so ranks and
    credits are deterministic.  Credit is rounded at the output edge
    (both engines compute value·weight from identical doubles).
    """
    pairs = _click_purchase_pairs(events, lookback)
    w = Window.partitionBy("purchase_id").orderBy("click_ts", "click_id")
    wn = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "user_id", "purchase_id", "purchase_value", "click_id", "click_ts",
        F.row_number().over(w).alias("touch_rank"),
        F.count(F.lit(1)).over(wn).alias("n_touches"),
    )
    n = F.col("n_touches")
    r = F.col("touch_rank")
    weight = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((r == 1) | (r == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return ranked.select(
        "user_id", "purchase_id", "click_id", "touch_rank", "n_touches",
        ratio_round(F.col("purchase_value") * weight, 4).alias("credit"),
    )


def event_transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    every (event_type → next event_type) edge observed within a user's
    timeline, the transition count and row-normalized probability —
    the clickstream "what happens after X" report, and the input to
    next-action models.

    One user-keyed window (lead over the user's total event order) and
    one tiny groupBy on the |types|² edge space; the probability is a
    ratio-to-report window over the AGGREGATED frame, so the second
    window touches |types|² rows, never the raw stream.  Counts are
    exact integers; the probability quotient of identical integers is
    bit-identical across engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counted = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_total = Window.partitionBy("from_type")
    return counted.select(
        "from_type",
        "to_type",
        "n_transitions",
        ratio_round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(row_total),
            6,
        ).alias("probability"),
    ).orderBy("from_type", "to_type")


def time_decay_attribution(
    events: DataFrame, lookback_days: int = 7, half_life_days: int = 1
) -> DataFrame:
    """Time-decay multi-touch attribution — the recency-weighted
    companion of the U-shaped model: each purchase splits its value
    over the same-user clicks in the lookback window with weight
    halving per ``half_life_days`` of age, so yesterday's click earns
    twice the credit of the day before's.

    Numeric design: the raw weight is 2^(−⌊age_days/half_life⌋) — an
    EXACT power of two, so the per-purchase weight sum is exact in
    binary floating point REGARDLESS of summation order (every term is
    a multiple of the smallest one and the total stays far under 2^53
    ulps).  A continuous exp(−λ·Δt) decay would make the denominator
    depend on each engine's reduction order and libm exp ulps; the
    day-bucketed form keeps the oracle bit-identical while preserving
    the model's shape.  Same plan as ``multi_touch_attribution``: one
    user-keyed interval join, one purchase-keyed window, credits
    rounded at the output edge."""
    pairs = _click_purchase_pairs(events, f"{lookback_days} DAYS")
    day_us = 86_400_000_000
    age_buckets = F.expr(
        f"(unix_micros(purchase_ts) - unix_micros(click_ts)) "
        f"DIV {day_us * half_life_days}"
    )
    h = F.pow(F.lit(2.0), -age_buckets.cast("double"))
    wn = Window.partitionBy("purchase_id")
    weighted = pairs.select(
        "user_id", "purchase_id", "purchase_value", "click_id", "click_ts",
        h.alias("h"),
    )
    return weighted.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.col("h").alias("decay_weight"),
        ratio_round(
            F.col("purchase_value") * F.col("h") / F.sum("h").over(wn), 4
        ).alias("credit"),
    )


def copurchase_rules(
    lineitem: DataFrame, min_support: int = 5, top_n: int = 50
) -> DataFrame:
    """Market-basket association mining over order line items: part
    pairs that co-occur in ≥ ``min_support`` orders, with the classic
    rule statistics — support count, per-part basket counts, confidence
    P(b|a), and lift.

    Scale shape: the pair generator is a SELF-JOIN ON THE BASKET KEY
    (l_orderkey) — bounded blow-up because basket size is bounded
    (TPC-H orders hold ≤7 lines; a retail basket tens), so the join
    output is Σ C(|basket|, 2), linear in orders, never |parts|².
    Distinct-part-per-basket dedup happens BEFORE the join (a part
    twice in one order must not self-pair).  Per-part basket counts
    join back on the tiny surviving-pair frame; the order total rides
    a broadcast 1-row aggregate.  Ranking is by exact support count
    (then pair), never the float lift; confidence and lift are
    reported values, quotients of identical exact ints."""
    baskets = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    part_counts = baskets.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    n_orders = baskets.select("okey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_together"))
        .where(F.col("n_together") >= min_support)
    )
    conf = F.col("n_together").cast("double") / F.col("n_a")
    lift = (
        F.col("n_together").cast("double")
        * F.col("n_orders").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        pairs.join(
            part_counts.select(
                F.col("pk").alias("part_a"), F.col("n_baskets").alias("n_a")
            ),
            "part_a",
        )
        .join(
            part_counts.select(
                F.col("pk").alias("part_b"), F.col("n_baskets").alias("n_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_together",
            "n_a",
            "n_b",
            ratio_round(conf, 6).alias("confidence_a_to_b"),
            ratio_round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("n_together").desc(), "part_a", "part_b")
        .limit(top_n)
    )


def value_outliers_exact(events: DataFrame, z_threshold: int = 3) -> DataFrame:
    """Per-user z-score outlier count with an EXACT decision rule: an
    event is an outlier when |value − mean| > z·stddev_samp of that
    user's values.  Naively this compares floats whose last-ulp
    differences vary by engine and summation order; here the predicate
    is algebraically cleared of divisions and square roots —

        (n·v − S)² · (n−1)  >  z² · n · (n·Q − S²)

    with S = Σv and Q = Σv² carried as exact decimals of the cents
    grid — so the outlier SELECTION is bit-deterministic across
    engines.  Two passes: one map-side-combining moment aggregate per
    user, broadcast-joined back over the scan for the per-event test.

    Scale note: the exact-decimal squares bound the usable value/count
    range (≈1e9 cents × 1e9 rows before decimal(38) saturates); at
    100 TB the same two-pass shape runs on double moments with a
    tolerance band around the threshold — this exact form exists so
    the oracle can pin the cross-engine contract."""
    v = F.col("value").cast("decimal(18,2)")
    moments = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("q"),
    )
    n = F.col("n").cast("decimal(38,0)")
    s = F.col("s").cast("decimal(38,2)")
    q = F.col("q").cast("decimal(38,4)")
    lhs = (n * v - s)
    # decimal multiplication precision clamps at 38: keep each factor's
    # scale minimal before squaring (values are cents-grid, so scale 2
    # suffices; the comparison is exact while magnitudes stay < 1e17)
    outlier = (lhs * lhs * (n - 1)) > (
        F.lit(z_threshold * z_threshold) * n * (n * q - s * s)
    )
    return (
        events.join(moments, "user_id")
        .where(F.col("n") >= 3)
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.sum(outlier.cast("long")).alias("n_outliers"),
        )
        .orderBy("user_id")
    )


def revenue_gini_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Revenue-concentration (Gini coefficient) of customer spend per
    nation — the inequality measure a marketplace-health dashboard
    tracks.  Gini = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over each nation's
    customers with spend x sorted ascending (rank ties broken by
    custkey — a total order, so ranks are deterministic).

    One fact aggregate (customer spend), one broadcast dim join, a
    DISTRIBUTED two-pass rank (round-9 verdict item 4 — a plain
    nation-partitioned window caps parallelism at |nations| and sorts a
    mega-nation's customers in ONE task), one closing groupBy sharing
    the nation key.  Every term is exact (bigint rank × decimal spend);
    the division to a double happens once at the output edge.

    The rank is ``scale.distributed_rank`` — percentile-bucketed
    (nation, bucket) decomposition: parallelism |nations|·n_buckets,
    largest sort task shrunk by n_buckets at any skew, exact ranks
    regardless of cutpoint accuracy (mechanics + proof sketch in the
    helper's docstring and DESIGN.md "Distributed exact rank")."""
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    # nation broadcasts (25 rows); customer does NOT — it scales with
    # the data, so spend⋈customer is a plain key join AQE can size
    keyed = spend.join(
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        ).select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("n_name").alias("nation"),
        ),
        "o_custkey",
    )
    ranked = distributed_rank(
        keyed, "x", "o_custkey", part_cols=["nation"], out_col="i"
    ).select("nation", "x", "i")
    return (
        ranked.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("x").cast("double").alias("total_revenue"),
            (
                (
                    F.lit(2) * F.sum(F.col("i") * F.col("x"))
                    - (F.count(F.lit(1)) + 1) * F.sum("x")
                ).cast("double")
                / (F.count(F.lit(1)) * F.sum("x")).cast("double")
            ).alias("gini_raw"),
        )
        .select(
            "nation",
            "n_customers",
            F.round("total_revenue", 2).alias("total_revenue"),
            ratio_round(F.col("gini_raw"), 6).alias("gini"),
        )
        .orderBy("nation")
    )


def rfm_customer_segments(orders: DataFrame) -> DataFrame:
    """RFM segmentation — the classic customer-value census: per
    customer, Recency (last order date), Frequency (order count),
    Monetary (lifetime spend), each scored into exact rank quintiles
    1-5 (5 = most recent / most frequent / highest spend), concatenated
    into the familiar three-digit segment label.

    Quintiles are RANK-based (score = 1 + ⌊5·(rank−1)/n⌋ with a custkey
    tiebreak), not value-percentile-based — rank quintiles are exactly
    reproducible cross-engine where value cutpoints tie-break
    ambiguously on duplicate metric values.  Every rank is
    ``scale.distributed_rank`` (percentile-bucketed decomposition — no
    single-task sort of the whole customer spine at any skew), run on
    the AGGREGATED per-customer frame and joined back on the customer
    key, so the three rank passes share narrow inputs.  The customer
    count broadcasts as a single-row stats frame."""
    m = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order_date"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_spend"),
        )
        # dates rank via their day ordinal (monotone; the sketch pass
        # needs a numeric), the output keeps the date itself
        .withColumn(
            "last_days", F.datediff("last_order_date", F.lit("1970-01-01"))
        )
    )

    def rank_of(col: str, out: str) -> DataFrame:
        return distributed_rank(
            m.select("o_custkey", col), col, "o_custkey", out_col=out
        ).select("o_custkey", out)

    n_frame = m.agg(F.count(F.lit(1)).alias("__n_cust"))
    scored = (
        m.join(rank_of("last_days", "__rr"), "o_custkey")
        .join(rank_of("n_orders", "__fr"), "o_custkey")
        .join(rank_of("total_spend", "__mr"), "o_custkey")
        .crossJoin(F.broadcast(n_frame))
    )

    def quintile(rank_col: str) -> Column:
        return (
            F.lit(1)
            + F.floor(
                F.lit(5) * (F.col(rank_col) - 1) / F.col("__n_cust")
            )
        ).cast("int")

    r, f_, mo = quintile("__rr"), quintile("__fr"), quintile("__mr")
    return scored.select(
        "o_custkey",
        "last_order_date",
        "n_orders",
        "total_spend",
        r.alias("r_score"),
        f_.alias("f_score"),
        mo.alias("m_score"),
        F.concat(
            r.cast("string"), f_.cast("string"), mo.cast("string")
        ).alias("rfm_segment"),
    ).orderBy("o_custkey")


def quantile_normalize_values(events: DataFrame) -> DataFrame:
    """Empirical-CDF quantile normalization of event values per event
    type — the feature-engineering transform that maps a heavy-tailed
    metric onto [0, 1] before modeling: qnorm = (rank−1)/(n−1) with the
    rank taken within the event's type (event_id tiebreak, so ties are
    deterministic and the mapping is a pure function of the data).

    The rank is ``scale.distributed_rank`` — event types are FEW and
    huge, the exact skew case a type-partitioned window serializes;
    per-type counts broadcast as a tiny frame.  A single-member type
    maps to 0.0 (the n=1 guard both engines share)."""
    ranked = distributed_rank(
        events.select(
            "event_id", "event_type", F.col("value").cast("double").alias("value")
        ),
        "value",
        "event_id",
        part_cols=["event_type"],
        out_col="__rk",
    )
    counts = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.join(F.broadcast(counts), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                F.when(
                    F.col("__n") > 1,
                    (F.col("__rk") - 1).cast("double") / (F.col("__n") - 1),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("qnorm"),
        )
        .orderBy("event_id")
    )


def daily_user_accumulation(events: DataFrame) -> DataFrame:
    """Daily active / new / cumulative user counts — the DAU & growth
    curve.  A naive running COUNT(DISTINCT) over an expanding window
    re-scans history per day; the scalable form is first-seen
    decomposition: one min-aggregate per user gives each user's first
    day, daily actives are a (day, user) distinct count, and the
    cumulative curve is a running sum over the |days|-row aggregated
    frame — the unkeyed window touches days, never events.  All counts
    exact integers."""
    day = F.date_trunc("day", F.col("ts"))
    actives = (
        events.select(day.alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    news = (
        events.groupBy("user_id")
        .agg(F.min(day).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        actives.join(news, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w))
        .orderBy("day")
    )


def sliding_distinct_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling ``window_days``-day distinct-user count per calendar day
    and event type — the per-surface WAU curve
    (`events_sliding_distinct_users`).

    A windowed COUNT(DISTINCT) cannot run as a running aggregate
    (distinct is not subtractable), and re-scanning the trailing week
    per day reads the stream |days| times.  The scalable form inverts
    containment: each distinct (type, day, user) triple CONTRIBUTES to
    the w target days [day, day+w), materialized as a row-local
    ``sequence`` explode — shuffle volume is w·|type-user-days|,
    independent of per-day event volume, and history is never
    rescanned.  Days inside the global observed span with no window
    activity for a type still appear (count 0) via the |types|·|days|
    grid built from the 1-row global bounds aggregate and the distinct
    type list; target days past the span are clipped so every reported
    day aggregates a fully-defined trailing window."""
    if not isinstance(window_days, int) or window_days < 1:
        raise ValueError(
            f"sliding_distinct_users: window_days must be a positive "
            f"int, got {window_days!r}"
        )
    day = F.date_trunc("day", F.col("ts"))
    pairs = events.select(
        "event_type", day.alias("day"), "user_id"
    ).distinct()
    bounds = pairs.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = (
        pairs.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.expr(
                    f"sequence(day, day + interval {window_days - 1} days,"
                    " interval 1 day)"
                )
            ).alias("day"),
            "user_id",
            "hi",
        )
        .where(F.col("day") <= F.col("hi"))
    )
    counts = contrib.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").alias("active_users_w")
    )
    grid = (
        events.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                bounds.select(
                    F.explode(
                        F.expr("sequence(lo, hi, interval 1 day)")
                    ).alias("day")
                )
            )
        )
    )
    return (
        grid.join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("active_users_w", F.lit(0)).alias("active_users_w"),
        )
        .orderBy("event_type", "day")
    )


def _lit_map(d: dict, col: str = "event_type"):
    """Event-type-keyed form of :func:`~parcial_bigdata_spark.
    operators.scale.lit_lookup` (the ≤|types| bounded-dict contract) —
    keeps each selection pass a single scan→agg job."""
    return lit_lookup(d, col)


def _sketch_exact_median(
    df: DataFrame,
    val_col: str,
    id_col: str,
    accuracy: int = 10000,
) -> tuple[dict, dict]:
    """EXACT per-type lower-middle median — the value at rank
    floor((n+1)/2) under a (value, id) total order — WITHOUT ranking
    the full stream (round-11 verdict item 3).  Returns driver-side
    ``(median_by_type, n_by_type)`` dicts, bounded by the few-types
    contract (the same bounded-collect budget the previous
    ``iter_checkpoint``-ed ≤|types|-row frames lived under).

    The GK sketch behind ``percentile_approx`` guarantees the value it
    reports at quantile p has true rank within p·n ± n/accuracy, so
    the cutpoints at 0.5 ∓ 2/accuracy bracket the target rank m from
    strictly below and above.  Three single-scan jobs: (1) per-type
    count + the two cutpoints (one sketch, array percentiles); (2)
    exact strictly-below and in-band counts under LITERAL cutpoints —
    which also VERIFIES the bracket; (3) exact (value, id) rank inside
    the ~4n/accuracy-row band only.  Job 2's exact band sizes pick
    job 3's strategy: a plain type-partitioned window while every
    band fits one task comfortably (≤2²⁰ rows — the usual case, and
    ~5× cheaper in fixed overhead than the bucketed rank at toy
    scale), else ``distributed_rank`` so even a duplicate-heavy band
    (every value equal to a cutpoint) never serializes per type.  A
    violated bracket — which GK does not permit, but the check is
    free — falls back to the full-stream rank, so the result is
    exact at ANY input while the hot path never shuffles the stream.
    """
    eps = 2.0 / accuracy
    sk = df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.percentile_approx(
            val_col, [max(0.0, 0.5 - eps), min(1.0, 0.5 + eps)], accuracy
        ).alias("__q"),
    ).collect()
    # defensive: a group whose values are all NULL has no sketch (the
    # mad_outliers caller pre-filters NULLs; other callers may not)
    sk = [r for r in sk if r["__q"] is not None]
    if not sk:
        return {}, {}
    n_by = {r["event_type"]: r["__n"] for r in sk}
    m_by = {t: (n + 1) // 2 for t, n in n_by.items()}
    lo_e = _lit_map({r["event_type"]: r["__q"][0] for r in sk})
    hi_e = _lit_map({r["event_type"]: r["__q"][1] for r in sk})
    in_band = (F.col(val_col) >= lo_e) & (F.col(val_col) <= hi_e)
    cnt = df.groupBy("event_type").agg(
        F.sum((F.col(val_col) < lo_e).cast("long")).alias("__lt"),
        F.sum(in_band.cast("long")).alias("__band"),
    ).collect()
    lt_by = {r["event_type"]: r["__lt"] for r in cnt}
    bracket_ok = all(
        r["__lt"] < m_by[r["event_type"]] <= r["__lt"] + r["__band"]
        for r in cnt
    )
    if bracket_ok:
        band = df.where(in_band).select(id_col, "event_type", val_col)
        if max(r["__band"] for r in cnt) <= (1 << 20):
            ranked = band.withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy(
                        F.col(val_col), F.col(id_col)
                    )
                ),
            )
        else:
            ranked = distributed_rank(
                band,
                val_col,
                id_col,
                part_cols=["event_type"],
                out_col="__rk",
            )
        sel_df = ranked.where(
            F.col("__rk") == _lit_map({t: m_by[t] - lt_by[t] for t in m_by})
        )
    else:  # GK guarantee violated — exact full-stream rank instead
        sel_df = distributed_rank(
            df, val_col, id_col, part_cols=["event_type"], out_col="__rk"
        ).where(F.col("__rk") == _lit_map(m_by))
    sel = sel_df.select("event_type", val_col).collect()
    return {r["event_type"]: r[val_col] for r in sel}, n_by


def mad_outliers(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-event-type robust outlier profile via the median absolute
    deviation — the MAD rule (|v − median| > k·MAD) is the robust
    sibling of the z-score gate in :func:`value_outliers_exact`; unlike
    moments, its cut survives the heavy tails it is screening.

    Cross-engine exactness: both medians are RANK-SELECTED (the value
    at row_number floor((n+1)/2) under a (value, event_id) total
    order) — the lower-middle ELEMENT, never an interpolated average —
    so every reported statistic is an input value or one IEEE
    subtraction of two, and the outlier predicate (one multiply, one
    compare) is bit-deterministic across engines.

    Scale (round-11 verdict item 3 — was two FULL ``distributed_rank``
    passes, i.e. two full-stream shuffles, measured 4.0 s at sf0.1):
    each median is now SKETCH-GUIDED EXACT SELECTION.  A map-side
    ``percentile_approx`` pass brackets the target rank m with two
    cutpoints whose GK rank-error guarantee (±n/accuracy) proves the
    median lies between them; one broadcast-cutpoint scan counts the
    strictly-below rows and extracts the candidate band (~4n/accuracy
    rows per type); the exact (value, event_id) rank runs INSIDE THE
    BAND ONLY, on :func:`~parcial_bigdata_spark.operators.scale.
    distributed_rank` so even the band never serializes per type.  The
    bracket is VERIFIED from the ≤|types|-row stats frame (a bounded
    collect by contract); a violated guarantee — which GK does not
    permit, but the check costs nothing — falls back to the full rank
    pass for exactness at any input.  Net: zero full-stream shuffles;
    the event stream is only ever scanned with map-side aggregation or
    a band filter.  The ≤|types| medians ride LITERAL lookup
    expressions between passes (no broadcast exchange, no checkpoint
    job), so the whole operator is six single-scan jobs plus the
    returned final aggregate.

    NULL values and NULL event types are excluded up front (round-11
    review): a median over NULLs is undefined, an all-NULL type would
    leave the sketch bracket empty, and a NULL type key cannot ride
    the literal lookup map — the robust profile covers the measurable
    events, with n_events counting exactly those."""
    vals = events.select(
        "event_id", "event_type", F.col("value").cast("double").alias("v")
    ).where(F.col("v").isNotNull() & F.col("event_type").isNotNull())
    med_by, _ = _sketch_exact_median(vals, "v", "event_id")
    if not med_by:  # empty input: keep the output schema
        return vals.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("v").alias("median_value"),
            F.max("v").alias("mad"),
            F.count(F.lit(1)).alias("n_outliers"),
        )
    devs = vals.select(
        "event_id",
        "event_type",
        F.abs(F.col("v") - _lit_map(med_by)).alias("__dev"),
    )
    mad_by, _ = _sketch_exact_median(devs, "__dev", "event_id")
    return (
        devs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(_lit_map(med_by)).alias("median_value"),
            F.max(_lit_map(mad_by)).alias("mad"),
            F.sum(
                (
                    F.col("__dev") > F.lit(float(k)) * _lit_map(mad_by)
                ).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def activity_streaks(events: DataFrame) -> DataFrame:
    """Per-user consecutive-day activity streaks — the gaps-and-islands
    pattern (`events_activity_streaks`): longest run of consecutive
    active days, streak count, and total active days per user.

    The island key is the classic rn-difference: within a user, rank
    the distinct active days; day_index − rank is CONSTANT exactly
    while days are consecutive, so it labels each streak without any
    self-join or iterative pass.  Day arithmetic runs on integer day
    indexes (datediff from a fixed epoch) — no interval arithmetic to
    diverge between engines.

    Scale: the user-keyed window and both groupBys hash on keys with
    user_id as prefix; the stream is pre-collapsed to distinct
    (user, day) pairs first, so every later stage touches at most
    |users|·|days| rows regardless of per-day event volume."""
    day_idx = F.datediff(
        F.date_trunc("day", F.col("ts")), F.lit("2024-01-01").cast("date")
    )
    pairs = events.select("user_id", day_idx.alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = pairs.withColumn(
        "anchor", F.col("d") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
        )
        .orderBy("user_id")
    )


def user_behavior_entropy(events: DataFrame) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix
    (`events_user_entropy`) — the behavioral-diversity score: 0 for a
    single-action user, ln(k) for a uniform k-way mix; the feature
    that separates bots (degenerate mixes) from organic users.

    Determinism with logs: H = ln(n) − (Σ c·ln c)/n where every c is an
    exact count, and the Σ folds SEQUENTIALLY over the per-user count
    array sorted by event type — a fixed evaluation order both engines
    share, so the only cross-engine surface is ln itself (agreeing far
    below the round-4 output edge, the word-entropy precedent).

    Scale: one (user, type) count groupBy, one user-keyed collect of a
    ≤|event types| array, row-local fold — never a per-event log."""
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = counts.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.array_sort(
            F.collect_list(F.struct("event_type", "c"))
        ).alias("__cs"),
    )
    sum_clnc = F.aggregate(
        "__cs",
        F.lit(0.0),
        lambda acc, s: acc + s["c"].cast("double") * F.log(s["c"].cast("double")),
    )
    n = F.col("n_events").cast("double")
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(F.log(n) - sum_clnc / n, 4).alias("entropy"),
    ).orderBy("user_id")


def interarrival_histogram(events: DataFrame) -> DataFrame:
    """Power-of-two inter-arrival-time histogram per event type
    (`events_interarrival_hist`) — the latency/cadence distribution a
    monitoring stack reads before setting session gaps and watermark
    delays.  Gaps are exact integer seconds from microsecond
    arithmetic; buckets are the binary digit count of (gap_s + 1) — no
    float log — so the histogram is bit-deterministic.

    One user-keyed lag window (gaps are per USER within type, never
    across users) + one small bucket aggregate."""
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = events.select(
        "event_type",
        ((us - F.lag(us, 1).over(w)) / 1_000_000).cast("long").alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    bucket = (F.length(F.conv(F.col("gap_s") + 1, 10, 2)) - 1).cast("int")
    return (
        gaps.select("event_type", bucket.alias("log2_bucket"), "gap_s")
        .groupBy("event_type", "log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("event_type", "log2_bucket")
    )


def hourly_autocorrelation(events: DataFrame, lags=(1, 24)) -> DataFrame:
    """Lag-L autocorrelation of the hourly event-count series per type
    (`events_hourly_autocorr`) — the seasonality/self-similarity readout
    a capacity planner checks before trusting an hourly forecast: lag-1
    says how smooth the series is, lag-24 whether a daily cycle exists.

    EXACT-integer Pearson: the series is the DENSE hourly grid between
    each type's first and last event (missing hours are true zeros —
    excluding them biases r toward busy periods), so every input is an
    integer count; Σx, Σy, Σxy, Σx², Σy² accumulate in decimal(38,0)
    (order-free, overflow-free), and
    r = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²) · (nΣy² − (Σy)²)) is ONE
    fixed IEEE op sequence over the exact sums — sqrt is correctly
    rounded by IEEE-754, so both engines emit the identical double
    before the shared round-6.  A constant series (zero variance)
    reports NULL.

    Scale: one map-side-combining groupBy to the (type, hour) grain;
    the grid explode, the lag self-join, and the closing sums all live
    on the |types|·|hours| DIMENSION-sized series, never on raw
    events.  The series frame is ``iter_checkpoint``-materialized: it
    feeds both sides of every lag's self-join (2·|lags| consumers) and
    each would otherwise replan the raw-event aggregate."""
    series = iter_checkpoint(_dense_counts(events, "hour", "h").drop("lo"))
    out = None
    for lag in lags:
        a = series.select(
            "event_type", F.col("h").alias("ha"), F.col("c").alias("x")
        )
        b = series.select(
            "event_type",
            F.expr(f"h - interval {int(lag)} hours").alias("ha"),
            F.col("c").alias("y"),
        )
        dec = lambda col: F.col(col).cast(_DEC)  # noqa: E731
        sums = (
            a.join(b, ["event_type", "ha"])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum(dec("x")).alias("sx"),
                F.sum(dec("y")).alias("sy"),
                F.sum(dec("x") * dec("y")).alias("sxy"),
                F.sum(dec("x") * dec("x")).alias("sxx"),
                F.sum(dec("y") * dec("y")).alias("syy"),
            )
        )
        num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        )
        vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
        r = F.when(
            (vx > 0) & (vy > 0),
            ratio_round(num / F.sqrt(vx * vy), 6),
        )
        lag_out = sums.select(
            "event_type",
            F.lit(int(lag)).alias("lag_hours"),
            F.col("n").cast("long").alias("n_pairs"),
            r.alias("autocorr"),
        )
        out = lag_out if out is None else out.unionByName(lag_out)
    return out.orderBy("event_type", "lag_hours")


def order_backlog_timeseries(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Daily open-order backlog (`orders_backlog_timeseries`): orders
    enter the backlog on their order date and leave when their LAST
    line ships (max l_shipdate per order) — the classic fulfillment
    work-in-progress series an operations dashboard tracks.  Orders
    with no lines never complete and stay in the backlog tail.

    Exact: +1/−1 integer deltas per date, one cumulative sum — the
    event-differencing form of interval stabbing (never a per-day
    per-order join).  Scale: one map-side max per order, one date
    grain aggregate; the cumulative window runs over the |dates|-row
    aggregate (the documented post-aggregation unkeyed-window
    pattern)."""
    # days stay TIMESTAMP (midnight), not DATE — the oracle compare
    # renders dates and timestamps differently across engines
    placed = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.count(F.lit(1)).alias("placed"))
    completed = (
        lineitem.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("done_ts"))
        .select(F.date_trunc("day", F.col("done_ts")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("completed"))
    )
    daily = (
        placed.join(completed, "day", "full")
        .select(
            "day",
            F.coalesce("placed", F.lit(0)).alias("placed"),
            F.coalesce("completed", F.lit(0)).alias("completed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "placed",
        "completed",
        F.sum(F.col("placed") - F.col("completed")).over(w).alias(
            "open_backlog"
        ),
    ).orderBy("day")


def fulfillment_percentiles(
    orders: DataFrame, lineitem: DataFrame, percentiles=(50, 90, 99)
) -> DataFrame:
    """EXACT fulfillment-latency percentiles per order priority
    (`orders_fulfillment_percentiles`): days from order date to the
    LAST line shipping, reduced to p50/p90/p99 — the SLA readout.

    The exact-percentile technique here is BOUNDED-DOMAIN COUNTING
    (deliberately different from the rank and sketch paths elsewhere):
    latency in whole days has a tiny value domain (~hundreds), so the
    full distribution is one (priority, days) count aggregate, the
    CDF is a cumulative window over that dimension-sized frame, and
    percentile p is the smallest value whose cumulative count covers
    ceil(p·n/100) — selected by the INTEGER cross-multiplication
    cum·100 ≥ p·n, never a float rank.  Exact at any data size, no
    full-stream rank or sort anywhere.

    Scale: one max-per-order map-side aggregate (|orders| rows), one
    broadcast-sized (priority, days) count frame; everything after is
    dimension-sized.  The CDF frame is ``iter_checkpoint``-materialized
    (one consumer per percentile plus the totals — each would
    otherwise replan the order-grain aggregate)."""
    done = lineitem.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("done_ts")
    )
    lat = (
        orders.join(
            done, orders["o_orderkey"] == done["l_orderkey"]
        )
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("done_ts"), F.to_date("o_orderdate")).alias(
                "days"
            ),
        )
    )
    counts = lat.groupBy("o_orderpriority", "days").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("o_orderpriority")
    cdf = iter_checkpoint(
        counts.select(
            "o_orderpriority",
            "days",
            F.sum("c").over(w).alias("cum"),
            F.sum("c").over(wt).alias("n"),
        )
    )
    out = None
    for p in percentiles:
        hit = (
            cdf.where(F.col("cum") * 100 >= F.lit(int(p)) * F.col("n"))
            .groupBy("o_orderpriority")
            .agg(F.min("days").alias(f"p{int(p)}_days"))
        )
        out = hit if out is None else out.join(hit, "o_orderpriority")
    totals = cdf.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders")
    )
    return out.join(totals, "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        *[f"p{int(p)}_days" for p in percentiles],
    ).orderBy("o_orderpriority")


def daily_change_point(events: DataFrame) -> DataFrame:
    """Single change-point detection on the daily event-count series
    per type (`events_change_point`): the split of the dense day grid
    that maximizes the between-segment variance reduction
    L·R·(mean_L − mean_R)² — the classic CUSUM/binary-segmentation
    score a monitoring stack runs when a counter steps.

    Exact ranking: counts are integers on the DENSE day grid (missing
    days are true zeros), the cumulative sums ride decimal(38,0), and
    the score's ingredients — gap = S_L·R − S_R·L, L·R — are exact
    integers; the double score gap²/(L·R·n) is ONE fixed IEEE sequence
    over them, identical cross-engine, so the argmax (tie → earlier
    day) is deterministic.  Reported means are single divisions of
    exact integers.

    Scale: one (type, day) count aggregate; the grid explode and the
    cumulative window run over the |types|·|days| dimension-sized
    series (the documented post-aggregation pattern)."""
    series = _dense_counts(events, "day", "d")
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("event_type")
    cum = series.select(
        "event_type",
        "d",
        F.sum(F.col("c").cast("decimal(38,0)")).over(w).alias("sl"),
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("l"),
        F.sum(F.col("c").cast("decimal(38,0)")).over(wt).alias("s"),
        F.count(F.lit(1)).over(wt).cast("decimal(38,0)").alias("n"),
    ).where(F.col("l") < F.col("n"))  # a split needs a non-empty right
    r = F.col("n") - F.col("l")
    gap = (F.col("sl") * r - (F.col("s") - F.col("sl")) * F.col("l")).cast(
        "double"
    )
    score = gap * gap / (
        (F.col("l") * r).cast("double") * F.col("n").cast("double")
    )
    scored = cum.select(
        "event_type",
        "d",
        "l",
        "n",
        "sl",
        "s",
        score.alias("__score"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("__score").desc(), F.col("d").asc()
    )
    best = scored.withColumn("__rk", F.row_number().over(w_best)).where(
        F.col("__rk") == 1
    )
    mean_l = F.col("sl").cast("double") / F.col("l").cast("double")
    mean_r = (F.col("s") - F.col("sl")).cast("double") / (
        F.col("n") - F.col("l")
    ).cast("double")
    return best.select(
        "event_type",
        F.col("d").alias("split_after_day"),
        F.col("l").cast("long").alias("n_days_before"),
        (F.col("n") - F.col("l")).cast("long").alias("n_days_after"),
        ratio_round(mean_l, 6).alias("mean_before"),
        ratio_round(mean_r, 6).alias("mean_after"),
        ratio_round(F.col("__score"), 6).alias("score"),
    ).orderBy("event_type")


def pareto_revenue_share(
    orders: DataFrame, quantiles=(1, 5, 10, 25)
) -> DataFrame:
    """Revenue-concentration curve points (`customers_pareto_share`):
    the share of total order revenue carried by the top q% of
    customers, for the classic q ∈ {1, 5, 10, 25} — the "do 1% of
    accounts pay the bills" readout next to the Gini coefficient (the
    curve points localize WHERE the concentration sits).

    Exact: revenue rides the integer 1e-4 grid per customer (the ABC
    convention); customers are ranked by the skew-proof
    ``distributed_rank`` on (units, custkey); top-q membership is the
    INTEGER cutoff rank > n − ceil(q·n/100) (computed with integer
    `div`); the reported share is one double division of two exact
    decimals.

    Scale: one map-side customer aggregate; the global rank
    decomposes over percentile buckets (no single-task sort); the
    per-quantile reductions are map-side sums over the ranked frame."""
    rev_units = (
        F.col("o_totalprice").cast("decimal(18,4)") * 10000
    ).cast("long")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(rev_units).cast("decimal(38,0)").alias("units")
    )
    ranked = iter_checkpoint(
        distributed_rank(per_cust, "units", "o_custkey", out_col="__rk")
    )
    totals = ranked.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("units").alias("__tot")
    )
    out = None
    for q in quantiles:
        # k = ceil(q*n/100) in integer arithmetic; top-k = rank > n-k
        k = F.expr(f"CAST((__n * {int(q)} + 99) div 100 AS BIGINT)")
        top = (
            ranked.crossJoin(F.broadcast(totals))
            .where(F.col("__rk") > F.col("__n") - k)
            .agg(
                F.lit(int(q)).alias("top_pct"),
                F.count(F.lit(1)).alias("n_customers"),
                (
                    F.sum("units").cast("double")
                    / F.first(F.col("__tot").cast("double"))
                ).alias("__share"),
            )
        )
        out = top if out is None else out.unionByName(top)
    return out.select(
        "top_pct",
        "n_customers",
        ratio_round(F.col("__share"), 6).alias("revenue_share"),
    ).orderBy("top_pct")


def ab_proportion_test(events: DataFrame) -> DataFrame:
    """Two-proportion z-test over a deterministic user hash split
    (`events_ab_proportion_test`) — the experiment readout every
    product-analytics stack runs daily: split the user base 50/50 by a
    stable hash, compare purchase-conversion rates, report the pooled
    z statistic.

    The split MUST be a pure function of user_id (not Spark's `hash`,
    which the DuckDB oracle cannot reproduce): a Knuth multiplicative
    hash on the user id reduced mod a prime, taking the variant from
    the top bit of the 32-bit product.  All arithmetic stays in int64
    (max intermediate ~2.8e15), so both engines compute the identical
    assignment at any scale.

    Exactness: every input to the z formula is an integer count
    (exposed/converted per variant); the rate difference, pooled
    variance, and z are ONE fixed IEEE sequence over those integers —
    deterministic on both engines — rounded through ratio_round(6).

    Scale: one map-side-combining groupBy to the |users| grain (the
    conversion flag is a bool_or), then a 2-row variant aggregate and
    a single-row cross of the two variants.  No window, no skew
    surface: the user grain is the natural partition key."""
    m = F.pmod(F.col("user_id"), F.lit(1048573))
    h = F.pmod(m * F.lit(2654435761), F.lit(4294967296))
    users = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.when(h < F.lit(2147483648), F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("variant"),
            "converted",
        )
    )
    per = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("conv"),
    )
    a = per.where(F.col("variant") == "A").select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = per.where(F.col("variant") == "B").select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    j = a.crossJoin(F.broadcast(b))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    pool = (ca + cb) / (na + nb)
    # degenerate pools (0% or 100% overall conversion — seen at tiny
    # scale factors) have zero pooled variance: z is undefined, not inf
    defined = (F.col("conv_a") + F.col("conv_b") > 0) & (
        F.col("conv_a") + F.col("conv_b") < F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = (ca / na - cb / nb) / se
    return j.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        ratio_round(ca / na, 6).alias("rate_a"),
        ratio_round(cb / nb, 6).alias("rate_b"),
        F.when(defined, ratio_round(z, 6)).alias("z_score"),
        F.when(defined, F.abs(z) > F.lit(1.959964)).alias("significant_95"),
    )


def seasonal_naive_backtest(events: DataFrame) -> DataFrame:
    """Seasonal-naive forecast backtest (`events_seasonal_forecast`):
    forecast each hour of the FINAL week as the count observed in the
    same hour one week earlier (the lag-168 persistence forecast — the
    baseline every capacity-planning forecast must beat), then score
    MAE / RMSE / bias per event type over the dense 168-hour test
    grid.

    Exactness: the seasonal-naive forecast is itself an integer count,
    so every error term is an integer; MAE/RMSE/bias reduce to integer
    sums (order-free) with ONE IEEE division (and sqrt for RMSE) at
    the output edge, rounded through ratio_round(6).  A slot-mean
    forecast would instead force per-hour rational divisions whose
    double sums are partial-order-dependent — the naive form is both
    the standard baseline and the bit-stable one.

    Scale: one map-side-combining groupBy to the (type, hour) grain;
    the test grid explode and both left joins live on the
    |types|·168-row dimension frame.  The counts frame is
    ``iter_checkpoint``-materialized (two join consumers — actual and
    lag-168 forecast — would each replan the raw-event aggregate)."""
    hour = F.date_trunc("hour", F.col("ts"))
    counts = iter_checkpoint(
        events.groupBy(F.col("event_type"), hour.alias("h")).agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    test_start = counts.agg(
        F.expr(
            "date_trunc('day', max(h)) - interval 6 days"
        ).alias("t0")
    )
    grid = (
        counts.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(test_start))
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(t0, t0 + interval 167 hours, interval 1 hour)")
            ).alias("h"),
        )
    )
    actual = counts.select("event_type", "h", F.col("c").alias("a"))
    lagged = counts.select(
        "event_type",
        F.expr("h + interval 168 hours").alias("h"),
        F.col("c").alias("f"),
    )
    scored = (
        grid.join(actual, ["event_type", "h"], "left")
        .join(lagged, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("f", F.lit(0)).alias("f"),
        )
    )
    err = F.col("a") - F.col("f")
    sums = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("a")).alias("total_actual"),
        F.sum(F.col("f")).alias("total_forecast"),
        F.sum(F.abs(err)).alias("sae"),
        F.sum(err * err).alias("sse"),
        F.sum(err).alias("se"),
    )
    n = F.col("n_hours").cast("double")
    return sums.select(
        "event_type",
        "n_hours",
        "total_actual",
        "total_forecast",
        ratio_round(F.col("sae").cast("double") / n, 6).alias("mae"),
        ratio_round(
            F.sqrt(F.col("sse").cast("double") / n), 6
        ).alias("rmse"),
        ratio_round(F.col("se").cast("double") / n, 6).alias("bias"),
    ).orderBy("event_type")


def top_session_paths(
    events: DataFrame, gap_minutes: int = 30, prefix_len: int = 5, k: int = 20
) -> DataFrame:
    """Top-k session path prefixes (`events_top_paths`) — the
    click-path mining readout: sessionize by the standard 30-minute
    inactivity gap, take each session's first ``prefix_len`` event
    types in time order, and count the most common journeys.

    Determinism: in-user ordering is (ts, event_id) — the same total
    order every session operator here uses — so the path string is a
    pure function of the data; ties in the top-k are broken by path
    ascending.

    Scale: the gap flag and session counter are two stacked windows on
    the ONE (user_id) shuffle (the `sessions_unordered` pattern); the
    prefix is an in-group row_number filter on the same shuffle, the
    path assembly is a map-side-combining groupBy on (user, session),
    and the top-k is a TakeOrdered over the path-count aggregate — no
    global sort of anything row-sized."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = gap_minutes * 60 * 1_000_000
    new_sess = (
        F.unix_micros(F.col("ts"))
        - F.lag(F.unix_micros(F.col("ts")), 1, None).over(w)
        > gap_us
    )
    sess_id = F.sum(F.when(new_sess, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    stepped = events.select(
        "user_id",
        "event_type",
        F.col("ts"),
        F.col("event_id"),
        sess_id.alias("session_seq"),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prefixed = stepped.withColumn("pos", F.row_number().over(ws)).where(
        F.col("pos") <= prefix_len
    )
    paths = (
        prefixed.groupBy("user_id", "session_seq")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("pos", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    return paths.orderBy(F.col("n_sessions").desc(), F.col("path").asc()).limit(
        int(k)
    )


def theil_sen_daily_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend of daily value totals per event type
    (`events_theil_sen_trend`): the median of all pairwise slopes —
    the estimator that shrugs off the outlier days an OLS slope chases
    (29% breakdown point; Sen 1968).

    Exactness: daily totals are exact DECIMAL(18,2) sums on integer
    day indexes; each pairwise slope is ONE IEEE division of exact
    operands, so both engines hold the identical slope multiset, and
    the median is a pure selection (avg of the two middle order
    statistics for even counts — one more IEEE op), rounded via
    ratio_round(6).

    Scale: the pair enumeration runs on the POST-AGGREGATION daily
    frame — |days| rows per type, |days|²/2 pairs (a 10-year series is
    ~6.7M pairs per type, executor-trivial) — never on raw events.
    The rank window partitions by event_type over that bounded pair
    frame; raw-event work is one map-side-combining groupBy."""
    day = F.date_trunc("day", F.col("ts"))
    daily = iter_checkpoint(
        events.groupBy(F.col("event_type"), day.alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
        .select(
            "event_type",
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).alias(
                "i"
            ),
            "v",
        )
    )
    a = daily.select(
        "event_type", F.col("i").alias("ia"), F.col("v").alias("va")
    )
    b = daily.select(
        "event_type", F.col("i").alias("ib"), F.col("v").alias("vb")
    )
    pairs = a.join(b, "event_type").where(F.col("ib") > F.col("ia"))
    slopes = pairs.select(
        "event_type",
        (
            (F.col("vb") - F.col("va")).cast("double")
            / (F.col("ib") - F.col("ia")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("slope").asc())
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    lo = (F.col("n") + 1) / 2
    mid = ranked.where(
        (F.col("rk") == F.floor(lo)) | (F.col("rk") == F.ceil(lo))
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.first("n").alias("n_pairs"),
            ratio_round(
                (F.min("slope") + F.max("slope")) / F.lit(2.0), 6
            ).alias("ts_slope"),
        )
        .orderBy("event_type")
    )


def kaplan_meier_repurchase(
    orders: DataFrame, bin_days: int = 30
) -> DataFrame:
    """Kaplan-Meier survival of repeat-purchase latency
    (`orders_kaplan_meier`): per customer, each consecutive-order gap
    is an observed "death" (the repurchase happened); the tail from a
    customer's LAST order to the dataset horizon is right-CENSORED —
    the estimator every retention model starts from, and the reason a
    naive mean-gap statistic is biased (it silently drops everyone who
    hasn't repurchased yet).

    Life-table form on ``bin_days`` intervals: n_i (at risk) descends
    by the prior bins' deaths+censorings; S = Π(1 − d_i/n_i)
    cumulatively over ordered bins.  Every count is exact; each factor
    is one IEEE division; the running product is exp(Σ ln f_i) over
    the ORDERED ≤|horizon/bin| cumulative window — sequential and
    deterministic on both engines — rounded via ratio_round(6) (the
    log2-entropy precedent: libm ln/exp agree well past 6 digits).

    Scale: one (custkey)-partitioned lead() window over orders, then
    everything lives on the ≤~80-row bin frame (the unpartitioned
    cumulative windows there are bounded-dimension by construction)."""
    at_risk = _life_table(orders, bin_days)
    f = F.lit(1.0) - F.col("n_events").cast("double") / F.col(
        "n_at_risk"
    ).cast("double")
    # ln(0) is an ANSI error and S is identically 0 from the first bin
    # where everyone at risk repurchases — track extinction explicitly
    cum = Window.orderBy(F.col("bin_start_days").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    extinct = F.max(F.when(f <= 0, 1).otherwise(0)).over(cum) == 1
    surv = F.when(extinct, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log(F.when(f > 0, f))).over(cum))
    )
    return at_risk.where(F.col("n_at_risk") > 0).select(
        "bin_start_days",
        "n_at_risk",
        "n_events",
        "n_censored",
        ratio_round(surv, 6).alias("survival"),
    ).orderBy("bin_start_days")


def welch_ttest_by_status(
    orders: DataFrame, group_a: str = "F", group_b: str = "O"
) -> DataFrame:
    """Welch's unequal-variance t-test between two order-status
    populations on order value (`stats_welch_ttest`) — the comparison
    a finance analyst runs before claiming "fulfilled orders are
    bigger": means, Welch t statistic, and the Welch–Satterthwaite
    degrees of freedom (Welch 1947).

    Exactness: per-group n is an integer; sum(price) rides
    DECIMAL(18,2) and sum(price²) DECIMAL(38,4) — both EXACT, so the
    shuffle's partial-sum order cannot perturb them.  Mean, sample
    variance (Q − S·(S/n))/(n−1), t, and dof are then ONE fixed IEEE
    sequence over those exact sums, rounded via ratio_round(6).

    Scale: a single map-side-combining 2-group aggregate over the
    scan, then a broadcast single-row cross — no window, no skew
    surface."""
    price = F.col("o_totalprice").cast("decimal(18,2)")
    per = (
        orders.where(F.col("o_orderstatus").isin(group_a, group_b))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(price).alias("s"),
            F.sum((price * price).cast("decimal(38,4)")).alias("q"),
        )
    )

    def _side(tag: str, status: str):
        return per.where(F.col("o_orderstatus") == status).select(
            F.col("n").alias(f"n_{tag}"),
            F.col("s").alias(f"s_{tag}"),
            F.col("q").alias(f"q_{tag}"),
        )

    j = _side("a", group_a).crossJoin(F.broadcast(_side("b", group_b)))

    def _stats(tag: str):
        n = F.col(f"n_{tag}").cast("double")
        s = F.col(f"s_{tag}").cast("double")
        q = F.col(f"q_{tag}").cast("double")
        mean = s / n
        var = (q - s * (s / n)) / (n - F.lit(1.0))
        return n, mean, var

    na, ma, va = _stats("a")
    nb, mb, vb = _stats("b")
    sa, sb = va / na, vb / nb
    t = (ma - mb) / F.sqrt(sa + sb)
    dof = (sa + sb) * (sa + sb) / (
        sa * sa / (na - F.lit(1.0)) + sb * sb / (nb - F.lit(1.0))
    )
    return j.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        ratio_round(ma, 6).alias("mean_a"),
        ratio_round(mb, 6).alias("mean_b"),
        # variances sit at ~1e10 where one double ulp (~4e-6) EXCEEDS a
        # 1e-6 grid — the decimal(38,4)→double cast differs by 1 ulp
        # between engines (int128 vs BigDecimal paths, observed live at
        # sf0.1) — so report them at 2 dp, where the grid dwarfs the ulp
        ratio_round(va, 2).alias("var_a"),
        ratio_round(vb, 2).alias("var_b"),
        ratio_round(t, 6).alias("t_stat"),
        ratio_round(dof, 6).alias("welch_dof"),
        (F.abs(t) > F.lit(1.959964)).alias("significant_95"),
    )


def poisson_rate_test(events: DataFrame, split_day: int = 16) -> DataFrame:
    """Two-period Poisson rate test per event type
    (`events_poisson_rate_test`): compare each type's event rate in the
    first vs second half of the observed month with the conditional
    binomial z statistic (c1 − E)/√(c1·c2/(c1+c2) form reduced for
    equal exposure: z = (c1 − c2)/√(c1 + c2)) — the incident-rate step
    detector an SRE dashboard runs per error class.

    Exposure symmetry: days [1, split_day) vs [split_day, 2·split_day−1)
    — both windows are exactly split_day−1 days, so the equal-exposure
    reduction is exact, not approximate.

    Exactness: both counts are integers; rate ratio and z are single
    IEEE sequences over them, rounded via ratio_round(6).  Types absent
    from a period contribute a true 0 (conditional z undefined only
    when both counts are 0, reported NULL).

    Scale: one map-side-combining (type) aggregate with two conditional
    counts — the scan is the whole cost."""
    dom = F.dayofmonth(F.col("ts"))
    lo, hi = split_day, 2 * split_day - 1
    per = (
        events.where(dom < F.lit(hi))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(dom < F.lit(lo), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(dom >= F.lit(lo), 1).otherwise(0)).alias("c2"),
        )
    )
    c1, c2 = F.col("c1").cast("double"), F.col("c2").cast("double")
    tot = F.col("c1") + F.col("c2")
    z = (c1 - c2) / F.sqrt(c1 + c2)
    return per.select(
        "event_type",
        "c1",
        "c2",
        F.when(F.col("c2") > 0, ratio_round(c1 / c2, 6)).alias("rate_ratio"),
        F.when(tot > 0, ratio_round(z, 6)).alias("z_score"),
        F.when(tot > 0, F.abs(z) > F.lit(1.959964)).alias("significant_95"),
    ).orderBy("event_type")


def cusum_alarms(
    events: DataFrame,
    baseline_days: int = 14,
    k: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """One-sided standardized CUSUM over the daily count series per
    event type (`events_cusum_alarm`): s_i = max(0, s_{i−1} +
    (x_i − μ)/σ − k), alarm when s_i > h (Page 1954) — the sequential
    step detector that fires persistent-shift alarms a single-day
    z-score misses.

    μ and σ come from the first `baseline_days` days of each type's
    DENSE daily grid (missing days are true zeros): S and Q are exact
    integer sums, μ = S/n, σ² = (Q − S·(S/n))/(n−1) — ONE fixed IEEE
    sequence both engines reproduce.  The recursion itself is
    inherently sequential PER TYPE, so it runs inside ONE
    applyInPandas group per event type over the |days|-row
    post-aggregation series — the documented dimension-sized-frame
    pattern; the fact-table cost is the single (type, day) count
    aggregate.  The DuckDB oracle replays the identical recursion with
    a recursive CTE; both sides round s through 6 dp at the output
    edge only (the carried state stays full-precision).

    Types whose baseline variance is 0 (a constant first fortnight)
    have no standardized scale and are reported with NULL cusum/alarm
    rather than an arbitrary fallback."""
    series = _dense_counts(events, "day", "d").drop("lo")
    out_schema = (
        "event_type string, d timestamp, c long, cusum double, alarm boolean"
    )
    n_base = baseline_days

    def _scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        xs = pdf["c"].astype("int64")
        base = xs.iloc[:n_base]
        n = len(base)
        s_sum = int(base.sum())
        q_sum = int((base * base).sum())
        if n < 2:
            var = 0.0
            mu = float(s_sum)
        else:
            mu = s_sum / n
            var = (q_sum - s_sum * (s_sum / n)) / (n - 1)
        if var <= 0.0:
            pdf["cusum"] = None
            pdf["alarm"] = None
            return pdf
        sigma = var ** 0.5
        s = 0.0
        cus, alarms = [], []
        for x in xs:
            s = s + (x - mu) / sigma - k
            if s < 0.0:
                s = 0.0
            cus.append(ratio_round_float(s, 6))
            alarms.append(s > h)
        pdf["cusum"] = cus
        pdf["alarm"] = alarms
        return pdf

    return (
        series.groupBy("event_type")
        .applyInPandas(_scan, schema=out_schema)
        .orderBy("event_type", "d")
    )


def holt_linear_smoothing(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    horizon: int = 7,
) -> DataFrame:
    """Holt's double-exponential (level + trend) smoothing over the
    daily count series per event type (`events_holt_forecast`), with an
    ``horizon``-day linear forecast from the final state (Holt 1957) —
    the first real forecaster above the seasonal-naive baseline
    (`events_seasonal_forecast`) in any capacity-planning stack.

    Initialization is the textbook pair: level₀ = x₀, trend₀ = x₁ − x₀;
    smoothing starts at the THIRD day.  α and β are dyadic rationals
    (0.5, 0.25), so every smoothing step is an exact-at-the-edges IEEE
    sequence both engines replay bit-identically; the recursion is
    inherently sequential per type and runs applyInPandas over the
    |days|-row dense daily grid (missing days are true zeros) — the
    same dimension-sized-frame pattern as `events_cusum_alarm`, with a
    recursive-CTE DuckDB oracle carrying (level, trend) state.  Output
    rounds through the floor form at the edge only.

    Types with fewer than 2 observed days cannot initialize a trend
    and are omitted (at any realistic scale every type has a month)."""
    series = _dense_counts(events, "day", "d").drop("lo")
    out_schema = (
        "event_type string, horizon_days int, level double, trend double,"
        " forecast double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        xs = pdf["c"].astype("int64").tolist()
        if len(xs) < 2:
            return pd.DataFrame(
                {
                    "event_type": pd.Series(dtype="object"),
                    "horizon_days": pd.Series(dtype="int32"),
                    "level": pd.Series(dtype="float64"),
                    "trend": pd.Series(dtype="float64"),
                    "forecast": pd.Series(dtype="float64"),
                }
            )
        level = float(xs[0])
        trend = float(xs[1] - xs[0])
        for x in xs[2:]:
            prev = level
            level = alpha * x + (1.0 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1.0 - beta) * trend
        et = pdf["event_type"].iloc[0]
        rows = [
            {
                "event_type": et,
                "horizon_days": h,
                "level": ratio_round_float(level, 6),
                "trend": ratio_round_float(trend, 6),
                "forecast": ratio_round_float(level + h * trend, 6),
            }
            for h in range(1, horizon + 1)
        ]
        return pd.DataFrame(rows)

    return (
        series.groupBy("event_type")
        .applyInPandas(_fit, schema=out_schema)
        .orderBy("event_type", "horizon_days")
    )


def weekday_seasonality(events: DataFrame) -> DataFrame:
    """Day-of-week seasonality indices per event type
    (`events_weekday_seasonality`): each weekday's mean daily count
    divided by the type's grand mean daily count — the multiplicative
    profile a capacity planner scales forecasts by (index 1.3 =
    "Mondays run 30% hot") and the input Holt-Winters' seasonal form
    would consume.

    Exactness: daily counts are integers on the dense day grid; per-
    weekday event sums and day tallies are integer sums, so both means
    and the index are a fixed IEEE sequence over exact integers,
    rounded via ratio_round(6).

    Scale: one (type, day) count aggregate (map-side combined), then
    everything runs on the |types|·|days| dimension frame; the grand
    mean rides a window over the ≤7-row weekday frame."""
    per_dow = _dense_counts(events, "day", "d").groupBy(
        "event_type", F.dayofweek("d").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("n_events"),
    )
    w = Window.partitionBy("event_type")
    tot = per_dow.select(
        "event_type",
        "dow",
        "n_days",
        "n_events",
        F.sum("n_events").over(w).alias("te"),
        F.sum("n_days").over(w).alias("td"),
    )
    dow_mean = F.col("n_events").cast("double") / F.col("n_days").cast(
        "double"
    )
    grand = F.col("te").cast("double") / F.col("td").cast("double")
    return tot.select(
        "event_type",
        "dow",
        "n_days",
        "n_events",
        ratio_round(dow_mean, 6).alias("mean_daily"),
        ratio_round(dow_mean / grand, 6).alias("seasonal_index"),
    ).orderBy("event_type", "dow")


# Poisson(1) CDF thresholds on the 2^32 integer grid: weight k is
# assigned when the hash lands in [T_{k-1}, T_k) — integer literals so
# both engines compare exactly (floor(CDF(k) * 2^32), k = 0..7).
_POISSON1_T32 = [
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
    4294923276,
]


def bootstrap_mean_ci(
    events: DataFrame, event_type: str = "purchase", n_resamples: int = 32
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean purchase
    value (`events_bootstrap_ci`): the SCALABLE bootstrap (Chamandy et
    al., Google 2012) — instead of materializing B resamples, each row
    draws an independent Poisson(1) multiplicity per resample from a
    deterministic hash, so one pass computes every resample's weighted
    mean and the CI is the empirical 2.5/97.5 percentile of those
    means.  This is THE bootstrap that works on a cluster: no
    row-index bookkeeping, no sampling shuffle, B map-side-combined
    aggregates in one job.

    Determinism: the multiplicity is a pure integer function of
    (event_id, resample) — Knuth multiplicative hash reduced mod 2^32,
    compared against integer-literal Poisson CDF thresholds — so both
    engines assign identical weights at any scale (the `ab_proportion
    _test` posture, including the mod-1048573 pre-reduction that keeps
    the product in int64 at any conceivable id range).  Values ride
    the exact decimal(18,2) grid; each resample mean is ONE IEEE
    division of exact sums; the percentile is an exact element pick
    from the sorted 32-element mean list (nearest-rank floor form).

    Scale: explode ×B before the map-side combine — the shuffle
    carries B rows per input partition, not B× the data; the closing
    sort runs on a B-element array in one row."""
    vals = events.where(F.col("event_type") == event_type).select(
        "event_id", F.col("value").cast("decimal(18,2)").alias("v")
    )
    # murmur-style avalanche AFTER the linear combine: the raw Knuth
    # lattice is so structured on consecutive ids that the additive
    # b-shift barely moved any weight — all 32 resample means came out
    # IDENTICAL on a periodic-value corpus (observed in the unit test:
    # a degenerate, biased CI).  xor-shift + multiply breaks the
    # lattice; constants sized so every intermediate stays in int64.
    m0 = F.pmod(F.col("event_id"), F.lit(1048573))
    h0 = F.pmod(
        m0 * F.lit(2654435761) + F.col("b") * F.lit(40503) + F.lit(7),
        F.lit(4294967296),
    )
    h1 = F.pmod(
        h0.bitwiseXOR(F.shiftright(h0, 16)) * F.lit(49979687),
        F.lit(4294967296),
    )
    h = h1.bitwiseXOR(F.shiftright(h1, 15))
    w = F.lit(8)
    for k in range(len(_POISSON1_T32) - 1, -1, -1):
        w = F.when(h < F.lit(_POISSON1_T32[k]), F.lit(k)).otherwise(w)
    per = (
        vals.select(
            "event_id",
            "v",
            F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias(
                "b"
            ),
        )
        .select("b", w.alias("w"), "v")
        .groupBy("b")
        .agg(
            F.sum("w").alias("wsum"),
            F.sum(F.col("w") * F.col("v")).alias("vsum"),
        )
    )
    mean_b = F.col("vsum").cast("double") / F.col("wsum").cast("double")
    means = per.groupBy().agg(
        F.sort_array(F.collect_list(mean_b)).alias("ms")
    )
    base = vals.groupBy().agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("tot"),
    )
    lo_idx = int((0.025 * (n_resamples - 1)) + 0.5) + 1  # 1-based
    hi_idx = int((0.975 * (n_resamples - 1)) + 0.5) + 1
    j = base.crossJoin(F.broadcast(means))
    return j.select(
        "n_events",
        F.lit(n_resamples).alias("n_resamples"),
        ratio_round(
            F.col("tot").cast("double") / F.col("n_events").cast("double"),
            6,
        ).alias("mean_value"),
        ratio_round(F.element_at("ms", lo_idx), 6).alias("ci_lo"),
        ratio_round(F.element_at("ms", hi_idx), 6).alias("ci_hi"),
    )


def conversion_latency_percentiles(
    events: DataFrame, percentiles=(50, 90, 99)
) -> DataFrame:
    """EXACT view→purchase conversion-latency percentiles
    (`events_conversion_latency`): hours from a user's FIRST view to
    their FIRST PURCHASE OVERALL — a user whose first purchase
    precedes their first view does not count as converted, even if a
    later purchase follows the view (the funnel reads "organically
    converted by the view", excluding already-buying users; the
    DuckDB oracle replays exactly this rule).  Reduced to p50/p90/p99
    plus the conversion rate — the activation-funnel latency readout
    next to `events_funnel_steps`' count view.  With zero converted
    users the report is still ONE row (n_converted=0, NULL
    percentiles), matching the oracle's always-one-row shape.

    Latency in whole hours has a tiny value domain (≤ |observation
    window|), so the percentiles use the BOUNDED-DOMAIN COUNTING
    technique of `orders_fulfillment_percentiles`: one (hours) count
    frame, a cumulative window over it, and percentile p picked by the
    integer cross-multiplication cum·100 ≥ p·n — exact at any data
    size, no full-stream rank.  The hour bucket is exact int64 floor
    division of microsecond deltas (both engines).

    Scale: one per-user conditional-min aggregate (map-side combined)
    is the only fact-sized shuffle; everything after runs on the
    ≤|hours| dimension frame."""
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.col("ts")
            )
        ).alias("first_purchase"),
    )
    converted = per_user.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        F.expr(
            "(unix_micros(first_purchase) - unix_micros(first_view))"
            " div 3600000000"
        ).alias("hours")
    )
    counts = iter_checkpoint(
        converted.groupBy("hours").agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("hours").rowsBetween(Window.unboundedPreceding, 0)
    cdf = counts.select(
        "hours",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    picks = None
    for p in percentiles:
        row = (
            cdf.where(F.col("cum") * 100 >= F.lit(p) * F.col("n"))
            .orderBy("hours")
            .limit(1)
            .select(F.lit(p).alias("p"), F.col("hours").alias("v"))
        )
        picks = row if picks is None else picks.unionByName(row)
    # groupBy() (global) pivot: ONE row even when picks is empty, so
    # the zero-conversions report matches the oracle's always-one-row
    # shape instead of vanishing (round-13 advice)
    wide = picks.groupBy().pivot("p", list(percentiles)).agg(F.first("v"))
    base = converted.agg(F.count(F.lit(1)).alias("n_converted"))
    viewers = per_user.where(F.col("first_view").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_viewers")
    )
    out = base.crossJoin(F.broadcast(wide)).crossJoin(F.broadcast(viewers))
    cols = [
        F.col("n_converted").cast("long").alias("n_converted"),
        "n_viewers",
        ratio_round(
            F.col("n_converted").cast("double")
            / F.col("n_viewers").cast("double"),
            6,
        ).alias("conversion_rate"),
    ] + [
        F.col(str(p)).cast("long").alias(f"p{p}_hours") for p in percentiles
    ]
    return out.select(*cols)


_TWO_PI = 6.283185307179586


def hourly_periodogram(
    events: DataFrame, periods=(24, 168, 12)
) -> DataFrame:
    """Single-frequency periodogram points per event type
    (`events_periodogram`): for each candidate period P (daily, weekly,
    half-daily), the fitted cosine amplitude and the share of the
    hourly-count variance that harmonic explains — the seasonality
    detector that tells a capacity planner WHICH cycle drives a
    counter before a seasonal model (`events_seasonal_forecast`,
    `events_weekday_seasonality`) assumes one.

    For the dense hourly grid (missing hours are true zeros, t = hour
    index): a = Σ dₜ·cos(2πt/P), b = Σ dₜ·sin(2πt/P) with dₜ the
    mean-centered count; amplitude = 2·√(a²+b²)/n and variance share
    = 2·(a²+b²)/(n·Σdₜ²) — the classic Schuster periodogram ordinate,
    normalized.  Like the autocorrelation sibling, the double term
    sums are group-aggregated and rounded at the edge (4 dp); 2π is an
    identical literal on both engines.

    Scale: one (type, hour) count is the only fact-sized shuffle;
    the trig pass runs over the |types|·|hours|·|periods| dimension
    frame."""
    series = _dense_counts(events, "hour", "h").select(
        "event_type",
        F.expr("(unix_micros(h) - unix_micros(lo)) div 3600000000").alias("t"),
        "c",
    )
    stats = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    centered = series.join(stats, "event_type").select(
        "event_type",
        "t",
        "n",
        (
            F.col("c").cast("double")
            - F.col("s").cast("double") / F.col("n").cast("double")
        ).alias("d"),
    )
    expanded = centered.select(
        "event_type",
        "t",
        "n",
        "d",
        F.explode(
            F.array(*[F.lit(int(p)) for p in periods])
        ).alias("period_hours"),
    )
    ang = (
        F.lit(_TWO_PI)
        * F.col("t").cast("double")
        / F.col("period_hours").cast("double")
    )
    per = expanded.groupBy("event_type", "period_hours").agg(
        F.max("n").alias("n"),
        F.sum(F.col("d") * F.cos(ang)).alias("a"),
        F.sum(F.col("d") * F.sin(ang)).alias("b"),
        F.sum(F.col("d") * F.col("d")).alias("ss"),
    )
    p2 = F.col("a") * F.col("a") + F.col("b") * F.col("b")
    n = F.col("n").cast("double")
    return per.select(
        "event_type",
        "period_hours",
        F.col("n").cast("long").alias("n_hours"),
        F.round(F.lit(2.0) * F.sqrt(p2) / n, 4).alias("amplitude"),
        # a constant (zero-variance) series has no spectrum: NULL, not
        # a 0/0 NaN-vs-NULL engine drift
        F.when(
            F.col("ss") > 0, F.round(F.lit(2.0) * p2 / (n * F.col("ss")), 4)
        ).alias("variance_share"),
    ).orderBy("event_type", "period_hours")


def nelson_aalen_hazard(orders: DataFrame, bin_days: int = 30) -> DataFrame:
    """Nelson-Aalen cumulative hazard of repeat-purchase latency
    (`orders_nelson_aalen`): H(t) = Σ_{bins ≤ t} d_i/n_i over the SAME
    right-censored life table as `orders_kaplan_meier` (identical span
    and binning construction — the two estimators must agree on the
    table or neither is trustworthy), plus the Fleming-Harrington
    survival exp(−H) that dominates KM in small-risk-set tails (Nelson
    1972; Aalen 1978).  H is additive where KM is multiplicative, so
    hazard INCREMENTS between bins read directly as period risk.

    Exactness: counts exact; each hazard increment is one IEEE
    division; the cumulative sum runs over the ORDERED ≤|horizon/bin|
    bin frame (sequential, engine-identical), rounded via
    ratio_round(6) at the edge.

    Scale: identical to the KM twin — one custkey lead() window over
    orders, then dimension-frame windows only."""
    at_risk = _life_table(orders, bin_days).where(F.col("n_at_risk") > 0)
    inc = F.col("n_events").cast("double") / F.col("n_at_risk").cast(
        "double"
    )
    cum = Window.orderBy(F.col("bin_start_days").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    hazard = F.sum(inc).over(cum)
    return at_risk.select(
        "bin_start_days",
        "n_at_risk",
        "n_events",
        "n_censored",
        ratio_round(hazard, 6).alias("cum_hazard"),
        ratio_round(F.exp(-hazard), 6).alias("fh_survival"),
    ).orderBy("bin_start_days")


def mann_whitney_quantity(
    lineitem: DataFrame, flag_a: str = "A", flag_b: str = "R"
) -> DataFrame:
    """Mann-Whitney U rank-sum test between two return-flag populations
    on line quantity (`stats_mann_whitney`): the NONPARAMETRIC
    complement to `stats_welch_ttest` — "do returned and accepted
    lines draw from the same quantity distribution?" without assuming
    normality.  Average ranks with the standard tie correction
    (Mann & Whitney 1947; normal approximation with tie-adjusted
    variance).

    Exactness: quantity has a BOUNDED domain (the TPC-H grid is 1..50),
    so ranks come from the bounded-domain counting technique — one
    (value) count frame, a cumulative window over it, and the average
    rank of a tied block expressed as the INTEGER double-rank
    dr = 2·cum_before + c + 1 (twice the average rank, always integer).
    Rank sums and the tie term Σ(c³−c) aggregate as exact DECIMAL(38,0)
    (immune to int64 overflow at any corpus size); U, μ, σ, z are then
    ONE fixed IEEE sequence over those exact sums, rounded via
    ratio_round.

    Scale: one map-side-combining value-grain aggregate over the scan
    is the only fact-sized shuffle; the window and everything after run
    on the ≤|distinct quantities| frame (the census-pinned
    post-aggregation single-partition pattern)."""
    q = F.col("l_quantity").cast("decimal(12,2)")
    # NULL quantities are excluded explicitly: Spark windows order
    # NULLS FIRST where DuckDB orders NULLS LAST, so a null group would
    # silently skew the rank frame differently on each engine
    counts = (
        lineitem.where(
            F.col("l_returnflag").isin(flag_a, flag_b)
            & F.col("l_quantity").isNotNull()
        )
        .groupBy(q.alias("v"))
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") == flag_a, 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("l_returnflag") == flag_b, 1).otherwise(0)
            ).alias("cb"),
        )
        .select("v", "ca", "cb", (F.col("ca") + F.col("cb")).alias("c"))
    )
    ranked = counts.select("ca", "cb", "c", _double_rank("c", "v").alias("dr"))
    agg = ranked.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(F.col("ca").cast(_DEC) * F.col("dr")).alias("r2a"),
        F.sum(
            F.col("c").cast(_DEC) * F.col("c") * F.col("c") - F.col("c")
        ).alias("ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    # U_a from the double-rank sum: R_a = r2a/2, U_a = R_a − n_a(n_a+1)/2
    u_a = (F.col("r2a").cast("double") - na * (na + 1)) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    sigma2 = (na * nb / F.lit(12.0)) * (
        (n + 1) - F.col("ties").cast("double") / (n * (n - 1))
    )
    # degenerate inputs — an empty group, or every pooled value tied
    # (σ = 0) — leave z undefined: NULL, not an ANSI DIVIDE_BY_ZERO.
    # NESTED whens: sigma2 divides by n(n−1), so it may only be
    # EVALUATED once both groups are known non-empty (n ≥ 2) — a
    # flat `defined & (sigma2 > 0)` condition would still compute it
    defined = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    z = F.when(
        defined, F.when(sigma2 > 0, (u_a - mu) / F.sqrt(sigma2))
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        # exact multiple of 0.5 — 2 dp pins it without double-ulp risk
        F.when(defined, ratio_round(u_a, 2)).alias("u_stat"),
        F.col("ties").cast("long").alias("tie_term"),
        ratio_round(z, 6).alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("significant_95"),
    )


def kruskal_wallis_value(events: DataFrame) -> DataFrame:
    """Kruskal-Wallis k-group rank omnibus across event types on event
    value (`stats_kruskal_wallis`): the k-group generalization of
    `stats_mann_whitney` and the nonparametric complement to
    `stats_anova_oneway` — "do the event types draw values from one
    distribution?" without assuming normality.  Average ranks with the
    standard tie correction (Kruskal & Wallis 1952).

    Exactness: value rides the cent grid (DECIMAL(12,2) cast, the
    engine-wide money posture), so pooled ranks come from the SAME
    bounded-domain counting technique as Mann-Whitney — one pooled
    (value) count frame, a cumulative window over it, the tied-block
    average rank as the INTEGER double-rank dr = 2·cum_before + ct + 1
    — and each group's double-rank sum r2_j = Σ c_j·dr plus the tie
    term Σ(ct³−ct) aggregate as exact DECIMAL(38,0).  H is then ONE
    IEEE sequence over those exact sums — Σ_j (r2_j/2)²/n_j scaled by
    12/(N(N+1)), minus 3(N+1), over the tie correction
    1 − Σ(ct³−ct)/(N³−N) — rounded at 4 dp (the k-term-double-sum
    entropy-contract margin, the Levene precedent).  Degenerate inputs
    (k < 2, N < 2, or every pooled value tied so the correction hits
    0) leave h_stat NULL rather than raising.

    Scale: one map-side-combining (type, value) aggregate over the
    scan is the only fact-sized shuffle; the pooled-rank window, the
    broadcast rank join, and the k-row reduce all run on frames
    bounded by |cent-grid values| and |types|, never by row count."""
    v = F.col("value").cast("decimal(12,2)")
    counts = (
        events.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), v.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pooled = counts.groupBy("v").agg(F.sum("c").alias("ct"))
    dr = pooled.select("v", "ct", _double_rank("ct", "v").alias("dr"))
    grp = (
        counts.join(F.broadcast(dr.select("v", "dr")), "v")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_j"),
            F.sum(F.col("c").cast(_DEC) * F.col("dr")).alias("r2_j"),
        )
    )
    ties = dr.agg(
        F.sum(
            F.col("ct").cast(_DEC) * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tie")
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("n_j").alias("n_total"),
        # (r2_j/2)²/n_j = r2_j²/(4 n_j); the k-term double sum is the
        # only order-sensitive step — covered by the 4 dp margin
        F.sum(
            F.col("r2_j").cast("double") * F.col("r2_j").cast("double")
            / (F.lit(4.0) * F.col("n_j").cast("double"))
        ).alias("s"),
    ).crossJoin(ties)
    n = F.col("n_total").cast("double")
    corr = F.lit(1.0) - F.col("tie").cast("double") / (n * n * n - n)
    h_raw = F.lit(12.0) / (n * (n + 1)) * F.col("s") - F.lit(3.0) * (n + 1)
    defined = (F.col("k_groups") > 1) & (F.col("n_total") > 1)
    h = F.when(defined, F.when(corr > 0, h_raw / corr))
    return tot.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.col("k_groups").cast("int").alias("k_groups"),
        (F.col("k_groups") - 1).cast("int").alias("df"),
        F.col("tie").cast("long").alias("tie_term"),
        ratio_round(h, 4).alias("h_stat"),
    )


def mann_kendall_daily(events: DataFrame) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily event-count
    series (`events_mann_kendall_trend`): the NONPARAMETRIC trend
    detector next to `events_theil_sen_trend`'s robust slope and
    `orders_ols_trend`'s parametric line — "is daily activity
    monotonically drifting?" with no linearity or normality
    assumption.  S = Σ_{i<j} sign(y_j − y_i) over the date-ordered
    series, tie-corrected variance
    [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, continuity-corrected z
    (Mann 1945; Kendall 1975).

    Exactness: daily counts are INTEGERS, so S and the tie term
    aggregate exactly (sign values are −1/0/1 longs; the tie term is
    DECIMAL(38,0)); z is then ONE IEEE sequence over the exact
    integers, rounded at 6 dp via ratio_round.  Degenerate inputs
    (n < 2, or variance 0 when every count ties) leave z NULL.

    Scale: ONE map-side-combining daily aggregate is the only
    fact-sized shuffle; the pairwise sign census runs on the |days|²
    grid of the POST-AGGREGATION dimension frame (≈2.5k days → ~3M
    cheap pairs at sf0.1, broadcast nested-loop on a frame bounded by
    the calendar, never by row count — the census-pinned
    dimension-grid pattern shared with the periodogram and rich-club
    queries)."""
    daily = (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    s = _mk_s(daily, F.col("a.d") < F.col("b.d"))
    ties = daily.groupBy("y").agg(F.count(F.lit(1)).alias("t")).agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("t").alias("n_days"),
        F.coalesce(F.sum(_mk_term("t")), F.lit(0).cast(_DEC)).alias("tie"),
    )
    tot = ties.crossJoin(s)
    n = F.col("n_days").cast("double")
    var = (
        n * (n - 1) * (2 * n + 5) - F.col("tie").cast("double")
    ) / F.lit(18.0)
    z = _mk_z(var)
    return tot.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("tie").cast("long").alias("tie_term"),
        ratio_round(z, 6).alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("significant_95"),
    )


def seasonal_mann_kendall_daily(events: DataFrame) -> DataFrame:
    """SEASONAL Mann-Kendall trend test on daily event counts with
    weekday seasons (`events_seasonal_mann_kendall`): the Hirsch &
    Slack (1984) extension of `events_mann_kendall_trend` — pairwise
    signs are counted only WITHIN each weekday's date-ordered
    sub-series, so a strong weekly cycle (the corpus has one —
    `events_weekday_seasonality` measures it) cannot masquerade as or
    mask a monotone drift.  S = Σ_w S_w, Var = Σ_w Var_w with the
    per-season tie correction, continuity-corrected z.

    Exactness: identical posture to the non-seasonal twin — integer
    daily counts, exact long S per season, DECIMAL(38,0) tie terms,
    one IEEE z sequence at 6 dp.  Seasons with a single day contribute
    zero pairs and zero variance, exactly as the formula dictates.

    Scale: ONE map-side daily aggregate; the within-season pairwise
    census runs on the weekday-partitioned calendar grid
    (Σ_w |days_w|² ≈ |days|²/7 — SMALLER than the non-seasonal twin's
    grid), never on fact rows.  Weekday is computed as
    datediff(epoch) % 7, the portable form both engines evaluate
    identically (Spark dayofweek and DuckDB dayofweek disagree on
    anchoring)."""
    daily = (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .withColumn(
            "wd", F.pmod(F.datediff("d", F.lit("1970-01-01")), F.lit(7))
        )
    )
    s = _mk_s(
        daily, (F.col("a.wd") == F.col("b.wd")) & (F.col("a.d") < F.col("b.d"))
    )
    per_season = (
        daily.groupBy("wd", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("wd")
        .agg(
            F.sum("t").alias("n_w"),
            F.coalesce(F.sum(_mk_term("t")), F.lit(0).cast(_DEC)).alias("tie_w"),
        )
    )
    # 18·Var_w = n_w(n_w−1)(2n_w+5) − tie_w is INTEGER, so the season
    # sum stays exact decimal and only the final /18 enters doubles —
    # no order-sensitive double summation anywhere before the z ratio
    var18_w = _mk_term("n_w") - F.col("tie_w")
    tot = per_season.agg(
        F.count(F.lit(1)).alias("n_seasons"),
        F.sum("n_w").alias("n_days"),
        F.sum("tie_w").alias("tie"),
        F.sum(var18_w).alias("var18"),
    ).crossJoin(s)
    z = _mk_z(F.col("var18").cast("double") / F.lit(18.0))
    return tot.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_seasons").cast("int").alias("n_seasons"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("tie").cast("long").alias("tie_term"),
        ratio_round(z, 6).alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("significant_95"),
    )


def levene_value_by_type(events: DataFrame) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across event types on
    event value (`stats_levene_value`): Levene's W with the
    median-centered deviations Brown & Forsythe (1974) showed robust
    to non-normality — the check an experimenter runs before trusting
    a pooled-variance comparison across k groups.

    Exactness: value rides the cent grid (DECIMAL(12,2) cast, the
    engine-wide money posture), so each group's LOWER MEDIAN comes
    exactly from the bounded-domain counting technique (one
    (type, value) count frame, per-type cumulative window, min v with
    2·cum ≥ n).  |x − median| then stays EXACT decimal, Σz at
    DECIMAL(38,2) and Σz² at DECIMAL(38,4) are order-free, and W is a
    fixed IEEE sequence over the k-row group frame, rounded at 4 dp
    (the entropy-contract margin for a k-term double sum).

    Scale: two fact-sized map-side-combining aggregates (the count
    frame, then the deviation moments after a k-row broadcast join);
    windows run only on the (type, value) frame, whose size is bounded
    by |types| × |cent-grid values|, never by row count."""
    v = F.col("value").cast("decimal(12,2)")
    # NULL values excluded explicitly (cross-engine NULLS FIRST/LAST
    # window-order divergence — same posture as the Mann-Whitney frame)
    base = events.where(F.col("value").isNotNull())
    counts = (
        base.groupBy("event_type", v.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "v",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wtot).alias("n_g"),
    )
    med = (
        cum.where(2 * F.col("cum") >= F.col("n_g"))
        .groupBy("event_type")
        .agg(F.min("v").alias("med"))
    )
    z = base.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(v - F.col("med")).alias("z")
    )
    per = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,4)")).alias("sq"),
    )
    ng = F.col("n").cast("double")
    szg = F.col("sz").cast("double")
    sqg = F.col("sq").cast("double")
    terms = per.select(
        "n",
        "sz",
        # per-group pieces of the W numerator/denominator, each a fixed
        # IEEE sequence over exact sums; the grand mean enters later
        (szg / ng).alias("zbar_g"),
        ng.alias("ng"),
        (sqg - szg * (szg / ng)).alias("den_g"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("sz").alias("sz_all"),
        F.sum(
            F.col("ng") * F.col("zbar_g") * F.col("zbar_g")
        ).alias("num_raw"),
        F.sum("den_g").alias("den"),
    )
    nn = F.col("n_total").cast("double")
    kk = F.col("k").cast("double")
    zbar = F.col("sz_all").cast("double") / nn
    # Σ n_g(z̄_g − z̄)² = Σ n_g z̄_g² − N z̄²  (exact-sum König form: no
    # per-group grand-mean subtraction, so the k-row sum needs no
    # cross-group ordering discipline beyond the 4 dp margin)
    num = F.col("num_raw") - nn * zbar * zbar
    w_stat = ((nn - kk) / (kk - 1)) * num / F.col("den")
    # degenerate inputs — a single group (df1 = 0) or zero within-group
    # deviation everywhere (den = 0) — leave W undefined: NULL, not a
    # raise (the NULL-not-NaN posture; ANSI mode would otherwise throw
    # DIVIDE_BY_ZERO)
    defined = (F.col("k") > 1) & (F.col("den") > 0)
    return tot.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n_total").cast("long").alias("n_total"),
        ratio_round(zbar, 6).alias("mean_abs_dev"),
        F.when(defined, ratio_round(w_stat, 4)).alias("w_stat"),
        (F.col("k") - 1).cast("int").alias("df1"),
        (F.col("n_total") - F.col("k")).cast("long").alias("df2"),
    )


def ols_daily_trend(orders: DataFrame) -> DataFrame:
    """Classical least-squares trend of daily order revenue
    (`orders_ols_trend`): slope, intercept, and R² of total revenue
    against the day index — the parametric line next to
    `events_theil_sen_trend`'s robust estimator (and the closed-form
    special case of what `q6_revenue_forecast`'s consumers fit
    downstream).

    Exactness: the daily series is an exact DECIMAL(18,2) revenue sum
    per observed day; Σt/Σt² are int64 on the |days| frame, Σty rides
    DECIMAL(38,2) and Σy² DECIMAL(38,4) — every moment is order-free
    exact.  Slope, intercept, and R² are one fixed IEEE sequence over
    the six exact moments (normal-equation form n·Σty − Σt·Σy etc.;
    the n²-scaled cancellations stay ≥10⁴ above double ulp at any SF),
    rounded via ratio_round(6).

    Scale: one map-side-combining daily aggregate over the scan, a
    1-row min-day broadcast for the index origin, then a single
    aggregate over the ≤|days| frame — no window, no skew surface."""
    # the origin row and the moment aggregate both read the daily frame
    daily = _daily_revenue(orders)
    origin = daily.agg(F.min("d").alias("d0"))
    t = F.datediff(F.col("d"), F.col("d0"))
    moments = (
        daily.crossJoin(F.broadcast(origin))
        .select(
            t.alias("t"),
            F.col("y"),
            (t.cast("decimal(20,0)") * F.col("y")).alias("ty"),
            (F.col("y") * F.col("y")).cast("decimal(38,4)").alias("yy"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("t").alias("st"),
            F.sum(F.col("t").cast("long") * F.col("t")).alias("stt"),
            F.sum("y").alias("sy"),
            F.sum("ty").alias("sty"),
            F.sum("yy").alias("syy"),
        )
    )
    n = F.col("n_days").cast("double")
    st = F.col("st").cast("double")
    stt = F.col("stt").cast("double")
    sy = F.col("sy").cast("double")
    sty = F.col("sty").cast("double")
    syy = F.col("syy").cast("double")
    sxx = n * stt - st * st
    sxy = n * sty - st * sy
    syy_c = n * syy - sy * sy
    slope = sxy / sxx
    intercept = (sy - slope * st) / n
    r2 = sxy * sxy / (sxx * syy_c)
    # degenerate series — a single day (sxx = 0) or exactly-flat
    # revenue (syy_c = 0, R² is 0/0) — leave the fit undefined: NULL,
    # not an ANSI DIVIDE_BY_ZERO
    fit = sxx > 0
    return moments.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.when(fit, ratio_round(slope, 6)).alias("slope_per_day"),
        F.when(fit, ratio_round(intercept, 2)).alias("intercept"),
        F.when(fit & (syy_c > 0), ratio_round(r2, 6)).alias("r_squared"),
    )


def chi2_independence(
    orders: DataFrame, row_col: str = "o_orderstatus",
    col_col: str = "o_orderpriority",
) -> DataFrame:
    """Chi-square test of independence between two categorical order
    columns (`stats_chi2_independence`), with Cramér's V effect size —
    "does order status depend on priority?", the contingency-table
    sibling of the two-sample tests (`stats_welch_ttest`,
    `stats_mann_whitney`).

    Exactness: every cell and margin count is an integer from ONE
    map-side-combining (row, col) aggregate (NULL categories excluded
    on both engines); expected counts and the χ² terms are a fixed
    IEEE sequence over those integers.  χ² reports at 4 dp (the
    entropy-contract margin for a ≤|cells|-term double sum), Cramér's
    V at 6 dp (a single sqrt of one ratio).

    Scale: the fact-sized shuffle is the cell aggregate, materialized
    ONCE (``iter_checkpoint`` — the margins, totals, and dimension
    counts all derive from it, and without the lineage cut each
    derivation would replay the whole fact scan); everything after
    runs on the ≤|row cats| × |col cats| frame with broadcast margin
    joins — one fact pass, no window over row data."""
    cells = iter_checkpoint(
        orders.where(
            F.col(row_col).isNotNull() & F.col(col_col).isNotNull()
        )
        .groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_m = cells.groupBy("r").agg(F.sum("n").alias("rn"))
    col_m = cells.groupBy("c").agg(F.sum("n").alias("cn"))
    # ONE 1-row aggregate carries the grand total and both dimension
    # cardinalities (countDistinct over the ≤|cells|-row checkpoint)
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.countDistinct("r").alias("n_rows"),
        F.countDistinct("c").alias("n_cols"),
    )
    joined = (
        cells.join(F.broadcast(row_m), "r")
        .join(F.broadcast(col_m), "c")
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("rn").cast("double")
        * (F.col("cn").cast("double") / F.col("nn").cast("double"))
    )
    d = F.col("n").cast("double") - e
    terms = joined.agg(
        F.sum(d * d / e).alias("chi2_raw"),
        F.first("nn").alias("nn"),
        F.first("n_rows").alias("n_rows"),
        F.first("n_cols").alias("n_cols"),
    )
    out = terms
    # coalesce the dimension counts to 0 so a fully-empty/all-NULL input
    # matches the oracle's count-over-empty-CTE arithmetic (F.first over
    # an empty agg yields NULL; the oracle's COUNT(*) yields 0) — the
    # round-13 ADVICE degenerate-fixture alignment
    n_rows = F.coalesce(F.col("n_rows"), F.lit(0))
    n_cols = F.coalesce(F.col("n_cols"), F.lit(0))
    dof = (n_rows - 1) * (n_cols - 1)
    mindim = F.least(n_rows - 1, n_cols - 1)
    v = F.sqrt(
        F.col("chi2_raw")
        / (F.col("nn").cast("double") * mindim.cast("double"))
    )
    defined = dof > 0
    return out.select(
        F.col("nn").cast("long").alias("n_total"),
        n_rows.cast("int").alias("n_row_cats"),
        n_cols.cast("int").alias("n_col_cats"),
        dof.cast("int").alias("dof"),
        # χ² over integer contingency counts is rational and CAN land on
        # 4-dp halves — ratio_round, never bare round (money.py contract)
        ratio_round(F.col("chi2_raw"), 4).alias("chi2"),
        F.when(defined, ratio_round(v, 6)).alias("cramers_v"),
    )


def kendall_tau_quantity_discount(lineitem: DataFrame) -> DataFrame:
    """Kendall's τ-b rank correlation between line quantity and
    discount (`stats_kendall_tau`) — the tie-robust monotonic-
    association test: both columns live on tiny grids (quantity 1..50,
    discount a handful of steps), where Pearson is dominated by ties
    and Spearman's dense ranks need the same tie machinery τ-b carries
    natively.

    Exactness: the fact scan collapses to ONE (x, y) cell aggregate
    (≤ |x-grid| × |y-grid| cells, NULLs excluded both engines);
    concordant/discordant pair counts are a cell-frame SELF-JOIN
    (≤ cells² comparisons of integer products — DECIMAL(38,0) sums, no
    int64 overflow at any corpus size), and the tie terms are per-axis
    Σ n·(n−1)/2 on the margin frames.  τ-b is one IEEE sequence over
    those exact integers, rounded at 6 dp.

    Scale: the only fact-sized work is the cell aggregate; the
    quadratic self-join is bounded by the GRID size (≤550 × 550 here),
    not the row count — the bounded-domain analogue of the all-pairs
    τ that cannot scale."""
    # the pair join (twice), both margin aggregates and the total all
    # read the cell frame
    cells = _quantity_discount_cells(lineitem)
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("n").cast("decimal(38,0)").alias("na"),
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("n").cast("decimal(38,0)").alias("nb"),
    )
    pairs = a.join(
        F.broadcast(b), (F.col("xb") > F.col("xa")), "inner"
    ).select(
        (F.col("na") * F.col("nb")).alias("prod"),
        (F.col("yb") > F.col("ya")).alias("conc"),
        (F.col("yb") < F.col("ya")).alias("disc"),
    )
    cd = pairs.agg(
        F.sum(F.when(F.col("conc"), F.col("prod")).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )).alias("c_pairs"),
        F.sum(F.when(F.col("disc"), F.col("prod")).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )).alias("d_pairs"),
    )
    # the x-margin aggregate carries the grand total too (Σ_x t_x = N),
    # so the plan needs three 1-row aggregates, not four
    tx = (
        cells.groupBy("x").agg(F.sum("n").alias("t"))
        .agg(
            F.sum(
                F.col("t").cast(_DEC) * (F.col("t") - 1) / 2
            ).cast(_DEC).alias("t1"),
            F.sum("t").alias("nn"),
        )
    )
    ty = (
        cells.groupBy("y").agg(F.sum("n").alias("t"))
        .agg(
            F.sum(
                F.col("t").cast(_DEC) * (F.col("t") - 1) / 2
            ).cast(_DEC).alias("t2")
        )
    )
    out = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n = F.col("nn").cast("double")
    n0 = n * (n - 1) / F.lit(2.0)
    c = F.col("c_pairs").cast("double")
    d = F.col("d_pairs").cast("double")
    t1 = F.col("t1").cast("double")
    t2 = F.col("t2").cast("double")
    denom = F.sqrt((n0 - t1) * (n0 - t2))
    tau = F.when((n0 > t1) & (n0 > t2), (c - d) / denom)
    return out.select(
        F.col("nn").cast("long").alias("n_rows"),
        # exact decimal internally; DOUBLE at the output edge (exact to
        # 2^53, and past that both engines cast the identical decimal
        # to the identical double — hash-consistent at any scale)
        c.alias("concordant"),
        d.alias("discordant"),
        ratio_round(tau, 6).alias("tau_b"),
    )


def runs_test_daily_revenue(orders: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue series
    (`orders_runs_test`): is the above/below-median sign sequence
    random, or does it trend/cluster?  The nonparametric randomness
    check an analyst runs before fitting `orders_ols_trend`'s line —
    too FEW runs means trending/sticky regimes, too many means
    oscillation.

    Exactness: daily revenue is an exact DECIMAL(18,2) sum; the
    reference median is the LOWER MEDIAN picked by integer cumulative
    counting over the |days| frame (the engine-wide convention); days
    equal to the median are EXCLUDED (the standard two-sample
    reduction).  Runs count via one lag over the day-ordered frame;
    n₁/n₂/R are integers and z is one IEEE sequence, rounded at 6 dp.

    Scale: one map-side daily aggregate over the scan; the median
    counting, sign sequence, lag, and run count all run on the
    ≤|days| frame (post-aggregation single-partition pattern)."""
    # the median frame and the sign sequence both read the daily frame
    daily = _daily_revenue(orders)
    wc = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = daily.select(
        "d", "y",
        F.count(F.lit(1)).over(wc).alias("cum"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = (
        cum.where(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("y").alias("med"))
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("y") != F.col("med"))
        .select("d", (F.col("y") > F.col("med")).alias("above"))
    )
    wd = Window.orderBy("d")
    runs = signed.select(
        "above",
        F.when(
            F.lag("above", 1).over(wd).isNull()
            | (F.lag("above", 1).over(wd) != F.col("above")),
            1,
        ).otherwise(0).alias("new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("above"), 1).otherwise(0)).alias("n_above"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).alias("n_below"),
        F.sum("new_run").alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    nn = n1 + n2
    two = 2 * n1 * n2
    mu = two / nn + 1
    sigma2 = two * (two - nn) / (nn * nn * (nn - 1))
    defined = (F.col("n_above") > 0) & (F.col("n_below") > 0)
    z = F.when(
        defined,
        F.when(
            sigma2 > 0, (F.col("n_runs").cast("double") - mu) / F.sqrt(sigma2)
        ),
    )
    return agg.select(
        F.col("n_above").cast("long").alias("n_above"),
        F.col("n_below").cast("long").alias("n_below"),
        F.col("n_runs").cast("long").alias("n_runs"),
        ratio_round(z, 6).alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("significant_95"),
    )


def spearman_rho_quantity_discount(lineitem: DataFrame) -> DataFrame:
    """Spearman's ρ rank correlation between line quantity and discount
    (`stats_spearman_rho`) — the average-rank sibling of
    `stats_kendall_tau` on the same bounded grids: Pearson correlation
    of the tie-averaged ranks, the form most toolkits report next to
    τ-b.

    Exactness: both axes ride tiny grids (quantity 1..50, discount a
    handful of steps), so AVERAGE ranks come from the bounded-domain
    counting technique at DOUBLE-RANK scale (dr = 2·cum_before + c + 1,
    always integer — the same frame the Mann-Whitney machinery uses),
    one margin frame per axis.  Both axes carry the identical ×2
    scaling, which cancels exactly in the correlation, so the weighted
    sums Σn·drx, Σn·drx², Σn·drx·dry aggregate as exact DECIMAL(38,0)
    (n·dr² ≤ 4·N³ — headroom past any real corpus) and ρ is ONE IEEE
    sequence over those exact integers, rounded at 6 dp.

    Scale: one map-side-combining (x, y) cell aggregate is the only
    fact-sized shuffle, materialized ONCE (``iter_checkpoint`` — both
    margin frames and the final reduce derive from it); rank windows
    and the 1-row reduce run on the ≤|x-grid|×|y-grid| cell frame under
    broadcast joins."""
    cells = _quantity_discount_cells(lineitem)
    xm = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("cx"))
        .select("x", _double_rank("cx", "x").alias("drx"))
    )
    ym = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("cy"))
        .select("y", _double_rank("cy", "y").alias("dry"))
    )
    j = cells.join(F.broadcast(xm), "x").join(F.broadcast(ym), "y")
    agg = j.agg(
        F.sum("n").alias("nn"),
        F.countDistinct("x").alias("n_x_levels"),
        F.countDistinct("y").alias("n_y_levels"),
        F.sum(F.col("n").cast(_DEC) * F.col("drx")).alias("sx"),
        F.sum(F.col("n").cast(_DEC) * F.col("dry")).alias("sy"),
        F.sum(
            F.col("n").cast(_DEC) * F.col("drx") * F.col("drx")
        ).alias("sxx"),
        F.sum(
            F.col("n").cast(_DEC) * F.col("dry") * F.col("dry")
        ).alias("syy"),
        F.sum(
            F.col("n").cast(_DEC) * F.col("drx") * F.col("dry")
        ).alias("sxy"),
    )
    nn = F.col("nn").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    vx = nn * F.col("sxx").cast("double") - sx * sx
    vy = nn * F.col("syy").cast("double") - sy * sy
    # an all-tied axis (vx or vy = 0) leaves ρ undefined: NULL, not a
    # raise (the NULL-not-NaN posture)
    rho = F.when(
        (vx > 0) & (vy > 0),
        (nn * F.col("sxy").cast("double") - sx * sy) / F.sqrt(vx * vy),
    )
    return agg.select(
        F.col("nn").cast("long").alias("n_rows"),
        F.col("n_x_levels").cast("int").alias("n_x_levels"),
        F.col("n_y_levels").cast("int").alias("n_y_levels"),
        ratio_round(rho, 6).alias("rho"),
    )


def anova_oneway_value(events: DataFrame) -> DataFrame:
    """One-way ANOVA F test of event value across event types
    (`stats_anova_oneway`): the k-group parametric mean comparison that
    completes the classical trio — Welch for two groups, Brown-Forsythe
    for the variance precondition, ANOVA for the k-group omnibus.

    Exactness: value rides the cent grid (DECIMAL(12,2) cast, the
    engine-wide money posture), so per-group Σv at DECIMAL and Σv² at
    DECIMAL(38,4) are exact order-free sums; each group's König terms
    (n·mean², Σv² − (Σv)²/n) are a fixed IEEE sequence over those exact
    decimals, and SSB/SSW/F reduce the k-row group frame (k = |event
    types|, tiny), rounded at 4 dp — the entropy-contract margin for a
    k-term double sum.

    Scale: ONE map-side-combining fact aggregate; everything after runs
    on the k-row frame."""
    v = F.col("value").cast("decimal(12,2)")
    per = (
        events.where(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("sv"),
            F.sum((v * v).cast("decimal(38,4)")).alias("sq"),
        )
    )
    ng = F.col("n").cast("double")
    svg = F.col("sv").cast("double")
    sqg = F.col("sq").cast("double")
    terms = per.select(
        "n",
        "sv",
        # König forms over exact sums — no grand-mean subtraction per
        # group, so the k-row reduce needs no cross-group ordering
        # discipline beyond the 4 dp margin
        (svg * (svg / ng)).alias("nmean2_g"),
        (sqg - svg * (svg / ng)).alias("ssw_g"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("sv").alias("sv_all"),
        F.sum("nmean2_g").alias("nm2"),
        F.sum("ssw_g").alias("ssw"),
    )
    nn = F.col("n_total").cast("double")
    kk = F.col("k").cast("double")
    grand = F.col("sv_all").cast("double")
    ssb = F.col("nm2") - grand * (grand / nn)
    f_stat = (ssb / (kk - 1)) / (F.col("ssw") / (nn - kk))
    # degenerate inputs — one group (df1 = 0), no residual dof, or zero
    # within-group variance — leave F undefined: NULL, not a raise
    defined = (
        (F.col("k") > 1) & (F.col("n_total") > F.col("k"))
        & (F.col("ssw") > 0)
    )
    return tot.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n_total").cast("long").alias("n_total"),
        (F.col("k") - 1).cast("int").alias("df1"),
        (F.col("n_total") - F.col("k")).cast("long").alias("df2"),
        ratio_round(ssb, 4).alias("ss_between"),
        ratio_round(F.col("ssw"), 4).alias("ss_within"),
        F.when(defined, ratio_round(f_stat, 4)).alias("f_stat"),
    )


def markov_event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition census of per-user event-type
    sequences (`events_markov_transitions`): count every
    (previous type → next type) step a user takes and the row-normalized
    transition probability — the navigation fingerprint behind
    `events_top_paths`, at pair grain instead of path grain.

    Determinism: steps order by (ts, event_id) within a user — event_id
    is unique, so the sequence is a total order on both engines (bare
    ts would tie).  Probabilities are double/double division of exact
    integer counts, rounded at 6 dp.

    Scale: ONE shuffle on user_id feeds the lag window over the fact
    stream (AQE-splittable by user); the census aggregate is map-side-
    combining onto the ≤|types|² grid, and the probability window runs
    on that grid frame only."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.where(
            F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            F.col("user_id"),
            F.lag("event_type", 1).over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    wrow = Window.partitionBy("prev_type")
    return (
        counts.select(
            "prev_type",
            "next_type",
            "n_trans",
            ratio_round(
                F.col("n_trans").cast("double")
                / F.sum("n_trans").over(wrow).cast("double"),
                6,
            ).alias("p_next"),
        )
        .orderBy("prev_type", "next_type")
    )


def lag_xcorr_click_purchase(
    events: DataFrame, max_lag: int = 6,
    type_a: str = "click", type_b: str = "purchase",
) -> DataFrame:
    """Lagged cross-correlation between two event types' hourly count
    series (`events_lag_xcorr`): Pearson r of (clicks at hour t,
    purchases at hour t+L) for L = 0..max_lag — "how many hours does
    purchase activity trail click activity?", the cross-series sibling
    of `events_hourly_autocorr`.

    Semantics: the series is the FULL hour spine from the first to the
    last observed hour, zero-filled (a missing hour is zero activity,
    not a dropped pair), so every lag compares aligned windows of
    length |spine| − L.

    Exactness: counts are integers on the zero-filled spine, so all
    five correlation moments aggregate as exact DECIMAL(38,0) per lag
    and r is ONE IEEE sequence over the exact integers, rounded at
    6 dp.

    Scale: ONE map-side-combining hourly fact aggregate; the spine
    explode, lag join, and per-lag reduce all run on the |hours|-row
    frame (the census-pinned post-aggregation pattern)."""
    # floor, not cast-truncation: the DuckDB oracle floors epoch/3600,
    # and the two diverge for pre-1970 (negative-epoch) timestamps
    hid = F.floor(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
    ).cast("long")
    hourly = iter_checkpoint(
        events.where(
            F.col("ts").isNotNull()
            & F.col("event_type").isin(type_a, type_b)
        )
        .groupBy(hid.alias("hid"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == type_a, 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("event_type") == type_b, 1).otherwise(0)
            ).alias("cb"),
        )
    )
    bounds = hourly.agg(
        F.min("hid").alias("h0"), F.max("hid").alias("h1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hid")
    )
    filled = (
        spine.join(F.broadcast(hourly), "hid", "left")
        .select(
            "hid",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    lags = filled.select(
        "hid", "ca",
        F.explode(
            F.sequence(F.lit(0), F.lit(max_lag))
        ).alias("lag"),
    )
    paired = lags.join(
        F.broadcast(filled.select(F.col("hid").alias("bhid"), "cb")),
        F.col("hid") + F.col("lag") == F.col("bhid"),
    )
    agg = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("ca").cast(_DEC)).alias("sa"),
        F.sum(F.col("cb").cast(_DEC)).alias("sb"),
        F.sum(F.col("ca").cast(_DEC) * F.col("ca")).alias("saa"),
        F.sum(F.col("cb").cast(_DEC) * F.col("cb")).alias("sbb"),
        F.sum(F.col("ca").cast(_DEC) * F.col("cb")).alias("sab"),
    )
    nn = F.col("n_hours").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    va = nn * F.col("saa").cast("double") - sa * sa
    vb = nn * F.col("sbb").cast("double") - sb * sb
    r = F.when(
        (va > 0) & (vb > 0),
        (nn * F.col("sab").cast("double") - sa * sb) / F.sqrt(va * vb),
    )
    return (
        agg.select(
            F.col("lag").cast("int").alias("lag_hours"),
            F.col("n_hours").cast("long").alias("n_hours"),
            F.col("sa").cast("long").alias("n_a_events"),
            F.col("sb").cast("long").alias("n_b_events"),
            ratio_round(r, 6).alias("xcorr"),
        )
        .orderBy("lag_hours")
    )


def mcnemar_purchase_halves(events: DataFrame) -> DataFrame:
    """McNemar's paired test on conversion across the corpus' two time
    halves (`stats_mcnemar_paired`): each user is their OWN pair —
    "did they purchase in the first half?" vs "in the second half?" —
    and only the DISCORDANT users (converted in exactly one half)
    carry information.  The before/after sibling of the independent
    two-proportion test (`events_ab_proportion_test`); Edwards'
    continuity-corrected form, 1 df.

    Exactness: the half boundary is the integer-microsecond midpoint,
    tested as ``2*us <= min_us + max_us`` — NO division, so there is
    no floor-vs-truncate divergence between engines (the round-15
    seasonal-MK weekday advice is this exact bug class); b and c are
    integers from one per-user aggregate; the χ² statistic is ONE
    IEEE division of integers, reported at 6 dp.

    Scale: one fact pass — the (user, half-flag) groupBy is the only
    fact-sized shuffle (map-side combining max), the time bounds ride
    a broadcast 1-row aggregate, and everything after runs on a 1-row
    frame.  No window over row data, no per-user collect."""
    ev = events.where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    bounds = ev.agg(
        (F.min("us") + F.max("us")).alias("mm")
    )
    is_p = F.col("event_type") == "purchase"
    in_h1 = (F.lit(2) * F.col("us")) <= F.col("mm")
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(F.when(is_p & in_h1, 1).otherwise(0)).alias("p1"),
            F.max(F.when(is_p & ~in_h1, 1).otherwise(0)).alias("p2"),
        )
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        # coalesce(0): an empty corpus must read b = c = 0 like the
        # oracle's coalesced sums, not NULL
        F.coalesce(
            F.sum(F.col("p1") * (1 - F.col("p2"))), F.lit(0)
        ).alias("b"),
        F.coalesce(
            F.sum((1 - F.col("p1")) * F.col("p2")), F.lit(0)
        ).alias("c"),
    )
    bc = F.col("b") + F.col("c")
    num = (F.abs(F.col("b") - F.col("c")) - 1)
    chi2 = (num * num).cast("double") / bc.cast("double")
    return agg.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("b").cast("long").alias("h1_only"),
        F.col("c").cast("long").alias("h2_only"),
        F.when(bc > 0, ratio_round(chi2, 6)).alias("chi2_cc"),
        F.when(bc > 0, chi2 > 3.841459).alias("significant_95"),
    )


def friedman_activity_blocks(events: DataFrame) -> DataFrame:
    """Friedman repeated-measures rank test (`stats_friedman_blocks`):
    do the event TYPES differ in per-user activity once each user is
    their own block?  Users are blocks, types are treatments, the
    observation is the user's event count of that type, and ranking
    WITHIN each user removes the user-volume nuisance factor a pooled
    test (`stats_kruskal_wallis`) cannot — a heavy user inflates every
    type equally and contributes the same ranks as a light one.  Only
    COMPLETE blocks (users with >= 1 event of every corpus type) enter,
    per the classical design; average ranks for ties with the
    tie-general statistic (Conover 1999):
    chi2_F = (k-1)·[Σ_t R_t² − n²k(k+1)²/4] / [A − nk(k+1)²/4],
    A = Σ r², which reduces to the textbook 12/(nk(k+1)) form when no
    ties exist.

    Exactness: counts are integers, so within-block average ranks ride
    the INTEGER double-rank grid dr = 2·(rank−1) + ties + 1 (the
    Mann-Whitney/Kruskal technique applied per block) and every sum —
    R2_t, Σ R2_t², A4 = Σ dr², and the n/k products — aggregates as
    exact DECIMAL(38,0).  In double-ranks the statistic is
    (k−1)·(Σ R2_t² − n²k(k+1)²) / (A4 − nk(k+1)²): integer numerator
    and denominator, ONE IEEE multiply-divide sequence at the end,
    rounded at 6 dp.  Significance compares the UNROUNDED statistic to
    the fixed chi-square 0.95 quantile for df = k−1 ≤ 6 (a literal
    map; NULL beyond — the corpus has a handful of types).  Degenerate
    inputs (no complete blocks, k < 2, or every block fully tied so
    the denominator is 0) leave the statistic NULL rather than raising.

    Scale: one map-side-combining (user, type) count over the scan is
    the only fact-sized shuffle, materialized ONCE (``iter_checkpoint``
    — the complete-block filter and the rank join both read it, and
    without the lineage cut each reuse replays the whole fact scan);
    the rank windows partition by USER (well-distributed, k rows per
    partition), the ranked frame is checkpointed for the same reason
    (the per-type sum and the A4/n reduce both read it), and
    everything after runs on |types|-row and 1-row frames."""
    base = events.where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    counts = iter_checkpoint(
        base.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("y")
        )
    )
    k_row = base.agg(F.countDistinct("event_type").alias("k"))
    complete = (
        counts.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .crossJoin(F.broadcast(k_row))
        .where(F.col("nt") == F.col("k"))
        .select("user_id")
    )
    blocks = counts.join(complete, "user_id")
    wr = Window.partitionBy("user_id").orderBy("y")
    wt = Window.partitionBy("user_id", "y")
    dr = iter_checkpoint(
        blocks.select(
            "user_id",
            "event_type",
            (
                2 * (F.rank().over(wr) - 1)
                + F.count(F.lit(1)).over(wt)
                + 1
            ).alias("dr"),
        )
    )
    per_type = dr.groupBy("event_type").agg(
        F.sum(F.col("dr").cast(_DEC)).alias("r2_t")
    )
    reduced = per_type.agg(
        F.coalesce(
            F.sum(F.col("r2_t") * F.col("r2_t")), F.lit(0).cast(_DEC)
        ).alias("sr2")
    ).crossJoin(
        dr.agg(
            F.countDistinct("user_id").alias("n"),
            F.coalesce(
                F.sum(F.col("dr").cast(_DEC) * F.col("dr")),
                F.lit(0).cast(_DEC),
            ).alias("a4"),
        )
    ).crossJoin(F.broadcast(k_row))
    nn = F.col("n").cast(_DEC)
    kk = F.col("k").cast(_DEC)
    kp1sq = (F.col("k") + 1).cast(_DEC) * (F.col("k") + 1)
    num = F.col("sr2") - nn * nn * kk * kp1sq
    den = F.col("a4") - nn * kk * kp1sq
    defined = (F.col("n") > 0) & (F.col("k") > 1) & (den > 0)
    stat_raw = F.when(
        defined,
        (F.col("k") - 1).cast("double")
        * num.cast("double")
        / den.cast("double"),
    )
    crit = F.element_at(
        F.create_map(
            F.lit(1), F.lit(3.841459), F.lit(2), F.lit(5.991465),
            F.lit(3), F.lit(7.814728), F.lit(4), F.lit(9.487729),
            F.lit(5), F.lit(11.070498), F.lit(6), F.lit(12.591587),
        ),
        (F.col("k") - 1).cast("int"),
    )
    return reduced.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("int").alias("k_treatments"),
        (F.col("k") - 1).cast("int").alias("df"),
        ratio_round(stat_raw, 6).alias("chi2_f"),
        F.when(
            stat_raw.isNotNull() & crit.isNotNull(), stat_raw > crit
        ).alias("significant_95"),
    )
