"""Join operators.

The reference joins nothing (SURVEY.md §2.5); the capability surface
declares the full join family over the star schema.  Strategy selection
is left to Catalyst with explicit ``broadcast()`` hints on dimension
tables — at 100 TB the fact table never shuffles for a dim join; only
fact-fact joins (orders⋈lineitem) shuffle, on their natural key, and AQE
splits skewed partitions at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parcial_bigdata_spark.functions.money import money_sum
from parcial_bigdata_spark.operators import scale


def revenue_by_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Broadcast-hash join: part is dims-sized (SF×200 rows) → ship it to
    every executor; lineitem streams through with zero shuffle."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            money_sum(revenue).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("p_brand")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-03-15",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-style: dim-filtered customer broadcast into orders, then
    the one genuine shuffle joins orders⋈lineitem on orderkey; top-k by
    revenue with key tie-break for determinism."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cust = customer.where(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    items = lineitem.where(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        items.join(
            ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def region_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5-style multi-way join: the whole dim chain
    (region→nation→customer / supplier) broadcasts; the only shuffles are
    the two fact joins on their keys."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    cust = customer.join(
        F.broadcast(dims), customer.c_nationkey == dims.n_nationkey
    ).select("c_custkey", "c_nationkey", "n_name")
    supp = supplier.select("s_suppkey", "s_nationkey")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(money_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def orders_with_big_items(orders: DataFrame, lineitem: DataFrame, min_qty: float = 45.0) -> DataFrame:
    """LEFT SEMI join (EXISTS): orders having at least one big lineitem.
    Semi joins never duplicate the left side and only the key column of
    the right side crosses the wire."""
    big = lineitem.where(F.col("l_quantity") > min_qty).select("l_orderkey")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderstatus")
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers that never ordered."""
    return (
        customer.join(
            orders.select("o_custkey"), customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


VALUE_BANDS = [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1000.0, "high")]


def value_band_join(events: DataFrame, bands: list[tuple] = VALUE_BANDS) -> DataFrame:
    """Range (non-equi) join: classify EACH event into a [lo, hi) value
    band.  Events outside every band (negative, ≥ the top edge, or null
    value) land in an explicit ``unbanded`` bucket instead of being
    silently dropped by an inner join — aggregate totals always
    reconcile with the input row count.  The band table is tiny →
    broadcast nested-loop, so the fact side streams with zero shuffle;
    the only shuffle is the final small aggregate.  (The general
    band-join pattern for histogram/bucketing dims at 100 TB.)"""
    spark = events.sparkSession
    band_df = spark.createDataFrame(bands, "lo double, hi double, band string")
    joined = events.join(
        F.broadcast(band_df),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        "left",
    )
    return (
        joined.groupBy(F.coalesce("band", F.lit("unbanded")).alias("band"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("band")
    )


def reliable_big_spenders(
    customer: DataFrame, orders: DataFrame, floor: float = 50_000.0
) -> DataFrame:
    """Correlated-subquery parity (EXISTS ∧ NOT EXISTS): customers with
    at least one order and none below ``floor``.  Expressed as semi +
    anti join — exactly what Catalyst decorrelates the SQL form into."""
    small = orders.where(F.col("o_totalprice") < floor).select("o_custkey")
    any_order = orders.select("o_custkey")
    return (
        customer.join(any_order, customer.c_custkey == any_order.o_custkey, "left_semi")
        .join(small, F.col("c_custkey") == small.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def order_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-07-01",
) -> DataFrame:
    """TPC-H Q4-style: count orders per priority that have at least one
    lineitem shipped after the order date (correlated EXISTS).  The
    correlation becomes a LEFT SEMI join with a non-equi residual
    condition — only (l_orderkey, l_shipdate) cross the shuffle, and the
    date filter on orders prunes partitions before the join."""
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    items = lineitem.select("l_orderkey", "l_shipdate")
    return (
        ords.join(
            items,
            (ords.o_orderkey == items.l_orderkey)
            & (items.l_shipdate > ords.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def returned_item_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10-style: top-k customers by lost revenue on returned
    items.  Date-filtered orders broadcast into lineitem('R'); the final
    per-customer aggregate is the only wide shuffle."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    items = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        items.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        # Round through decimal(18,4): a double sum landing within 1 ulp of a
        # .xx5 boundary would round differently on Spark (shortest-decimal
        # HALF_UP) vs the oracle (binary round); the 4-decimal snap first
        # makes the 2-decimal round deterministic on both sides.
        .agg(
            money_sum(revenue).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-02-01",
) -> DataFrame:
    """TPC-H Q14-style: percentage of revenue from PROMO parts in one
    month.  Conditional aggregation over a broadcast dim join — a single
    scalar row out, no wide shuffle at any scale."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    items = lineitem.where(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    joined = items.join(F.broadcast(part), items.l_partkey == part.p_partkey)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0)))
    return joined.agg(
        F.round(100.0 * promo / F.sum(revenue), 4).alias("promo_revenue_pct")
    )


def large_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_total_qty: float = 250.0,
    k: int = 50,
) -> DataFrame:
    """TPC-H Q18-style: orders whose total lineitem quantity exceeds a
    floor, with customer attribution.  The IN-subquery form decorrelates
    to aggregate→semi-join; the quantity aggregate is partial (map-side)
    before its one shuffle on l_orderkey."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > min_total_qty)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def brand_band_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19-style: disjunctive (OR-of-ANDs) predicate bands across
    the lineitem⋈part join.  Catalyst extracts the common conjuncts
    (brand membership) below the join and evaluates the residual OR after
    it — the scan is pruned even though the predicate is disjunctive."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.where(band).agg(
        money_sum(revenue).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
    tolerance: float | None = None,
) -> DataFrame:
    """Generic as-of (point-in-time) join: for each left row, the latest
    right row with ``right.ts <= left.ts`` for the same key.
    ``tolerance`` (pandas merge_asof semantics) nulls out matches older
    than the window — in SECONDS for timestamp columns, in the column's
    own units for numeric ones.

    Spark has no native ASOF JOIN; this is the union+window formulation
    (SURVEY.md §2.5): tag both sides, union, and carry the last right
    values forward with ``last(..., ignorenulls)`` over a key-partitioned
    window.  One shuffle on (key), no range explosion — unlike the naive
    inequality join, this scales linearly at 100 TB.  Equivalent to
    DuckDB's native ``ASOF LEFT JOIN`` (oracle-verified).
    """
    from pyspark.sql.types import TimestampType

    lcols = left.columns
    # '_asof_row'/'_asof_ts'/'_is_left' are union-frame helper columns;
    # '_ts' is the matched-struct's timestamp field — a right_vals entry
    # by that name would shadow it and corrupt the tolerance gate
    _reserved = {"_asof_row", "_asof_ts", "_is_left", "_ts"}
    clash = _reserved & (set(lcols) | set(right_vals))
    if clash:
        raise ValueError(
            f"column name(s) {sorted(clash)} are reserved by asof_join"
        )
    # The matched right row is carried as ONE struct (null for left
    # rows, non-null for every right row even when its value fields are
    # null), so last(ignorenulls) picks the LATEST RIGHT ROW as a unit.
    # Carrying each value column independently would forward-fill a
    # null value from an older row — and let a stale row's value slip
    # past the tolerance gate, which checks the matched row's timestamp.
    row_struct = F.struct(
        F.col(right_ts).alias("_ts"), *[F.col(v).alias(v) for v in right_vals]
    )
    l_tag = left.select(
        *lcols,
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias("_is_left"),
        F.lit(None)
        .cast(
            T.StructType(
                [T.StructField("_ts", right.schema[right_ts].dataType)]
                + [T.StructField(v, right.schema[v].dataType) for v in right_vals]
            )
        )
        .alias("_asof_row"),
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) if c != on else F.col(on) for c in lcols],
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_is_left"),
        row_struct.alias("_asof_row"),
    )
    # Right rows sort before left rows at the same timestamp (asof is <=).
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_asof_ts").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        r_tag.unionByName(l_tag)
        .select(
            *lcols,
            "_is_left",
            F.col("_asof_ts"),
            F.last("_asof_row", ignorenulls=True).over(w).alias("_asof_row"),
        )
        .where(F.col("_is_left") == 1)
    )
    matched = F.col("_asof_row")
    if tolerance is not None:
        if isinstance(left.schema[left_ts].dataType, TimestampType):
            age_ok = (
                F.unix_micros("_asof_ts") - F.unix_micros(matched["_ts"])
            ) <= int(tolerance * 1_000_000)
        else:
            age_ok = (F.col("_asof_ts") - matched["_ts"]) <= F.lit(tolerance)
        # a too-stale match nulls out, the left row survives
        matched = F.when(age_ok, matched)
    return carried.select(
        *lcols, *[matched[v].alias(v) for v in right_vals]
    )


def top_revenue_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-style: supplier(s) achieving the maximum quarterly
    revenue (ties kept), mirroring ``create view revenue0 … where
    total_revenue = (select max(total_revenue) from revenue0)``.

    The max-of-aggregate scalar subquery is a second aggregate branch
    over the SAME per-supplier aggregate: both branches hash-aggregate
    on l_suppkey over the identical filtered scan, so the physical plan
    reuses the exchange (ReusedExchange) — lineitem is scanned and
    shuffled once, and the scalar max is a 1-row broadcast.  This
    replaces the round-3 rank()-over-unpartitioned-Window form, whose
    SinglePartition exchange sorted all |suppliers| rows on one task —
    a needless serial stage at 100 TB (round-3 verdict item 4).  Ties
    survive because the join keeps every supplier whose total equals
    the max.  Revenue rounds through decimal(18,4) so tie equality is
    exact on both engines."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # isNotNull(l_suppkey) is stated explicitly so BOTH branches (the
    # join side and the scalar-max side) push the identical predicate
    # into the scan — otherwise only the join branch gets the
    # null-filter and the two shuffle stages stop being canonically
    # equal, defeating exchange reuse.
    per_supp = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy("l_suppkey")
        .agg(
            money_sum(revenue).alias("total_revenue")
        )
    )
    max_rev = per_supp.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        per_supp.join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def nation_trade_volume(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation_a: str = "NATION_3",
    nation_b: str = "NATION_8",
    start: str = "1996-01-01",
    end: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7-style: shipping volume between two nations per year, in
    both directions.  Both dim chains (supplier→nation, customer→nation)
    broadcast; the only wide shuffles are lineitem⋈orders on orderkey and
    the tiny final aggregate.  The nation-pair predicate is applied on
    the broadcast sides, so the fact join never carries rows outside the
    pair."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = [nation_a, nation_b]
    supp = (
        supplier.join(
            F.broadcast(nation.where(F.col("n_name").isin(pair))),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        customer.join(
            F.broadcast(nation.where(F.col("n_name").isin(pair))),
            customer.c_nationkey == nation.n_nationkey,
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    items = lineitem.where(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    return (
        items.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            money_sum(revenue).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def market_share(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_5",
    region_name: str = "ASIA",
    part_type: str = "ECONOMY",
    start: str = "1996-01-01",
    end: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q8-style: the target nation's share of revenue for one part
    type sold into one region, per order year.  Share is a conditional
    aggregate (sum-if over the supplier-nation flag) — one pass, no
    second join branch.  All dims broadcast; lineitem⋈orders is the one
    fact shuffle."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    region_nations = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("n_nationkey")
    )
    cust = customer.join(
        F.broadcast(region_nations), customer.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey")
    supp = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    parts = part.where(F.col("p_type") == part_type).select("p_partkey")
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    vol = (
        lineitem.join(F.broadcast(parts), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), lineitem.l_suppkey == supp.s_suppkey)
        .join(ords, lineitem.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            revenue.alias("volume"),
            F.col("supp_nation"),
        )
    )
    target = F.sum(F.when(F.col("supp_nation") == target_nation, F.col("volume")).otherwise(F.lit(0.0)))
    return (
        vol.groupBy("o_year")
        .agg(F.round(target / F.sum("volume"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


def profit_by_nation_year(
    nation: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    name_pattern: str = "%red%",
    cost_factor: float = 0.6,
) -> DataFrame:
    """TPC-H Q9-style: profit per supplier nation per order year for a
    part-name family.  The fixture schema has no partsupp, so unit cost
    is modeled as ``cost_factor × p_retailprice`` (documented deviation —
    same operator shape: 5-way join + 2-key aggregate).  part/supplier/
    nation broadcast; lineitem⋈orders is the single fact shuffle."""
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        cost_factor
    ) * F.col("p_retailprice") * F.col("l_quantity")
    parts = part.where(F.col("p_name").like(name_pattern)).select("p_partkey", "p_retailprice")
    supp = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    return (
        lineitem.join(F.broadcast(parts), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), lineitem.l_suppkey == supp.s_suppkey)
        .join(orders.select("o_orderkey", "o_orderdate"), lineitem.l_orderkey == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            money_sum(profit).alias("sum_profit")
        )
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame, exclude_priority: str = "1-URGENT"
) -> DataFrame:
    """TPC-H Q13-style: distribution of customers by how many qualifying
    orders they placed (zero included).  Left outer join with the filter
    on the right side BEFORE the join (an outer join's right-side filter
    cannot be pushed post-hoc), then two aggregations: per-customer count
    — counting o_orderkey so null-extended rows count 0 — and the
    histogram over those counts.  Both shuffles are on keys that shrink
    monotonically (custkey → count value)."""
    qualifying = orders.where(F.col("o_orderpriority") != exclude_priority).select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        customer.join(qualifying, customer.c_custkey == qualifying.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def supplier_variety(
    lineitem: DataFrame,
    part: DataFrame,
    exclude_brand: str = "Brand#1",
    exclude_type: str = "PROMO",
    sizes: tuple[int, ...] = (1, 5, 10, 15, 20, 25, 30, 35, 40),
) -> DataFrame:
    """TPC-H Q16-style: how many distinct suppliers serve each
    (brand, type, size) part family, excluding one brand and one type
    (the fixture has no partsupp; lineitem supplies the part↔supplier
    pairs — same shape: filtered dim join + count-distinct).  part
    broadcasts with its predicate applied first, so excluded families
    never reach the join; the distinct-supplier count is a two-phase
    hash aggregate on (brand, type, size)."""
    parts = part.where(
        (F.col("p_brand") != exclude_brand)
        & (F.col("p_type") != exclude_type)
        & F.col("p_size").isin(list(sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#23",
    qty_factor: float = 0.5,
    years: float = 7.0,
) -> DataFrame:
    """TPC-H Q17-style: average yearly revenue lost if small-quantity
    orders for one brand's parts were not taken.  The correlated scalar
    subquery (per-part average quantity) decorrelates to one aggregate
    over lineitem joined back by partkey — the per-part averages are
    |parts|-sized, so they broadcast; lineitem is scanned twice but
    never shuffled (both passes are scan→broadcast-join→filter).
    (Fixture has no p_container; brand alone scopes the part set.)"""
    parts = part.where(F.col("p_brand") == brand).select("p_partkey")
    scoped = lineitem.join(
        F.broadcast(parts), lineitem.l_partkey == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avg_qty = scoped.groupBy("l_partkey").agg(
        (F.lit(qty_factor) * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        scoped.join(F.broadcast(avg_qty), on="l_partkey")
        .where(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            F.round((F.sum("l_extendedprice") / F.lit(years)).cast("decimal(18,4)"), 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


def waiting_suppliers(
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    late_days: int = 60,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21-style: suppliers who were the ONLY late supplier on a
    multi-supplier finalized order (the fixture has no receipt/commit
    dates; "late" = shipped more than ``late_days`` after the order
    date — documented deviation, same operator shape).

    The classic form is a double-correlated EXISTS / NOT EXISTS — three
    scans of lineitem.  Rewritten as ONE per-order aggregate: count
    distinct suppliers and collect the distinct late-supplier set, then
    keep orders with >1 suppliers and exactly one late one.  One fact
    shuffle on l_orderkey instead of two extra self-joins; the oracle
    proves the rewrite equivalent to the EXISTS form."""
    # timestamp-preserving arithmetic (not date_add, which truncates to
    # DATE midnight) so the boundary matches `+ INTERVAL n DAY` oracles
    # even if order dates ever carry a time-of-day component
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {int(late_days)} DAYS"
    )
    base = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    per_order = base.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.array_distinct(F.collect_list(F.when(late, F.col("l_suppkey")))).alias("late_supps"),
    )
    culprits = per_order.where(
        (F.col("n_supp") > 1) & (F.size("late_supps") == 1)
    ).select(F.element_at("late_supps", 1).alias("suppkey"))
    return (
        culprits.groupBy("suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supplier), F.col("suppkey") == supplier.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(k)
    )


def wealthy_inactive_customers(
    customer: DataFrame, orders: DataFrame, since: str = "1999-01-01"
) -> DataFrame:
    """TPC-H Q22-style: customers with above-average account balance and
    no orders since ``since``, counted per nation-key group.  The average
    is a 1-row aggregate broadcast into the filter (scalar subquery); the
    NOT EXISTS is a left-anti join on the date-filtered orders.
    Positive-balance rows feed the average, per the TPC-H definition."""
    avg_bal = customer.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            money_sum("c_acctbal").alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


def min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
    size: int = 5,
    type_pattern: str = "%PROMO%",
    region_name: str = "EUROPE",
    k: int = 100,
) -> DataFrame:
    """TPC-H Q2-style: the cheapest supplier(s) per qualifying part within
    a region.  The fixture has no partsupp, so supply cost is DERIVED
    from observed sales: unit_cost(part, supp) = sum(l_extendedprice) /
    sum(l_quantity) over that pair's lineitems (documented deviation —
    same operator shape: derived cost table, correlated per-part min,
    region-filtered supplier dimension, top-k output).

    Plan: one fact shuffle builds the (part, supp) cost table; part and
    the region-filtered supplier dimension broadcast into it; the
    correlated ``cost = min(cost) per part`` becomes a window min — one
    more shuffle on p_partkey, no self-join, no correlated re-scan."""
    unit_cost = F.round(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).cast("decimal(18,6)"), 4
    ).cast("double")
    psupp = lineitem.groupBy("l_partkey", "l_suppkey").agg(unit_cost.alias("unit_cost"))
    parts = part.where(
        (F.col("p_size") == size) & F.col("p_type").like(type_pattern)
    ).select("p_partkey", "p_name", "p_brand")
    rsupp = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    priced = psupp.join(F.broadcast(parts), psupp.l_partkey == parts.p_partkey).join(
        F.broadcast(rsupp), psupp.l_suppkey == rsupp.s_suppkey
    )
    w = Window.partitionBy("p_partkey")
    return (
        priced.withColumn("min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(k)
    )


def line_priority_by_status(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q12-style: lines shipped in a year window, classified by
    order priority (urgent/high vs rest) per group.  The fixture has no
    l_shipmode or commit/receipt dates, so the group key is l_linestatus
    and the date filter is on l_shipdate (documented deviation — same
    operator shape: fact-fact equi-join + CASE'd conditional counts).
    The ship-window filter pushes into the lineitem scan; the join
    shuffles only filtered lines against the 2-column orders side."""
    lines = lineitem.where(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lines.join(
            orders.select("o_orderkey", "o_orderpriority"),
            lines.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def dominant_part_suppliers(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    lineitem: DataFrame,
    name_prefix: str = "small%",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    share: float = 0.5,
    nation_name: str | None = None,
) -> DataFrame:
    """TPC-H Q20-style: suppliers who dominate the supply of a part-name
    family in a year.  The fixture has no partsupp.availqty, so "excess
    stock" becomes market dominance: a (part, supplier) pair qualifies
    when its shipped quantity exceeds ``share`` of the part's TOTAL
    shipped quantity in the window (documented deviation — same operator
    shape: name-filtered part family, nested per-pair aggregate compared
    against a correlated per-part aggregate, semi-join back to supplier,
    optional nation filter).

    Plan: part family broadcasts into the date-pruned lineitem scan; one
    shuffle aggregates per (part, supp); the correlated total is a window
    sum over p_partkey (no re-aggregation join); qualifying suppkeys
    semi-join the supplier dim."""
    parts = part.where(F.col("p_name").like(name_prefix)).select("p_partkey")
    lf = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(F.broadcast(parts), lineitem.l_partkey == parts.p_partkey)
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    ps = lf.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("qty"))
    w = Window.partitionBy("l_partkey")
    dominant = (
        ps.withColumn("part_total", F.sum("qty").over(w))
        .where(F.col("qty") > share * F.col("part_total"))
        .select("l_suppkey")
        .distinct()
    )
    supp = supplier
    if nation_name is not None:
        keys = nation.where(F.col("n_name") == nation_name).select("n_nationkey")
        supp = supp.join(
            F.broadcast(keys), supp.s_nationkey == F.col("n_nationkey"), "left_semi"
        )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal"))
        .orderBy("s_name")
    )


def session_overlap_pairs(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Interval-overlap join: pairs of users whose sessions overlap in
    time (co-presence analysis), aggregated to per-user-pair overlap
    counts and total overlapping microseconds.

    The naive formulation is an inequality self-join (a.start <= b.end
    AND b.start <= a.end) — a range join Spark would plan as a nested
    loop over |sessions|².  Instead each session EXPLODES over the hour
    buckets it spans (bounded by session length / bucket width) and
    pairs generate through a bucket EQUI-join.  A pair sharing k
    buckets would appear k times; rather than a dropDuplicates shuffle
    over the whole pair blow-up, each overlapping pair is kept ONLY in
    the bucket containing greatest(start_a, start_b) — that bucket lies
    inside both sessions' exploded ranges, so every overlapping pair
    survives exactly once, filtered MAP-SIDE right after the join
    (round-4: this replaced a full-width dedup shuffle, 8.2 s → ~2 s at
    sf0.1).  Shuffle is on the bucket key; at 100 TB the bucket width
    dials the explode factor against bucket occupancy exactly like the
    dedup length-band blocking.

    Overlap arithmetic stays in integer microseconds end-to-end — no
    float rounding anywhere.

    Eager side effect (r16 advice): for every input this function runs
    a Spark job at DataFrame-CONSTRUCTION time — the slim session frame
    is iter_checkpointed so sessionization executes once instead of on
    both join sides.  Plan-only consumers therefore pay full
    sessionization, and the localCheckpoint blocks live until the
    returned frame is garbage-collected."""
    from parcial_bigdata_spark.operators.windows import sessions_unordered

    hour_us = 3_600_000_000
    sess = sessions_unordered(events, gap_minutes=gap_minutes).select(
        "user_id",
        "session_seq",
        F.unix_micros("session_start").alias("s_us"),
        F.unix_micros("session_end").alias("e_us"),
    )
    # Both join sides derive from this one session frame.  When the
    # planner can broadcast side b, the broadcast child is a SEPARATE
    # subtree — the scan + two session windows would execute TWICE (a
    # broadcast is not a reusable shuffle stage) — so it is checkpointed.
    sess = scale.iter_checkpoint(sess)
    bucketed = sess.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {hour_us}"), F.expr(f"e_us div {hour_us}")
            )
        ).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.user_id").alias("user_a"),
            F.col("a.s_us").alias("as_us"),
            F.col("a.e_us").alias("ae_us"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.s_us").alias("bs_us"),
            F.col("b.e_us").alias("be_us"),
        )
        .where(
            (F.col("as_us") <= F.col("be_us"))
            & (F.col("bs_us") <= F.col("ae_us"))
            # overlap-start bucket: unique per pair AND shared by both
            # sides' exploded ranges → exactly-once without a dedup
            & (
                F.col("bucket")
                == F.expr(f"greatest(as_us, bs_us) div {hour_us}")
            )
        )
    )
    overlap = F.least("ae_us", "be_us") - F.greatest("as_us", "bs_us")
    return (
        pairs.select("user_a", "user_b", overlap.alias("ov_us"))
        .groupBy("user_a", "user_b")
        .agg(
            F.count("*").alias("n_overlaps"),
            F.sum("ov_us").alias("total_overlap_us"),
        )
        .orderBy("user_a", "user_b")
    )
