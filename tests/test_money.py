"""money_sum: exact, order-independent, half-away rounding at halves."""

from __future__ import annotations

from pyspark.sql import functions as F

from parcial_bigdata_spark.functions.money import money_sum


def test_money_sum_rounds_exact_halves_away_from_zero(spark):
    """2183640.655 must round to .66 (half away), not .65 — the exact
    boundary that diverged between engines when summed in double."""
    df = spark.createDataFrame(
        [(2183640.65,), (0.005,)], "v double"
    )
    out = df.agg(money_sum("v", cast="decimal(18,4)").alias("s")).collect()[0].s
    assert out == 2183640.66
    neg = spark.createDataFrame([(-2183640.65,), (-0.005,)], "v double")
    out = neg.agg(money_sum("v", cast="decimal(18,4)").alias("s")).collect()[0].s
    assert out == -2183640.66


def test_money_sum_order_independent_across_partitions(spark):
    """The same multiset summed under different partitionings gives the
    same cents — the double-sum partial-order hazard money_sum removes."""
    rows = [(float(f"{i}.{i % 100:02d}"),) for i in range(1, 2001)]
    a = spark.createDataFrame(rows, "v double").repartition(1)
    b = spark.createDataFrame(list(reversed(rows)), "v double").repartition(32)
    sa = a.agg(money_sum("v").alias("s")).collect()[0].s
    sb = b.agg(money_sum("v").alias("s")).collect()[0].s
    assert sa == sb


def test_money_sum_matches_python_decimal_reference(spark):
    """Property (randomized): money_sum equals an exact decimal.Decimal
    reference sum for arbitrary 2-decimal money values, across a
    multi-partition layout."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(st.lists(
        st.integers(min_value=-10_000_000, max_value=10_000_000),
        min_size=1, max_size=200,
    ))
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def check(cents):
        vals = [c / 100.0 for c in cents]
        ref = sum(Decimal(c) for c in cents) / Decimal(100)
        ref = float(ref.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
        df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(8)
        from parcial_bigdata_spark.functions.money import money_sum

        got = df.agg(money_sum("v").alias("s")).collect()[0].s
        assert got == ref, (got, ref)

    check()


def test_ratio_round_agrees_with_duckdb_on_exact_half(spark):
    """The live sf0.1 divergence case: 10.79 · (1/8) = 1.34875 exactly.
    Bare round(double, 4) gives 1.3488 on Spark (shortest-repr HALF_UP)
    and 1.3487 on DuckDB (binary value below the half); ratio_round's
    floor form must produce the IDENTICAL double on both engines."""
    import duckdb

    from pyspark.sql import functions as F

    from parcial_bigdata_spark.functions.money import (
        ratio_round,
        ratio_round_float,
        ratio_round_sql,
    )

    spark_val = (
        spark.range(1)
        .select(ratio_round(F.lit(10.79) * F.lit(0.125), 4).alias("r"))
        .collect()[0]
        .r
    )
    duck_val = duckdb.sql(
        f"SELECT {ratio_round_sql('10.79 * 0.125', 4)}"
    ).fetchone()[0]
    assert spark_val == duck_val == ratio_round_float(10.79 * 0.125, 4)
    # and the bare-round divergence that motivated the helper is real:
    bare_spark = (
        spark.range(1)
        .select(F.round(F.lit(10.79) * F.lit(0.125), 4).alias("r"))
        .collect()[0]
        .r
    )
    bare_duck = duckdb.sql("SELECT round(10.79 * 0.125, 4)").fetchone()[0]
    assert bare_spark != bare_duck  # if this ever passes equal, the
    # engines changed rounding semantics — revisit ratio_round's need
