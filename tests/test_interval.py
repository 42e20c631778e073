"""Interval query (the reference's one real query, main.py:61-86):
closed bounds, ascending order, projection, count, range guard."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from parcial_bigdata_spark.operators import interval as iv


@pytest.fixture(scope="module")
def series(spark):
    rows = [
        (dt.datetime(2025, 1, 1, 10, 0, 0), Decimal("3920.0000")),
        (dt.datetime(2025, 1, 1, 12, 0, 0), Decimal("3921.5000")),
        (dt.datetime(2025, 1, 1, 11, 0, 0), Decimal("3922.2500")),
        (dt.datetime(2025, 1, 2, 9, 0, 0), Decimal("3930.0000")),
    ]
    return spark.createDataFrame(rows, "fechahora timestamp, valor decimal(12,4)")


def test_interval_closed_bounds_and_order(series):
    out = iv.interval(
        series,
        "fechahora",
        "valor",
        dt.datetime(2025, 1, 1, 10, 0, 0),
        dt.datetime(2025, 1, 1, 12, 0, 0),
    ).collect()
    # both endpoints included (>= and <=), ascending, valor → double
    assert [(r.fechahora, r.valor) for r in out] == [
        (dt.datetime(2025, 1, 1, 10, 0, 0), 3920.0),
        (dt.datetime(2025, 1, 1, 11, 0, 0), 3922.25),
        (dt.datetime(2025, 1, 1, 12, 0, 0), 3921.5),
    ]
    assert all(isinstance(r.valor, float) for r in out)


def test_interval_count(series):
    out = iv.interval_count(
        series, "fechahora", dt.datetime(2025, 1, 1, 0, 0, 0), dt.datetime(2025, 1, 1, 23, 59, 59)
    ).collect()
    assert out[0].cnt == 3


def test_validate_range_rejects_inverted():
    with pytest.raises(ValueError):
        iv.validate_range(dt.datetime(2025, 1, 2), dt.datetime(2025, 1, 1))
    with pytest.raises(ValueError):
        iv.validate_range(dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 1))
    iv.validate_range(dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2))  # ok


def test_events_interval_pushes_nanos_predicate(spark):
    """The events ts range filter must reach the parquet scan whichever way
    the fixture stores ts: TIMESTAMP(NANOS) (read as bigint; interval()
    translates bounds to nanos and pushes on the raw column) or
    TIMESTAMP(MICROS) (native TIMESTAMP scan column; the timestamp
    predicate pushes directly) — row-group pruning at 100 TB either way."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
        _pytest.skip("driver testdata not present")
    import pyarrow.parquet as pq

    from parcial_bigdata_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    plan = (
        iv.interval(events, "ts", "value", "2024-01-05 00:00:00", "2024-01-20 00:00:00")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    arrow_ts = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    if str(arrow_ts) == "timestamp[ns]":
        # nanos escape: bounds translated to raw int64 nanos, pushed on ts
        assert "GreaterThanOrEqual(ts,1704412800000000000)" in plan
        assert "LessThanOrEqual(ts,1705708800000000999)" in plan
        assert read_schema == "struct<ts:bigint,value:double>"
    else:
        # native timestamp column: the range predicate pushes as-is
        assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan
        assert "LessThanOrEqual(ts," in plan
        assert read_schema == "struct<ts:timestamp,value:double>"


def test_interval_pushes_predicate_to_parquet(spark, series, tmp_path):
    """The range filter must reach the scan (PushedFilters), and the scan
    must read only the two projected columns (ReadSchema) — SURVEY.md §4."""
    path = str(tmp_path / "series")
    series.withColumn("extra", series.valor * 2).write.parquet(path)
    df = spark.read.parquet(path)
    plan = iv.interval(
        df, "fechahora", "valor", dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(fechahora), GreaterThanOrEqual(fechahora" in plan
    assert "extra" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_interval_nanos_path_agrees_on_negative_nanos(spark):
    """Pre-epoch timestamps: the pushed-down nanos-bound filter must
    select exactly the rows the derived-timestamp predicate would —
    catalog derives ts with FLOOR division, and the bound algebra
    assumes floor (round-5 review: `div` truncation disagreed on
    negative nanos)."""
    from pyspark.sql import functions as F

    nanos = [-2001, -2000, -1500, -1000, -999, -1, 0, 1, 999, 1000, 1500]
    df = spark.createDataFrame([(n,) for n in nanos], "ts_nanos long").withColumn(
        "ts",
        F.timestamp_micros(
            F.expr(
                "ts_nanos div 1000 - (CASE WHEN ts_nanos % 1000 < 0 THEN 1 ELSE 0 END)"
            )
        ),
    ).withColumn("value", F.col("ts_nanos").cast("double"))
    start, end = "1969-12-31 23:59:59.999999", "1970-01-01 00:00:00.000001"
    # nanos fast path (ts_nanos present) vs the plain ts predicate
    fast = {r.value for r in iv.interval(df, "ts", "value", start, end).collect()}
    slow = {
        r.value
        for r in iv.interval(
            df.drop("ts_nanos"), "ts", "value", start, end
        ).collect()
    }
    assert fast == slow and fast  # identical, and non-empty


# --------------------------------------------------------------------------
# Serving over silver: dt partition pruning, one-task sort, one-collect entry
# --------------------------------------------------------------------------

SILVER_TIMES = [(0, 0, 0), (3, 0, 0), (12, 0, 0), (22, 30, 0), (23, 59, 59)]


@pytest.fixture(scope="module")
def silver_path(spark, tmp_path_factory):
    """Three days of silver written by ``write_silver`` (``dt``
    partitions), with rows on both sides of every midnight."""
    from parcial_bigdata_spark.sources.ingest import write_silver

    rows = [
        (dt.datetime(2025, 1, d, h, m, s), Decimal(100 * d + i))
        for d in (1, 2, 3)
        for i, (h, m, s) in enumerate(SILVER_TIMES)
    ]
    path = str(tmp_path_factory.mktemp("silver") / "dolar")
    write_silver(spark.createDataFrame(rows, "fechahora timestamp, valor decimal(12,4)"), path)
    return path


@pytest.fixture(scope="module")
def silver(spark, silver_path):
    return spark.read.parquet(silver_path)


def _jobs(spark, group: str, action):
    """``(result, number of Spark jobs)`` of ``action()`` run under a
    job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_interval_plans_prune_silver_partitions(silver):
    """Both serve queries carry the window's dt range into the scan as
    date literals: the scan opens only the partitions the window
    touches."""
    import re

    start, end = "2025-01-01 22:00:00", "2025-01-02 03:00:00"
    for q in (
        iv.interval(silver, "fechahora", "valor", start, end),
        iv.interval_count(silver, "fechahora", start, end),
    ):
        plan = q._jdf.queryExecution().executedPlan().toString()
        parts = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
        assert re.search(r"\(dt#\d+ >= 2025-01-01\)", parts), parts
        assert re.search(r"\(dt#\d+ <= 2025-01-02\)", parts), parts
        assert "PushedFilters: [IsNotNull(fechahora), GreaterThanOrEqual(fechahora" in plan


@pytest.mark.parametrize(
    "start,end",
    [
        ("2025-01-02 00:00:00", "2025-01-02 23:59:59"),  # one whole day, exact endpoints
        ("2025-01-01 23:59:59", "2025-01-02 00:00:00"),  # the two seconds around midnight
        ("2025-01-01 22:00:00", "2025-01-03 03:00:00"),  # crosses two midnights
    ],
)
def test_pruned_interval_equals_unpruned(silver, start, end):
    def serve(df):
        rows = [tuple(r) for r in iv.interval(df, "fechahora", "valor", start, end).collect()]
        return rows, iv.interval_count(df, "fechahora", start, end).collect()[0].cnt

    pruned, unpruned = serve(silver), serve(silver.drop("dt"))
    assert pruned == unpruned
    assert pruned[0] and pruned[1] == len(pruned[0])


def test_pruned_interval_under_non_utc_reader_session(spark, silver_path):
    """dt is the UTC date on both sides: a reader session in another
    time zone reads the window's local wall-clock bounds as instants
    whose UTC dates are the partitions that hold them.  Bounds derived
    with ``to_date`` in the reader's zone would prune to 2025-01-01 and
    return nothing for this window (03:00-04:00 UTC on 2025-01-02)."""
    reader = spark.newSession()
    reader.conf.set("spark.sql.session.timeZone", "America/Bogota")
    df = reader.read.parquet(silver_path)
    start, end = "2025-01-01 22:00:00", "2025-01-01 23:00:00"
    pruned = iv.interval(df, "fechahora", "valor", start, end).collect()
    unpruned = iv.interval(df.drop("dt"), "fechahora", "valor", start, end).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in unpruned]
    assert len(pruned) == 1
    assert iv.interval_count(df, "fechahora", start, end).collect()[0].cnt == 1


def test_non_date_dt_column_gets_no_partition_predicate(series):
    from pyspark.sql import functions as F

    df = series.withColumn("dt", F.lit(20250101).cast("bigint"))
    q = iv.interval(df, "fechahora", "valor", "2025-01-01 00:00:00", "2025-01-01 23:59:59")
    filters = [
        line for line in q._jdf.queryExecution().optimizedPlan().toString().splitlines()
        if "Filter" in line
    ]
    assert filters and not any("dt#" in line for line in filters)
    assert len(q.collect()) == 3


def test_silver_date_equals_to_date_under_utc(spark):
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.sources.ingest import silver_date

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    stamps = [
        dt.datetime(1900, 3, 1, 12, 0, 0),
        dt.datetime(1969, 12, 31, 0, 0, 0),
        dt.datetime(1969, 12, 31, 23, 59, 59, 500000),
        dt.datetime(1970, 1, 1, 0, 0, 0),
        dt.datetime(2025, 1, 1, 23, 59, 59),
        dt.datetime(2025, 1, 2, 0, 0, 0),
    ]
    df = spark.createDataFrame([(s,) for s in stamps], "ts timestamp")
    out = df.select(silver_date(F.col("ts")).alias("a"), F.to_date("ts").alias("b")).collect()
    assert [r.a for r in out] == [r.b for r in out]
    assert out[2].a == dt.date(1969, 12, 31)


def test_interval_over_silver_runs_one_job_and_no_exchange(spark, silver):
    """The rows are sorted in one task: no range exchange, so no
    sampling job re-running the scan; the collect is one Spark job."""
    q = iv.interval(silver, "fechahora", "valor", "2025-01-01 12:00:00", "2025-01-02 12:00:00")
    rows, jobs = _jobs(spark, "interval_one_job", q.collect)
    assert jobs == 1
    assert "Exchange" not in q._jdf.queryExecution().executedPlan().toString()
    ts = [r.fechahora for r in rows]
    assert len(ts) == 6 and ts == sorted(ts)  # closed at both 12:00 rows


def test_interval_without_day_partitions_keeps_the_global_sort(silver):
    """``coalesce`` folds the scan into its one task, so only a frame
    whose scan is pruned to the window's days sorts that way; any other
    frame (the ``events`` table) keeps a range-partitioned sort and a
    scan split across tasks."""
    q = iv.interval(silver.drop("dt"), "fechahora", "valor", "2025-01-01 12:00:00", "2025-01-02 12:00:00")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(fechahora" in plan
    assert "Coalesce" not in plan


def test_serve_interval_counts_its_rows_in_one_job(spark, silver):
    start, end = "2025-01-01 22:00:00", "2025-01-03 03:00:00"
    (rows, count), jobs = _jobs(
        spark, "serve_interval_one_job",
        lambda: iv.serve_interval(silver, "fechahora", "valor", start, end),
    )
    assert jobs == 1
    assert count == len(rows) == iv.interval_count(silver, "fechahora", start, end).collect()[0].cnt
    assert rows == iv.interval(silver, "fechahora", "valor", start, end).collect()
