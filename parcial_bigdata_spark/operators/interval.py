"""Interval query — the reference's one real query.

Reference: ``main.py:61-86`` — closed-interval timestamp filter (P2),
2-column projection (P4), ascending sort (O1), row count in the response
envelope (A1), DECIMAL→float downcast at the edge (T4).

Spark-first: a declarative filter+project+sort plan.  Catalyst pushes the
range predicate into the Parquet scan (row-group min/max pruning) and
prunes unread columns, so at 100 TB only the matching row groups of two
columns ever leave storage — unlike the reference's unindexed full scan.
Over silver (partitioned by ``dt = silver_date(fechahora)``) the filter
also carries the window's ``dt`` range, so the scan lists and opens only
the day partitions the window touches (``PartitionFilters``).

Over silver the returned rows are sorted in one task (``coalesce(1)``
before the sort): they are one API response, collected into one driver,
and the pruned scan reads about the window's days, so one task sorts
what the driver must hold anyway.  A global sort would add a range
exchange whose sampling job runs the scan a second time.  ``coalesce``
is no shuffle, so the scan runs in that task too; that is why a frame
without ``dt`` partitions (the ``events`` table) keeps the global sort
and a scan over as many tasks as its splits.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parcial_bigdata_spark.sources.ingest import silver_date


def _range_filter(df: DataFrame, ts_col: str, start, end) -> DataFrame:
    """Closed-interval filter on ``ts_col``, pushdown-aware.

    When the table carries a raw ``{ts_col}_nanos`` bigint companion (the
    events fixture stores TIMESTAMP(NANOS), which Spark reads as long —
    see catalog.load_table), the bounds are translated to nanos and the
    filter lands on the raw column instead: ``ts = timestamp_micros(raw
    div 1000)``, so ``start <= ts <= end`` ⟺ ``micros(start)*1000 <= raw
    <= micros(end)*1000 + 999`` (floor-division algebra, lossless).  The
    bound expressions are foldable, so Catalyst folds them to long
    literals and pushes the comparison into the parquet scan — row-group
    min/max pruning on the biggest time-series table, instead of a full
    scan + post-filter on the derived timestamp.

    When the table carries a ``DATE`` column ``dt`` (silver's partition
    column, ``dt = silver_date(ts)``), the filter also bounds ``dt`` by
    the dates of the window's endpoints.  The bounds fold to date
    literals, so the scan prunes partitions from directory metadata; the
    timestamp predicate stays for the exact bounds and Parquet pushdown.
    Both sides go through ``silver_date``, so the pruning is exact under
    any session time zone."""
    lo, hi = F.to_timestamp(F.lit(start)), F.to_timestamp(F.lit(end))
    nanos_col = f"{ts_col}_nanos"
    if nanos_col in df.columns:
        return df.where(
            F.col(nanos_col).between(F.unix_micros(lo) * 1000, F.unix_micros(hi) * 1000 + 999)
        )
    cond = F.col(ts_col).between(F.lit(start), F.lit(end))
    if _day_partitioned(df):
        cond &= F.col("dt").between(silver_date(lo), silver_date(hi))
    return df.where(cond)


def _day_partitioned(df: DataFrame) -> bool:
    """Whether ``df`` carries silver's ``DATE`` partition column ``dt``,
    so a window's scan reads only the days it touches."""
    return dict(df.dtypes).get("dt") == "date"


def interval(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    start: dt.datetime | str | Column,
    end: dt.datetime | str | Column,
) -> DataFrame:
    """Rows with ``start <= ts <= end``, ascending by ts, two columns.

    Matches the reference's ``WHERE fechahora >= %s AND fechahora <= %s
    ORDER BY fechahora ASC`` with the ``float(valor)`` downcast.  Over
    silver the sort runs in one task and the plan has no exchange; any
    other frame keeps the global sort (module docstring).
    """
    ts = F.col(ts_col)
    rows = _range_filter(df, ts_col, start, end)
    if _day_partitioned(df):
        rows = rows.coalesce(1)
    return rows.orderBy(ts.asc()).select(
        ts.alias(ts_col), F.col(value_col).cast("double").alias(value_col)
    )


def interval_count(
    df: DataFrame,
    ts_col: str,
    start: dt.datetime | str | Column,
    end: dt.datetime | str | Column,
) -> DataFrame:
    """The response-envelope ``count`` (reference ``main.py:85-86``) as a
    single-row aggregate, for callers that want the count without the
    rows: computed distributed, nothing collected but one row."""
    return _range_filter(df, ts_col, start, end).agg(F.count("*").alias("cnt"))


def serve_interval(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    start: dt.datetime | str | Column,
    end: dt.datetime | str | Column,
) -> tuple[list, int]:
    """One API request: ``(rows, count)`` from ONE ``interval`` collect,
    with ``count = len(rows)`` — the reference's response envelope
    (``main.py:85-86``).  The rows are collected anyway, so counting them
    needs no second scan; ``interval_count`` stays for callers that want
    only the count."""
    rows = interval(df, ts_col, value_col, start, end).collect()
    return rows, len(rows)


def validate_range(start: dt.datetime, end: dt.datetime) -> None:
    """Request guard (reference ``main.py:63-64``): reject end <= start."""
    if end <= start:
        raise ValueError("'end' must be greater than 'start'")
