"""Catalog guards: every driver table loads with its contract schema
(TESTDATA.md / FIXTURES.md), so fixture drift fails loudly here instead
of deep inside an operator."""

from __future__ import annotations

import os

import pytest

from parcial_bigdata_spark import catalog
from parcial_bigdata_spark.catalog import TABLES, load_table

SF_DIR = "/root/testdata/sf0.001"

EXPECTED_COLS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey"},
    "part": {"p_partkey", "p_name", "p_brand"},
    "orders": {"o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"},
    "lineitem": {"l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"},
    "events": {"event_id", "user_id", "ts", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.mark.parametrize("name", TABLES)
def test_table_loads_with_contract_columns(spark, name):
    df = load_table(spark, SF_DIR, name)
    assert EXPECTED_COLS[name] <= set(df.columns), (
        f"{name}: missing {EXPECTED_COLS[name] - set(df.columns)}"
    )
    assert df.count() > 0


def test_events_ts_is_timestamp_after_nanos_escape(spark):
    df = load_table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_unknown_table_rejected(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF_DIR, "nope")


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


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_layout_drift(spark, tmp_path, unit):
    """The driver has shipped events.ts both as TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS) without isAdjustedToUTC (regenerated between
    rounds).  load_table must yield a plain TIMESTAMP ts either way, with
    no Spark job: nanos read as raw bigint and floor-divided to micros,
    micros read as TIMESTAMP from the footer (NTZ would break
    unix_micros downstream)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / f"layout_{unit}"
    d.mkdir()
    stamps = [dt.datetime(2024, 1, 5, 12, 0, 0), dt.datetime(2024, 1, 10, 8, 30, 0)]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(stamps, pa.timestamp(unit)),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    for i in range(2):
        df, jobs = _jobs(spark, f"layout_{unit}_{i}", lambda: load_table(spark, str(d), "events"))
        assert jobs == 0
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == stamps
        if unit == "ns":
            assert "ts_nanos" in df.columns  # raw column kept for pushdown


def _write_part(path, keys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"p_partkey": keys,
                  "p_name": ["a", "b", "c"],
                  "p_brand": ["x", "y", "z"]}),
        str(path),
    )


def test_repeat_load_runs_no_schema_job(spark, tmp_path):
    """Neither the first nor a second load of a table file runs a job:
    both read the schema from the file's footer, and both give the same
    schema and rows."""
    _write_part(tmp_path / "part.parquet", [1, 2, 3])
    first, jobs = _jobs(spark, "footer_first", lambda: load_table(spark, str(tmp_path), "part"))
    assert jobs == 0
    again, jobs = _jobs(spark, "footer_again", lambda: load_table(spark, str(tmp_path), "part"))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_file_is_inferred_again(spark, tmp_path):
    """Every load reads the footer: rewriting the same path with another
    column type gives the new type on the next load."""
    path = tmp_path / "part.parquet"
    _write_part(path, [1, 2, 3])
    assert dict(load_table(spark, str(tmp_path), "part").dtypes)["p_partkey"] == "bigint"
    _write_part(path, ["1", "2", "3"])
    df = load_table(spark, str(tmp_path), "part")
    assert dict(df.dtypes)["p_partkey"] == "string"
    assert sorted(r.p_partkey for r in df.collect()) == ["1", "2", "3"]


@pytest.mark.parametrize("name", TABLES)
def test_first_load_runs_no_job(spark, tmp_path, name):
    """The first load of each table file (a copy at a path never loaded
    before) reads the schema from the footer on the driver: no Spark
    job."""
    import shutil

    shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path)
    _, jobs = _jobs(spark, f"first_load_{name}", lambda: load_table(spark, str(tmp_path), name))
    assert jobs == 0


@pytest.mark.parametrize("before", [None, "false", "true"])
def test_events_load_leaves_session_confs_unchanged(spark, before):
    """Loading events, whose ts may need the nanos handling, sets no conf
    in the caller's session."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if before is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, before)
    try:
        load_table(spark, SF_DIR, "events")
        assert spark.conf.get(key, None) == before
    finally:
        spark.conf.unset(key)


def _inferred(spark, path):
    return spark.read.parquet(str(path)).schema


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_equals_inference(spark, name):
    """The footer conversion is a reference check against Spark's own
    inference for every fixture table."""
    path = os.path.join(SF_DIR, f"{name}.parquet")
    assert catalog.read_parquet(spark, path).schema == _inferred(spark, path)


def test_footer_types_equal_inference_where_arrow_differs(spark, tmp_path):
    """Columns whose arrow type Spark types otherwise: an INT64
    TIMESTAMP(NANOS) column maps to the bigint that inference gives
    under nanosAsLong, a duration to bigint, and unsigned integers widen
    as inference widens them (from_arrow_schema rejects them); the
    other columns convert unchanged."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "types.parquet"
    pq.write_table(
        pa.table({
            "ts": pa.array([1_704_456_000_123_456_789, -1], pa.timestamp("ns")),
            "us": pa.array([1, 2], pa.timestamp("us")),
            "dur": pa.array([dt.timedelta(seconds=1), None], pa.duration("us")),
            "u8": pa.array([255, 0], pa.uint8()),
            "u16": pa.array([65_535, 0], pa.uint16()),
            "u32": pa.array([4_294_967_295, 0], pa.uint32()),
            "u64": pa.array([18_446_744_073_709_551_615, 0], pa.uint64()),
            "v": pa.array([1.0, None], pa.float64()),
        }),
        str(path),
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try:
        expected = _inferred(spark, path)
    finally:
        spark.conf.unset(key)
    df = catalog.read_parquet(spark, str(path))
    assert df.schema == expected
    rows = sorted(df.collect(), key=lambda r: r.ts)
    assert [r.ts for r in rows] == [-1, 1_704_456_000_123_456_789]
    assert tuple(rows[1][c] for c in ("dur", "u8", "u16", "u32", "u64")) == (
        1_000_000, 255, 65_535, 4_294_967_295, Decimal(18_446_744_073_709_551_615)
    )


def test_create_silver_table_escapes_location(spark, tmp_path):
    """A location containing a single quote must not break (or inject
    into) the DDL (round-5 review)."""
    loc = str(tmp_path / "user's files" / "dolar")
    spark.sql("DROP TABLE IF EXISTS quoted_silver")
    catalog.create_silver_table(spark, table="quoted_silver", location=loc)
    assert spark.catalog.tableExists("quoted_silver")
    spark.sql("DROP TABLE IF EXISTS quoted_silver")
