"""Table catalog over the driver-generated Parquet layout.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file/dir per table at
``{sf_dir}/{name}.parquet``.

Parquet is the columnar at-rest format (vectorized reader, row-group
statistics for predicate pushdown, column pruning) — the architecture
upgrade over the reference's row-oriented MySQL table (SURVEY.md §1.3).

Schemas come from the parquet footer: ``read_parquet`` reads a file's
schema on the driver (pyarrow, no Spark job) and hands it to the reader,
so loading a table runs no job and changes no session conf.  A directory
of Spark-written part files is read by inference.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the silver table's columns: create_silver_table's DDL, and the schema
# the streaming writer pins when it probes silver
SILVER_COLUMNS = (
    "fechahora TIMESTAMP NOT NULL, valor DECIMAL(12,4) NOT NULL, "
    "source_file STRING, dt DATE"
)


# unsigned parquet integers, which from_arrow_schema rejects, and the
# Spark types their inference gives
_UNSIGNED = {
    pa.uint8(): pa.int16(),
    pa.uint16(): pa.int32(),
    pa.uint32(): pa.int64(),
    pa.uint64(): pa.decimal128(20, 0),
}


def _inferred_type(t: pa.DataType) -> pa.DataType:
    """The arrow type of a top-level footer column that converts to the
    Spark type inference gives it: nanos timestamps and durations are
    plain INT64 to Spark (``bigint``), unsigned integers widen."""
    if pa.types.is_timestamp(t) and t.unit == "ns" or pa.types.is_duration(t):
        return pa.int64()
    return _UNSIGNED.get(t, t)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the job that infers a file's
    schema: a file is read with the schema its footer declares, typed as
    Spark's inference types it (``_inferred_type``).  An INT64
    TIMESTAMP(NANOS) column reads as ``bigint``, its raw nanoseconds,
    which is what inference gives under
    ``spark.sql.legacy.parquet.nanosAsLong``; Spark's reader rejects it
    as a timestamp.  A directory is read by inference."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    # INT96 timestamps come out in micros, so every nanos timestamp left
    # is an INT64 TIMESTAMP(NANOS) column
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
        footer = pf.schema_arrow
    fields = [f.with_type(_inferred_type(f.type)) for f in footer]
    return spark.read.schema(from_arrow_schema(pa.schema(fields))).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # The events fixture has shipped ts two ways.  TIMESTAMP(MICROS)
    # without isAdjustedToUTC reads as a plain TIMESTAMP (the footer schema
    # never yields NTZ, which breaks unix_micros() and tz-aware arithmetic)
    # and ts predicates push into the scan.  TIMESTAMP(NANOS) reads as its
    # raw nanos (bigint): keep them as ``ts_nanos`` so interval operators
    # can translate bounds to nanos and push row-group pruning onto the
    # physical column (the derived ts can't reach the scan), and divide to
    # micros in integer arithmetic (a double loses precision at 1.7e18 ns).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # FLOOR division, not `div` (which truncates toward zero):
        # interval's nanos-bound translation relies on floor algebra,
        # and a pre-epoch timestamp (negative nanos) under `div` would
        # round up and disagree with the pushed-down filter
        df = df.withColumn("ts_nanos", F.col("ts")).withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "ts_nanos div 1000 - "
                    "(CASE WHEN ts_nanos % 1000 < 0 THEN 1 ELSE 0 END)"
                )
            ),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def create_silver_table(spark: SparkSession, table: str = "dolar", location: str | None = None) -> None:
    """Idempotent silver DDL (S7) — the reference's CREATE TABLE IF NOT
    EXISTS ``dolar(fechahora DATETIME NOT NULL, valor DECIMAL(12,4) NOT
    NULL)`` (``lambda/subirDB.py:71-77``), upgraded to parquet
    partitioned by date, a layout the unindexed MySQL table never had
    (SURVEY.md §4).  ``dt`` is the UTC date of ``fechahora``
    (``sources.ingest.silver_date``).  A filter on it prunes partitions
    from directory metadata; the interval serve path adds the window's
    ``dt`` range to its ``fechahora`` filter, so a request opens only the
    day partitions its window touches."""
    # escape/quote interpolated identifiers: a path with a single quote
    # would break the DDL (or smuggle SQL into it); backticks keep a
    # reserved-word table name valid
    loc = " LOCATION '{}'".format(location.replace("'", "''")) if location else ""
    # quote each dot-separated part so db-qualified names stay qualified
    table = ".".join("`{}`".format(p.replace("`", "``")) for p in table.split("."))
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table} ({SILVER_COLUMNS})
        USING parquet PARTITIONED BY (dt){loc}
        """
    )
