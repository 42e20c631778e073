"""Table catalog over the driver-generated Parquet layout.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file/dir per table at
``{sf_dir}/{name}.parquet``.

Parquet is the columnar at-rest format (vectorized reader, row-group
statistics for predicate pushdown, column pruning) — the architecture
upgrade over the reference's row-oriented MySQL table (SURVEY.md §1.3).

Schema memo: reading a parquet file without a schema runs one Spark job
to infer it.  ``load_table`` infers each table file once per process and
reads it again with the inferred schema, which runs no job.  The memo
holds one entry per path, keyed on the file's identity (real path,
inode, size, mtime in ns) and on the session's values of every conf the
parquet schema converter reads (``_SCHEMA_CONFS``); a rewritten file or
a changed conf misses and re-infers.  A directory is inferred every
time: its identity would be its whole listing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


# every SQL conf Spark's ParquetToSparkSchemaConverter reads: an inferred
# schema is only valid under the values it was inferred with
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)

# path -> (file identity, conf values, inferred StructType); shared by
# every session of the process, since the key holds all the value depends on
_schemas: dict[str, tuple[tuple, tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a file's schema only when
    the file or the schema confs changed since the last read of it."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    ident = (os.path.realpath(path), st.st_ino, st.st_size, st.st_mtime_ns)
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    hit = _schemas.get(path)
    if hit is not None and hit[:2] == (ident, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (ident, confs, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # The events fixture has shipped ts two ways; handle both:
        #  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
        #    read nanos as long (nanosAsLong), floor-divide to micros
        #    (integer `div` — a double loses precision at 1.7e18 ns), and
        #    keep the raw bigint as ``ts_nanos`` so interval operators can
        #    translate bounds to nanos and push row-group pruning onto the
        #    physical column (the derived ts can't reach the scan).
        #  - TIMESTAMP(MICROS) without isAdjustedToUTC: Spark infers
        #    TIMESTAMP_NTZ by default, which breaks unix_micros() and
        #    tz-aware arithmetic downstream.  Disable NTZ inference so the
        #    scan yields a plain TIMESTAMP (session tz is UTC, so values
        #    match DuckDB's naive reading) — and ts predicates push into
        #    the parquet scan natively, no nanos escape needed.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            # FLOOR division, not `div` (which truncates toward zero):
            # interval's nanos-bound translation relies on floor algebra,
            # and a pre-epoch timestamp (negative nanos) under `div`
            # would round up and disagree with the pushed-down filter
            df = df.withColumn("ts_nanos", F.col("ts")).withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "ts_nanos div 1000 - "
                        "(CASE WHEN ts_nanos % 1000 < 0 THEN 1 ELSE 0 END)"
                    )
                ),
            )
        elif dict(df.dtypes).get("ts") == "timestamp_ntz":
            # Reader built before the conf was set (cached schema) — coerce.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


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
