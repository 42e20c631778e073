"""Bronze→silver ingest dataflow — the reference's semantic core.

Reference behavior re-expressed as ONE declarative DataFrame pipeline
(``lambda/subirDB.py:59-130``):

- bronze objects are whole JSON documents named ``dolar-<epoch>.json``
  whose payload is a top-level array of 2-element arrays
  ``[["1757509256000","3920.00"], ...]`` (elements string OR number) —
  ``lambda/subirDB.py:98-107``;
- filename predicate filter skips non-matching keys (P1,
  ``lambda/subirDB.py:90-92``);
- non-list top level rejects the whole file (P5, ``subirDB.py:99-100``);
- per-row permissive parse: unpack 2-tuple, epoch-ms→timestamp truncated
  to seconds (T1, ``subirDB.py:106``), string→float (T2); failed rows are
  dropped and counted (P6/A3, ``subirDB.py:102-113``);
- per-file accounting ``{key, rows_inserted}`` (A4, ``subirDB.py:118``).

Spark-first: `pathGlobFilter` replaces the key filter, an explicit
``ArrayType(ArrayType(StringType))`` schema + permissive ``from_json``
replaces try/except, `try_cast` keeps bad rows as NULLs that one
conditional aggregate counts.  No Python UDFs anywhere — every expression
is JVM-side and whole-stage-codegen'd, which is what makes the same plan
viable over millions of bronze files on a cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAYLOAD_SCHEMA = T.ArrayType(T.ArrayType(T.StringType()))

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("fechahora", T.TimestampType(), False),
        T.StructField("valor", T.DecimalType(12, 4), False),
    ]
)


def read_bronze(spark: SparkSession, bronze_dir: str, glob: str = "dolar-*.json") -> DataFrame:
    """Whole-document read of bronze JSON objects, one row per file.

    ``wholetext`` preserves the verbatim payload (the reference reads the
    full object body, ``subirDB.py:94-98``); the glob is the P1 filter.
    """
    return (
        spark.read.option("wholetext", "true")
        .option("pathGlobFilter", glob)
        .text(bronze_dir)
        .select(
            F.input_file_name().alias("source_file"),
            F.col("value").alias("raw_payload"),
        )
    )


def parse_rows(bronze: DataFrame) -> DataFrame:
    """Explode payloads into candidate rows with permissive typed casts.

    Output columns: source_file, fechahora, valor, plus ``ok`` marking
    rows that parsed (both fields non-null, exactly-2-element tuple).
    Files whose top level is not a list parse to NULL and contribute zero
    rows (the reference aborts those files wholesale — P5).
    """
    parsed = bronze.select(
        "source_file",
        F.from_json("raw_payload", PAYLOAD_SCHEMA).alias("payload"),
    )
    exploded = parsed.where(F.col("payload").isNotNull()).select(
        "source_file", F.explode("payload").alias("pair")
    )
    # T1: epoch-ms (string or number) → UTC timestamp truncated to seconds.
    # T2: string/number → float.  try_* keeps ANSI mode (default-on in
    # Spark 4) while giving the reference's permissive drop-and-count
    # semantics: try_element_at tolerates sub-2-element tuples (plain
    # element_at THROWS under ANSI) and the decimal(12,4) range probe
    # marks values the silver schema cannot store as bad rows instead of
    # letting the at-rest cast blow up the write.
    ts_ms = F.try_element_at("pair", F.lit(1)).try_cast("bigint")
    val = F.try_element_at("pair", F.lit(2)).try_cast("double")
    return exploded.select(
        "source_file",
        F.date_trunc("second", F.timestamp_millis(ts_ms)).alias("fechahora"),
        val.alias("valor_raw"),
        (
            (F.size("pair") == 2)
            & ts_ms.isNotNull()
            & val.try_cast("decimal(12,4)").isNotNull()
        ).alias("ok"),
    )


def silver_rows(candidates: DataFrame) -> DataFrame:
    """The rows that survive the permissive parse, typed as the silver
    table (DECIMAL(12,4) at rest, as in the reference DDL)."""
    return candidates.where("ok").select(
        "source_file",
        "fechahora",
        # try_cast cannot throw under ANSI; ok already guarantees the
        # value fits decimal(12,4), so no row actually nulls out here.
        F.col("valor_raw").try_cast(T.DecimalType(12, 4)).alias("valor"),
    )


def accounting(candidates: DataFrame) -> DataFrame:
    """Per-file lineage record (A3/A4): rows_inserted + bad_rows per file.

    Single-pass conditional aggregation — no second scan, and the partial
    aggregates combine map-side so this stays cheap at any file count.
    """
    return candidates.groupBy("source_file").agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("rows_inserted"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("bad_rows"),
    )


def ingest_summary(acct: DataFrame) -> DataFrame:
    """Global summary {files_processed, total_rows_inserted} — reference
    ``subirDB.py:126``."""
    return acct.agg(
        F.count("*").alias("files_processed"),
        F.sum("rows_inserted").alias("total_rows_inserted"),
        F.sum("bad_rows").alias("total_bad_rows"),
    )


def silver_date(ts: Column | str) -> Column:
    """The silver partition date of timestamp ``ts``: its UTC calendar
    date, computed from epoch seconds, so it is the same whatever the
    session time zone.  The writer (``write_silver``), the streaming
    dedup probe and the interval reader's partition predicate all derive
    ``dt`` through this one function; a reader that derived its bounds
    with ``to_date`` under a non-UTC session would prune away partitions
    holding matching rows."""
    return F.date_from_unix_date(F.floor(F.unix_seconds(ts) / 86400).cast("int"))


def write_silver(rows: DataFrame, path: str) -> None:
    """Append to the silver table, partitioned by ``dt = silver_date``
    for partition pruning at scale (SURVEY.md §4 design choice; the
    reference table is unpartitioned and unindexed)."""
    (
        rows.withColumn("dt", silver_date("fechahora"))
        .write.mode("append")
        .partitionBy("dt")
        .parquet(path)
    )
