"""SparkSession factory and runtime tuning.

The reference pins all timestamp semantics to wall-clock conversion of
epoch-ms (``lambda/subirDB.py:106`` in the reference); we standardize on
UTC everywhere (SURVEY.md §7.3) so results are reproducible and match the
DuckDB oracle, which is UTC-naive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4))
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "parcial-bigdata-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this host.

    On a real cluster the same code runs unchanged — only ``master`` and
    the memory knobs move to spark-submit conf.  AQE handles runtime
    re-planning (partition coalescing, skew-join splitting) at any scale.
    """
    cpus = _cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not create.

    The driver hands ``queries()`` callables an arbitrary session; these
    three settings are runtime-mutable and required for oracle-identical
    results (UTC timestamps) and sane local parallelism.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Parquet TIMESTAMP(MICROS) without isAdjustedToUTC must read as plain
    # TIMESTAMP (not NTZ) for oracle-identical UTC semantics (see catalog).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        defaults = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if defaults > 4 * _cpus():
            spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    except Exception:
        spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    return spark
