"""SparkSession factory and runtime tuning.

The reference pins all timestamp semantics to wall-clock conversion of
epoch-ms (``lambda/subirDB.py:106`` in the reference); we standardize on
UTC everywhere (SURVEY.md §7.3) so results are reproducible and match the
DuckDB oracle, which is UTC-naive.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory that holds the package: Python workers import the
# package's functions (UDFs and pandas stages pickle them by reference)
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


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

    The generated-class cache holds 1000 classes instead of Spark's 100,
    so a query mix that is served again reuses the classes Janino
    compiled for it (and the JIT code compiled for those) instead of
    compiling them anew on every pass.  It is a static SQL conf, read
    when the session is built (see ``tune_runtime``).
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
        # One pass of the 8-query analytics_batch mix uses about 190
        # generated classes.  At the default of 100 entries every pass
        # evicts what the next one needs: 23.3 Janino compiles per op in
        # every pass, and the JIT compiles each new class again.  At 1000
        # a repeated pass compiles 0.5-0.9 per op (tools/jvm_cpu.py), with
        # headroom for a larger mix.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return _workers_import_package(spark)


def _workers_import_package(spark: SparkSession) -> SparkSession:
    """Put the package's root on the Python workers' ``PYTHONPATH``.

    Workers otherwise find the package only through their working
    directory, the driver's: a driver run outside the repository root
    without ``PYTHONPATH`` fails every query whose Python stage calls a
    package function with ``ModuleNotFoundError``.  The context's
    environment is what each Python function ships to its worker, and
    Spark prepends that ``PYTHONPATH`` to the worker's own, so the entry
    reaches every Python stage built after this call, at no Spark cost.
    """
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    return spark


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not create.

    The driver hands ``queries()`` callables an arbitrary session; these
    three settings are runtime-mutable and required for oracle-identical
    results (UTC timestamps) and sane local parallelism.

    Static conf is out of its reach: a session not built by ``get_spark``
    keeps Spark's generated-class cache of 100 entries, so a repeated
    query mix larger than that recompiles its classes on every pass.

    The session's Python workers can import the package afterwards,
    wherever the driver runs (``_workers_import_package``).
    """
    _workers_import_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Schema inference (directories of part files; a single file's schema
    # comes from its footer in catalog.read_parquet, which never yields
    # NTZ) must type Parquet TIMESTAMP(MICROS) without isAdjustedToUTC as
    # plain TIMESTAMP (not NTZ) for oracle-identical UTC semantics.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        defaults = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if defaults > 4 * _cpus():
            spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    except Exception:
        spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    return spark
