"""Vector math over ``array<float>`` columns — pure built-in higher-order
functions (zip_with / aggregate), evaluated JVM-side.  No Python crosses
the row boundary.  They do NOT run inside whole-stage codegen:
``ZipWith`` and ``ArrayAggregate`` are ``CodegenFallback`` in Spark
4.1.2, so every element goes through the expression interpreter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision (deterministic
    left-to-right order — bitwise reproducible across runs)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    ))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def elementwise_avg(df, group_cols: list[str], vec_col: str):
    """Element-wise mean of vectors per group (IVF centroid builder).

    posexplode → (group, pos, value) partial-aggregated avg → re-assemble
    with array_agg ordered by position.  One shuffle on (group, pos); the
    map-side partial sums keep the shuffle at |groups|×dim rows.
    """
    exploded = df.select(*group_cols, F.posexplode(vec_col).alias("pos", "v"))
    means = exploded.groupBy(*group_cols, "pos").agg(F.avg("v").alias("m"))
    return (
        means.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            *group_cols,
            F.transform("pm", lambda s: s.getField("m")).alias("centroid"),
        )
    )
