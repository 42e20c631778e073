"""The generated-class cache holds the analytics mix: a second pass of
the 8 ``analytics_batch`` registry queries reuses the classes Janino
compiled in the first instead of compiling them again.

At sf0.001 a cold pass compiles about 190 classes, more than Spark's
default cache of 100 entries; with that default every pass recompiles
all of them (186 per pass, measured).  ``get_spark`` sizes the cache at
1000, and a repeated pass compiles 4-6 (``profile_orders_table``
inlines values of its input into the code it generates)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"
# the measured second pass compiles 4-6 classes
SECOND_PASS_MAX = 12

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _mix() -> list[str]:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
    try:
        from workloads import MIX
    finally:
        sys.path.pop(0)
    return list(MIX)


def test_mix_classes_survive_a_second_pass(spark):
    from parcial_bigdata_spark.plans.registry import QUERIES

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for q in _mix():
            QUERIES[q](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    first = one_pass()
    second = one_pass()
    # the mix's working set exceeds Spark's default cache of 100 classes
    assert first > 100, f"first pass compiled only {first} classes"
    assert second <= SECOND_PASS_MAX, f"second pass recompiled {second} of {first} classes"
