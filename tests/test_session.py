"""The session's Python workers import the package wherever the driver
runs: a query whose Python stage calls a package function works from a
driver started outside the repository root, with no ``PYTHONPATH``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from tests.test_catalog import SF_DIR

REPO = Path(__file__).resolve().parent.parent

# the external driver's posture: its own session, the repository on the
# driver's sys.path only, then a registry query (the query tunes the
# session itself)
DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    from parcial_bigdata_spark.plans.registry import QUERIES

    print("rows", QUERIES["streaming_running_zscore"](spark, {sf!r}).count())
    spark.stop()
    """
)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata not present")
def test_package_udf_runs_from_a_driver_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = tmp_path / "driver.py"
    script.write_text(DRIVER.format(repo=str(REPO), sf=SF_DIR))
    done = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert int(done.stdout.split("rows")[-1]) > 0
