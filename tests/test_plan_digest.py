"""tools/plan_digest.py: the md5 of a query's renumbered optimized plan
is the same for two builds of one query, whatever the process built
before it, and differs between queries, so two trees that print the
same digests plan the same."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

from tests.test_catalog import SF_DIR
from tools.plan_digest import plan_digest

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def test_digest_is_stable_across_builds_and_tells_queries_apart(spark):
    first = plan_digest(spark, SF_DIR, "events_change_point")
    assert re.fullmatch(r"[0-9a-f]{32}", first)
    # a second build allocates new expression ids; renumbering hides them
    assert plan_digest(spark, SF_DIR, "events_change_point") == first
    assert plan_digest(spark, SF_DIR, "events_weekday_seasonality") != first


def _digest_lines(*names: str) -> list[str]:
    tool = Path(__file__).resolve().parent.parent / "tools" / "plan_digest.py"
    done = subprocess.run(
        [sys.executable, str(tool), SF_DIR, *names],
        capture_output=True, text=True, timeout=900,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return done.stdout.splitlines()


def test_digest_does_not_depend_on_the_queries_built_before():
    # stats_chi2_independence counts two distinct columns; Spark orders
    # the Expand groups of that rewrite by expression-id hashes, which
    # the queries built earlier in the process move.  Each side runs in
    # a fresh process, as the tool is run on two trees.
    from parcial_bigdata_spark.plans.registry import QUERIES

    before = [
        n for n in QUERIES
        if n.startswith(("stats_", "events_")) and n != "stats_chi2_independence"
    ][:25]
    alone = _digest_lines("stats_chi2_independence")
    after = _digest_lines(*before, "stats_chi2_independence")
    assert alone[-1] == after[-1]
