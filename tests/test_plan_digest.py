"""tools/plan_digest.py: the md5 of a query's renumbered optimized plan
is the same for two builds of one query and differs between queries,
so two trees that print the same digests plan the same."""

from __future__ import annotations

import os
import re

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
