"""Print one md5 per registry query of its optimized logical plan, so a
change that should not touch a plan can be checked against its parent:
run the tool on both trees and diff the output.

Usage: python tools/plan_digest.py SF_DIR [QUERY ...]

Prints one ``<name> <md5>`` line per query (every ``QUERIES`` entry when
none is named), in the order given.  The digest is taken over
``optimizedPlan().toString()`` after ``tools/dump_plans.renumber``, in a
session sized as ``dump_plans`` sizes its own, so it depends only on
the code and the data.  Building a query runs whatever its operator
runs at build (checkpoints, probes); no query is executed.

A checkpointed frame enters the plan as a scan, so the digest does not
see a change inside it.  One plan shape depends on the run: Spark's
rewrite of several distinct aggregates orders its ``Expand`` groups by
expression ids, which count every expression the process built before,
so such a query can digest differently after a different sequence of
queries.  Digest it alone on both trees before reading a difference.
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parcial_bigdata_spark.plans.registry import QUERIES  # noqa: E402
from parcial_bigdata_spark.session import get_spark  # noqa: E402
from tools.dump_plans import PLAN_CPUS, renumber  # noqa: E402


def plan_digest(spark, sf_dir: str, name: str) -> str:
    """md5 of query ``name``'s renumbered optimized plan at ``sf_dir``."""
    plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.md5(renumber(plan).encode()).hexdigest()


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sf_dir, names = sys.argv[1], sys.argv[2:] or list(QUERIES)
    os.environ["SPARK_GRAFT_CPUS"] = str(PLAN_CPUS)
    spark = get_spark("plan-digest", shuffle_partitions=PLAN_CPUS)
    for name in names:
        print(name, plan_digest(spark, sf_dir, name), flush=True)


if __name__ == "__main__":
    main()
