"""Print one md5 per registry query of its optimized logical plan, so a
change that should not touch a plan can be checked against its parent.

Usage: python tools/plan_digest.py SF_DIR [QUERY ...]
       python tools/plan_digest.py --rev REV SF_DIR [QUERY ...]

The first form prints one ``<name> <md5>`` line per query (every
``QUERIES`` entry when none is named), in the order given.  The digest
is taken over ``optimizedPlan().toString()`` after
``tools/dump_plans.renumber``, in a session sized as ``dump_plans``
sizes its own, so it depends only on the code and the data.  Building a
query runs whatever its operator runs at build (checkpoints, probes); no
query is executed.

Every query is built from the same expression-id state
(``dump_plans.fixed_expr_ids``): renumbering alone cannot hide absolute
ids where a rewrite orders its output by id hashes, as the rewrite of
several distinct aggregates orders its ``Expand`` groups.  So a query's
digest does not depend on what the process built before it.

The second form exports REV with ``git archive`` and copies this
checkout's working tree (``tools/ab.py``'s export and copy), digests
both copies in one process per side, and prints only the queries whose
digest differs, the names found on one side only, and a line when the
two sides list their queries in another order.  It exits 1 when it
printed anything.  Both sides run this checkout's copy of the tool and
of ``tools/dump_plans.py``.

A checkpointed frame enters the plan as a scan, so the digest does not
see a change inside it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from parcial_bigdata_spark.plans.registry import QUERIES  # noqa: E402
from parcial_bigdata_spark.session import get_spark  # noqa: E402
from tools.dump_plans import PLAN_CPUS, fixed_expr_ids, renumber  # noqa: E402


def plan_digest(spark, sf_dir: str, name: str) -> str:
    """md5 of query ``name``'s renumbered optimized plan at ``sf_dir``,
    built from ``dump_plans``' fixed expression-id state."""
    with fixed_expr_ids(spark):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.md5(renumber(plan).encode()).hexdigest()


def _digests(tree: Path, sf_dir: str, names: list[str]) -> list[tuple[str, str]]:
    """``(name, md5)`` pairs printed by this tool run on ``tree``'s code
    in a process of its own."""
    proc = subprocess.run(
        [sys.executable, str(tree / "tools" / "plan_digest.py"), sf_dir, *names],
        cwd=tree, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        sys.exit(f"plan_digest failed in {tree}:\n{proc.stderr[-3000:]}")
    return [tuple(ln.split()) for ln in proc.stdout.splitlines() if ln.strip()]


def compare_rev(rev: str, sf_dir: str, names: list[str]) -> list[str]:
    """The lines that tell revision ``rev`` and this checkout apart."""
    from tools.ab import copy_worktree, export_rev

    with tempfile.TemporaryDirectory(prefix="plan-digest-") as tmp:
        parent, change = Path(tmp) / "parent", Path(tmp) / "change"
        export_rev(rev, str(parent), str(ROOT))
        copy_worktree(str(change), str(ROOT))
        for tool in ("plan_digest.py", "dump_plans.py"):
            shutil.copy2(change / "tools" / tool, parent / "tools" / tool)
        old = _digests(parent, sf_dir, names)
        new = _digests(change, sf_dir, names)
    old_md5, new_md5 = dict(old), dict(new)
    out = [f"{n} only in {rev}" for n, _ in old if n not in new_md5]
    out += [f"{n} only in the checkout" for n, _ in new if n not in old_md5]
    out += [
        f"{n} {old_md5[n]} -> {md5}" for n, md5 in new
        if n in old_md5 and old_md5[n] != md5
    ]
    if [n for n, _ in old if n in new_md5] != [n for n, _ in new if n in old_md5]:
        out.append("the two sides list their queries in another order")
    return out


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--rev"] and len(args) >= 3:
        lines = compare_rev(args[1], args[2], args[3:])
        for line in lines:
            print(line)
        print(f"{len(lines)} differences", file=sys.stderr)
        sys.exit(1 if lines else 0)
    if not args or args[0].startswith("-"):
        sys.exit(__doc__)
    sf_dir, names = args[0], args[1:] or list(QUERIES)
    os.environ["SPARK_GRAFT_CPUS"] = str(PLAN_CPUS)
    spark = get_spark("plan-digest", shuffle_partitions=PLAN_CPUS)
    for name in names:
        print(name, plan_digest(spark, sf_dir, name), flush=True)


if __name__ == "__main__":
    main()
