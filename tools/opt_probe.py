"""Optimization probe: time individual registry queries through the
bench's timing primitive (noop sink, min-of-N, warm-up at sf0.001) and
optionally dump their .explain("formatted") plans to plans/<round>/.

Usage:
  python tools/opt_probe.py [--iters N] [--plans SUFFIX] [--plans-dir D]
                            [--sf DIR] q1 q2 ...

With --plans before (say), writes plans/<round>/<query>_before.txt for
each query (default round dir: r17).  Timing methodology matches bench.py
`_time_query` so numbers are directly comparable to BENCH_r*.json
headline entries.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import best_of, query_run, warm_query, warm_sf_dir  # noqa: E402
from parcial_bigdata_spark.plans.registry import QUERIES  # noqa: E402
from parcial_bigdata_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="suffix: write plans/<round>/<q>_<suffix>.txt")
    ap.add_argument("--plans-dir", default="r17",
                    help="round subdirectory under plans/ (default r17)")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip the timing loop")
    args = ap.parse_args()

    spark = get_spark("opt-probe")
    sc = spark.sparkContext
    warm_dir = warm_sf_dir(args.sf)

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / args.plans_dir
    results: dict[str, float] = {}
    for name in args.queries:
        if name not in QUERIES:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.plans:
            plans_dir.mkdir(parents=True, exist_ok=True)
            df = QUERIES[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}_{args.plans}.txt").write_text(buf.getvalue())
        if args.no_time:
            continue

        def warm(name=name):
            # a warm-up failure is informative, not fatal
            sc.setJobDescription(f"warm:{name}")
            failures: dict[str, str] = {}
            warm_query(spark, name, warm_dir, failures)
            for msg in failures.values():
                print(f"!! warm-up {name}: {msg}", file=sys.stderr)
            sc.setJobDescription(f"time:{name}")

        # Guard the timing like the warm-up: one failing query must not
        # discard every already-collected timing (r16 advice).
        try:
            best = best_of({name: query_run(spark, name, args.sf)},
                           args.iters, warm=warm)
        except Exception as e:
            print(f"!! timing {name}: {e}", file=sys.stderr)
            continue
        results[name] = best[name][0]
        print(f"{name}: {results[name]}", file=sys.stderr)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
