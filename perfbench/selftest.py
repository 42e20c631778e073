"""Self-test of the span bookkeeping and the event-log fold.

    python3 perfbench/selftest.py

Starts a tiny traced Spark session (local[2], event log on), runs RDD
jobs whose job, stage and task counts are fixed by construction, folds
the event log and checks that every job lands on the span that ran it:
by job group, by a span alias (a foreign group id, as a streaming query
uses), by submission time (an unknown group), or on no span at all.
Prints ``selftest ok`` and exits 0 on success.
"""

from __future__ import annotations

import operator
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from run import WORK_ROOT, preflight, run_child, spark_env  # noqa: E402
from spans import Span, Tracer, event_log_files, fold, self_ms, union_ms  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def pure_checks() -> None:
    from driver import tail

    check(union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30, "union of overlapping intervals")
    check(union_ms([(0, 10), (30, 40)], 5, 35) == 10, "union clipped to the span")
    parent = Span("p", "outer", None, 0, 0.0, 100.0)
    kids = [Span("a", "x", "p", 0, 10.0, 30.0), Span("b", "y", "p", 0, 20.0, 50.0)]
    check(self_ms(parent, kids) == 60, "self time excludes child coverage once")
    check(tail(list(range(1, 41))) == (75.0, 30), "p75 of 40 samples leaves ten beyond it")
    check(tail(list(range(1, 201))) == (95.0, 190), "p95 of 200 samples leaves ten beyond it")
    check(tail([3.0, 1.0, 2.0]) == (100.0, 3.0), "tail of a small sample is its maximum")


def child(event_dir: str) -> None:
    from parcial_bigdata_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = "2"
    spark = get_spark("perfbench-selftest")
    sc = spark.sparkContext
    sc.parallelize(range(10), 2).count()  # before any span: unclaimed

    tracer = Tracer(True)
    tracer.bind(spark)
    with tracer.span("count", op=0):
        sc.parallelize(range(100), 4).count()
    with tracer.span("outer", op=1):
        sc.parallelize(range(100), 3).map(lambda x: (x % 2, 1)).reduceByKey(operator.add, 2).collect()
        with tracer.span("inner"):
            sc.parallelize(range(100), 5).count()
    with tracer.span("aliased", op=2) as span:
        span.aliases.append("foreign-run-id")
        sc.setJobGroup("foreign-run-id", "a thread the benchmark does not tag")
        sc.parallelize(range(10), 6).count()
    with tracer.span("timed", op=3):
        sc.setJobGroup("unknown-group", "no span claims this id")
        sc.parallelize(range(10), 7).count()
    app_id = sc.applicationId
    tracer.bind(None)
    spark.stop()

    work, orphan = fold(event_log_files(event_dir, app_id), tracer.spans)
    by_name = {s.name: work[s.id] for s in tracer.spans}
    expect = {"count": (1, 4), "outer": (1, 5), "inner": (1, 5), "aliased": (1, 6), "timed": (1, 7)}
    for name, (jobs, tasks) in expect.items():
        w = by_name[name]
        check((w.jobs, w.tasks) == (jobs, tasks), f"{name}: got {w.jobs} jobs/{w.tasks} tasks, want {jobs}/{tasks}")
        check(len(w.job_intervals) == jobs, f"{name}: every job has an end")
    check((orphan.jobs, orphan.tasks) == (1, 2), f"unclaimed: {orphan.jobs} jobs/{orphan.tasks} tasks")
    outer = by_name["outer"]
    check(outer.shuffle_write_bytes > 0 and outer.shuffle_write_bytes == outer.shuffle_read_bytes,
          "the reduceByKey shuffle is written and read in full")
    check(len(outer.stage_runs) == 2 and outer.task_skew() >= 1.0, "two stages with a skew of at least 1")
    check(all(w.run_ms >= 0 and w.cpu_ms >= 0 for w in by_name.values()), "non-negative task times")
    for s in tracer.spans:
        inside = union_ms(work[s.id].job_intervals, s.start_ms, s.end_ms)
        check(0 <= inside <= s.wall_ms + 1e-6, f"{s.name}: job time lies inside the span")


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--child":
        pure_checks()
        child(sys.argv[2])
        return 0
    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        event_dir = os.path.join(work, "eventlog")
        log = os.path.join(work, "selftest.log")
        cmd = [sys.executable, os.path.abspath(__file__), "--child", event_dir]
        code = run_child(cmd, work, spark_env(work, event_dir), log, 170)
        if code != 0:
            with open(log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            print("selftest FAILED", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
