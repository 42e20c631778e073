"""One benchmark run of one workload, in a fresh driver process.

Started by ``run.py`` with the Spark launch environment already set.
Writes one JSON result to ``--out``: the contract metrics plus a report
of everything else (failures by op name, tail percentile and sample
count, environment stamps, per-layer detail).
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
from proctree import ProcTree, steal_ticks  # noqa: E402
from spans import Tracer, event_log_files, fold  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of TAIL_LADDER with at
    least ten samples beyond it; the maximum (100) when none has."""
    xs = sorted(samples)
    n = len(xs)
    for pct in TAIL_LADDER:
        k = math.ceil(n * pct / 100)  # rank of the percentile, 1-based
        if n - k >= 10:
            return pct, xs[k - 1]
    return 100.0, xs[-1]


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.wl = WORKLOADS[args.workload](args.seed, self.tracer)
        self.failures: list[dict] = []
        self.attempted = 0
        self.spark = None

    def attempt(self, phase: str, name: str, fn, op: int | None = None) -> float:
        """Run one op under a span; record any failure by op name."""
        self.attempted += 1
        t0 = time.perf_counter()
        err = None
        try:
            with self.tracer.span(f"op.{name}", op=op):
                err = fn()
        except Exception as e:  # a failed op is a result, not a crash
            traceback.print_exc()
            err = f"{type(e).__name__}: {e}".splitlines()[0][:300]
        if err is not None:
            self.failures.append({"phase": phase, "op": name, "error": err})
        return (time.perf_counter() - t0) * 1000

    def start_session(self):
        from parcial_bigdata_spark.session import get_spark

        if self.spark is not None:
            self.tracer.bind(None)
            self.spark.stop()
        with self.tracer.span("session"):
            self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.tracer.bind(self.spark)

    def setup(self) -> tuple[list[float], float, list]:
        """SETUP_REPS set-ups (session start, seeded inputs, build), the
        first of which launches the JVM, then one warm-up of the ops on
        the last.  The warm-up's inputs and oracle answers are made
        before its clock starts.  Returns the set-up times, the warm-up
        time and the warm-up ops' times."""
        times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            root = os.path.join(self.args.work, f"rep{rep}")
            self.attempt("setup", f"setup{rep}", functools.partial(self.wl.setup, self.spark, root))
            times.append(time.perf_counter() - t0)
        warmup = self.wl.warmup()
        t0 = time.perf_counter()
        ops = [[name, round(self.attempt("warmup", name, fn), 3)] for name, fn in warmup]
        return times, time.perf_counter() - t0, ops

    def measure(self, tree: ProcTree) -> dict:
        """Run the units of ops that make up ``--seconds`` of work.  Each
        unit's inputs are generated with the clocks stopped, so time and
        CPU are those of the ops alone."""
        rows0 = getattr(self.wl, "inserted", 0)
        elapsed = cpu = 0.0
        steal = ticks = 0
        lat: list[float] = []
        names: list[str] = []
        unit_sizes = []
        units = max(1, round(self.args.seconds / self.wl.UNIT_S))
        for unit in range(units):
            ops = self.wl.unit(unit)
            unit_sizes.append(len(ops))
            cpu0 = tree.cpu_ms()
            steal0, ticks0 = steal_ticks()
            t0 = time.perf_counter()
            for name, fn in ops:
                lat.append(self.attempt("measure", name, fn, op=len(lat)))
                names.append(name)
            elapsed += time.perf_counter() - t0
            cpu += tree.cpu_ms() - cpu0
            steal1, ticks1 = steal_ticks()
            steal, ticks = steal + steal1 - steal0, ticks + ticks1 - ticks0
        rows = getattr(self.wl, "inserted", 0) - rows0
        return {"lat": lat, "names": names, "elapsed": elapsed, "cpu_ms": cpu, "units": units,
                "first_unit_ops": unit_sizes[0], "rows": rows,
                "steal_share": steal / ticks if ticks else 0.0}

    def final_checks(self) -> None:
        for name, fn in self.wl.final_checks():
            self.attempt("check", name, fn)


def stamps(spark, args) -> dict:
    import pyspark

    try:
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    except Exception:
        java = None
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "driver_memory": conf.get("spark.driver.memory", None),
        "master": conf.get("spark.master", None),
        "seed": args.seed,
        "traced": bool(args.trace),
        "workload": args.workload,
        "seconds": args.seconds,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--event-log-dir")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    tree = ProcTree(os.getpid())
    tree.start()
    run = Run(args)
    setup_times, warmup_s, warmup_ops = run.setup()
    m = run.measure(tree)
    run.final_checks()
    stamp = stamps(run.spark, args)
    app_id = run.spark.sparkContext.applicationId
    tree.stop()
    if args.trace:  # stopping flushes and closes the event log
        run.tracer.bind(None)
        run.spark.stop()

    lat, n = m["lat"], len(m["lat"])
    tail_pct, tail_ms = tail(lat)
    failed = len(run.failures)
    # What the closed-loop client sees.  These wall-clock figures follow
    # the CPU time a hypervisor takes from the machine while the run loads
    # all its cores, so they are reported (and are per-layer metrics of a
    # traced run) but carry no bound; the CPU time per op does not.
    client = {
        "ops_per_s": (n / m["elapsed"], "1/s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_tail_ms": (tail_ms, "ms"),
    }
    metrics = {
        "setup_s": (statistics.median(setup_times) + warmup_s, "s"),
        "cpu_ms_per_op": (m["cpu_ms"] / max(n, 1), "ms"),
    }
    report = {
        "stamps": stamp,
        "sizes": run.wl.sizes,
        "error_rate": failed / run.attempted,
        "failures": run.failures,
        **{k: v for k, (v, _) in client.items()},
        "op_tail_percentile": tail_pct,
        "op_samples": n,
        "units": m["units"],
        "op_ms": [[name, round(ms, 3)] for name, ms in zip(m["names"], lat)],
        "measured_s": m["elapsed"],
        "cpu_steal_share": m["steal_share"],
        "setup_runs_s": setup_times,
        "warmup_s": warmup_s,
        "warmup_op_ms": warmup_ops,
        "peak_rss_mb": tree.peak_kb / 1024,
        "hwm_mb_by_pid": {str(p): round(kb / 1024, 1) for p, kb in tree.hwm_kb.items() if kb},
    }
    if args.workload == "ingest_stream":
        report["ingest_rows_per_s"] = m["rows"] / m["elapsed"]
    if args.trace:
        files = event_log_files(args.event_log_dir, app_id)
        work, orphan = fold(files, run.tracer.spans)
        metrics = layers.compute(run.tracer.spans, work, m["first_unit_ops"], tree.peak_kb / 1024, client)
        report["untracked_jobs"] = orphan.jobs
        run.tracer.dump(os.path.join(args.work, "spans.json"), work)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "report": report,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip the session's shutdown hooks: run.py stops the whole process
    # group (JVM and Python workers) as soon as this process exits
    os._exit(code)
