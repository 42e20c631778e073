"""Process CPU per op of one perfbench workload, by thread class.

Usage: python tools/jvm_cpu.py --workload W --units N [--seed S]

perfbench's trace folds task CPU from the Spark event log; it cannot see
the JVM's compiler threads, the Py4J gateway or GC.  This tool runs one
workload of ``perfbench/workloads.py`` in this process (the Spark driver
is this Python process, launched with perfbench's Spark environment):
one set-up, the warm-up ops, then N measured units.  During each unit it
reads ``/proc/<pid>/task/*/stat`` of every process of the tree every
0.25 s and prints the CPU per op of each thread class, and the Janino
compiles per op (``CodegenMetrics``' compilation count):

- C2 / C1 compiler: the JIT's compiler threads;
- executor tasks: ``Executor task launch worker`` threads;
- Py4J gateway: the JVM's ``Thread-N`` threads that serve driver calls;
- GC: ``GC Thread#N`` and the ``G1 ...`` threads;
- other JVM: every other JVM thread, and JVM threads born and gone
  between two samples;
- Python driver: this process (all its threads; the sampling itself
  costs a few ms per op here);
- Python workers: the other Python processes (daemon and workers, with
  the workers they reaped).

Nothing under ``perfbench/`` is changed; the workload, its tracer and
the launch environment are imported from there.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")

GROUPS = (
    "C2 compiler", "C1 compiler", "executor tasks", "Py4J gateway", "GC",
    "other JVM", "Python driver", "Python workers", "other",
)
_GC = re.compile(r"^(GC Thread|G1 )")
_PY4J = re.compile(r"^Thread-\d+$")


def parse_stat(line: str) -> tuple[str, int, int]:
    """``(comm, own ticks, reaped children's ticks)`` of one
    ``/proc/.../stat`` line (utime+stime, cutime+cstime)."""
    comm = line[line.index("(") + 1:line.rindex(")")]
    f = line[line.rindex(")") + 2:].split()
    return comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def jvm_thread_group(comm: str) -> str:
    if comm.startswith("C2 CompilerThre"):
        return "C2 compiler"
    if comm.startswith("C1 CompilerThre"):
        return "C1 compiler"
    if comm.startswith("Executor task l"):
        return "executor tasks"
    if _PY4J.match(comm):
        return "Py4J gateway"
    if _GC.match(comm):
        return "GC"
    return "other JVM"


Key = tuple[int, "int | None"]  # (pid, tid); tid None for the process


def read_tree(procs: list[tuple[int, str, dict[int, str]]], driver_pid: int) -> dict[Key, tuple[str, int]]:
    """``{(pid, tid): (group, ticks)}`` over ``(pid, process stat line,
    {tid: thread stat line})`` of a process tree.  A JVM is read thread
    by thread, plus its process total under the group "java"; any other
    process counts whole (with the children it reaped)."""
    out: dict[Key, tuple[str, int]] = {}
    for pid, stat, threads in procs:
        comm, own, reaped = parse_stat(stat)
        if comm == "java":
            out[(pid, None)] = ("java", own + reaped)
            for tid, line in threads.items():
                tcomm, ticks, _ = parse_stat(line)
                out[(pid, tid)] = (jvm_thread_group(tcomm), ticks)
        elif pid == driver_pid:
            out[(pid, None)] = ("Python driver", own + reaped)
        elif comm.startswith("python"):
            out[(pid, None)] = ("Python workers", own + reaped)
        else:
            out[(pid, None)] = ("other", own + reaped)
    return out


def by_group(start: dict[Key, tuple[str, int]], end: dict[Key, tuple[str, int]]) -> dict[str, int]:
    """Clock ticks by group from reading ``start`` to reading ``end``
    (a key new in ``end`` starts from 0).  A JVM's process total beyond
    the sum of its threads (threads born and gone between two samples)
    goes to "other JVM"."""
    out = dict.fromkeys(GROUPS, 0)
    jvm = dict.fromkeys((pid for (pid, tid), (g, _) in end.items() if g == "java"), 0)
    for key, (group, ticks) in end.items():
        delta = ticks - start.get(key, (group, 0))[1]
        if group == "java":
            jvm[key[0]] += delta
            continue
        out[group] += delta
        if key[1] is not None:
            jvm[key[0]] -= delta
    out["other JVM"] += sum(jvm.values())
    return out


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


class Sampler:
    """Reads the tree every ``interval_s`` in a background thread.  A
    JVM thread keeps its last-seen ticks after it exits (the JIT starts
    and stops compiler threads as its queue grows and drains); a process
    counts only while it lives, since its parent reaps its time."""

    def __init__(self, tree, driver_pid: int, interval_s: float = 0.25):
        self.tree = tree
        self.driver_pid = driver_pid
        self.interval_s = interval_s
        self.latest: dict[Key, tuple[str, int]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> dict[Key, tuple[str, int]]:
        procs = []
        for pid in self.tree.pids():
            stat = _read(f"/proc/{pid}/stat")
            if stat is None:
                continue
            threads = {}
            if parse_stat(stat)[0] == "java":
                try:
                    tids = os.listdir(f"/proc/{pid}/task")
                except OSError:
                    tids = []
                for tid in tids:
                    line = _read(f"/proc/{pid}/task/{tid}/stat")
                    if line is not None:
                        threads[int(tid)] = line
            procs.append((pid, stat, threads))
        now = read_tree(procs, self.driver_pid)
        with self._lock:
            kept = {k: v for k, v in self.latest.items() if k[1] is not None}
            self.latest = kept | now
            return dict(self.latest)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "Sampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="jvm-cpu-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _fails(fn) -> bool:
    try:
        return fn() is not None
    except Exception as e:  # a failed op is counted, not fatal
        print(f"{type(e).__name__}: {e}".splitlines()[0], file=sys.stderr)
        return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_stream", "interval_serve", "analytics_batch"))
    ap.add_argument("--units", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, PERFBENCH]
    from proctree import ProcTree
    from run import spark_env
    from spans import Tracer
    from workloads import WORKLOADS

    from parcial_bigdata_spark.session import get_spark

    work = tempfile.mkdtemp(prefix=f"jvm-cpu-{args.workload}-")
    os.environ.update(spark_env(work, None))
    tick_ms = 1000.0 / os.sysconf("SC_CLK_TCK")
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, Tracer(False))
        spark = get_spark(f"jvm-cpu-{args.workload}")
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        wl.setup(spark, os.path.join(work, "rep0"))
        for name, fn in wl.warmup():
            err = fn()
            if err is not None:
                print(f"warm-up op {name}: {err}", file=sys.stderr)
        sampler = Sampler(ProcTree(os.getpid()), os.getpid())
        print("| unit | ops | wall s | ms/op | " + " | ".join(GROUPS) + " | compiles/op |")
        print("|---" * (len(GROUPS) + 5) + "|")
        for unit in range(args.units):
            ops = wl.unit(unit)
            c0, t0 = compiles.getCount(), time.perf_counter()
            s0 = sampler.sample()
            with sampler:
                failed = sum(_fails(fn) for _, fn in ops)
            ticks = by_group(s0, sampler.sample())
            wall, c1 = time.perf_counter() - t0, compiles.getCount()
            per_op = {g: ticks[g] * tick_ms / len(ops) for g in GROUPS}
            total = sum(per_op.values())
            cells = [f"{per_op[g]:.0f} ({100 * per_op[g] / total:.0f}%)" for g in GROUPS]
            print(f"| {unit} | {len(ops)} | {wall:.1f} | {total:.0f} | " + " | ".join(cells)
                  + f" | {(c1 - c0) / len(ops):.2f} |", flush=True)
            if failed:
                print(f"unit {unit}: {failed} ops failed their check", file=sys.stderr)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
