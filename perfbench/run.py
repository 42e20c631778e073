"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (ingest_stream, interval_serve, analytics_batch) in a
fresh driver process against the engine in this checkout, on
``local[<cpus>]``.  ``--seconds`` fixes how much work is measured: the
whole units of ops that take about that long on a 4-core box, at least
one.  With ``--trace 0`` the result carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics from the Spark event log; both print
the client's throughput and latency and keep them in the report.  The
last line of standard output is the JSON result; the lines before it are
a readable report.  All Spark scratch (local dirs, warehouse, event log,
temp files) lives under ``.perfbench-work/`` in the checkout and is
removed when the run ends, except the last untraced reference and the
last span dump per workload.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

from proctree import session_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
WORKLOADS = ("ingest_stream", "interval_serve", "analytics_batch")
CHILD_TIMEOUT_S = 170


def preflight() -> str | None:
    """Why this checkout cannot be benchmarked, or None."""
    for rel in ("parcial_bigdata_spark/session.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"missing {rel}: run from a checkout of the engine"
    for mod in ("pyspark", "duckdb", "numpy", "pyarrow"):
        if importlib.util.find_spec(mod) is None:
            return f"python module {mod} is not installed"
    if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
        return "no java runtime found"
    return None


def spark_env(work: str, event_log_dir: str | None) -> dict[str, str]:
    """Launch environment that keeps every file Spark writes under
    ``work`` and, when ``event_log_dir`` is given, turns on an
    uncompressed single-file event log there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + event_log_dir,
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    env = dict(os.environ)
    # the driver heap is the engine's own default, whatever the caller's shell says
    env.pop("SPARK_DRIVER_MEMORY", None)
    env.update({
        "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0))),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def run_child(cmd: list[str], cwd: str, env: dict, log_path: str, timeout_s: float) -> int | None:
    """Run ``cmd`` in a session of its own; afterwards stop whatever of
    the session is left (JVM, Python daemon and workers) and wait until
    it is gone.  Returns the exit code, or None on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc)
    return code


def _stop_session(proc: subprocess.Popen) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if proc.poll() is None:
            proc.send_signal(sig)
        for pid in session_pids(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            if proc.poll() is not None and not session_pids(proc.pid):
                return
            time.sleep(0.05)
    proc.wait()


def fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated benchmark still stops its driver session (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        event_dir = os.path.join(work, "eventlog") if args.trace else None
        out = os.path.join(work, "result.json")
        cmd = [sys.executable, os.path.join(HERE, "driver.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--out", out]
        if event_dir:
            cmd += ["--event-log-dir", event_dir]
        log = os.path.join(work, "driver.log")
        code = run_child(cmd, work, spark_env(work, event_dir), log, CHILD_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            with open(log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: driver {why}", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
        report = result.pop("report")
        ref_path = os.path.join(WORK_ROOT, f"untraced-{args.workload}.json")
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(WORK_ROOT, f"spans-{args.workload}.json"))
            if os.path.exists(ref_path):
                with open(ref_path) as fh:
                    ref = json.load(fh)
                report["tracing_overhead"] = {
                    "untraced_op_p50_ms": ref["op_p50_ms"],
                    "untraced_seed": ref["seed"],
                    "traced_op_p50_ms": report["op_p50_ms"],
                    "ratio": report["op_p50_ms"] / ref["op_p50_ms"],
                }
        else:
            with open(ref_path, "w") as fh:
                json.dump({"seed": args.seed, "op_p50_ms": report["op_p50_ms"]}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  traced {args.trace}")
    for name, m in result["metrics"].items():
        print(f"  {name:<56} {fmt(m['value']):>14} {m['unit']}")
    tail_label = f"op_tail_ms (p{fmt(report['op_tail_percentile'])} of {report['op_samples']})"
    for name, key, unit in [("ops_per_s", "ops_per_s", "1/s"), ("op_p50_ms", "op_p50_ms", "ms"),
                            (tail_label, "op_tail_ms", "ms"), ("error_rate", "error_rate", "ratio"),
                            ("ingest_rows_per_s", "ingest_rows_per_s", "1/s"),
                            ("peak_rss_mb", "peak_rss_mb", "MB")]:
        if key in report:
            print(f"  {name:<56} {fmt(report[key]):>14} {unit}")
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
