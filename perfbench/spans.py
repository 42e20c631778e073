"""Spans around calls into the engine, and the Spark event-log fold that
charges executor work to them.

A span is opened by the benchmark around one public call (``session``,
``catalog``, ``operators.<module>``, ``streaming.pipeline`` ...).  When
tracing is on, the span's id becomes the SparkContext job group, so every
job the call submits carries it in the event log.  After the session
stops, ``fold`` reads the log and adds each task's metrics to the span
that submitted its job.  Jobs submitted from a thread the benchmark does
not control (a streaming query runs its batches under its own run id)
are matched through span aliases, then by submission time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    op: int | None
    start_ms: float
    end_ms: float = 0.0
    aliases: list[str] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)
    error: str | None = None

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans in memory.  With ``enabled`` false it only times
    calls and never touches the SparkContext."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs of ``spark`` from now on (None: tag nothing)."""
        self._sc = spark.sparkContext if self.enabled and spark is not None else None

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None, op, time.time() * 1000)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        except BaseException as e:
            s.error = f"{type(e).__name__}: {e}"
            raise
        finally:
            s.end_ms = time.time() * 1000
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str, work: dict[str, "Work"]) -> None:
        """Write every span with its self time and the work folded onto it."""
        children: dict[str, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        rows = []
        for s in self.spans:
            w = work.get(s.id, Work())
            rows.append(dict(
                s.__dict__, self_ms=self_ms(s, children.get(s.id, [])),
                jobs=w.jobs, tasks=w.tasks, executor_run_ms=w.run_ms, executor_cpu_ms=w.cpu_ms,
                gc_ms=w.gc_ms, shuffle_write_bytes=w.shuffle_write_bytes,
                shuffle_read_bytes=w.shuffle_read_bytes, files_read=w.files_read,
            ))
        with open(path, "w") as fh:
            json.dump(rows, fh)


# ---------------------------------------------------------------------------
# Event-log fold


@dataclass
class Work:
    """Executor and scheduler work charged to one span."""

    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    files_read: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stage_runs: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: "Work") -> None:
        for k in ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                  "shuffle_read_bytes", "input_records", "output_bytes", "files_read"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals.extend(other.job_intervals)
        for stage, runs in other.stage_runs.items():
            self.stage_runs.setdefault(stage, []).extend(runs)

    def task_skew(self) -> float:
        """Longest over median task run time within each stage, averaged
        over stages weighted by their total run time (stages of one task
        read 1.0)."""
        num = den = 0.0
        for runs in self.stage_runs.values():
            total = sum(runs)
            med = statistics.median(runs)
            if total <= 0 or med <= 0:
                continue
            num += total * max(runs) / med
            den += total
        return num / den if den else 1.0


_WANTED = (
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd", "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate", "SparkListenerDriverAccumUpdates",
)


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The finished event log of one application: a single file, or the
    parts of a rolling ``eventlog_v2_<app>`` directory in order."""
    hits = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
    files: list[str] = []
    for h in hits:
        if os.path.isdir(h):
            parts = glob.glob(os.path.join(h, "events_*"))
            files.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        elif not h.endswith(".crc"):
            files.append(h)
    return files


def _events(files: list[str]):
    for path in files:
        with open(path) as fh:
            for line in fh:
                head = line[:120]
                if any(w in head for w in _WANTED):
                    yield json.loads(line)


def _files_read_accums(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == "number of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _files_read_accums(child, out)


def _owner(spans: list[Span], by_id: dict[str, Span], group: str | None, t_ms: float) -> Span | None:
    if group is not None and group in by_id:
        return by_id[group]
    best = None
    for s in spans:
        if s.start_ms <= t_ms <= s.end_ms and (best is None or s.start_ms >= best.start_ms):
            best = s
    return best


def fold(files: list[str], spans: list[Span]) -> tuple[dict[str, Work], Work]:
    """Charge every job, task and scan in the log to the span that ran it.

    Returns per-span work (each span's own jobs, not its children's) and
    the work no span claimed."""
    by_id: dict[str, Span] = {}
    for s in spans:
        by_id[s.id] = s
        for a in s.aliases:
            by_id[a] = s
    work: dict[str, Work] = {s.id: Work() for s in spans}
    orphan = Work()

    def bucket(owner: Span | None) -> Work:
        return orphan if owner is None else work[owner.id]

    job_start: dict[int, tuple[Work, float]] = {}
    stage_owner: dict[int, Work] = {}
    exec_owner: dict[int, Work] = {}
    files_accums: set[int] = set()
    accum_updates: list[tuple[int, int, int]] = []
    for ev in _events(files):
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            w = bucket(_owner(spans, by_id, props.get("spark.jobGroup.id"), ev["Submission Time"]))
            w.jobs += 1
            job_start[ev["Job ID"]] = (w, ev["Submission Time"])
            for sid in ev.get("Stage IDs", ()):
                stage_owner.setdefault(sid, w)
            if props.get("spark.sql.execution.id") is not None:
                exec_owner.setdefault(int(props["spark.sql.execution.id"]), w)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_start:
                w, submitted = job_start.pop(ev["Job ID"])
                w.job_intervals.append((submitted, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            if sid not in stage_owner:
                stage_owner[sid] = bucket(_owner(
                    spans, by_id, props.get("spark.jobGroup.id"),
                    ev["Stage Info"].get("Submission Time", 0)))
        elif kind == "SparkListenerTaskEnd":
            w = stage_owner.get(ev["Stage ID"], orphan)
            m = ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            w.tasks += 1
            w.run_ms += run
            w.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            w.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            w.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            w.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            w.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
            w.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            w.stage_runs.setdefault(ev["Stage ID"], []).append(run)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            _files_read_accums(ev.get("sparkPlanInfo") or {}, files_accums)
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", ()):
                accum_updates.append((ev["executionId"], acc_id, value))
    for exec_id, acc_id, value in accum_updates:
        if acc_id in files_accums:
            exec_owner.get(exec_id, orphan).files_read += int(value)
    return work, orphan


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_ms(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    return span.wall_ms - union_ms([(c.start_ms, c.end_ms) for c in children], span.start_ms, span.end_ms)
