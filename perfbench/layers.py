"""Per-layer metrics from a traced run.

Layers are the engine modules the benchmark calls.  Every traced run
reports every layer; a layer the workload never calls reads zero.
Counts and executor work are taken over the first unit of measured ops,
whose inputs the seed fixes, so counts repeat exactly across runs of one
seed.  Per-trigger and per-request figures are medians (times) or means
(counts and executor work) over that unit; operator-module figures are
per call of the module's query.
"""

from __future__ import annotations

import statistics

from spans import Span, Work, union_ms
from workloads import MODULES

STREAM = "streaming.pipeline"
INTERVAL = "operators.interval"

MODULE_METRICS = (
    ("wall_ms", "ms"), ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
    ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"), ("jobs", "count"),
    ("tasks", "count"), ("task_skew", "ratio"), ("driver_ms", "ms"),
)

NAMES: list[tuple[str, str]] = [
    ("client.ops_per_s", "1/s"),
    ("client.op_p50_ms", "ms"),
    ("client.op_tail_ms", "ms"),
    ("session.start_s", "s"),
    ("session.cold_start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("sources.ingest.build_s", "s"),
    ("sources.ingest.rows_attempted", "count"),
    ("sources.ingest.good_ratio", "ratio"),
    (f"{STREAM}.trigger_ms", "ms"),
    (f"{STREAM}.jobs_per_trigger", "count"),
    (f"{STREAM}.tasks_per_trigger", "count"),
    (f"{STREAM}.executor_run_ms", "ms"),
    (f"{STREAM}.executor_cpu_ms", "ms"),
    (f"{STREAM}.gc_ms", "ms"),
    (f"{STREAM}.driver_ms", "ms"),
    (f"{STREAM}.bytes_written_per_input_byte", "ratio"),
    ("catalog.resolve_ms", "ms"),
    (f"{INTERVAL}.rows_ms", "ms"),
    (f"{INTERVAL}.count_ms", "ms"),
    (f"{INTERVAL}.jobs_per_request", "count"),
    (f"{INTERVAL}.tasks_per_request", "count"),
    (f"{INTERVAL}.files_read_per_request", "count"),
    (f"{INTERVAL}.rows_read_per_row_returned", "ratio"),
    (f"{INTERVAL}.executor_cpu_ms", "ms"),
    (f"{INTERVAL}.driver_ms", "ms"),
] + [(f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS]


def driver_ms(span: Span, w: Work) -> float:
    """Wall time of the span during which none of its jobs ran."""
    return span.wall_ms - union_ms(w.job_intervals, span.start_ms, span.end_ms)


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def compute(spans: list[Span], work: dict[str, Work], prefix_ops: int, peak_rss_mb: float,
            client: dict[str, tuple[float, str]]) -> dict:
    """name -> (value, unit) for every per-layer metric.  ``client`` holds
    the throughput and latency the benchmark's closed-loop client saw.
    ``peak_rss_mb`` is the peak resident memory of the session's process
    tree (driver, JVM and Python workers); it follows the heap the JVM
    grows to, so it moves with the collector's timing."""
    out = {name: 0.0 for name, _ in NAMES}
    for k, (v, _) in client.items():
        out[f"client.{k}"] = v
    out["session.peak_rss_mb"] = peak_rss_mb
    units = dict(NAMES)
    measured = [s for s in spans if s.op is not None and s.op < prefix_ops]

    def named(name: str) -> list[Span]:
        return [s for s in measured if s.name == name]

    def total(group: list[Span]) -> Work:
        acc = Work()
        for s in group:
            acc.add(work[s.id])
        return acc

    starts = [s.wall_ms / 1000 for s in spans if s.name == "session"]
    out["session.start_s"] = _med(starts)  # one per set-up, like setup_s
    out["session.cold_start_s"] = starts[0]  # the one that launches the JVM
    builds = [s for s in spans if s.name == "sources.ingest"]
    if builds:
        out["sources.ingest.build_s"] = _med([s.wall_ms / 1000 for s in builds])
        counts = builds[-1].counts
    else:
        counts = {k: sum(s.counts.get(k, 0) for s in named(STREAM)) for k in ("rows_inserted", "bad_rows")}
    attempted = counts.get("rows_inserted", 0) + counts.get("bad_rows", 0)
    if attempted:
        out["sources.ingest.rows_attempted"] = attempted
        out["sources.ingest.good_ratio"] = counts["rows_inserted"] / attempted

    triggers = named(STREAM)
    if triggers:
        n = len(triggers)
        w = total(triggers)
        out[f"{STREAM}.trigger_ms"] = _med([s.wall_ms for s in triggers])
        out[f"{STREAM}.jobs_per_trigger"] = w.jobs / n
        out[f"{STREAM}.tasks_per_trigger"] = w.tasks / n
        out[f"{STREAM}.executor_run_ms"] = w.run_ms / n
        out[f"{STREAM}.executor_cpu_ms"] = w.cpu_ms / n
        out[f"{STREAM}.gc_ms"] = w.gc_ms / n
        out[f"{STREAM}.driver_ms"] = _med([driver_ms(s, work[s.id]) for s in triggers])
        landed = sum(s.counts.get("input_bytes", 0) for s in triggers)
        out[f"{STREAM}.bytes_written_per_input_byte"] = w.output_bytes / landed if landed else 0.0

    resolves = named("catalog")
    if resolves:
        out["catalog.resolve_ms"] = _med([s.wall_ms for s in resolves])
    rows_spans, count_spans = named(f"{INTERVAL}.rows"), named(f"{INTERVAL}.count")
    if rows_spans:
        requests = [s for s in measured if s.name.startswith("op.")]
        n = len(requests)
        w = total(rows_spans + count_spans + resolves)
        returned = sum(s.counts.get("rows_returned", 0) for s in rows_spans)
        out[f"{INTERVAL}.rows_ms"] = _med([s.wall_ms for s in rows_spans])
        out[f"{INTERVAL}.count_ms"] = _med([s.wall_ms for s in count_spans])
        out[f"{INTERVAL}.jobs_per_request"] = w.jobs / n
        out[f"{INTERVAL}.tasks_per_request"] = w.tasks / n
        out[f"{INTERVAL}.files_read_per_request"] = w.files_read / n
        out[f"{INTERVAL}.rows_read_per_row_returned"] = w.input_records / returned if returned else 0.0
        out[f"{INTERVAL}.executor_cpu_ms"] = w.cpu_ms / n
        by_op: dict[int, list[Span]] = {}
        for s in rows_spans + count_spans + resolves:
            by_op.setdefault(s.op, []).append(s)
        out[f"{INTERVAL}.driver_ms"] = _med([
            sum(driver_ms(s, work[s.id]) for s in group) for group in by_op.values()
        ])

    for module in MODULES:  # per call of the module's query
        group = named(module)
        if not group:
            continue
        n = len(group)
        w = total(group)
        out[f"{module}.wall_ms"] = sum(s.wall_ms for s in group) / n
        out[f"{module}.executor_run_ms"] = w.run_ms / n
        out[f"{module}.executor_cpu_ms"] = w.cpu_ms / n
        out[f"{module}.gc_ms"] = w.gc_ms / n
        out[f"{module}.shuffle_write_bytes"] = w.shuffle_write_bytes / n
        out[f"{module}.shuffle_read_bytes"] = w.shuffle_read_bytes / n
        out[f"{module}.jobs"] = w.jobs / n
        out[f"{module}.tasks"] = w.tasks / n
        out[f"{module}.task_skew"] = w.task_skew()
        out[f"{module}.driver_ms"] = sum(driver_ms(s, work[s.id]) for s in group) / n
    return {name: (out[name], units[name]) for name, _ in NAMES}
