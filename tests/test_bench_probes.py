"""bench.py's probe harness: the timing primitive's protocol (Spark-free,
with fake callables and a fake clock) and the probe table's record
layout, which must stay key-compatible with the committed
BENCH_DETAIL.json so probe history compares across runs."""

from __future__ import annotations

import json
import sys
import types
from contextlib import contextmanager
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402


@pytest.fixture
def clock(monkeypatch):
    """A fake perf_counter that only moves when a fake run advances it."""
    now = [0.0]
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=lambda: now[0]))
    return now


def test_best_of_warms_alternates_and_takes_min(clock):
    log: list[str] = []
    durations = {"a": [3.0, 1.0, 2.0], "b": [0.5, 4.0, 0.7]}

    def run(label):
        def go():
            log.append(label)
            clock[0] += durations[label].pop(0)
            return f"{label}{len(log)}"
        return go

    out = bench.best_of({"a": run("a"), "b": run("b")}, 3,
                        warm=lambda: log.append("warm"))
    assert log == ["warm", "a", "b", "b", "a", "a", "b"]
    assert out == {"a": (1.0, "a6"), "b": (0.5, "b7")}


def test_best_of_propagates_exceptions(clock):
    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError):
        bench.best_of({"a": lambda: 1, "b": boom}, 2)
    with pytest.raises(ValueError):
        bench.best_of({"a": lambda: 1}, 2, warm=boom)


@contextmanager
def _fake_stage(spark, inp, n):
    yield inp, inp


def _probe(runs, **kw):
    return bench.Probe(("fam", "series"), "fam_x{s}{v}", (1, 4), 100,
                       lambda spark, n: n, runs, stage=_fake_stage, **kw)


def test_run_probe_warms_at_small_size_then_times_each_scale(clock):
    seen: list[int] = []

    def work(n):
        seen.append(n)
        clock[0] += n / 100
        return n * 2

    timings: dict[str, float] = {}
    detail: dict = {}
    bench.run_probe(None, _probe({"": work}, reps=2, fields=bench._as("out")),
                    timings, detail)
    assert seen == [10, 100, 100, 400, 400]
    assert timings == {"fam_x1": 1.0, "fam_x4": 4.0}
    series = detail["fam"]["series"]
    assert series["x4"] == {"edges": 400, "out": 800, "sec": 4.0}
    assert series["exponent"] == 1.0 and series["exponent_tail"] == 1.0


def test_run_probe_records_only_an_optional_variant_failure(clock):
    def broken(n):
        raise RuntimeError("provider missing")

    runs = {"": lambda n: n, "_alt": broken}
    timings: dict[str, float] = {}
    detail: dict = {}
    bench.run_probe(None, _probe(runs, variant_scales=(4,), optional=("_alt",)),
                    timings, detail)
    assert detail["fam"]["series"]["x4_alt"] == {"error": "provider missing"}
    assert set(timings) == {"fam_x1", "fam_x4"}
    with pytest.raises(RuntimeError):
        bench.run_probe(None, _probe(runs, variant_scales=(4,)), {}, {})


def _tree(o):
    return {k: _tree(v) for k, v in o.items()} if isinstance(o, dict) else None


_NOT_PROBE_FAMILIES = {
    "record", "run_context", "sf", "headline_total", "headline_queries",
    "probe_queries", "noise_sentinel", "warmup_failures",
}

# Probe series the committed record still holds but the table no longer
# runs, because the code they timed is deleted: the minhash verify A/B
# (carried vs payload-rejoin; minhash_near_duplicates has one verify).
_RETIRED_SERIES = {("dedup_scale", "verify_ab")}
_RETIRED_TIMINGS = {
    f"dedup_verify_{v}_x{s}" for v in ("carried", "rejoin") for s in (16, 64)
}


def test_probe_table_keeps_the_committed_detail_layout(spark):
    """The whole table at tiny base sizes (same scale labels, one rep)
    yields the committed record's probe key trees and timing keys, less
    the retired series."""
    committed = json.loads((ROOT / "BENCH_DETAIL.json").read_text())
    small = [
        p._replace(
            base=max(p.base // 500, 2 * bench._BFS_HUBS
                     if p.build is bench._bfs_graph else 20),
            reps=1,
        )
        for p in bench.PROBES
    ]
    timings, detail = bench.run_probes(spark, small)
    expected = _tree(committed)
    for family, series in _RETIRED_SERIES:
        del expected[family][series]
    families = set(committed) - _NOT_PROBE_FAMILIES
    assert set(detail) == families
    for family in families:
        assert _tree(detail[family]) == expected[family], family
    assert set(timings) == {
        k for k in committed["probe_queries"] if not k.startswith("newop_")
    } - _RETIRED_TIMINGS


def test_postures_since_reports_decisions_taken_after_the_snapshot(monkeypatch):
    from parcial_bigdata_spark.operators import scale

    monkeypatch.setattr(scale, "_POSTURES", {})
    scale.record_posture("op_a", "small", 10)
    before = scale.posture_log()
    scale.record_posture("op_a", "small", 12)
    scale.record_posture("op_b", "large")
    assert bench.postures_since(before) == [
        {"op": "op_a", "branch": "small", "count": 1, "last_input": 12},
        {"op": "op_b", "branch": "large", "count": 1, "last_input": None},
    ]
