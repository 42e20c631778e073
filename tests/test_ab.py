"""tools/ab.py statistics over canned perfbench output: run parsing,
quartiles, pair wins and the gain / worse / unresolved / level verdicts,
with the bounds read from the repository's BENCHMARK.json; and the two
directories the sides run from."""

from __future__ import annotations

import json
import subprocess

import pytest

from tools.ab import (
    compare, copy_worktree, export_rev, load_bench, parse_run, quartiles, side_summary,
)

BENCH = load_bench()


def _stdout(setup_s: float, cpu_ms: float, steal: float = 0.01) -> str:
    result = {"metrics": {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_ms_per_op": {"value": cpu_ms, "unit": "ms"},
        "operators.text.jobs": {"value": 0.0, "unit": "count"},
    }}
    report = {"cpu_steal_share": steal, "error_rate": 0.0, "op_p50_ms": 100.0}
    return "\n".join([
        "workload interval_serve  seed 1  traced 0",
        f"  setup_s {setup_s} s",
        "report " + json.dumps(report),
        json.dumps(result),
    ]) + "\n"


def _pairs(parent: list[tuple[float, float]], change: list[tuple[float, float]]):
    return [(parse_run(_stdout(*p)), parse_run(_stdout(*c))) for p, c in zip(parent, change)]


def _verdicts(pairs) -> dict[str, dict]:
    return {r["metric"]: r for r in compare(BENCH, pairs)}


def test_parse_run_reads_result_and_report_lines():
    run = parse_run(_stdout(7.5, 1500.0, steal=0.2))
    assert run["metrics"]["setup_s"] == 7.5
    assert run["metrics"]["cpu_ms_per_op"] == 1500.0
    assert run["report"]["cpu_steal_share"] == 0.2


def test_quartiles_interpolate_between_order_statistics():
    assert quartiles([5.0]) == (5.0, 5.0, 5.0)
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([4.0, 1.0, 3.0, 2.0]) == (1.75, 2.5, 3.25)


def test_gain_worse_and_level_verdicts():
    parent = [(7.0 + 0.1 * i, 1500.0 + 10 * i) for i in range(10)]
    # cpu: lower in every pair by far more than the parent IQR -> gain;
    # setup: 40% higher, over the 0.25 bound -> worse
    change = [(s * 1.4, c - 500.0) for s, c in parent]
    rows = _verdicts(_pairs(parent, change))
    assert rows["cpu_ms_per_op"]["verdict"] == "gain"
    assert rows["cpu_ms_per_op"]["wins"] == 10
    assert rows["cpu_ms_per_op"]["delta"] == pytest.approx(-500.0)
    assert rows["setup_s"]["verdict"] == "worse"
    assert rows["setup_s"]["wins"] == 0
    # a metric that reads 0 everywhere is not reported
    assert "operators.text.jobs" not in rows

    level = _verdicts(_pairs(parent, [(s, c + 1.0) for s, c in parent]))
    assert level["cpu_ms_per_op"]["verdict"] == "level"


def test_nine_of_ten_pairs_is_the_gain_threshold():
    parent = [(7.0, 1500.0 + 10 * i) for i in range(10)]
    eight = [(7.0, c - (400.0 if i < 8 else -50.0)) for i, (_, c) in enumerate(parent)]
    nine = [(7.0, c - (400.0 if i < 9 else -50.0)) for i, (_, c) in enumerate(parent)]
    assert _verdicts(_pairs(parent, eight))["cpu_ms_per_op"]["verdict"] == "level"
    assert _verdicts(_pairs(parent, nine))["cpu_ms_per_op"]["verdict"] == "gain"
    # fewer than ten pairs back no claim, however one-sided
    few = _verdicts(_pairs(parent[:4], nine[:4]))["cpu_ms_per_op"]
    assert few["wins"] == 4 and few["verdict"] == "gain (<10 pairs)"
    # ties count for neither side
    assert _verdicts(_pairs(parent, parent))["setup_s"]["wins"] == 0


def test_wide_parent_spread_is_unresolved_unless_the_change_dominates():
    # parent IQR ~ 50% of its median: wider than the 0.25 bound
    parent = [(7.0, c) for c in (800.0, 1000.0, 1200.0, 1400.0, 1600.0, 1800.0)]
    mixed = [(7.0, c) for c in (1700.0, 900.0, 1500.0, 1100.0, 1300.0, 1600.0)]
    assert _verdicts(_pairs(parent, mixed))["cpu_ms_per_op"]["verdict"] == "unresolved"
    below = [(7.0, c) for c in (700.0, 710.0, 720.0, 730.0, 740.0, 750.0)]
    assert _verdicts(_pairs(parent, below))["cpu_ms_per_op"]["verdict"] != "unresolved"


def test_side_summary_counts_failed_runs():
    runs = [parse_run(_stdout(7.0, 1500.0, steal=0.1)), None, parse_run(_stdout(7.0, 1500.0, steal=0.3))]
    assert side_summary(runs).startswith("2/3 runs ok, median cpu_steal_share 0.200")


def test_side_summary_reports_median_peak_rss():
    runs = [{"metrics": {}, "report": {"peak_rss_mb": mb}} for mb in (3000.0, 2900.0, 3300.0)]
    assert side_summary(runs + [None]).endswith("median peak_rss_mb 3000")


def _git(repo, *args):
    subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@example.com", *args],
        cwd=repo, check=True, capture_output=True,
    )


def test_change_side_copies_the_working_tree_and_parent_side_the_revision(tmp_path):
    """The change side gets a modified tracked file as it is on disk and
    an untracked new file, but no ignored file and no deleted one; the
    parent side gets the committed revision."""
    repo = tmp_path / "repo"
    (repo / "pkg").mkdir(parents=True)
    (repo / ".gitignore").write_text("*.log\n")
    (repo / "pkg" / "mod.py").write_text("old\n")
    (repo / "gone.py").write_text("x\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", "base")
    (repo / "pkg" / "mod.py").write_text("new\n")
    (repo / "pkg" / "added.py").write_text("added\n")
    (repo / "run.log").write_text("ignored\n")
    (repo / "gone.py").unlink()

    change, parent = tmp_path / "change", tmp_path / "parent"
    copy_worktree(str(change), root=str(repo))
    export_rev("HEAD", str(parent), root=str(repo))
    assert (change / "pkg" / "mod.py").read_text() == "new\n"
    assert (change / "pkg" / "added.py").read_text() == "added\n"
    assert not (change / "run.log").exists()
    assert not (change / "gone.py").exists()
    assert not (change / ".git").exists()
    assert (parent / "pkg" / "mod.py").read_text() == "old\n"
    assert (parent / "gone.py").exists()
    assert not (parent / "pkg" / "added.py").exists()
