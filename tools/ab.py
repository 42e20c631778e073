"""Same-window A/B of this checkout against a parent revision on one
perfbench workload.

Usage: python tools/ab.py --rev REV --workload W --seeds A-B [--trace] [--aa]

Exports REV with ``git archive`` into a temporary directory and copies
this checkout's working tree next to it (tracked files as they are on
disk, plus untracked files that are not ignored: what the next commit
would hold, without build output or caches), so both sides run from a
fresh directory of the same kind.  Then for every seed it runs the
benchmark command of ``BENCHMARK.json`` once in the parent export and
once in the copy (the change), alternating which side runs first from
one seed to the next.  Each run gets the same ``--seconds`` (the file's
``run_seconds``) and ``--trace`` setting.  From each run it reads the
result (the last JSON line of standard output) and the ``report`` line,
and prints one markdown table: per metric, each side's median and
quartiles, the change's pair wins (ties count for neither) and a
verdict:

- ``gain``: the change is better in at least nine tenths of the pairs,
  and the medians differ by more than the parent's interquartile range;
  with fewer than ten pairs it reads ``gain (<10 pairs)``, which backs
  no claim (an A/A of four pairs has read ``gain`` by this rule);
- ``worse``: the change's median is worse than the parent's by more
  than the metric's bound (end-to-end metrics only);
- ``unresolved``: the parent's interquartile range exceeds the bound
  as a share of its median, unless every change run beats every parent
  run (end-to-end metrics only);
- ``level``: none of these.

It also prints each side's median CPU steal share, error rate and peak
resident memory of the process tree (``peak_rss_mb``), and
every end-to-end value per seed.  ``--aa`` runs the parent against
itself, from two separate exports: the control that shows how far two
identical sides drift.
``BENCHMARK.json`` is read, never written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GAIN_SHARE = 0.9
MIN_PAIRS = 10


def load_bench(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_run(stdout: str) -> dict:
    """``{"metrics": {name: value}, "report": {...}}`` of one run."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    result = json.loads(lines[-1])
    report = next(
        (json.loads(ln[len("report "):]) for ln in reversed(lines) if ln.startswith("report ")),
        {},
    )
    return {
        "metrics": {k: m["value"] for k, m in result["metrics"].items()},
        "report": report,
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), linearly interpolated between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def compare(bench: dict, pairs: list[tuple[dict, dict]]) -> list[dict]:
    """One row per metric over ``(parent, change)`` run pairs whose two
    sides both succeeded.  Metrics that read 0 in every run, and metrics
    without a direction in ``bench``, are left out."""
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    rows = []
    names = [n for n in pairs[0][0]["metrics"] if n in spec] if pairs else []
    for name in names:
        par = [p["metrics"][name] for p, _ in pairs]
        chg = [c["metrics"][name] for _, c in pairs]
        if not any(par) and not any(chg):
            continue
        sign = 1 if spec[name]["better"] == "lower" else -1
        wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        delta = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        bound = spec[name].get("bound")
        if wins >= GAIN_SHARE * len(pairs) and sign * delta < 0 and abs(delta) > iqr:
            verdict = "gain" if len(pairs) >= MIN_PAIRS else f"gain (<{MIN_PAIRS} pairs)"
        elif bound is None:
            verdict = "level"
        elif sign * delta > bound * abs(pq[1]):
            verdict = "worse"
        elif iqr > bound * abs(pq[1]) and not all(
            sign * (p - c) > 0 for p in par for c in chg
        ):
            verdict = "unresolved"
        else:
            verdict = "level"
        rows.append({
            "metric": name, "unit": spec[name]["unit"], "end_to_end": bound is not None,
            "parent": pq, "change": cq, "delta": delta,
            "delta_pct": 100 * delta / pq[1] if pq[1] else float("nan"),
            "wins": wins, "pairs": len(pairs), "verdict": verdict,
        })
    return rows


def side_summary(runs: list[dict | None]) -> str:
    ok = [r for r in runs if r is not None]
    steal = [r["report"].get("cpu_steal_share", 0.0) for r in ok]
    errors = [r["report"].get("error_rate", 0.0) for r in ok]
    rss = [r["report"]["peak_rss_mb"] for r in ok if "peak_rss_mb" in r["report"]]
    return (
        f"{len(ok)}/{len(runs)} runs ok, median cpu_steal_share "
        f"{statistics.median(steal) if steal else float('nan'):.3f}, "
        f"max error_rate {max(errors) if errors else float('nan'):.3f}, "
        f"median peak_rss_mb {statistics.median(rss) if rss else float('nan'):.0f}"
    )


def table(rows: list[dict]) -> str:
    def q(t):
        return f"{t[1]:.4g} [{t[0]:.4g}–{t[2]:.4g}]"

    out = [
        "| metric | unit | parent median [q1–q3] | change median [q1–q3] | Δ median | change wins | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in sorted(rows, key=lambda r: not r["end_to_end"]):
        out.append(
            f"| {r['metric']} | {r['unit']} | {q(r['parent'])} | {q(r['change'])} "
            f"| {r['delta']:+.4g} ({r['delta_pct']:+.1f}%) | {r['wins']}/{r['pairs']} | {r['verdict']} |"
        )
    return "\n".join(out)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def export_rev(rev: str, dest: str, root: str = ROOT) -> None:
    """Extract revision ``rev`` of the repository at ``root`` into ``dest``."""
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "archive", rev], cwd=root, capture_output=True, check=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def copy_worktree(dest: str, root: str = ROOT) -> None:
    """Copy the working tree of the repository at ``root`` into ``dest``:
    tracked files as they are on disk (a deleted one is left out) and
    untracked files that are not ignored."""
    listing = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=root, capture_output=True, check=True, text=True,
    ).stdout
    for rel in filter(None, listing.split("\0")):
        src = os.path.join(root, rel)
        if not os.path.lexists(src):
            continue
        os.makedirs(os.path.join(dest, os.path.dirname(rel)), exist_ok=True)
        shutil.copy2(src, os.path.join(dest, rel), follow_symlinks=False)


def _run(bench: dict, cwd: str, workload: str, seed: int, trace: bool) -> dict | None:
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "1" if trace else "0",
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    try:
        if proc.returncode != 0:
            raise ValueError(f"exit {proc.returncode}")
        return parse_run(proc.stdout)
    except (ValueError, IndexError, KeyError) as exc:
        tail = "\n".join(proc.stderr.splitlines()[-20:])
        print(f"run failed in {cwd} (seed {seed}): {exc}\n{tail}", file=sys.stderr)
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", required=True, help="parent revision, exported with git archive")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B, or one seed")
    ap.add_argument("--trace", action="store_true", help="traced runs (per-layer metrics)")
    ap.add_argument("--aa", action="store_true", help="run the parent against itself")
    args = ap.parse_args(argv)
    bench = load_bench()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    seeds = _seeds(args.seeds)

    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        parent_dir = os.path.join(tmp, "parent")
        change_dir = os.path.join(tmp, "change")
        export_rev(args.rev, parent_dir)
        if args.aa:
            export_rev(args.rev, change_dir)
        else:
            copy_worktree(change_dir)
        parent_runs, change_runs = [], []
        for i, seed in enumerate(seeds):
            sides = [("parent", parent_dir), ("change", change_dir)]
            got = {}
            for side, cwd in sides if i % 2 == 0 else sides[::-1]:
                got[side] = _run(bench, cwd, args.workload, seed, args.trace)
                print(f"seed {seed} {side} {'ok' if got[side] else 'FAILED'}", file=sys.stderr)
            parent_runs.append(got["parent"])
            change_runs.append(got["change"])

    pairs = [(p, c) for p, c in zip(parent_runs, change_runs) if p and c]
    e2e = [m["name"] for m in bench["end_to_end"]]
    label = f"{args.rev} (A/A)" if args.aa else f"{args.rev} vs a copy of the working tree"
    print(f"workload {args.workload}, {label}, seeds {args.seeds}, "
          f"{'traced' if args.trace else 'untraced'}, {len(pairs)} complete pairs")
    print(f"parent: {side_summary(parent_runs)}")
    print(f"change: {side_summary(change_runs)}")
    print()
    if pairs:
        print(table(compare(bench, pairs)))
        print()
        for seed, p, c in zip(seeds, parent_runs, change_runs):
            vals = [f"{n} {p['metrics'][n]:.6g}→{c['metrics'][n]:.6g}" for n in e2e] \
                if p and c else ["failed"]
            print(f"seed {seed} (parent→change): " + ", ".join(vals))
    return 0 if len(pairs) == len(seeds) else 1


if __name__ == "__main__":
    sys.exit(main())
