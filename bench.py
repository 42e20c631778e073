"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines (round-7 verdict item 1: the old single line
outgrew the driver's 2000-char stdout tail capture, so BENCH_r07
recorded ``parsed: null``):

  line 1 — the DETAIL record: probe timings (skew / graph-scale /
           dedup-scale), per-size round counts, fitted exponents,
           sentinel start/end, registry-query warm-up failures, and
           the adaptive paths taken (``postures``).
           Unbounded size; consumers that want probe history read
           this line.
  line 2 — the COMPACT HEADLINE, always the FINAL stdout line and
           pinned < 1800 chars by ``tests/test_registry.py``:
           {"metric", "value", "unit", "queries": {headline only},
            "sf", "noise_sentinel": {...}}

Each query executes fully (noop sink — no driver collect skew) and is
timed over N_ITER runs; the per-query MINIMUM is reported (single-shot
timings on this box swing ±15% run-to-run, masking real regressions —
the min is the steady-state capability).  A warm-up pass at the
smallest SF runs first so JIT/codegen/Python-worker spin-up lands
outside the timings.

Every scale probe is one ``Probe`` entry in ``PROBES``, timed by
``run_probe``: input built and materialized outside the clock, one
untimed warm-up of every variant at a tenth of the x1 size, then
min-of-``reps`` per point with the variant order alternating per rep.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from collections.abc import Callable
from contextlib import contextmanager
from functools import partial
from pathlib import Path
from typing import NamedTuple

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from parcial_bigdata_spark.operators import dedup as D  # noqa: E402
from parcial_bigdata_spark.operators import graph as G  # noqa: E402
from parcial_bigdata_spark.operators import sampling as S  # noqa: E402
from parcial_bigdata_spark.operators import similarity as SIM  # noqa: E402
from parcial_bigdata_spark.operators.analytics import mad_outliers  # noqa: E402
from parcial_bigdata_spark.operators.scale import distributed_rank, posture_log  # noqa: E402
from parcial_bigdata_spark.plans.registry import QUERIES  # noqa: E402
from parcial_bigdata_spark.session import get_spark  # noqa: E402
from parcial_bigdata_spark.streaming import windows as W  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "q3_shipping_priority",
    "q5_region_revenue",
    "interval_query",
    "hourly_rollup",
    "window_topk_per_user",
    "sessionize_events",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_cross_split_contamination",
    "knn_cosine_brute_force",
    "knn_cosine_arrow",
    "knn_cosine_ivf",
    "knn_cosine_lsh",
    "sample_stratified_exact",
    "text_token_counts",
    "dedup_ngram_decontaminate",
    "sample_chunk_documents",
    "text_vocabulary",
    "embedding_kmeans_train",
    "events_funnel_steps",
    "events_retention_cohorts",
    "profile_orders_table",
    "skew_lineitem_suppkey",
    # round-4 newcomers: interval-overlap self-join, leakage-safe
    # component split, and the streaming sessionize twin get timing
    # history (round-3 verdict item 7)
    "session_overlap_pairs",
    "sample_leakage_safe_split",
    "streaming_sessionize",
]

N_ITER = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))


# ---- the timing primitive -------------------------------------------------

def _noop(df) -> None:
    """Execute ``df`` fully into the noop sink (no driver collect)."""
    df.write.mode("overwrite").format("noop").save()


def best_of(runs: dict[str, Callable], reps: int,
            warm: Callable | None = None) -> dict[str, tuple[float, object]]:
    """Min-of-``reps`` wall seconds for each zero-argument callable in
    ``runs``, returned as ``{label: (best_sec, result_of_last_run)}``.

    ``warm`` runs once, untimed, before the first timed rep.  Even reps
    run the labels in order and odd reps reversed, so ambient drift
    lands on every variant alike.  Exceptions propagate."""
    if warm is not None:
        warm()
    labels = list(runs)
    best: dict[str, float] = {}
    out: dict[str, object] = {}
    for rep in range(max(1, reps)):
        for label in labels if rep % 2 == 0 else labels[::-1]:
            t0 = time.perf_counter()
            out[label] = runs[label]()
            el = time.perf_counter() - t0
            best[label] = min(best.get(label, float("inf")), el)
    return {label: (round(best[label], 3), out[label]) for label in labels}


@contextmanager
def _persisted(spark, inp, n):
    """Persist the probe input (one frame or a tuple of frames) and
    count it, outside the clock; yields ``(input, rows of the first
    frame)``."""
    frames = inp if isinstance(inp, tuple) else (inp,)
    try:
        counts = [f.persist().count() for f in frames]
        yield inp, counts[0]
    finally:
        for f in frames:
            f.unpersist()


@contextmanager
def _parquet_dir(spark, inp, n):
    """Write the probe input to a scratch parquet directory (the file
    source a streaming query reads); yields ``((spark, dir), n)``."""
    tmp = tempfile.mkdtemp(prefix="bench-probe-")
    try:
        inp.coalesce(8).write.mode("overwrite").parquet(tmp)
        yield (spark, tmp), n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class Probe(NamedTuple):
    """One probe series.  Timing keys and detail rows are format
    strings over ``s`` (the scale) and ``v`` (the variant label; ``""``
    is the series itself)."""

    path: tuple[str, ...]       # where the series lands in the detail record
    key: str                    # probe_queries timing key
    scales: tuple[int, ...]
    base: int                   # build size at x1
    build: Callable             # (spark, n) -> input, not yet materialized
    runs: dict[str, Callable]   # variant label -> timed work on the input
    reps: int = 1
    size: str | None = "edges"  # row field for the materialized input size
    fields: Callable | None = None  # (input, n, result, label) -> row fields
    sec: str | None = "sec"     # row field for the best time
    point: str | None = "x{s}{v}"   # row name under path; None: path itself
    axis: str | None = None     # row field the exponent fits on (default size)
    fit: str = "own"            # exponents go on "own" path, "parent" or "none"
    variant_scales: tuple[int, ...] = ()  # scales of labels other than ""
    optional: tuple[str, ...] = ()  # labels whose warm-up failure is recorded
    stage: Callable = _persisted    # materializes the input outside the clock
    finish: Callable | None = None  # extra fits over the finished series


def _fit_exponent(sizes, secs):
    """Least-squares slope of log(sec) vs log(size).

    Caveat the JSON consumer must know: at these probe sizes a fixed
    per-round Spark-job floor dominates, DEFLATING the fitted slope —
    a genuinely super-linear per-edge term can hide under it.  The
    companion ``exponent_tail`` (slope between the two LARGEST sizes
    only) is the less-contaminated signal; read both, and treat a
    tail slope drifting above ~1.2 as the regression flag."""
    import math

    xs = [math.log(s) for s in sizes]
    ys = [math.log(max(t, 1e-6)) for t in secs]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return round(num / den, 3)


def _tail_exponent(sizes, secs):
    """Slope between the two largest sizes (see _fit_exponent caveat);
    a two-point least-squares fit IS the endpoint slope, so delegate."""
    return _fit_exponent(sizes[-2:], secs[-2:])


def _fit(dest: dict, sizes, secs, suffix: str = "") -> None:
    dest[f"exponent{suffix}"] = _fit_exponent(sizes, secs)
    dest[f"exponent{suffix}_tail"] = _tail_exponent(sizes, secs)


def run_probe(spark, p: Probe, timings: dict[str, float], detail: dict) -> None:
    """Time one probe series into ``timings`` (probe_queries keys) and
    ``detail`` (the detail record)."""
    parent = detail
    for k in p.path[:-1]:
        parent = parent.setdefault(k, {})
    rows = parent.setdefault(p.path[-1], {})
    runs = dict(p.runs)

    def scales_of(label):
        return p.variant_scales if label and p.variant_scales else p.scales

    with p.stage(spark, p.build(spark, max(p.base // 10, 1)), None) as (small, _):
        for label in list(runs):
            try:
                runs[label](small)
            except Exception as e:  # an optional variant missing on this build
                if label not in p.optional:
                    raise
                del runs[label]
                for s in scales_of(label):
                    rows[p.point.format(s=s, v=label)] = {"error": str(e)[:200]}

    for s in p.scales:
        n = p.base * s
        with p.stage(spark, p.build(spark, n), n) as (inp, size):
            best = best_of({lb: partial(run, inp) for lb, run in runs.items()
                            if s in scales_of(lb)}, p.reps)
            for label, (sec, result) in best.items():
                row = rows if p.point is None else rows.setdefault(
                    p.point.format(s=s, v=label), {})
                if p.size:
                    row[p.size] = size
                if p.fields:
                    row.update(p.fields(inp, n, result, label))
                if p.sec:
                    row[p.sec.format(v=label)] = sec
                timings[p.key.format(s=s, v=label)] = sec
    if p.fit != "none":
        pts = [rows[p.point.format(s=s, v="")] for s in p.scales]
        _fit(rows if p.fit == "own" else parent,
             [pt[p.axis or p.size] for pt in pts], [pt[p.sec] for pt in pts])
    if p.finish:
        p.finish(rows)


def run_probes(spark, probes) -> tuple[dict[str, float], dict]:
    timings: dict[str, float] = {}
    detail: dict = {}
    for p in probes:
        run_probe(spark, p, timings, detail)
    return timings, detail


def _as(name: str) -> Callable:
    """Row fields holding the run's result under ``name`` (formatted
    with the variant label)."""
    return lambda inp, n, r, v: {name.format(v=v): r}


# ---- LSH skew stress (round-4 verdict item 4) -----------------------------
# A boilerplate-heavy corpus with ONE degenerate >=10^4-member band bucket
# (10,500 byte-identical "license page" docs — every LSH band collides), plus
# 100 planted genuine near-dup pairs and unique filler.  Without the
# MAX_LSH_BUCKET cap the hot bucket emits ~5.5e7 pairs from one grouped row;
# with it, pair generation stays bounded and wall-time flat.  The bench times
# the capped run + the observability twin, and reports the cap's measured
# recall effect: planted-pair recall (must stay high — real near-dups live in
# small buckets) vs the identical block (deliberately truncated; exact dedup
# catches identical texts upstream).

_SKEW_IDENTICAL = 10_500
_SKEW_PLANTED = 100


def _skew_corpus(spark, n_identical):
    boiler = ("terms of service agreement all rights reserved no warranty "
              "of any kind either expressed or implied including but not "
              "limited to the implied warranties of merchantability and "
              "fitness for a particular purpose " * 2)
    rows = [(i, boiler) for i in range(n_identical)]
    vid = n_identical
    for p in range(_SKEW_PLANTED):  # pair = 30-word text, last 2 words mutated
        words = [f"w{p}x{j}" for j in range(30)]
        rows.append((vid, " ".join(words)))
        rows.append((vid + 1, " ".join(words[:-2] + [f"m{p}a", f"m{p}b"])))
        vid += 2
    for f in range(1_300):
        rows.append((vid, " ".join(f"f{f}u{j}" for j in range(25))))
        vid += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def _skew_fields(inp, n_identical, r, label):
    if label == "bucket_stats":
        return {
            "identical_block_docs": n_identical,
            "max_bucket_size": r.max_bucket_size,
            "n_truncated_buckets": r.n_truncated_buckets,
            "n_members_dropped": r.n_members_dropped,
        }
    found = sum(
        1 for x in r
        if x.doc_a >= n_identical and x.doc_b == x.doc_a + 1
        and (x.doc_a - n_identical) % 2 == 0
    )
    return {
        "pairs_emitted_total": len(r),
        "identical_block_pairs_emitted": sum(
            1 for x in r if x.doc_b < n_identical
        ),
        "planted_pairs": _SKEW_PLANTED,
        "planted_found": found,
        "planted_recall": round(found / _SKEW_PLANTED, 4),
    }


# ---- graph-family scale exponent (round-5 verdict item 2) -----------------
# The 100 TB story for connected components / leakage-safe split rests on
# O(E·α) contraction + O(log diameter) levels; the per-round bench measures
# only one graph size.  These probes time the SAME operators on synthetic
# corpora at ×1/×4/×16 edge counts (driver testdata is read-only, so the
# corpora are generated distributed via spark.range — no driver-side row
# loops) and report a fitted log-log scaling exponent.  Near-linear (< ~1.3
# after fixed per-level Spark-job overhead) validates the design; anything
# super-linear is a regression the JSON makes visible.

# CC gets a ×64 point (6.4M edges — round-6 verdict item 8: the tail
# exponent needs a reading past the fixed-overhead regime); the split
# probe composes shingling+jaccard+CC+window and stays at ×16 to keep
# the probe session bounded.
_GRAPH_SCALES = (1, 4, 16)
_CC_SCALES = (1, 4, 16, 64)
_CC_BASE_EDGES = 100_000
_SPLIT_BASE_CLUSTERS = 200  # ×5 docs, ×10 intra-cluster edges


def _clique_chain(spark, n_edges, clique_share, chain_edges,
                  src="doc_a", dst="doc_b"):
    """Deterministic executor-side graph: 5-cliques (10 edges each)
    holding ``clique_share`` of the edges, the rest disjoint
    ``chain_edges``-edge chains."""
    n_cliques = int(n_edges * clique_share) // 10
    cliques = (
        spark.range(n_cliques)
        .select(
            F.explode(
                F.expr(
                    "transform("
                    "  flatten(transform(sequence(0, 3), i ->"
                    "    transform(sequence(i + 1, 4), j -> array(i, j)))),"
                    "  p -> named_struct("
                    f"    '{src}', id * 5 + p[0], '{dst}', id * 5 + p[1]))"
                )
            ).alias("e")
        )
        .select(f"e.{src}", f"e.{dst}")
    )
    off = n_cliques * 5
    step = F.col("id") + F.floor(F.col("id") / chain_edges)
    chains = spark.range(n_edges - n_cliques * 10).select(
        (F.lit(off) + step).alias(src),
        (F.lit(off) + step + 1).alias(dst),
    )
    return cliques.unionByName(chains)


def _cc_edges(spark, n_edges):
    """Near-dup edge list: 80% 5-cliques (the bulk shape real near-dup
    graphs take) + 20% disjoint 100-edge chains (diameter stress for
    the Borůvka level count)."""
    return _clique_chain(spark, n_edges, 0.8, 100)


def _split_corpus(spark, n_clusters):
    """Documents in 5-doc near-dup clusters (28 shared + 2 unique words
    → pairwise Jaccard ≈ 0.87 on either word-set or 3-gram semantics,
    identical lengths) — exactly 10 exact-near-dup edges per cluster."""
    return (
        spark.range(n_clusters * 5)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                "concat_ws(' ',"
                "  concat_ws(' ', transform(sequence(0, 27), j ->"
                "    concat('c', CAST(id DIV 5 AS STRING), 'w', CAST(j AS STRING)))),"
                "  concat('c', CAST(id DIV 5 AS STRING), 'v', CAST(id % 5 AS STRING), 'a'),"
                "  concat('c', CAST(id DIV 5 AS STRING), 'v', CAST(id % 5 AS STRING), 'b'))"
            ).alias("text"),
        )
        .withColumn("lang", F.lit("en"))
        .withColumn("n_chars", F.length("text"))
    )


def _cc_fields(inp, n, r, v):
    stats = D._LAST_CC_STATS
    return {
        "labeled_vertices": r,
        "star_rounds": stats["star_rounds"],
        "tail_edges": stats["tail_edges"],
        # contraction engagement: out/in → 1 means the pass
        # degraded to pass-through (layout regression flag)
        "contract_in": stats.get("contract_edges_in"),
        "contract_out": stats.get("contract_edges_out"),
    }


def _cc_per_round(cc: dict) -> None:
    """Exponents of sec per job unit (star rounds + 1 if the Arrow tail
    ran): the raw wall-time conflates per-edge cost with ROUND COUNT,
    and round counts differ across sizes because the tail cutoff
    truncates rounds at small scales (x16 runs 2 star rounds, x64 runs
    ~10 on the same diameter-100 chains).  Rounds are O(log diameter) —
    bounded, not a scaling axis — so sec/unit isolates the per-edge axis
    that must stay ~linear at 100 TB."""
    pts = [cc[f"x{s}"] for s in _CC_SCALES]
    per_round = [
        pt["sec"] / max(pt["star_rounds"] + (1 if pt["tail_edges"] else 0), 1)
        for pt in pts
    ]
    _fit(cc, [pt["edges"] for pt in pts], per_round, "_per_round")


# ---- MinHash/LSH pipeline scale exponent (round-7 verdict item 4) --------
# minhash_near_duplicates is the single most load-bearing 100 TB operator
# (shingle → 64-perm signature → banded LSH → capped bucket pairs →
# Jaccard verify), but until round 8 it only had the fixed-size skew
# stress.  These probes time the END-TO-END pipeline on synthetic corpora
# at ×1/×4/×16 document counts (the same 5-doc near-dup cluster recipe as
# the leakage-split probe — pairwise Jaccard ≈ 0.87, so every stage does
# real work and pair volume scales linearly with the corpus) and report
# fitted log-log exponents.  Base sizing is deliberately LARGE (80k docs
# ×1 → 1.28M docs ×16): below ~300k docs the pipeline is fixed-overhead-
# bound on this box (measured flat 1.2-2.6 s from 10k to 320k docs), and
# a fit over that regime reads noise, not the per-doc axis.  Min-of-2
# per point: single shots at these sizes swing with GC/ambient load.
# Banded LSH with bucket caps is ~linear in docs; calibration read tail
# ≈ 1.1 (shuffle-pressure bump past 640k docs at 32 fixed partitions);
# a tail exponent drifting well above ~1.2 is the regression flag.

_DEDUP_SCALES = (1, 4, 16)
_DEDUP_BASE_CLUSTERS = 16_000  # ×5 docs per cluster

# r17 (verdict item 1): carried-shingles vs slim-pairs+rejoin verify A/B
# for minhash_near_duplicates, at the two LARGEST corpus sizes (below
# ~300k docs fixed overhead hides the shuffle-byte axis).  The probe
# corpora are in-memory frames (local_scan_bytes → None), so the public
# operator's adaptive gate routes them to the rejoin form; the A/B times
# the two private impls explicitly.
_DEDUP_AB_SCALES = (16, 64)

# ---- Containment-dedup scale exponent (round 16) -------------------------
# containment_pairs is the exact asymmetric twin of the minhash pipeline
# (prefix-filtered candidate join, no length band, full-token B side) —
# the B-side token explode is the linear-cost stage and the prefix join
# the candidate driver.  Same cluster corpus and sizing rationale as the
# dedup probe (fixed overhead dominates below ~300k docs); pair volume
# scales linearly with the corpus by construction.  Calibration (quiet
# box): 13.1 / 14.7 / 36.7 s at 80k / 320k / 1.28M docs — tail exponent
# ≈ 0.66; a tail drifting well above ~1.2 is the regression flag
# (candidate blowup past the prefix filter).

# ---- Triangle-family scale exponent (round-8 verdict item 4) -------------
# The CC/PageRank probes run on the clique+chain fixture whose max degree
# is 5 — no test of the degree-ordered orientation's O(√m) out-degree
# bound, which only bites on SKEWED graphs.  This probe generates a
# deterministic power-law multigraph (endpoint v = floor(N·u³) for a
# per-edge xxhash64 uniform u → density p(v) ∝ v^(-2/3): the head nodes
# are true hubs with degrees in the 10³-10⁴ range at ×16) and times the
# full triangle census at ×1/×4/×16 edges.  Theory bound is O(m^1.5)
# worst case; the orientation should hold the fixture well under that —
# a tail exponent drifting above ~1.5 is the regression flag.  The fit
# axis is the distinct undirected edge count the census reports.

_TRI_SCALES = (1, 4, 16)
# Base sizing deliberately large (×16 → 6.4M raw edges): a first
# calibration at 100k base read tail exponent 0.29 — pure fixed-job
# overhead, no per-edge signal.
_TRI_BASE_EDGES = 400_000


def _powerlaw_edges(spark, n_edges):
    """Deterministic power-law edge list: p(node v) ∝ v^(-2/3) via the
    inverse-CDF map v = floor(N·u³).  Self-loops and duplicate edges are
    left in — the operator's canonicalize+distinct stage is part of the
    timed pipeline, exactly as a real near-dup edge dump would arrive."""
    n_nodes = max(n_edges // 8, 16)

    def node(salt):
        u = (
            F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(1_000_003))
            .cast("double")
            / 1_000_003.0
        )
        return F.floor(F.lit(float(n_nodes)) * F.pow(u, F.lit(3.0))).cast(
            "long"
        )

    return spark.range(n_edges).select(
        node("a").alias("src"), node("b").alias("dst")
    )


# ---- Incremental-dedup scale probe (round 9) -----------------------------
# jaccard_pairs_incremental's claim is that candidate work scales with
# the NEW batch, not the settled base — probe it: a FIXED 400-doc batch
# (one doc per near-dup cluster) against a base growing ×1/×4/×16.  The
# base-side word_sets scan is inherently linear, so the expected shape
# is mild sublinear growth (scan-bound), nothing like the quadratic a
# symmetric self-join over base ∪ new would show.

_INCR_SCALES = (1, 4, 16)
_INCR_BASE_CLUSTERS = 2_000  # ×5 docs per cluster
_INCR_NEW_DOCS = 400


def _incr_inputs(spark, n_clusters):
    """(base, new): the new batch is the id%5==0 doc of the FIRST 400
    clusters (fixed size at every scale); the base is every other doc."""
    corpus = _split_corpus(spark, n_clusters)
    is_new = (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < _INCR_NEW_DOCS * 5)
    return corpus.where(~is_new), corpus.where(is_new)


# ---- k-core peel scale exponent (round-9 verdict item 5) ------------------
# kcore is iterative with a count() convergence probe per round; the other
# graph probes never exercise its peel loop past one round (cliques peel
# nothing).  Fixture: half 5-cliques (degree 4 — the k=2 core, survives
# every round) + half parallel 12-edge paths — a DEEP-PEEL onion: k=2
# removes only the two path endpoints per round, so every arm takes ~6
# rounds to dissolve regardless of scale.  Peel depth is FIXED by arm
# length while edge volume grows ×1/×4/×16, so like PageRank the raw
# exponent is the per-edge signal; measured peel-round counts ride along
# (graph._LAST_KCORE_STATS) to prove the depth really was exercised and
# constant.  max_rounds=16 headroom: the operator RAISES on
# non-convergence rather than truncating.

_KCORE_SCALES = (1, 4, 16)
_KCORE_BASE_EDGES = 200_000
_KCORE_ARM_EDGES = 12


def _kcore_graph(spark, n_edges):
    return _clique_chain(spark, n_edges, 0.5, _KCORE_ARM_EDGES, "src", "dst")


def _kcore_fields(inp, n, r, v):
    return {
        "core_nodes": r,
        "peel_rounds": G._LAST_KCORE_STATS.get("peel_rounds"),
        # per-round surviving-node trace (r12 verdict item 8): a
        # peel-layout regression moves this sequence before it moves
        # the wall clock
        "round_nodes": G._LAST_KCORE_STATS.get("round_nodes"),
    }


# ---- BFS scale probe (round 10) -------------------------------------------
# bfs_hop_histogram is layered frontier expansion; rounds are bounded by
# graph diameter, so the scaling axis is per-edge frontier work.  The
# probe graph is a two-level hub fan-out (node 0 → 1000 hubs → leaves):
# diameter 2 at every size, with the ENTIRE leaf set arriving as one
# hop-2 wavefront — the distinct + anti-join machinery processes O(E)
# rows in a single round, the worst-case frontier shape.

_BFS_SCALES = (1, 4, 16)
_BFS_BASE_EDGES = 400_000
_BFS_HUBS = 1_000


def _bfs_graph(spark, n_edges):
    hubs = spark.range(_BFS_HUBS).select(
        F.lit(0).alias("src"), (F.col("id") + 1).alias("dst")
    )
    n_leaves = n_edges - _BFS_HUBS
    leaves = spark.range(n_leaves).select(
        (F.col("id") % _BFS_HUBS + 1).alias("src"),
        (F.col("id") + _BFS_HUBS + 1).alias("dst"),
    )
    return hubs.unionByName(leaves)


def _bfs_fields(inp, n_edges, hops, v):
    if hops.get(0) != 1 or hops.get(2) != n_edges - _BFS_HUBS or hops.get(-1):
        raise RuntimeError(f"bfs probe integrity failed at {n_edges} edges: {hops}")
    return {"hop2_nodes": hops[2]}


# ---- distributed_rank scale probe (round 10) ------------------------------
# The round-10 headline plan change (Gini / RFM / trimmed means /
# quantile normalize) rests on scale.distributed_rank's claim: exact
# ranks with NO single-task mega-group sort.  Probe it on the worst
# case — ONE group (every row in the same partition key) — at ×1/×4/×16
# rows, against the plain unpartitioned row_number window at ×1/×4 (the
# thing it replaces; its cost is a one-task global sort, so its curve is
# the overhead being bought off).  Values are xxhash-derived with heavy
# ties (cardinality n/50) — the tie-handling path stays hot.

_RANK_SCALES = (1, 4, 16)
_RANK_BASE_ROWS = 1_000_000


def _rank_rows(spark, n):
    return spark.range(n).select(
        F.lit("g").alias("g"),
        F.pmod(F.xxhash64("id"), F.lit(max(n // 50, 1))).alias("v"),
        F.col("id").alias("tb"),
    )


# ---- wedge-join scale probe (round 12) -------------------------------------
# graph_common_neighbors' hub-capped wedge join claims per-key fanout
# bounded at cap² regardless of graph size.  The probe graph is a
# circulant (node i ↔ i+1..i+8 mod n): every degree is exactly 16, so
# the wedge stream grows LINEARLY with nodes — a measured exponent near
# 1 is the backing for the cap argument; without the cap a hub graph
# would scale quadratically.

_WEDGE_SCALES = (1, 4, 16)
_WEDGE_BASE_EDGES = 100_000
_WEDGE_D = 8


def _wedge_graph(spark, n_edges):
    n = max(n_edges // _WEDGE_D, 1)
    return (
        spark.range(n)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, {_WEDGE_D}), k -> "
                    f"named_struct('src', id, 'dst', pmod(id + k, {n})))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )


# ---- sketch-median scale probe (round 11) ---------------------------------
# events_mad_outliers' sketch-guided exact selection claims ZERO
# full-stream shuffles (the r10 rank form paid two).  This probe times
# the whole MAD operator on synthetic events at x1/x4/x16 rows: flat
# per-row cost (exponent well below 1 after the 6-job fixed overhead)
# is the measured backing for the 100 TB posture.

_MADSKETCH_SCALES = (1, 4, 16)
_MADSKETCH_BASE_ROWS = 250_000


def _madsketch_rows(spark, n):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), F.pmod(F.col("id"), F.lit(4))).alias(
            "event_type"
        ),
        (F.pmod(F.xxhash64("id"), F.lit(100_000)) / 100.0).alias("value"),
    )


# kNN/ANN scale probe (round-13 verdict item 4): the similarity family
# was the one load-bearing 100 TB claim without a measured exponent —
# its scale story rested on plan shape alone (batch-local top-k prune
# bounds the Arrow shuffle at k·|queries| rows/batch; IVF prunes the
# scan to nprobe/|clusters| of the corpus).  This probe times the full
# brute-force-Arrow, IVF and LSH operators end-to-end on synthetic
# 64-dim embeddings at x1/x4/x16 vectors; a flat-ish tail exponent is
# the measured backing.  Clustered geometry (a label-dependent
# component dominating the per-id term) keeps IVF's probe pruning
# meaningful rather than degenerate.  r17 (verdict item 6): ivf and lsh
# additionally probe x64 (3.2M vectors) to confirm the nprobe/bucket
# pruning exponents hold past the fixed-overhead regime; arrow keeps
# x16 (its matmul cost is linear by construction, and the x64 point
# would add ~4x the probe session's Arrow bytes for no open question).

_KNN_SCALES = (1, 4, 16)
_KNN_BASE_VECS = 50_000
_KNN_QUERY_IDS = list(range(0, 40, 2))  # 20 queries, same every scale


def _knn_rows(spark, n):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), j -> CAST("
            "  2.0 * cos((id % 32) * 2.1 + j * 0.5)"  # cluster component
            "  + sin(id * 0.7 + j * 1.3) AS FLOAT))"  # per-vector detail
        ).alias("embedding"),
        (F.col("id") % 32).cast("int").alias("label"),
    )


# Streaming STATE-SCALE probe (round-14 verdict item 5 — the last 100 TB
# family without a measured exponent): run the two heaviest stateful
# shapes — session_window aggregation and the watermarked stream-stream
# LEFT OUTER interval join — as REAL AvailableNow streams over synthetic
# event volumes, timing the full run (source discovery, state-store
# build/merge/evict, sink).  The tail exponent answers the question the
# correctness gate cannot: does state-store cost stay ~linear as event
# volume and live state grow together?  x64 (3.84M events) included
# because the first probe run read the stream-stream join FLAT through
# x16 — 9.5 s at every volume, pure fixed micro-batch overhead — so the
# state-cost tail only becomes visible past ~1M events.

_STREAM_SCALES = (1, 4, 16, 64)
_STREAM_BASE_EVENTS = 60_000
_STREAM_EVENTS_PER_USER = 40


def _stream_events(spark, n):
    """Deterministic synthetic event stream: users scale WITH volume
    (constant ~40 events per user over a 2-day span, pseudo-random
    arrival via id*37 mod 172800), so session-window state and join
    buffer state both grow ~linearly with the event count — the
    dimension the probe measures."""
    users = max(n // _STREAM_EVENTS_PER_USER, 1)
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_600_000_000) + (F.col("id") * 37) % 172_800
        ).alias("ts"),
        (F.col("id") % users).alias("user_id"),
        F.element_at(
            F.array(
                F.lit("view"), F.lit("click"),
                F.lit("cart"), F.lit("purchase"),
            ),
            ((F.col("id") * 11) % 4 + 1).cast("int"),
        ).alias("event_type"),
        ((F.col("id") % 500) / 10.0).alias("value"),
    )


def _sessionize(src) -> None:
    _noop(W.sessionize_available_now(*src))


# r17 (verdict item 7): state-store provider A/B at the largest state
# point — the default HDFS-backed in-memory provider vs the built-in
# RocksDB provider (the documented cluster posture for state that
# outgrows executor heap, guide §5), selected with Spark's own
# spark.sql.streaming.stateStore.providerClass.  That conf binds at
# query start, so one session can time both.
_STATE_STORE = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _on_rocksdb(run: Callable, src):
    spark = src[0]
    prev = spark.conf.get(_STATE_STORE, None)
    spark.conf.set(_STATE_STORE, _ROCKSDB)
    try:
        return run(src)
    finally:
        if prev is None:
            spark.conf.unset(_STATE_STORE)
        else:
            spark.conf.set(_STATE_STORE, prev)


# Execution order matters: the dedup-scale probes run BEFORE the graph
# probes — the ×64 CC run (6.4M edges) leaves enough JVM GC pressure
# behind to inflate whatever runs next (a calibration run read the
# 10k-doc dedup point at 4.2 s post-CC vs 1.5 s standalone).
PROBES = [
    Probe(("skew_lsh",), "lsh_skew_{v}", (1,), _SKEW_IDENTICAL, _skew_corpus,
          {"bucket_stats": lambda c: D.bucket_truncation_stats(
              D.band_rows(c, 3), ["band_id", "band_hash"]).collect()[0],
           "capped_pairs": lambda c: D.minhash_near_duplicates(
               c, threshold=0.6).collect()},
          reps=N_ITER, size=None, fields=_skew_fields, sec=None, point=None,
          fit="none"),
    Probe(("dedup_scale",), "dedup_scale_x{s}", _DEDUP_SCALES,
          _DEDUP_BASE_CLUSTERS, _split_corpus,
          {"": lambda d: D.minhash_near_duplicates(d, threshold=0.6).count()},
          reps=2, size="docs", fields=_as("pairs")),
    Probe(("dedup_scale", "verify_ab"), "dedup_verify_{v}_x{s}",
          _DEDUP_AB_SCALES, _DEDUP_BASE_CLUSTERS, _split_corpus,
          {"carried": lambda d: D._minhash_verify_carried(d, 0.6, 3).count(),
           "rejoin": lambda d: D._minhash_verify_rejoin(d, 0.6, 3).count()},
          reps=2, size="docs", fields=_as("{v}_pairs"), sec="{v}_sec",
          point="x{s}", fit="none"),
    Probe(("containment_scale",), "containment_scale_x{s}", _DEDUP_SCALES,
          _DEDUP_BASE_CLUSTERS, _split_corpus,
          {"": lambda d: D.containment_pairs(d, threshold=0.7).count()},
          reps=2, size="docs", fields=_as("pairs")),
    Probe(("triangle_scale",), "triangle_scale_x{s}", _TRI_SCALES,
          _TRI_BASE_EDGES, _powerlaw_edges,
          {"": lambda e: G.triangle_stats(e, src="src", dst="dst").collect()[0]},
          reps=2, size="raw_edges", axis="edges",
          fields=lambda inp, n, r, v: {
              "edges": r.n_edges, "nodes": r.n_nodes, "triangles": r.n_triangles,
          }),
    Probe(("incr_dedup_scale",), "incr_dedup_scale_x{s}", _INCR_SCALES,
          _INCR_BASE_CLUSTERS, _incr_inputs,
          {"": lambda bn: D.jaccard_pairs_incremental(*bn, threshold=0.6).count()},
          reps=2, size="base_docs",
          fields=lambda inp, n, r, v: {"new_docs": inp[1].count(), "pairs": r}),
    Probe(("kcore_scale",), "kcore_scale_x{s}", _KCORE_SCALES,
          _KCORE_BASE_EDGES, _kcore_graph,
          {"": lambda e: G.kcore(e, k=2, max_rounds=16).count()},
          fields=_kcore_fields),
    Probe(("bfs_scale",), "bfs_scale_x{s}", _BFS_SCALES, _BFS_BASE_EDGES,
          _bfs_graph,
          {"": lambda e: {r["hop"]: r["n_nodes"] for r in
                          G.bfs_hop_histogram(e, max_hops=4).collect()}},
          fields=_bfs_fields),
    Probe(("rank_scale", "distributed"), "rank_scale_x{s}", _RANK_SCALES,
          _RANK_BASE_ROWS, _rank_rows,
          {"": lambda r: _noop(distributed_rank(
              r, "v", "tb", part_cols=["g"], out_col="rk"))},
          size="rows", fit="parent"),
    Probe(("rank_scale", "window"), "rank_window_x{s}", _RANK_SCALES[:2],
          _RANK_BASE_ROWS, _rank_rows,
          {"": lambda r: _noop(r.withColumn("rk", F.row_number().over(
              Window.partitionBy("g").orderBy("v", "tb"))))},
          size="rows", fit="none"),
    Probe(("madsketch_scale",), "madsketch_scale_x{s}", _MADSKETCH_SCALES,
          _MADSKETCH_BASE_ROWS, _madsketch_rows,
          {"": lambda r: _noop(mad_outliers(r))}, size="rows"),
    *(
        Probe(("knn_scale", family), f"knn_{family}_scale_x{{s}}", scales,
              _KNN_BASE_VECS, _knn_rows,
              {"": lambda r, fn=fn: _noop(fn(r, _KNN_QUERY_IDS))}, size="vecs")
        for family, fn, scales in (
            ("arrow", SIM.knn_brute_force_arrow, _KNN_SCALES),
            ("ivf", SIM.knn_ivf, _KNN_SCALES + (64,)),
            ("lsh", SIM.knn_lsh, _KNN_SCALES + (64,)),
        )
    ),
    Probe(("streaming_scale", "sessionize"),
          "streaming_sessionize_scale_x{s}{v}", _STREAM_SCALES,
          _STREAM_BASE_EVENTS, _stream_events,
          {"": _sessionize, "_rocksdb": partial(_on_rocksdb, _sessionize)},
          reps=2, size="events", variant_scales=_STREAM_SCALES[-1:],
          optional=("_rocksdb",), stage=_parquet_dir,
          fields=lambda inp, n, r, v: {"provider": "rocksdb"} if v else {}),
    Probe(("streaming_scale", "outer_join"),
          "streaming_outer_join_scale_x{s}", _STREAM_SCALES,
          _STREAM_BASE_EVENTS, _stream_events,
          {"": lambda src: _noop(W.outer_attribution_available_now(*src))},
          size="events", stage=_parquet_dir),
    Probe(("wedge_scale",), "wedge_scale_x{s}", _WEDGE_SCALES,
          _WEDGE_BASE_EDGES, _wedge_graph,
          {"": lambda e: G.common_neighbor_scores(e, k=20).count()},
          fields=_as("top_k")),
    Probe(("graph_scale", "cc"), "cc_scale_x{s}", _CC_SCALES, _CC_BASE_EDGES,
          _cc_edges, {"": lambda e: D.duplicate_components(e).count()},
          fields=_cc_fields, finish=_cc_per_round),
    Probe(("graph_scale", "leakage_split"), "leakage_split_scale_x{s}",
          _GRAPH_SCALES, _SPLIT_BASE_CLUSTERS, _split_corpus,
          {"": lambda d: sum(r.n_components for r in
                             S.leakage_safe_split(d, threshold=0.6).collect())},
          size="docs", fields=_as("components")),
    # PageRank: fixed 3 power iterations over the same synthetic edge sets
    # as the CC probe — per-iteration work is strictly ∝ edges (one
    # ranks-onto-edges join + one in-sum groupBy + one vertex-set left
    # join), so unlike CC there is no round-count axis to divide out; the
    # raw exponent IS the per-edge signal.
    Probe(("graph_scale", "pagerank"), "pagerank_scale_x{s}", _GRAPH_SCALES,
          _CC_BASE_EDGES, _cc_edges,
          {"": lambda e: G.pagerank(e, src="doc_a", dst="doc_b",
                                    iterations=3).count()},
          fields=_as("nodes")),
]


# Round-8 additions, timed at the bench SF in the probe session (real
# sf data, unlike the synthetic skew/scale probes) — NOT in the
# headline total, which stays a fixed set for cross-round comparison.
# Extended per round-8 verdict item 3 with the heavy new ops so r10 can
# detect regressions against BENCH_r09's first recorded timings.
_NEW_OPS_R8 = [
    "graph_triangle_stats",
    "fuzzy_match_part_names",
    "text_lm_perplexity",
    "scale_zorder_census",
    "events_multi_touch_attribution",
    "pagerank_suppliers",
    "text_bpe_merges",
    "text_bpe_encode",
    "dedup_paragraphs",
    "scd2_customer_history",
    # round-9 additions (first timings -> BENCH_r09; r10 diffs these)
    "dedup_incremental_jaccard",
    "graph_kcore",
    "text_top_tfidf_terms",
    "text_pmi_collocations",
    "multimodal_bmp_pixel_decode",
    "multimodal_wav_sample_decode",
    "events_time_weighted_avg",
    "parts_copurchase_rules",
    "integrity_fk_audit",
    "events_value_outliers",
    # round-9 verdict item 7: the training-pipeline planner inputs get
    # standing timing history
    "sample_pps_systematic",
    "sample_token_length_hist",
    # round-10 additions: the distributed-rank Gini rewrite, both CDC
    # MERGE apply forms, and the round-10 operator batch (first
    # timings -> BENCH_r10 / BENCH_DETAIL.json)
    "revenue_gini_by_nation",
    "streaming_cdc_apply",
    "streaming_cdc_apply_bucketed",
    "customers_rfm_segments",
    "dedup_ngram_coverage",
    "text_zipf_fit",
    "text_sentence_stats",
    "multimodal_png_pixel_decode",
    "embedding_scalar_quantization",
    "embedding_centroid_dispersion",
    "stats_price_trimmed_means",
    "events_quantile_normalize",
    "sample_negative_pairs",
    "integrity_expectations",
    "events_sliding_distinct_users",
    "events_mad_outliers",
    "window_rolling_median",
    "text_source_drift",
    "graph_bfs_distances",
    "events_hourly_ohlc",
    "sample_temporal_split",
    "sample_group_kfold",
    "text_heavy_hitters",
    "events_activity_streaks",
    "parts_abc_classes",
    "integrity_functional_deps",
    "streaming_hourly_ohlc",
    "embedding_dim_stats",
    "multimodal_wav_frame_features",
    "events_user_entropy",
    "multimodal_bmp_resize",
    "streaming_running_zscore",
    # round-11 additions (first timings -> BENCH_r11 / BENCH_DETAIL)
    "events_hourly_autocorr",
    "integrity_benford_audit",
    "graph_assortativity",
    "embedding_mahalanobis_outliers",
    "multimodal_gif_frame_census",
    "sample_curriculum_order",
    "orders_backlog_timeseries",
    "orders_fulfillment_percentiles",
    "sample_importance_weights",
    "multimodal_media_dedup",
    "streaming_late_data_audit",
    "events_change_point",
    "customers_pareto_share",
    "maintenance_compaction_plan",
    "embedding_pair_cosine_hist",
    "sample_undersample_balance",
    "text_length_ks_drift",
    "graph_degree_hist",
    "text_vocab_growth",
    "events_interarrival_hist",
    "nation_supplier_hhi",
    "source_csv_roundtrip",
    # round-12 additions (first timings -> BENCH_r12 / BENCH_DETAIL)
    "events_ab_proportion_test",
    "events_seasonal_forecast",
    "integrity_schema_drift",
    "events_top_paths",
    "events_theil_sen_trend",
    "orders_kaplan_meier",
    "text_readability",
    "graph_label_propagation",
    "embedding_random_projection",
    "streaming_topk_per_window",
    "stats_welch_ttest",
    "events_poisson_rate_test",
    "events_cusum_alarm",
    "text_boilerplate_ngrams",
    "text_js_divergence",
    "graph_common_neighbors",
    "parts_price_elasticity",
    "events_holt_forecast",
    "streaming_outer_join_expiry",
    "events_weekday_seasonality",
    "embedding_pca_variance",
    "embedding_pca_trace_audit",
    "multimodal_wav_silence",
    "events_bootstrap_ci",
    "graph_harmonic_closeness",
    "events_conversion_latency",
    "text_bigram_entropy",
    "events_periodogram",
    "dedup_component_size_hist",
    "multimodal_image_histogram",
    "graph_rich_club",
    "orders_nelson_aalen",
    # round-13 additions
    "stats_mann_whitney",
    "stats_levene_value",
    "orders_ols_trend",
    "text_hapax_stats",
    "stats_chi2_independence",
    "stats_kendall_tau",
    "orders_runs_test",
    # round-14 additions
    "stats_spearman_rho",
    "stats_anova_oneway",
    "events_markov_transitions",
    "events_lag_xcorr",
    "multimodal_png_palette_decode",
    "multimodal_png_interlaced_decode",
    "multimodal_gif_pixel_decode",
    "multimodal_gif_interlaced_decode",
    "streaming_join_tail_audit",
    # round-15 additions
    "multimodal_jpeg_pixel_decode",
    "multimodal_avi_frame_decode",
    "multimodal_mp4_frame_decode",
    "multimodal_mjpg_avi_decode",
    "stats_kruskal_wallis",
    "multimodal_jpeg_restart_decode",
    "events_mann_kendall_trend",
    "events_seasonal_mann_kendall",
    # round-16 additions
    "multimodal_jpeg_subsampled_decode",
    "dedup_ngram_containment",
    "stats_mcnemar_paired",
    "graph_local_clustering",
    "stats_friedman_blocks",
]


def warm_query(spark, name: str, sf_dir: str, failures: dict[str, str]) -> None:
    """One untimed run of registry query ``name``.  A failure is
    recorded as ``{name: "<ExcType>: <first line>"}`` rather than
    raised: a query that fails at the warm-up SF still gets its timed
    run, which raises if it is really broken."""
    try:
        _noop(QUERIES[name](spark, sf_dir))
    except Exception as e:
        msg = (str(e).strip().splitlines() or [""])[0][:200]
        failures[name] = f"{type(e).__name__}: {msg}"


def query_run(spark, name: str, sf_dir: str) -> Callable:
    """A timed run of registry query ``name``: construction is inside
    the clock too (the triangle family eagerly materializes its
    checkpointed intermediates at plan time)."""
    return lambda: _noop(QUERIES[name](spark, sf_dir))


def _run_new_ops(spark, sf_dir: str, warm_dir: str,
                 warmup_failures: dict[str, str]) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in _NEW_OPS_R8:
        best = best_of(
            {name: query_run(spark, name, sf_dir)}, 2,
            warm=partial(warm_query, spark, name, warm_dir, warmup_failures),
        )
        timings[f"newop_{name}"] = best[name][0]
    return timings


# Fixed, never-edited scan-agg query used as the ambient-noise sentinel.
_SENTINEL = "q6_revenue_forecast"


def _time_query(spark, name: str, sf_dir: str, iters: int | None = None) -> float:
    reps = iters if iters is not None else N_ITER
    return best_of({name: query_run(spark, name, sf_dir)}, reps)[name][0]


def postures_since(before: list[dict]) -> list[dict]:
    """Posture-log rows (``scale.posture_log``) taken since the snapshot
    ``before``, each with the number of times it was taken since."""
    seen = {(r["op"], r["branch"]): r["count"] for r in before}
    rows = [{**r, "count": r["count"] - seen.get((r["op"], r["branch"]), 0)}
            for r in posture_log()]
    return [r for r in rows if r["count"]]


def warm_sf_dir(sf_dir: str) -> str:
    """Where warm-ups run: the sf0.001 sibling of ``sf_dir`` (the
    smallest generated SF), or ``sf_dir`` itself if there is none."""
    warm_dir = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    return warm_dir if os.path.isdir(warm_dir) else sf_dir


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    spark = get_spark("bench")

    # Warm-up: run every headline plan once at the smallest SF so JIT,
    # whole-stage-codegen compilation, Python worker pools, and parquet
    # footer caches are paid before the timed runs (the metric is
    # steady-state throughput, not cold start).
    warm_dir = warm_sf_dir(sf_dir)
    warmup_failures: dict[str, str] = {}
    for name in HEADLINE:
        warm_query(spark, name, warm_dir, warmup_failures)

    # Noise sentinel (round-6 verdict item 2): the same untouched query
    # timed immediately BEFORE and AFTER the headline window.  A ratio
    # near 1.0 certifies the box was quiet for the whole measurement; a
    # drifting ratio flags ambient load, making cross-round comparisons
    # interpretable instead of silently inflated.  The sentinel runs
    # min-of-5 (the query is ~0.2 s, so a 3-shot min is itself noisy —
    # a first measurement read ratio 0.70 purely from JIT settling).
    sentinel_start = _time_query(spark, _SENTINEL, sf_dir, iters=5)

    # which adaptive path each headline query took in its timed runs
    timings: dict[str, float] = {}
    postures: dict = {"headline": {}}
    for name in HEADLINE:
        before = posture_log()
        timings[name] = _time_query(spark, name, sf_dir)
        postures["headline"][name] = postures_since(before)

    sentinel_end = _time_query(spark, _SENTINEL, sf_dir, iters=5)

    # Headline total EXCLUDES the synthetic probe timings (skew stress,
    # graph/dedup scale): they run on fixed-size generated corpora (not
    # the sf under test), so folding them in would make 'value'
    # incomparable across rounds and insensitive to the sf field.  Their
    # per-entry history lives in the detail line's 'probe_queries'.
    total = round(sum(timings[name] for name in HEADLINE), 3)

    # Probe isolation (round-6 verdict item 2): the skew/graph probes do
    # heavy fixed-size work (up to a 6.4M-edge CC run) that round 6
    # showed can inflate headline timings when it shares the session —
    # so the headline session is torn down first and the probes run in
    # a fresh one, strictly after the sentinel-bracketed window closes.
    spark.stop()
    probe_spark = get_spark("bench-probes")
    before = posture_log()
    # new-ops first: they read real sf data and should not sit behind
    # the GC pressure the synthetic skew/CC probes leave behind
    probe_timings = _run_new_ops(probe_spark, sf_dir, warm_dir, warmup_failures)
    scale_timings, probe_detail = run_probes(probe_spark, PROBES)
    probe_timings.update(scale_timings)
    postures["probes"] = postures_since(before)

    sentinel = {
        "query": _SENTINEL,
        "start_sec": sentinel_start,
        "end_sec": sentinel_end,
        "ratio": round(sentinel_end / max(sentinel_start, 1e-9), 3),
    }
    detail_record = {
        "record": "bench_detail",
        # Which run this file holds (round-13 verdict nit: the detail
        # file held the driver's elevated-box refresh while BASELINE.md's
        # bench-of-record was a different, quiet run — a future reader
        # mistook the refresh for a regression).  The round's
        # bench-of-record run sets SPARK_GRAFT_BENCH_CONTEXT
        # (e.g. "bench-of-record r14, quiet box"); anything else —
        # including the driver's per-round capture, which doesn't set
        # the variable — is labelled an untagged refresh, and
        # BASELINE.md names the authoritative numbers.
        "run_context": os.environ.get(
            "SPARK_GRAFT_BENCH_CONTEXT", "untagged refresh (not the round's bench-of-record; see BASELINE.md)"
        ),
        "sf": sf,
        # headline per-query timings ALSO live here (round-10 verdict
        # item 5: the quiet bench-of-record's per-query numbers were
        # prose-only in BASELINE.md — forensics like the
        # session_overlap_pairs +30% question need machine-readable
        # history regardless of the driver's stdout tail capture)
        "headline_total": total,
        "headline_queries": timings,
        "probe_queries": probe_timings,
        **probe_detail,
        "noise_sentinel": sentinel,
        "warmup_failures": warmup_failures,
        "postures": postures,
    }
    # Persist the detail record IN-REPO (round-9 verdict item 2): the
    # driver captures only the last 2000 chars of stdout, so the detail
    # line's probe/newop first-timings survived in NO artifact in r9.
    # Overwritten per run, committed per round — probe history now has
    # a durable home regardless of stdout truncation.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(json.dumps(detail_record, indent=1) + "\n")
    # Round-stamped bench-of-record artifact (round-15 verdict item 7):
    # BENCH_DETAIL.json is overwritten by EVERY run — including the
    # driver's untagged refresh — so the round's record-run per-query
    # detail previously survived only in BASELINE.md prose.  Setting
    # SPARK_GRAFT_BENCH_RECORD=<path> (e.g. BENCH_RECORD_r16.json)
    # additionally writes this run's full detail to a file the driver
    # never touches; the builder sets it exactly once per round, on the
    # run BASELINE.md names as the record.
    record_path = os.environ.get("SPARK_GRAFT_BENCH_RECORD")
    if record_path:
        Path(record_path).write_text(
            json.dumps(detail_record, indent=1) + "\n"
        )
    # Detail record first (unbounded size — probe history lives here),
    # compact headline LAST (the driver's 2000-char stdout tail capture
    # must always contain a complete parseable headline line).
    print(json.dumps(detail_record))
    print(headline_json(total, timings, sf, sentinel))


def headline_json(total: float, timings: dict[str, float], sf: float,
                  sentinel: dict) -> str:
    """The bench-of-record line: compact by contract (< 1800 chars,
    pinned by tests/test_registry.py::test_bench_headline_line_fits)
    so the driver's stdout tail capture never truncates it again
    (BENCH_r07 postmortem).  Probe/skew/graph blobs go on the earlier
    detail line, never here."""
    return json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "noise_sentinel": sentinel,
        }
    )


if __name__ == "__main__":
    main()
