"""Dump `.explain(formatted)` physical plans for representative queries
into PLANS.md — the plan-shape audit trail: predicate pushdown, column
pruning, broadcast choices, and shuffle counts, inspectable without
running anything.

Usage: python tools/dump_plans.py [sf_dir]

The output depends only on the code and the data: the session is sized
as on a 32-CPU machine (``local[32]``, 32 shuffle partitions) whatever
the machine's CPU count, and each plan's
expression ids (``#N``), ``plan_id=N`` and RDD ids (``MapPartitionsRDD[N]``)
are renumbered in order of first appearance, so regenerating the file
after a plan change shows that change alone.  Each query is built from
one expression-id state (``fixed_expr_ids``), so its plan does not
depend on the queries dumped before it.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parcial_bigdata_spark.plans.registry import QUERIES  # noqa: E402
from parcial_bigdata_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("interval_query", "predicate pushdown + 2-column pruning on the events scan"),
    ("q3_shipping_priority", "broadcast dim filter, one fact shuffle, top-k"),
    ("q5_region_revenue", "star join: dims broadcast, facts shuffle on natural keys"),
    ("asof_purchase_signup", "as-of via union+window: ONE exchange, no range join"),
    ("sessionize_events", "two stacked windows sharing one user_id exchange"),
    ("dedup_ngram_jaccard", "length-bucket + prefix-filter blocked candidate join; word-set frame checkpointed once for every input (the stat probe and both join sides otherwise re-run the text pass)"),
    ("dedup_ngram_decontaminate", "single eval scan: per-doc distinct grams row-local with one anchor row per doc; exact gram left join against the distinct train set, one per-doc aggregate for totals and hits"),
    ("knn_cosine_brute_force", "broadcast query set, single corpus scan, top-k window"),
    ("profile_orders_table", "every per-column aggregate in ONE HashAggregate pass"),
    ("snapshot_diff_orders", "pre-join per-side hashes: payloads never shuffle"),
    ("session_overlap_pairs", "interval-overlap join as bucket equi-join; exactly-once overlap-start filter, no dedup shuffle; session frame checkpointed once for every input (the broadcast side otherwise re-runs sessionization)"),
    ("events_funnel_steps", "chained filtered min-aggregates, no event self-join"),
    ("dedup_component_survivors", "per-component survivor via min-over-struct aggregate (map-side partials, no per-group sort window); CC labels enter as a checkpointed scan"),
    ("q15_top_suppliers", "scalar-max branch, no single-partition window; the two identical aggregate exchanges dedupe at runtime (AQE stage reuse - executed plan shows ReusedExchange, pinned by test_top_revenue_suppliers_plan_shape)"),
    ("dedup_embedding_lsh", "uncapped coarse-geometry LSH: slim self-join pair generation (no quadratic grouped array), norm-hoisted exact-cosine verify over broadcast payload"),
    ("dedup_minhash_lsh_check", "recall audit: (lang, length-bucket)-blocked exact shingle-Jaccard truth, single-pass marker left-join recall counters"),
    ("dedup_paragraphs", "paragraph-window dedup: map-side-combining groupBy(min-struct) over the paragraph (boilerplate compresses pre-wire), winners join back on the unique (doc_id, idx) pair - skew-free, no text on the build side"),
    ("multimodal_image_decode", "real-path header decode: built-in byte synthesis feeds ONE ArrowEvalPython (mapInPandas) stage, then a plain hash aggregate - no per-row Python round trips outside the decode itself"),
    ("graph_triangle_stats", "edge-iterator triangles: degree-oriented adjacency arrays (O(sqrt m) members) join the edge list, row-local array_intersect enumerates corners - the wedge stream never shuffles; intermediates enter as checkpointed scans"),
    ("fuzzy_match_part_names", "lossless q-gram count-filter blocking: gram equi-join + least-count sum, length band, tiny-string side path; exact levenshtein only on survivors"),
    ("text_lm_perplexity", "sentinel bigram LM: two map-side-combining count tables, one key-alignment join, ONE scoring join of the pair stream, per-doc collapse - 7 exchanges, each irreducible"),
    ("dedup_incremental_jaccard", "asymmetric incremental near-dup: the candidate join PROBES with the new batch only (base x base work never re-done); blocking stays lossless on the asymmetric join"),
    ("events_time_weighted_avg", "TWAP: lead window and closing groupBy share ONE user_id exchange; exact decimal-times-micros numerator, doubles only at the final division"),
    ("multimodal_bmp_pixel_decode", "real pixel-payload decode: built-in byte synthesis feeds ONE ArrowEvalPython stage (stdlib struct + numpy inside), zero shuffles before the ordered output"),
    ("revenue_gini_by_nation", "distributed exact rank (r10): percentile-bucketed (nation, bucket) decomposition - every Sort partition-local, ZERO single-partition exchanges; branch-duplicated subtrees are canonically identical (AQE stage-cache reuse)"),
    ("multimodal_png_pixel_decode", "real COMPRESSED-payload decode: expression-built valid zlib IDAT (HOF adler32) feeds ONE ArrowEvalPython stage (stdlib zlib inflate + numpy unfilter inside), zero shuffles before the ordered output"),
    ("dedup_ngram_coverage", "duplicate-n-gram coverage: ONE gram-keyed doc-frequency exchange + semi-join; per-doc totals ride the row-local array branch"),
    ("events_sliding_distinct_users", "rolling distinct via contribution-explode inversion: w-day fan-out is row-local, shuffle volume w x |type-user-days|, history never rescanned"),
    ("events_mad_outliers", "sketch-selected MAD gate (r11 rewrite): both medians resolve at construction via GK-bracketed exact band selection (verified, full-rank fallback); the final plan is ONE scan + literal-map lookups + ONE groupBy - no broadcast, no rank, no full-stream shuffle"),
    ("text_heavy_hitters", "exact heavy hitters: ONE map-side-combining word count, threshold after the exact count - no construction-time job, no Python stage"),
    ("graph_bfs_distances", "layered BFS: per-round frontier joins run at construction (lineage-cut); the final plan aggregates the labeled node frame"),
    ("parts_abc_classes", "ABC/Pareto: integer 1e-4-grid revenue; the unkeyed cumulative window touches only the |parts|-row aggregate (post-aggregation pattern)"),
    ("events_hourly_ohlc", "OHLC bars: struct argmin/argmax bookends in ONE map-side groupBy - no bucket-partitioned window over the raw stream"),
    ("orders_fulfillment_percentiles", "exact SLA percentiles via bounded-domain counting (r11): the (priority, days) CDF is checkpointed once, each percentile is an integer cross-multiplied selection - no full-stream rank or sort anywhere"),
    ("embedding_mahalanobis_outliers", "diagonal Mahalanobis outliers (r11): decimal-grid moment groupBy on |dims|, broadcast stats back over a row-local second pass, top-n via TakeOrdered on the exact decimal"),
    ("multimodal_gif_frame_census", "real multi-frame GIF block walk (r11): expression-built animation corpus feeds ONE ArrowEvalPython stage, zero shuffles"),
    ("events_bootstrap_ci", "Poisson bootstrap (r12): 32 resamples as a row-local x32 explode with avalanche-hashed integer weights, ONE map-side-combined aggregate - no sampling shuffle, CI from a 32-element sorted array"),
    ("text_js_divergence", "per-source JSD (r12): corpus and source totals are WINDOW sums over the single (source, word) aggregate - the vocabulary is never broadcast or re-aggregated"),
    ("graph_common_neighbors", "link prediction (r12): hub-capped wedge self-join (per-key fanout <= cap^2), left_anti on the canonical edge set, TakeOrdered top-k"),
    ("events_cusum_alarm", "sequential CUSUM (r12): fact cost is ONE (type, day) count; the recursion runs applyInPandas per type over the dense |days|-row grid (FlatMapGroupsInPandas on the dimension frame)"),
    ("events_conversion_latency", "conversion latency (r12): one per-user conditional-min aggregate, then bounded-domain counting percentiles on the checkpointed <=|hours| frame"),
    ("stats_mann_whitney", "rank-sum test (r13): ONE value-grain map-side aggregate over the fact scan; integer double-ranks and the tie term resolve on the <=|distinct values| frame (post-aggregation single-partition window), z from exact decimal(38,0) sums"),
    ("stats_levene_value", "Brown-Forsythe W (r13): exact lower medians from the (type, value) counting frame, 5-row broadcast back over the scan for the deviation moments - two fact passes, zero fact-sized windows"),
]


# the session size every plan is dumped at: the engine sizes local
# parallelism and shuffle partitions from SPARK_GRAFT_CPUS, and the
# registry's tune_runtime caps the partitions at four times that count
PLAN_CPUS = 32

# run-dependent ids, each numbered from 0 within one plan
_IDS = (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)")


# where every query's build starts numbering expressions: far above the
# ids a session hands out on its own, so a build never reuses a live id
ID_BASE = 1 << 40


@contextlib.contextmanager
def fixed_expr_ids(spark):
    """Number the expressions built in the block from ``ID_BASE``, then
    put Spark's expression-id counter back above every id handed out.

    Renumbering cannot hide absolute ids where a rewrite orders its
    output by id hashes: the rewrite of several distinct aggregates
    (``RewriteDistinctAggregates``) orders its ``Expand`` groups that
    way.  Building each query from one id state makes its plan
    independent of the queries built before it in the process.  The
    counter is ``NamedExpression.curId``, a private static
    ``AtomicLong``; Py4J would hand back its value, not the counter, so
    its get and set are bound as method handles on the JVM side."""
    jvm = spark._jvm
    field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.NamedExpression$"
    ).getDeclaredField("curId")
    field.setAccessible(True)
    invoke = jvm.java.lang.invoke
    lookup = invoke.MethodHandles.lookup()
    atomic = jvm.java.lang.Class.forName("java.util.concurrent.atomic.AtomicLong")
    long_, void = jvm.java.lang.Long.TYPE, jvm.java.lang.Void.TYPE
    counter = lookup.unreflectGetter(field)
    get, set_ = (
        invoke.MethodHandles.collectArguments(h, 0, counter)
        for h in (
            lookup.findVirtual(atomic, "get", invoke.MethodType.methodType(long_)),
            lookup.findVirtual(atomic, "set", invoke.MethodType.methodType(void, long_)),
        )
    )
    resume = get.invokeWithArguments([])
    set_.invokeWithArguments([ID_BASE])
    try:
        yield
    finally:
        set_.invokeWithArguments([max(resume, get.invokeWithArguments([]))])


def renumber(plan: str) -> str:
    """``plan`` with each kind of id replaced by its order of first
    appearance."""
    for pattern in _IDS:
        ids: dict[str, int] = {}
        plan = re.sub(pattern, lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids))), plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ["SPARK_GRAFT_CPUS"] = str(PLAN_CPUS)
    spark = get_spark("dump-plans", shuffle_partitions=PLAN_CPUS)
    out = [
        "# PLANS — physical plan audit (`.explain formatted`)",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`.  What to look",
        "for: `PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dim sides, `Exchange` count (shuffles),",
        "`WholeStageCodegen` spans (JVM-side execution).",
        "",
    ]
    # Shuffle census over the whole headline set: one row per query with
    # its Exchange/Broadcast counts — the at-a-glance answer to "does
    # anything shuffle more than its design says".  Iterative loops and
    # streaming runs span many jobs, so one plan tree cannot represent
    # them; they are listed but audited by their own docstrings/bench.
    from bench import HEADLINE  # noqa: E402

    multi_job = {
        "sample_leakage_safe_split",
        "embedding_kmeans_train",
        "streaming_sessionize",
    }
    out += [
        "## Shuffle census (headline queries)",
        "",
        "| query | hash exch | range exch | single-part | broadcast | reused |",
        "|---|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        if name in multi_job:
            out.append(
                f"| {name} | — | — | — | — | (iterative/streaming: "
                "multi-job, see docstring) |"
            )
            continue
        eplan = (
            QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        counts = [
            len(re.findall(r"Exchange hashpartitioning", eplan)),
            len(re.findall(r"Exchange rangepartitioning", eplan)),
            len(re.findall(r"Exchange SinglePartition", eplan)),
            len(re.findall(r"BroadcastExchange", eplan)),
            len(re.findall(r"ReusedExchange", eplan)),
        ]
        out.append("| " + name + " | " + " | ".join(map(str, counts)) + " |")
    out.append("")

    def formatted_plan(df) -> str:
        raw = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        return renumber(re.sub(r"[^\x09\x0a\x20-\x7e]", "", raw).rstrip())

    for name, why in SHOWCASE:
        with fixed_expr_ids(spark):
            plan = formatted_plan(QUERIES[name](spark, sf_dir))
        out += [f"## {name}", "", f"_{why}_", "", "```", plan, "```", ""]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
