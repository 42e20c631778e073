"""Executable shuffle census: per-headline-query Exchange budgets.

PLANS.md records a shuffle census — hash/range/single-partition
exchange counts per headline query — as the at-a-glance answer to
"does anything shuffle more than its design says".  Until now that
table was documentation; this test makes it a contract.  Each
non-multi-job headline query is PLANNED (not executed) against the
sf0.01 tables and its exchange counts are asserted to stay at or
under the recorded census.  A join that silently degrades from
broadcast to shuffle, an aggregate that grows a second exchange, or
a new single-partition sort in a big-data path now fails pytest
instead of surfacing as an unexplained bench regression.

Budgets are ceilings, not exact pins: a plan that IMPROVES (fewer
exchanges) passes, and the census table in PLANS.md is regenerated by
tools/dump_plans.py to match.  Multi-job queries (iterative Lloyd /
contraction CC, streaming) have no single plan tree and are audited
by their own plan-shape tests and docstrings.
"""

from __future__ import annotations

import os
import re

import pytest

from parcial_bigdata_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.01"

# (hash exchanges, single-partition exchanges) ceilings, from the
# PLANS.md census at sf0.01.  Range exchanges are final ORDER BYs
# (one per sorted result) and broadcasts are the cheap side of a
# deliberately-broadcast join, so only the two shuffle classes that
# signal a real plan regression are budgeted.
CENSUS: dict[str, tuple[int, int]] = {
    "q1_pricing_summary": (1, 0),
    "q6_revenue_forecast": (0, 1),  # single-row global sum
    "q3_shipping_priority": (1, 0),
    "q5_region_revenue": (1, 0),
    "interval_query": (0, 0),
    "hourly_rollup": (1, 0),
    "window_topk_per_user": (1, 0),
    "sessionize_events": (1, 0),
    "dedup_ngram_jaccard": (2, 0),
    "dedup_minhash_lsh": (3, 0),
    "dedup_simhash": (3, 0),
    "dedup_cross_split_contamination": (2, 0),
    "knn_cosine_brute_force": (1, 0),
    "knn_cosine_arrow": (1, 0),
    "knn_cosine_ivf": (4, 0),
    "knn_cosine_lsh": (1, 0),
    "sample_stratified_exact": (1, 0),
    "text_token_counts": (1, 0),
    # r17 single-eval-scan rewrite: 6 -> 3 hash exchanges (per-doc dedup
    # exchange subsumed by the in-row array_distinct; totals join gone)
    "dedup_ngram_decontaminate": (3, 1),
    "sample_chunk_documents": (0, 0),
    "text_vocabulary": (1, 1),  # |vocab|-row IDF doc-count scalar
    "events_funnel_steps": (1, 1),  # single-pass rewrite: one user_id shuffle
    "events_retention_cohorts": (3, 0),
    "profile_orders_table": (1, 1),  # stacked-agg 1-row collapse
    "skew_lineitem_suppkey": (2, 1),  # topline 1-row summary
    "session_overlap_pairs": (2, 0),
    # round-9 additions
    "events_time_weighted_avg": (1, 0),  # window + groupBy share user key
    "sample_pps_systematic": (1, 0),  # both windows share the source key
    "equidepth_price_histogram": (1, 1),  # 1-row global percentile
    "stats_price_boxplot": (2, 0),  # per-status percentile + fence count
    "agg_user_bookends": (1, 0),
    "events_transition_matrix": (3, 0),  # 2 of 3 run on the tiny edge frame
    "events_time_decay_attribution": (1, 0),  # interval join + window share keys
    "dedup_incremental_jaccard": (7, 0),  # asymmetric blocked candidate join
    "integrity_fk_audit": (14, 7),  # 7 edges x (distinct+join); 7 one-row aggs
    "multimodal_bmp_pixel_decode": (0, 0),  # pure mapInPandas scan
    "multimodal_wav_sample_decode": (0, 0),
    "text_top_tfidf_terms": (4, 1),  # tf/df aggs + word join + doc window
    "text_pmi_collocations": (3, 2),  # bigram/unigram aggs; 2 one-row totals
    "events_cohort_revenue": (3, 0),  # retention-triangle shape
    "orders_repeat_intervals": (1, 0),  # window + groupBy share customer key
    "parts_copurchase_rules": (8, 1),  # basket distinct/self-join/count joins
    "events_value_outliers": (1, 0),  # moment agg broadcasts back
    # round-10 distributed rank: the rank decomposes over (nation,
    # bucket) percentile buckets, so the textual plan carries the
    # keyed-spend subtree in three branches (cuts / bucket counts /
    # local rank) — canonically identical subtrees AQE's stage cache
    # reuses at runtime.  What the budget buys: ZERO single-partition
    # exchanges and every Sort partition-local on (nation, bucket) —
    # the mega-nation single-task sort is gone (r9 verdict item 4).
    "revenue_gini_by_nation": (10, 0),
    "events_daily_users": (4, 1),  # actives/news aggs + |days| running window
    "window_user_drawdown": (1, 0),  # running-max window + groupBy share key
    "supplier_return_report": (1, 0),
    # round-10 additions
    # three distributed_rank passes: branch-duplicated customer agg
    # (AQE stage-cache reuses the canonically identical shuffles);
    # single-partition exchanges are <=32-row offset frames + 1-row count
    "customers_rfm_segments": (20, 10),
    "dedup_ngram_coverage": (4, 0),  # gram dedup + df agg + doc counts
    "text_zipf_fit": (2, 0),  # word counts + per-lang top-k window
    "text_sentence_stats": (0, 0),  # pure row-local HOFs
    "multimodal_png_pixel_decode": (0, 0),  # pure mapInPandas scan
    "embedding_scalar_quantization": (0, 0),  # row-local folds
    "embedding_centroid_dispersion": (3, 0),  # centroid agg + label rollup
    # distributed_rank consumers: branch-duplicated input subtrees are
    # canonically identical (AQE stage-cache reuse); zero single-
    # partition exchanges at any skew
    "stats_price_trimmed_means": (10, 0),
    "events_quantile_normalize": (6, 0),
    # single-partition exchanges are the global rank's <=32-row offset
    # frames + the 1-row corpus count
    "sample_negative_pairs": (5, 9),
    "integrity_expectations": (0, 1),  # one stacked-agg 1-row collapse
    # contribution-explode inversion: pairs distinct + distinct-user agg
    # + grid join; singles are the 1-row bounds frame (twice broadcast)
    "events_sliding_distinct_users": (5, 2),
    # r11 sketch rewrite: both medians resolve at construction via
    # GK-bracketed exact band selection (collect-driven, 6 single-scan
    # jobs) — the FINAL plan is one scan + literal-map lookups + one
    # groupBy; no broadcast, no rank, no full-stream shuffle
    "events_mad_outliers": (2, 0),
    "window_rolling_median": (1, 0),  # both window specs share the user key
    "text_source_drift": (2, 1),  # word counts + min_count agg; 1-row totals
    "events_hourly_ohlc": (1, 0),  # one map-side struct-bookend groupBy
    "sample_temporal_split": (2, 0),  # distinct-user two-phase agg only
    "sample_group_kfold": (2, 0),  # row-local fold + two-phase distinct
    "text_heavy_hitters": (1, 0),  # one map-side-combining word count
    "events_activity_streaks": (3, 0),  # pair distinct + user window + islands
    # the unkeyed cumulative window runs over the |parts|-row aggregate
    # (documented post-aggregation pattern); single = that tiny frame
    "parts_abc_classes": (1, 1),
    "integrity_functional_deps": (6, 3),  # 3 deps x (groupBy + 1-row agg)
    "embedding_dim_stats": (1, 0),  # one map-side moment groupBy on dim
    # +1 since r15: the DELIBERATE _parallel_docs repartition that
    # spreads the synth corpus across defaultParallelism partitions
    # (single-file sf parquet otherwise serializes the pipeline)
    "multimodal_wav_frame_features": (1, 0),
    "multimodal_bmp_resize": (0, 0),  # pure mapInPandas scan
    # global rank line via distributed_rank twice (a/b sides of the
    # pairing): singles are the <=32-row offset frames + 1-row counts
    "embedding_pair_cosine_hist": (9, 12),
    "sample_undersample_balance": (2, 1),  # lang window + 1-row min class
    "text_length_ks_drift": (1, 1),  # length counts; |lengths|-row window
    # the union-of-endpoints degree agg carries the edge-build subtree
    # twice (canonically identical — AQE stage-cache reuse)
    "graph_degree_hist": (8, 0),
    # global rank line for the Heaps doc ordering: same offset-frame
    # singles pattern as the negative sampler / pairing queries
    "text_vocab_growth": (9, 13),
    "events_interarrival_hist": (2, 0),  # lag window + bucket agg
    "nation_supplier_hhi": (2, 0),  # supplier agg + nation rollup
    "events_user_entropy": (2, 0),  # type counts + user collect share keys
    # per-round frontier work runs EAGERLY at construction (checkpointed
    # Pregel rounds); the final plan aggregates the labeled node frame
    "graph_bfs_distances": (4, 1),
    # round-11 additions
    # the dimension-sized series is checkpointed at construction; the
    # final plan is 2 lag self-joins + their sums
    "events_hourly_autocorr": (2, 0),
    "integrity_benford_audit": (1, 1),  # 9-group agg + 1-row total
    # checkpointed edge/degree frames (triangle precedent); singles are
    # the 1-row sums/node/edge aggregates
    "graph_assortativity": (4, 3),
    # |dims|-grain moment agg + vec_id agg; top-n is TakeOrdered
    "embedding_mahalanobis_outliers": (2, 0),
    "multimodal_gif_frame_census": (1, 0),  # +1: _parallel_docs (r15)
    # banded distributed_rank: bucket-cut subtree branch-duplication,
    # singles are the <=|bands|*32-row offset frames
    "sample_curriculum_order": (5, 3),
    # single = the |dates|-row cumulative backlog window
    "orders_backlog_timeseries": (3, 1),
    # checkpointed (priority, days) CDF; one groupBy per percentile
    "orders_fulfillment_percentiles": (4, 0),
    "sample_importance_weights": (2, 1),  # source counts + 1-row total
    "multimodal_media_dedup": (3, 0),  # +1: _parallel_docs (r15)
    # dense-grid cumsums + per-type argmax on the dimension-sized frame
    "events_change_point": (2, 0),
    # checkpointed global rank; singles are 1-row totals + 4 point aggs
    "customers_pareto_share": (2, 8),
    # |files|-row census window; single = that dimension-sized frame
    "maintenance_compaction_plan": (1, 1),
    # round-16: the (user, half-flag) groupBy is the only fact shuffle;
    # singles are the broadcast 1-row bounds agg + the 1-row reduce
    "stats_mcnemar_paired": (1, 2),
}


def _initial_plan(df) -> str:
    # Same extraction as tools/dump_plans.py: the planner's initial
    # physical plan (pre-AQE re-optimization), where every static
    # Exchange the optimizer scheduled is visible.
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.01 testdata absent")
@pytest.mark.parametrize("name", sorted(CENSUS))
def test_headline_exchange_budget(spark, name):
    hash_max, single_max = CENSUS[name]
    plan = _initial_plan(QUERIES[name](spark, SF_DIR))
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    n_single = len(re.findall(r"Exchange SinglePartition", plan))
    assert n_hash <= hash_max, (
        f"{name}: {n_hash} hash exchanges (census budget {hash_max}) — "
        "a join/aggregate regressed to an extra shuffle; regenerate "
        "PLANS.md and justify, or fix the plan"
    )
    assert n_single <= single_max, (
        f"{name}: {n_single} single-partition exchanges (census budget "
        f"{single_max}) — a global sort/collapse entered a big-data path"
    )
