"""Aggregate the per-family oracle modules into the single ORACLES
dict the registry re-exports (round-10 verdict item 8: same dict,
import-compatible, but family edits touch a small file)."""

from parcial_bigdata_spark.plans.oracles import (
    aggregations,
    analytics,
    dedup,
    graph,
    integrity,
    joins,
    maintenance,
    multimodal,
    parity,
    sampling,
    setops,
    similarity,
    streaming,
    text,
    tpch,
    windows,
)

ORACLES: dict[str, str] = {}
for _mod in (
    aggregations,
    analytics,
    dedup,
    graph,
    integrity,
    joins,
    maintenance,
    multimodal,
    parity,
    sampling,
    setops,
    similarity,
    streaming,
    text,
    tpch,
    windows,
):
    ORACLES.update(_mod.ORACLES)

# cross-family aliases — AFTER the merge so order never matters
# The Arrow/BLAS kNN is bit-identical to the HOF brute-force twin (same
# rounding edge, same tie-break; exactness asserted in tests and verified
# at sf0.01/sf0.1), so it shares the same oracle instead of a weaker
# rows-only check.
ORACLES["knn_cosine_arrow"] = ORACLES["knn_cosine_brute_force"]
# The bucket-partitioned CDC apply converges to the SAME fixpoint as the
# full-rewrite form (identical base/update derivation; bucketing only
# changes which files each batch rewrites), so it shares the oracle.
ORACLES["streaming_cdc_apply_bucketed"] = ORACLES["streaming_cdc_apply"]
# the streaming OHLC twin converges to the batch bars exactly on a
# bounded replay — one oracle serves both
ORACLES["streaming_hourly_ohlc"] = ORACLES["events_hourly_ohlc"]

# The events fixture may store ts as TIMESTAMP(NANOS); Spark reads it as
# raw nanos floored to microseconds (catalog.load_table), so every oracle
# must apply the matching truncation on the DuckDB side.
_EVENTS_US = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value, props FROM events) events"
)
for _name, _sql in list(ORACLES.items()):
    if "FROM events" in _sql:
        ORACLES[_name] = _sql.replace("FROM events", f"FROM {_EVENTS_US}")
