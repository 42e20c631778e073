"""Stateful streaming aggregations over the events stream (ST7
extensions, SURVEY.md §2.9): watermarked tumbling / sliding / session
windows.  These are the streaming twins of operators/windows.py — same
output schemas, so batch and streaming results are comparable.

Watermarks bound the state store: with ``withWatermark(ts, delay)`` the
store only holds windows younger than the watermark, so state stays
O(active windows), not O(stream history) — the property that lets the
same query run forever on a cluster.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parcial_bigdata_spark.catalog import read_parquet


def streaming_hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window counts/sums per event_type; late rows within
    the watermark still update their window, older ones are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_tumbling_counts(
    events: DataFrame, window: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Generic tumbling counts — the op used to demonstrate watermark
    semantics: events older than (max seen ts − watermark) are dropped;
    in append mode a window only emits once the watermark passes its
    end (exactly-once finalized results downstream)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_sliding_counts(
    events: DataFrame, window: str = "1 hour", slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event counts (each row lands in window/slide
    overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def streaming_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows with a dynamic gap — the streaming twin of
    operators/windows.sessionize (same aggregate columns; session identity
    is the window itself rather than a per-user sequence number).

    Gap-boundary semantics: session_window spans [ts, ts+gap) per event
    and MERGES touching windows, so an event exactly ``gap`` after its
    predecessor joins the same session — identical to the batch twin's
    strict ``diff > gap`` new-session rule and its SQL oracle (pinned by
    tests/test_streaming.py::test_session_window_exact_gap_boundary)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def _event_source(spark, events_parquet: str):
    """A function that opens one file stream over the events parquet;
    the schema is read once, for every stream it opens.  A directory of
    Spark-written part files is streamed directly (a basename glob on
    its parent would match no leaf files and silently stream nothing).
    A single file (pyarrow-written fixtures) is streamed through its
    parent directory, since FileStreamSource requires one, with a glob
    pinned to the file (same trick as the bronze P1 filter)."""
    reader = spark.readStream.schema(read_parquet(spark, events_parquet).schema)
    if os.path.isdir(events_parquet):
        return lambda: reader.parquet(events_parquet)
    reader = reader.option("pathGlobFilter", os.path.basename(events_parquet))
    return lambda: reader.parquet(os.path.dirname(events_parquet))


def _drain(stream: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run ``stream`` to the end of its input (Trigger.AvailableNow) into
    the memory sink ``name`` and return the final table."""
    with tempfile.TemporaryDirectory(prefix="stream-ckpt-") as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream.sparkSession.table(name)


def _run_available_now(
    spark, events_parquet: str, transform, name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Run ``transform(stream)`` as a REAL structured-streaming query
    (file-stream source over the events parquet, Trigger.AvailableNow,
    memory sink) and return the final table — proof that a streaming
    twin converges to the batch answer on a bounded input,
    hash-checkable against the batch operator's SQL oracle.

    Complete mode (aggregations) emits every window at termination
    regardless of the watermark, so on a finite replay the result is
    exactly the batch group-by.  Stream-stream JOINS support append
    only — inner join matches are emitted as found, so on a bounded
    replay the appended table is exactly the batch join.  The memory
    sink is the test/driver harness sink; a production deployment
    writes the same query to Kafka/Delta with the same AvailableNow
    cadence (checkpointed, restart-safe)."""
    stream = _event_source(spark, events_parquet)()
    return _drain(transform(stream), name, output_mode)


def _attribution_join(
    events: DataFrame, lookback: str, watermark: str, how: str, *purchase_cols
) -> DataFrame:
    """Purchases joined (``how``) to the same user's clicks in the
    ``lookback`` window ending at the purchase: both sides are
    event-type slices of ``events``, each watermarked on its own event
    time by ``watermark``, so the time-bounded condition gives Spark a
    state-retention bound for each side.  The purchase side carries
    ``user_id``, ``purchase_id``, ``purchase_ts`` and any
    ``purchase_cols``; the click side ``click_user``, ``click_id`` and
    ``click_ts``."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            *purchase_cols,
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""user_id = click_user
                AND click_ts BETWEEN purchase_ts - INTERVAL {lookback}
                                 AND purchase_ts"""
        ),
        how,
    )


def streaming_click_attribution(
    events: DataFrame, lookback: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (last-mile attribution):
    each purchase joins every click by the same user in the
    ``lookback`` window ending at the purchase.  Both sides carry an
    event-time watermark and the join condition bounds click age
    relative to purchase time, so Spark derives a state-retention bound
    for each side — click state is evicted once the purchase-side
    watermark passes click_ts + lookback, purchase state once the
    click-side watermark passes purchase_ts.  State is O(lookback
    window of traffic), not O(stream history) — the property that lets
    the join run forever.  Inner stream-stream joins are append-mode:
    matches emit as soon as both rows exist, never retracted.

    Self-join shape: both sides are event-type slices of ONE source
    stream (the supported stream-stream self-join pattern) — no second
    scan of the source.
    """
    return _attribution_join(
        events, lookback, watermark, "inner",
        F.col("value").alias("purchase_value"),
    ).select(
        "user_id", "purchase_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )


def click_attribution_available_now(
    spark, events_parquet: str, lookback: str = "1 day"
) -> DataFrame:
    """streaming_click_attribution under AvailableNow (append-mode
    memory sink): on a bounded replay every match is emitted, so the
    result is exactly the batch interval join — its SQL oracle."""
    return _run_available_now(
        spark,
        events_parquet,
        lambda st: streaming_click_attribution(st, lookback=lookback),
        "stream_click_attribution_result",
        output_mode="append",
    ).orderBy("purchase_id", "click_id")


def streaming_dedup_events(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once ingest dedup: ``dropDuplicatesWithinWatermark`` on
    the event key — duplicate deliveries (at-least-once sources, replay
    storms) collapse to one row as long as they arrive within the
    watermark of the first copy.  Unlike a plain ``dropDuplicates`` on
    a stream, the state store holds only keys younger than the
    watermark — O(watermark window of traffic), not O(stream history),
    which is what lets the dedup run forever.  The duplicate-delivery
    upgrade path for ST3's file-level idempotent append, at ROW
    granularity.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def dedup_events_available_now(
    spark, events_parquet: str, copies: int = 3
) -> DataFrame:
    """streaming_dedup_events under AvailableNow, fed a duplicate-heavy
    replay (the parquet unioned ``copies`` times — every event delivered
    ``copies`` times).  The deduped per-type census must equal the
    plain batch census of the ORIGINAL table — its SQL oracle.

    Aggregating after the dedup (counts per event_type) keeps the
    memory-sink result stable regardless of which physical copy
    survived; complete mode emits the final census at termination."""
    open_stream = _event_source(spark, events_parquet)
    stream = open_stream()
    for _ in range(copies - 1):
        stream = stream.unionByName(open_stream())
    deduped = streaming_dedup_events(stream)
    census = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return _drain(census, "stream_dedup_census_result", "complete").orderBy(
        "event_type"
    )


def hourly_rollup_available_now(spark, events_parquet: str) -> DataFrame:
    """streaming_hourly_rollup under AvailableNow — shares the batch
    rollup's SQL oracle (see _run_available_now)."""
    return _run_available_now(
        spark, events_parquet, streaming_hourly_rollup, "stream_hourly_rollup_result"
    ).orderBy("window_start", "event_type")


def streaming_hourly_ohlc(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``aggregations.hourly_ohlc``: watermarked
    tumbling 1-hour OHLC bars per event type.  The open/close bookends
    are the SAME struct argmin/argmax aggregates as the batch form —
    min/max are mergeable, so the state store holds one fixed-width
    struct pair per open window and late rows inside the watermark
    still update their bar; the 1-hour tumbling window start equals
    the batch side's date_trunc('hour'), so the queries share one
    oracle."""
    bookend = F.struct(
        F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(bookend).getField("v").alias("open"),
            F.max(bookend).getField("v").alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("volume"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("hour"),
            "n_events",
            "open",
            "close",
            "high",
            "low",
            "volume",
        )
    )


def ohlc_available_now(spark, events_parquet: str) -> DataFrame:
    """streaming_hourly_ohlc under AvailableNow (complete-mode memory
    sink): on a bounded replay every bar emits at termination, so the
    table is exactly the batch OHLC — its SQL oracle."""
    return _run_available_now(
        spark, events_parquet, streaming_hourly_ohlc, "stream_ohlc_result"
    ).orderBy("event_type", "hour")


def sessionize_available_now(
    spark, events_parquet: str, gap: str = "30 minutes"
) -> DataFrame:
    """streaming_sessionize under AvailableNow: session_window merges
    events within ``gap`` of the running session end — identical
    partitioning to the batch lag-gap sessionization, with
    session_end = last event + gap.  Oracle: the batch gap-CTE grouped
    per session with max(ts) + gap as the end."""
    return _run_available_now(
        spark,
        events_parquet,
        lambda st: streaming_sessionize(st, gap=gap),
        "stream_sessionize_result",
    ).orderBy("user_id", "session_start")


def streaming_tier_rollup(
    events: DataFrame, tiers: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """STREAM-STATIC enrichment join + windowed rollup — the remaining
    core streaming join shape (stream-stream and stateful ops live
    elsewhere in this module): each micro-batch joins against a static
    dimension (broadcast — the dimension is planned once, never
    state-tracked), then aggregates into watermarked tumbling windows
    per enrichment key.  The production form of "enrich the click
    stream with the user/account table, then roll up by segment"."""
    enriched = events.join(F.broadcast(tiers), "user_id")
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "tier",
            "n_events",
            "total_value",
        )
    )


def user_tiers_static(spark, events_parquet: str) -> DataFrame:
    """Deterministic static dimension for the tier rollup: every user
    observed in the events table, tier = user_id % 3 — stands in for
    the account table a production stream would broadcast."""
    return (
        read_parquet(spark, events_parquet)
        .select("user_id")
        .distinct()
        .withColumn("tier", F.pmod(F.col("user_id"), F.lit(3)).cast("int"))
    )


def tier_rollup_available_now(spark, events_parquet: str) -> DataFrame:
    """streaming_tier_rollup under AvailableNow: a REAL stream-static
    join run whose finite replay converges to the batch join+rollup —
    hash-checked against the plain-SQL oracle."""
    tiers = user_tiers_static(spark, events_parquet)
    return _run_available_now(
        spark,
        events_parquet,
        lambda st: streaming_tier_rollup(st, tiers),
        "stream_tier_rollup_result",
    ).orderBy("window_start", "tier")


def late_data_audit(
    spark,
    events_parquet: str,
    delay: str = "1 hour",
    name: str = "late_audit",
) -> DataFrame:
    """REAL append-mode watermark flush audit
    (`streaming_late_data_audit`, SURVEY.md §2.9 ST4): replays the
    events table through an APPEND-mode watermarked hourly count under
    AvailableNow and reconciles the append output against the batch
    count — per type: windows/events that actually surfaced vs.
    arrived, and ``n_not_emitted``, the UNFLUSHED TAIL (events in
    windows whose end the final watermark never passed) a pipeline
    owner must account for before trusting an append-mode sink as
    complete.

    The measured contract, pinned by the DuckDB oracle: AvailableNow
    finishes with an empty flush batch carrying the final watermark
    (ms-floored max event time − delay — Spark tracks event-time
    watermarks in milliseconds), and append emits EXACTLY the windows
    with end ≤ that watermark (boundary verified empirically:
    end == watermark emits).  A Spark version drifting any of those
    semantics breaks the hash.

    The companion pytest (``test_streaming.py``) pins the DISORDERED-
    replay behavior this audit deliberately does not ride: input
    arriving below the watermark in a later micro-batch is MERGED and
    flushed combined (the late-input filter lags the watermark by one
    micro-batch), not dropped — so an at-least-once append consumer
    must key on the window, not assume one emission per window."""
    res = _run_available_now(
        spark,
        events_parquet,
        lambda s: (
            s.withWatermark("ts", delay)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        ),
        name,
        output_mode="append",
    )
    emitted = res.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_windows_emitted"),
        F.sum("n").alias("n_events_emitted"),
    )
    totals = (
        read_parquet(spark, events_parquet)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_total_events"))
    )
    return (
        totals.join(emitted, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("n_windows_emitted", F.lit(0)).alias(
                "n_windows_emitted"
            ),
            F.coalesce("n_events_emitted", F.lit(0)).alias(
                "n_events_emitted"
            ),
            "n_total_events",
            (
                F.col("n_total_events")
                - F.coalesce("n_events_emitted", F.lit(0))
            ).alias("n_not_emitted"),
        )
        .orderBy("event_type")
    )


def streaming_window_type_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked 6-hour tumbling (window, event_type) counts — the
    STATEFUL half of the streaming top-k (`streaming_topk_per_window`).
    Structured Streaming forbids a second aggregation (the rank) in
    the same query, so the stream maintains the count state and the
    rank runs as a batch step on the final table — the standard
    pattern (the alternative, arbitrary stateful top-k via
    applyInPandasWithState, buys nothing on a count-based key metric
    and loses the mergeable-aggregate state format)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def topk_per_window_available_now(
    spark, events_parquet: str, k: int = 3
) -> DataFrame:
    """streaming_topk_per_window under AvailableNow: a REAL streaming
    run maintains the 6-hour (window, type) counts in the state store
    (complete-mode memory sink — every window emits at termination on
    a bounded replay, so the table equals the batch group-by); the
    top-k rank then runs once over that |windows|·|types| final table
    (a bounded dimension frame: the window partition never exceeds
    |types| rows).  Shares the batch windowed-rank SQL oracle."""
    from pyspark.sql import Window as W

    counts = _run_available_now(
        spark,
        events_parquet,
        streaming_window_type_counts,
        "stream_topk_window_result",
    )
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= int(k))
        .orderBy("window_start", "rk")
    )


def streaming_outer_attribution(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join
    (`streaming_outer_join_expiry`, SURVEY.md §2.9 ST7): purchases
    left-joined to same-user clicks in the ``lookback`` window ending
    at the purchase.  The OUTER side is the semantics the inner join
    (`streaming_click_attribution`) cannot give: a purchase with NO
    qualifying click must still surface — and in a stream that answer
    is only safe once the click-side watermark passes the purchase's
    last possible match time, at which point the state store EVICTS
    the row and emits it with a null click side.  State stays
    O(lookback window of traffic); the null-row latency is exactly the
    watermark delay — the price of outer correctness on a stream."""
    return _attribution_join(events, lookback, watermark, "leftOuter").select(
        "user_id", "purchase_id", "purchase_ts", "click_id"
    )


def outer_attribution_available_now(
    spark, events_parquet: str, lookback: str = "1 hour"
) -> DataFrame:
    """streaming_outer_join_expiry under AvailableNow (append-mode
    memory sink), reduced to a per-day census the oracle can recompute:
    matched rows emit as found (every batch pair appears — bounded
    replay), and each UNMATCHED purchase emits one null-click row when
    the final no-data batch's watermark (ms-floored min over both
    sides of max event time − delay, the `late_data_audit` contract)
    evicts it — i.e. exactly the unmatched purchases with
    purchase_ts < final watermark.  Unmatched purchases INSIDE the
    final watermark band are the deliberately-retained tail (they
    could still match a future click) and are absent from both sides
    of the comparison."""
    res = _run_available_now(
        spark,
        events_parquet,
        lambda s: streaming_outer_attribution(s, lookback=lookback),
        "stream_outer_attribution_result",
        output_mode="append",
    )
    day = F.date_trunc("day", F.col("purchase_ts"))
    return (
        res.groupBy(day.alias("purchase_day"))
        .agg(
            F.sum(
                F.when(F.col("click_id").isNotNull(), 1).otherwise(0)
            ).alias("n_matched_pairs"),
            F.sum(
                F.when(F.col("click_id").isNull(), 1).otherwise(0)
            ).alias("n_expired_unmatched"),
        )
        .orderBy("purchase_day")
    )


def outer_join_tail_audit(
    spark, events_parquet: str, lookback: str = "1 hour",
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT-join RETAINED-TAIL audit
    (`streaming_join_tail_audit`, the twelfth real-streaming oracle
    query): run the watermarked outer attribution as a REAL
    AvailableNow stream AND the identical join as a batch ground
    truth, then reconcile per purchase day — the streamed and batch
    matched-pair counts side by side (ANY divergence breaks the hash),
    the unmatched purchases the final watermark evicted as null rows,
    and ``n_tail_retained``: the batch-unmatched purchases still
    INSIDE the watermark band, which the stream deliberately keeps in
    state (they could yet match a future click) and an append consumer
    must therefore not treat as absent.  The audit turns the outer
    join's completeness contract into one measurable identity:
    emitted nulls + retained tail = batch unmatched, per day, exactly.

    The oracle recomputes the batch join and the pinned watermark
    arithmetic (ms-floored min over both sides of max event time −
    delay), so drift in match emission, eviction timing, or the
    retained-tail boundary all surface as a hash mismatch.  The
    DISORDERED-replay drop path (late input below the watermark in a
    later micro-batch) is pinned by the companion pytest, not this
    ordered replay — same split as `streaming_late_data_audit`."""
    streamed = _run_available_now(
        spark,
        events_parquet,
        lambda s: streaming_outer_attribution(
            s, lookback=lookback, watermark=delay
        ),
        "stream_join_tail_audit_result",
        output_mode="append",
    )
    day = F.date_trunc("day", F.col("purchase_ts"))
    s_census = streamed.groupBy(day.alias("purchase_day")).agg(
        F.sum(
            F.when(F.col("click_id").isNotNull(), 1).otherwise(0)
        ).alias("n_matched_stream"),
        F.sum(
            F.when(F.col("click_id").isNull(), 1).otherwise(0)
        ).alias("n_expired_unmatched"),
    )
    ev = read_parquet(spark, events_parquet)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        F.expr(
            f"""user_id = click_user
                AND click_ts BETWEEN purchase_ts - INTERVAL {lookback}
                                 AND purchase_ts"""
        ),
        "leftOuter",
    )
    b_census = batch.groupBy(day.alias("purchase_day")).agg(
        F.sum(
            F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
        ).alias("n_matched_batch"),
        F.sum(
            F.when(F.col("click_ts").isNull(), 1).otherwise(0)
        ).alias("n_unmatched_batch"),
    )
    return (
        b_census.join(s_census, "purchase_day", "left")
        .select(
            "purchase_day",
            F.coalesce("n_matched_stream", F.lit(0)).alias(
                "n_matched_stream"
            ),
            "n_matched_batch",
            F.coalesce("n_expired_unmatched", F.lit(0)).alias(
                "n_expired_unmatched"
            ),
            (
                F.col("n_unmatched_batch")
                - F.coalesce("n_expired_unmatched", F.lit(0))
            ).alias("n_tail_retained"),
        )
        .orderBy("purchase_day")
    )
