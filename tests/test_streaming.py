"""Streaming pipeline tests: incremental discovery, idempotent replay,
empty-batch skip, and watermarked windowed aggregates — all via
Trigger.AvailableNow against tmp dirs (hermetic, no daemon queries).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from parcial_bigdata_spark.streaming import pipeline as sp
from parcial_bigdata_spark.streaming import windows as sw

PAYLOAD_A = [["1757509256000", "3920.00"], ["1757509257000", "3921.00"]]
PAYLOAD_B = [["1757595656000", "3930.00"], ["bad", "x"]]


def _run(spark, bronze, silver, ckpt, metrics=None):
    q = sp.start_silver_stream(
        spark, str(bronze), str(silver), str(ckpt), on_metrics=metrics
    )
    q.awaitTermination()


def test_incremental_discovery_and_idempotent_replay(spark, tmp_path):
    bronze, silver, ckpt = tmp_path / "bronze", tmp_path / "silver", tmp_path / "ckpt"
    bronze.mkdir()
    (bronze / "dolar-1.json").write_text(json.dumps(PAYLOAD_A))
    (bronze / "skipme.json").write_text(json.dumps(PAYLOAD_A))  # P1 filter

    _run(spark, bronze, silver, ckpt)
    assert spark.read.parquet(str(silver)).count() == 2

    # second run with no new files: no duplicate rows (ST2 checkpoint)
    _run(spark, bronze, silver, ckpt)
    assert spark.read.parquet(str(silver)).count() == 2

    # new file arrives → only its rows are appended, bad row dropped
    (bronze / "dolar-2.json").write_text(json.dumps(PAYLOAD_B))
    seen: list[tuple[int, dict]] = []
    _run(spark, bronze, silver, ckpt, metrics=lambda bid, m: seen.append((bid, m)))
    df = spark.read.parquet(str(silver))
    assert df.count() == 3
    assert seen[-1][1]["rows_inserted"] == 1
    assert seen[-1][1]["bad_rows"] == 1

    # replay the same file content under a fresh checkpoint (simulated
    # redelivery, reference's ST3 hazard): the ledger probe keeps silver
    # stable, and the replay counts neither rows nor bad rows again
    replay: list[dict] = []
    _run(spark, bronze, silver, tmp_path / "ckpt2", metrics=lambda bid, m: replay.append(m))
    assert spark.read.parquet(str(silver)).count() == 3
    assert replay and sum(m["rows_inserted"] for m in replay) == 0
    assert sum(m["bad_rows"] for m in replay) == 0


def test_empty_batch_skips_write(spark, tmp_path):
    bronze, silver, ckpt = tmp_path / "bronze", tmp_path / "silver", tmp_path / "ckpt"
    bronze.mkdir()
    (bronze / "dolar-1.json").write_text(json.dumps({"not": "a list"}))  # P5

    seen: list[tuple[int, dict]] = []
    _run(spark, bronze, silver, ckpt, metrics=lambda bid, m: seen.append((bid, m)))
    # no parquet output at all — the write was skipped, not an empty file
    with pytest.raises(Exception):
        spark.read.parquet(str(silver)).collect()
    assert seen and seen[-1][1]["rows_inserted"] == 0


def _write_events_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENTS_SCHEMA = "event_id long, user_id long, ts timestamp, event_type string, value double"


def _stream_events(spark, events_dir):
    return (
        spark.readStream.schema(EVENTS_SCHEMA).json(str(events_dir))
    )


def _collect_stream(spark, out_df, tmp_path, name):
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"select * from {name}")


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    base = dt.datetime(2025, 1, 1, 10, 0, 0)

    def iso(minute):
        return (base + dt.timedelta(minutes=minute)).strftime("%Y-%m-%dT%H:%M:%S")

    _write_events_json(
        d / "part1.json",
        [
            {"event_id": 1, "user_id": 1, "ts": iso(0), "event_type": "click", "value": 10.0},
            {"event_id": 2, "user_id": 1, "ts": iso(5), "event_type": "click", "value": 30.0},
            {"event_id": 3, "user_id": 1, "ts": iso(70), "event_type": "click", "value": 5.0},
            {"event_id": 4, "user_id": 2, "ts": iso(0), "event_type": "signup", "value": 1.0},
        ],
    )
    return d


def test_streaming_hourly_rollup(spark, events_dir, tmp_path):
    out = sw.streaming_hourly_rollup(_stream_events(spark, events_dir))
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in _collect_stream(spark, out, tmp_path, "hourly").collect()
    }
    h10 = dt.datetime(2025, 1, 1, 10, 0, 0)
    h11 = dt.datetime(2025, 1, 1, 11, 0, 0)
    assert got[(h10, "click")] == (2, 40.0)
    assert got[(h11, "click")] == (1, 5.0)
    assert got[(h10, "signup")] == (1, 1.0)


def test_streaming_sessionize_matches_batch_semantics(spark, events_dir, tmp_path):
    out = sw.streaming_sessionize(_stream_events(spark, events_dir), gap="30 minutes")
    rows = _collect_stream(spark, out, tmp_path, "sessions").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.n_events, r.session_value))
    # user 1: events at :00/:05 in one session, :70 alone; user 2: one
    assert sorted(by_user[1]) == [(1, 5.0), (2, 40.0)]
    assert by_user[2] == [(1, 1.0)]


def test_session_window_exact_gap_boundary(spark):
    """Boundary contract (round-3 advice): two events exactly ``gap``
    apart MERGE into one session.  Spark's session_window spans
    [ts, ts+gap) per event and merges touching windows, so an event at
    prev_ts + gap lands in the same session — the SAME semantics as the
    batch sessionize / oracle rule 'new session only when the inter-event
    gap is STRICTLY greater than gap'.  Pinned here so an upstream
    semantics change (merge-on-overlap-only) fails loudly instead of
    silently diverging from the oracle."""
    from pyspark.sql import functions as F

    pair = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1, 0, 0, 0)),
         (2, 1, dt.datetime(2024, 1, 1, 0, 30, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    sessions = (
        pair.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(sessions) == 1 and sessions[0].n == 2
    # batch twin agrees: strict '>' comparison keeps the exact-gap pair
    from parcial_bigdata_spark.operators import windows as bw

    batch = bw.sessionize(
        pair.select(
            "event_id", "user_id", "ts",
            F.lit("click").alias("event_type"), F.lit(1.0).alias("value"),
        )
    ).collect()
    assert {r.n_events for r in batch} == {2}


def test_streaming_sliding_counts(spark, events_dir, tmp_path):
    out = sw.streaming_sliding_counts(
        _stream_events(spark, events_dir), window="1 hour", slide="30 minutes"
    )
    rows = _collect_stream(spark, out, tmp_path, "sliding").collect()
    # event at 10:05 lands in windows [9:30,10:30) and [10:00,11:00)
    starts = {
        r.window_start for r in rows if r.event_type == "click"
    }
    assert dt.datetime(2025, 1, 1, 9, 30) in starts
    assert dt.datetime(2025, 1, 1, 10, 0) in starts


def test_watermark_finalization_and_late_drop(spark, tmp_path):
    """ST4 semantics, as Spark actually guarantees them: a window emits
    exactly once (append mode) when the watermark passes its end; late
    rows arriving BEFORE finalization still merge; late rows arriving
    AFTER their window was finalized/evicted are dropped silently."""
    d = tmp_path / "events"
    d.mkdir()
    base = dt.datetime(2025, 1, 1, 10, 0, 0)

    def iso(minute):
        return (base + dt.timedelta(minutes=minute)).strftime("%Y-%m-%dT%H:%M:%S")

    def ev(i, minute, value=1.0):
        return {"event_id": i, "user_id": 1, "ts": iso(minute),
                "event_type": "c", "value": value}

    # batch 0: 10:00 + 10:25 → watermark (effective next batch) = 10:15
    _write_events_json(d / "b1.json", [ev(1, 0), ev(2, 25)])
    # batch 1: wm 10:15 finalizes [10:00,10:10) at batch end; 10:50
    # pushes the wm (effective batch 2) to 10:40
    _write_events_json(d / "b2.json", [ev(3, 50)])
    # batch 2: 10:03 arrives AFTER its window was finalized → dropped;
    # 10:55 keeps the stream advancing
    _write_events_json(d / "b3.json", [ev(4, 3), ev(5, 55)])
    # file-source batch order follows modification time — pin it
    import os
    for i, name in enumerate(["b1.json", "b2.json", "b3.json"]):
        os.utime(d / name, (1_700_000_000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    out = sw.streaming_tumbling_counts(stream, window="10 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("wmtest").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from wmtest").collect()
    got = {}
    for r in rows:
        got.setdefault(r.window_start, []).append(r.n_events)

    w0 = dt.datetime(2025, 1, 1, 10, 0)
    w20 = dt.datetime(2025, 1, 1, 10, 20)
    # [10:00,10:10) emitted exactly once, WITHOUT the post-eviction 10:03
    assert got[w0] == [1]
    assert got[w20] == [1]
    # [10:50,11:00) never finalized (final wm 10:45 < window end) → no row
    assert dt.datetime(2025, 1, 1, 10, 50) not in got
    # the engine explicitly counted the dropped late row
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress if p["stateOperators"]
    )
    assert dropped == 1


def test_available_now_rollup_matches_batch(spark):
    """The AvailableNow streaming rollup over the events fixture equals
    the batch hourly rollup exactly, and the memory-sink query can be
    re-run in the same session (driver re-invocation safety)."""
    import os

    import pytest as _pytest

    path = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(path):
        _pytest.skip("driver testdata not present")
    from parcial_bigdata_spark.catalog import load_table
    from parcial_bigdata_spark.operators.windows import hourly_rollup
    from parcial_bigdata_spark.streaming.windows import hourly_rollup_available_now

    batch = hourly_rollup(load_table(spark, os.path.dirname(path), "events"))
    batch_rows = {tuple(r) for r in batch.collect()}
    for _ in range(2):  # second run exercises memory-sink name reuse
        stream_rows = {
            tuple(r) for r in hourly_rollup_available_now(spark, path).collect()
        }
        assert stream_rows == batch_rows


def test_recovery_fallback_scan_is_partition_pruned(spark, tmp_path):
    """The crash-window silver probe must prune to the batch's own dt
    partitions — O(recent partitions), not O(table) — while still
    seeing the files those partitions hold: it lists and reads only
    those partition directories."""
    silver = tmp_path / "silver"
    rows = [
        ("f1", dt.datetime(2025, 9, 10, 12), dt.date(2025, 9, 10)),
        ("f2", dt.datetime(2025, 9, 11, 12), dt.date(2025, 9, 11)),
        ("f3", dt.datetime(2025, 9, 12, 12), dt.date(2025, 9, 12)),
    ]
    spark.createDataFrame(
        rows, "source_file string, fechahora timestamp, dt date"
    ).write.partitionBy("dt").parquet(str(silver))

    pruned = sp._existing_files(spark, str(silver), [dt.date(2025, 9, 11)])
    # the scan's inputs are the batch's partition only (no data, and no
    # listing, outside it)
    assert pruned.inputFiles()
    assert all("/dt=2025-09-11/" in f for f in pruned.inputFiles())
    assert {r.source_file for r in pruned.collect()} == {"f2"}

    # several dts see every file they hold; a dt with no partition yet
    # is skipped, and no existing partition at all means no probe
    two = sp._existing_files(
        spark, str(silver), [dt.date(2025, 9, 10), dt.date(2025, 9, 12), dt.date(2025, 9, 13)]
    )
    assert {r.source_file for r in two.collect()} == {"f1", "f3"}
    assert sp._existing_files(spark, str(silver), [dt.date(2025, 9, 13)]) is None
    assert sp._existing_files(spark, str(tmp_path / "nosilver"), [dt.date(2025, 9, 11)]) is None


def test_crash_between_silver_write_and_ledger_append_no_duplicates(spark, tmp_path):
    """The ledger cannot witness a crash that lands BETWEEN the silver
    write and the ledger append: the replayed batch's files are in
    silver but not in the ledger.  The writer's per-batch silver probe
    (partition-pruned to the batch's own dt set) must catch exactly
    this window — replaying the batch appends nothing."""
    silver = tmp_path / "silver"
    writer = sp.make_silver_batch_writer(str(silver))
    batch = spark.createDataFrame(
        [("file:///bronze/dolar-1.json", json.dumps(PAYLOAD_A))],
        "source_file string, raw_payload string",
    )

    # simulate the crashed batch 0: silver rows landed, ledger append
    # never happened (no ledger file at all)
    from parcial_bigdata_spark.sources.ingest import parse_rows, silver_rows
    from pyspark.sql import functions as F

    silver_rows(parse_rows(batch)).withColumn(
        "dt", F.to_date("fechahora")
    ).write.mode("append").partitionBy("dt").parquet(str(silver))
    assert spark.read.parquet(str(silver)).count() == 2

    # streaming replays batch 0 after the crash → must write nothing new
    writer(batch, 0)
    assert spark.read.parquet(str(silver)).count() == 2
    # and the replay finally records the file in the ledger
    ledger = spark.read.parquet(str(silver) + "_ledger")
    assert {r.source_file for r in ledger.collect()} == {
        "file:///bronze/dolar-1.json"
    }

    # next batch with a NEW file proceeds normally against the ledger
    batch2 = spark.createDataFrame(
        [("file:///bronze/dolar-2.json", json.dumps(PAYLOAD_B))],
        "source_file string, raw_payload string",
    )
    writer(batch2, 1)
    assert spark.read.parquet(str(silver)).count() == 3


def test_ledger_read_failure_surfaces_instead_of_duplicating(spark, tmp_path):
    """A ledger that EXISTS but cannot be read must raise — taking it
    for a missing ledger (None) would silently disable the idempotency
    probe and write duplicates.  The read pins its schema, so the
    failure surfaces when the frame is first read, not when it is built."""
    silver = tmp_path / "silver"
    assert sp._read_ledger(spark, str(silver)) is None  # no ledger yet
    ledger_dir = tmp_path / "silver_ledger"
    ledger_dir.mkdir()
    (ledger_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    ledger = sp._read_ledger(spark, str(silver))
    assert ledger is not None
    with pytest.raises(Exception):
        ledger.collect()


def test_corrupt_ledger_fails_the_writer_before_silver_grows(spark, tmp_path):
    """At the writer: a corrupt ledger makes the batch raise (the probe
    job reads it), and silver gains no rows."""
    silver = tmp_path / "silver"
    writer = sp.make_silver_batch_writer(str(silver))
    writer(
        spark.createDataFrame(
            [("file:///bronze/dolar-1.json", json.dumps(PAYLOAD_A))],
            "source_file string, raw_payload string",
        ),
        0,
    )
    assert spark.read.parquet(str(silver)).count() == 2
    ledger_dir = tmp_path / "silver_ledger"
    for f in ledger_dir.glob("part-*.parquet"):
        f.write_bytes(b"not a parquet file")
    batch = spark.createDataFrame(
        [("file:///bronze/dolar-2.json", json.dumps(PAYLOAD_B))],
        "source_file string, raw_payload string",
    )
    with pytest.raises(Exception):
        writer(batch, 1)
    assert spark.read.parquet(str(silver)).count() == 2


def test_all_bad_and_nonlist_files_recorded_in_ledger(spark, tmp_path):
    """Every file seen in a batch — including files whose payload is not
    a JSON list (P5) and files whose rows are all bad — is recorded in
    the ledger and counted in files_processed, so no file is ever
    re-parsed and accounting matches what the batch actually saw."""
    silver = tmp_path / "silver"
    seen: list[tuple[int, dict]] = []
    writer = sp.make_silver_batch_writer(
        str(silver), on_metrics=lambda bid, m: seen.append((bid, m))
    )
    batch = spark.createDataFrame(
        [
            ("file:///bronze/dolar-1.json", json.dumps(PAYLOAD_A)),
            ("file:///bronze/dolar-err.json", json.dumps({"error": "maintenance"})),
            ("file:///bronze/dolar-bad.json", json.dumps([["bad", "x"], ["1757509256000"]])),
        ],
        "source_file string, raw_payload string",
    )
    writer(batch, 0)
    ledger = spark.read.parquet(str(silver) + "_ledger")
    assert {r.source_file for r in ledger.collect()} == {
        "file:///bronze/dolar-1.json",
        "file:///bronze/dolar-err.json",
        "file:///bronze/dolar-bad.json",
    }
    assert seen[-1][1] == {"files_processed": 3, "rows_inserted": 2, "bad_rows": 2}
    assert spark.read.parquet(str(silver)).count() == 2


def test_silver_writer_runs_at_most_six_jobs_per_trigger(spark, tmp_path):
    """Per-job fixed cost (planning, codegen, scheduling) dominates a
    small trigger, so the writer keeps its job count down: one
    accounting aggregate, one ledger+silver probe, the silver write and
    the ledger append.  Same-day files make every steady-state trigger
    probe an existing silver partition as well as the ledger."""
    bronze, silver, ckpt = tmp_path / "bronze", tmp_path / "silver", tmp_path / "ckpt"
    bronze.mkdir()
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for i in range(3):
        payload = [[str(1757509256000 + i * 60_000 + k * 1000), "3920.00"] for k in range(3)]
        (bronze / f"dolar-{i}.json").write_text(json.dumps(payload))
        q = sp.start_silver_stream(spark, str(bronze), str(silver), str(ckpt))
        q.awaitTermination()
        jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))))
    assert spark.read.parquet(str(silver)).count() == 9
    assert all(n <= 6 for n in jobs[1:]), jobs


def test_available_now_handles_directory_parquet(spark, tmp_path):
    """Spark-written parquet is a DIRECTORY of part files; the
    AvailableNow harness must stream it correctly rather than matching
    zero leaf files through the single-file glob trick (round-5
    review: silent empty table)."""
    events = tmp_path / "events_dir.parquet"
    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    df = spark.createDataFrame(
        [
            (1, 1, base, "click", 10.0),
            (2, 1, base + dt.timedelta(minutes=5), "click", 30.0),
            (3, 2, base + dt.timedelta(minutes=90), "click", 5.0),
        ],
        EVENTS_SCHEMA,
    )
    df.write.parquet(str(events))
    got = sw.hourly_rollup_available_now(spark, str(events))
    rows = {(r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in got.collect()}
    assert rows[(dt.datetime(2025, 1, 1, 10, 0), "click")] == (2, 40.0)
    assert rows[(dt.datetime(2025, 1, 1, 11, 0), "click")] == (1, 5.0)


def test_bounded_backlog_drain_matches_single_batch(spark, tmp_path):
    """ST1 at 100 TB: a large bronze backlog must drain in BOUNDED
    micro-batches (maxFilesPerTrigger) with the same ledger idempotency
    — multi-batch result ≡ one-shot result, and a re-run with a fresh
    checkpoint (simulated redelivery) appends nothing (round-5 verdict
    item 6)."""
    payloads = [
        [[str(1757509256000 + i * 86_400_000), f"{3920 + i}.00"]] for i in range(5)
    ]
    for variant in ("bounded", "oneshot"):
        bronze = tmp_path / f"bronze_{variant}"
        bronze.mkdir()
        for i, p in enumerate(payloads):
            (bronze / f"dolar-{i}.json").write_text(json.dumps(p))
    batches: list[tuple[int, dict]] = []
    q = sp.start_silver_stream(
        spark,
        str(tmp_path / "bronze_bounded"),
        str(tmp_path / "silver_bounded"),
        str(tmp_path / "ckpt_bounded"),
        on_metrics=lambda bid, m: batches.append((bid, m)),
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    q = sp.start_silver_stream(
        spark,
        str(tmp_path / "bronze_oneshot"),
        str(tmp_path / "silver_oneshot"),
        str(tmp_path / "ckpt_oneshot"),
    )
    q.awaitTermination()

    # the backlog really drained in several bounded batches...
    assert len(batches) >= 3
    assert all(m["files_processed"] <= 2 for _, m in batches)
    bounded = spark.read.parquet(str(tmp_path / "silver_bounded"))
    oneshot = spark.read.parquet(str(tmp_path / "silver_oneshot"))
    # ...to the same silver rows as the single giant batch (source_file
    # normalized to its basename — the two variants use different dirs)
    from pyspark.sql import functions as F

    def _rows(df):
        cols = [
            F.element_at(F.split("source_file", "/"), -1).alias("f")
            if c == "source_file"
            else F.col(c)
            for c in sorted(df.columns)
        ]
        return sorted(map(tuple, df.select(*cols).collect()))

    assert _rows(bounded) == _rows(oneshot)
    # redelivery under a fresh checkpoint, still bounded: no duplicates
    q = sp.start_silver_stream(
        spark,
        str(tmp_path / "bronze_bounded"),
        str(tmp_path / "silver_bounded"),
        str(tmp_path / "ckpt_bounded2"),
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "silver_bounded")).count() == bounded.count()


def test_stream_stream_click_attribution_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval self-join: a purchase picks up
    exactly the same-user clicks in the lookback window (boundary
    inclusive on both ends), never clicks after it, never other users'.
    Append-mode emission on a bounded replay equals the batch join."""
    d = tmp_path / "attrib"
    d.mkdir()
    base = dt.datetime(2025, 1, 1, 10, 0, 0)

    def iso(minute):
        return (base + dt.timedelta(minutes=minute)).strftime("%Y-%m-%dT%H:%M:%S")

    _write_events_json(
        d / "ev.json",
        [
            {"event_id": 1, "user_id": 1, "ts": iso(0), "event_type": "click", "value": 0.0},
            # exactly lookback (60 min) before the purchase — inclusive
            {"event_id": 2, "user_id": 1, "ts": iso(30), "event_type": "click", "value": 0.0},
            {"event_id": 3, "user_id": 1, "ts": iso(90), "event_type": "purchase", "value": 9.0},
            # click AFTER the purchase — excluded
            {"event_id": 4, "user_id": 1, "ts": iso(91), "event_type": "click", "value": 0.0},
            # same window, different user — excluded
            {"event_id": 5, "user_id": 2, "ts": iso(80), "event_type": "click", "value": 0.0},
            # click at purchase instant — inclusive
            {"event_id": 6, "user_id": 2, "ts": iso(95), "event_type": "click", "value": 0.0},
            {"event_id": 7, "user_id": 2, "ts": iso(95), "event_type": "purchase", "value": 7.0},
        ],
    )
    out = sw.streaming_click_attribution(
        _stream_events(spark, d), lookback="60 minutes", watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("select * from attrib").collect()
    }
    assert got == {(3, 2), (7, 5), (7, 6)}


def test_streaming_dedup_collapses_duplicate_delivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a 3x duplicate-delivery replay
    yields the census of the ORIGINAL rows — row-level exactly-once."""
    src = str(tmp_path / "events_pq")
    spark.createDataFrame(
        [
            (1, dt.datetime(2025, 1, 1, 10, 0), 1, "click", 2.0),
            (2, dt.datetime(2025, 1, 1, 10, 5), 1, "click", 3.0),
            (3, dt.datetime(2025, 1, 1, 10, 6), 2, "purchase", 7.5),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.parquet(src)
    got = {
        r.event_type: (r.n_events, r.total_value)
        for r in sw.dedup_events_available_now(spark, src, copies=3).collect()
    }
    assert got == {"click": (2, 5.0), "purchase": (1, 7.5)}


def test_stream_static_tier_rollup_matches_batch(spark):
    """Stream-static enrichment: the AvailableNow run (file stream
    broadcast-joining the static tier dimension) equals the batch
    join+rollup exactly on a bounded replay."""
    import os

    import pytest as _pytest

    path = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(path):
        _pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.catalog import load_table
    from parcial_bigdata_spark.streaming.windows import (
        tier_rollup_available_now,
        user_tiers_static,
    )

    events = load_table(spark, os.path.dirname(path), "events")
    tiers = user_tiers_static(spark, path)
    batch = (
        events.join(F.broadcast(tiers), "user_id")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "tier"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    batch_rows = {tuple(r) for r in batch.collect()}
    stream_rows = {
        tuple(r) for r in tier_rollup_available_now(spark, path).collect()
    }
    assert stream_rows == batch_rows
    assert stream_rows  # non-degenerate fixture


def test_merge_stream_applies_updates_exactly_once(spark, tmp_path):
    """Streaming CDC apply: a file stream of update batches MERGEs into
    a keyed snapshot via foreachBatch; the checkpoint makes a re-run of
    the same query a no-op (exactly-once convergence)."""
    from parcial_bigdata_spark.streaming.pipeline import start_merge_stream

    snap = str(tmp_path / "snapshot")
    upd = tmp_path / "updates"
    upd.mkdir()
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, amount double",
    ).write.parquet(snap)
    def write_update(name, rows):
        # single parquet FILES at the stream root: FileStreamSource
        # lists top-level files, not Spark-written part directories
        import pyarrow as pa
        import pyarrow.parquet as pq

        ks, names, amounts = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "name": pa.array(names, pa.string()),
                    "amount": pa.array(amounts, pa.float64()),
                }
            ),
            str(upd / name),
        )

    write_update("batch1.parquet", [(2, "b2", 25.0), (4, "d", 40.0)])

    def run():
        q = start_merge_stream(
            spark, str(upd), snap, key="k", checkpoint_dir=ckpt
        )
        q.awaitTermination()

    run()
    expected = {
        (1, "a", 10.0), (2, "b2", 25.0), (3, "c", 30.0), (4, "d", 40.0)
    }
    got = {tuple(r) for r in spark.read.parquet(snap).collect()}
    assert got == expected
    # replay with the same checkpoint: no new files -> snapshot unchanged
    run()
    assert {tuple(r) for r in spark.read.parquet(snap).collect()} == expected
    # a second update file arrives: only IT is applied on the next run
    write_update("batch2.parquet", [(1, "a9", 99.0)])
    run()
    expected2 = (expected - {(1, "a", 10.0)}) | {(1, "a9", 99.0)}
    assert {tuple(r) for r in spark.read.parquet(snap).collect()} == expected2


def test_cdc_apply_available_now_matches_batch_merge(spark):
    """The registry's real streaming CDC run converges to the one-shot
    batch merge_upsert of the same base/updates derivation (and the
    result survives its temp workspace: localCheckpoint materialized)."""
    import os

    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators.merge import merge_upsert
    from parcial_bigdata_spark.streaming.pipeline import cdc_apply_available_now

    path = os.path.join("/root/testdata/sf0.001", "orders.parquet")
    got = cdc_apply_available_now(spark, path)

    orders = spark.read.parquet(path).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    base = orders.where(F.pmod("o_orderkey", F.lit(4)) != 0)
    upd = orders.where(F.pmod("o_orderkey", F.lit(3)) == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
    )
    want = merge_upsert(base, upd, "o_orderkey").drop("__merge_action")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }
    # sanity: the fixture exercises all three MERGE actions
    stats = want.join(upd.select("o_orderkey"), "o_orderkey", "left_semi")
    assert stats.count() > 0
    assert got.count() > upd.count()  # kept rows present too


def test_bucketed_merge_stream_prunes_untouched_partitions(spark, tmp_path):
    """Partition-pruned CDC apply: the converged state equals the plain
    batch merge AND bucket directories no batch key hashes into are
    NEVER rewritten (their data files keep their mtimes) — the claim
    that per-batch I/O is O(touched buckets), not O(snapshot)."""
    import os

    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators.merge import merge_upsert
    from parcial_bigdata_spark.streaming.pipeline import (
        init_bucketed_snapshot,
        start_merge_stream_bucketed,
    )

    snap = str(tmp_path / "snapshot")
    upd_dir = tmp_path / "updates"
    upd_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    n_buckets = 8

    base = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("amount"),
    )
    init_bucketed_snapshot(base, snap, "k", n_buckets=n_buckets)

    # one update file: 3 keys -> at most 3 touched buckets
    import pyarrow as pa
    import pyarrow.parquet as pq

    upd_keys = [5, 17, 300]  # two updates-in-place + one insert
    pq.write_table(
        pa.table(
            {
                "k": pa.array(upd_keys, pa.int64()),
                "amount": pa.array([999.0, 998.0, 997.0], pa.float64()),
            }
        ),
        str(upd_dir / "batch1.parquet"),
    )

    def data_file_mtimes():
        out = {}
        for root, _dirs, files in os.walk(snap):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = data_file_mtimes()
    touched_buckets = {
        r["b"]
        for r in spark.createDataFrame([(k,) for k in upd_keys], "k long")
        .select(F.pmod(F.xxhash64("k"), F.lit(n_buckets)).alias("b"))
        .collect()
    }
    q = start_merge_stream_bucketed(
        spark, str(upd_dir), snap, "k", ckpt, n_buckets=n_buckets
    )
    q.awaitTermination()
    after = data_file_mtimes()

    untouched = [
        p for p in before
        if not any(f"__bucket={b}" in p for b in touched_buckets)
    ]
    assert untouched, "fixture must leave some buckets untouched"
    for p in untouched:
        assert p in after and after[p] == before[p], (
            f"untouched bucket file rewritten: {p}"
        )

    upd = spark.createDataFrame(
        list(zip(upd_keys, [999.0, 998.0, 997.0])), "k long, amount double"
    )
    want = merge_upsert(base, upd, "k").drop("__merge_action")
    got = spark.read.parquet(snap).drop("__bucket")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_streaming_ohlc_converges_to_batch_bars(spark):
    """The AvailableNow streaming OHLC (struct-bookend argmin/argmax
    state) over the events fixture equals the batch hourly_ohlc
    exactly — mergeable bookends make the bars replay-invariant."""
    import os

    import pytest as _pytest

    path = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(path):
        _pytest.skip("driver testdata not present")
    from parcial_bigdata_spark.catalog import load_table
    from parcial_bigdata_spark.operators.aggregations import hourly_ohlc
    from parcial_bigdata_spark.streaming.windows import ohlc_available_now

    batch = hourly_ohlc(load_table(spark, os.path.dirname(path), "events"))
    batch_rows = {tuple(r) for r in batch.collect()}
    stream_rows = {tuple(r) for r in ohlc_available_now(spark, path).collect()}
    assert stream_rows == batch_rows


def test_append_mode_flush_contract_and_disordered_merge(spark, tmp_path):
    """Round-11 empirics behind `streaming_late_data_audit`, pinned:

    (a) single replay: AvailableNow ends with an empty flush batch and
        append emits EXACTLY the windows with end <= final watermark
        (ms-floored max ts - delay); end == watermark EMITS;
    (b) DISORDERED replay (on-time file first, then a below-watermark
        barrage as its own micro-batch): the late input is MERGED into
        state and flushed combined — NOT dropped — because the
        late-input filter lags the watermark by one micro-batch.  An
        at-least-once append consumer must key on the window.  If a
        Spark upgrade starts dropping here, this pin (not the driver
        oracle) is the thing that fires."""
    import os
    import shutil

    from pyspark.sql import functions as F

    d = dt.datetime

    def run(stage, files, max_files=None):
        for i, (tag, rows) in enumerate(files):
            df = spark.createDataFrame(
                rows, "event_id long, event_type string, ts timestamp"
            )
            tmp = str(stage / f"__tmp_{tag}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            [part] = [
                f for f in os.listdir(tmp) if f.startswith("part-")
            ]
            dest = str(stage / f"{tag}.parquet")
            shutil.move(os.path.join(tmp, part), dest)
            shutil.rmtree(tmp)
            os.utime(dest, (1_700_000_000 + 10 * i,) * 2)
        reader = spark.readStream.schema(
            "event_id long, event_type string, ts timestamp"
        ).option("pathGlobFilter", "*.parquet")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        agg = (
            reader.parquet(str(stage))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        name = f"flush_{stage.name}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(stage / "__ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["w"].start.hour, r["event_type"]): r["n"]
            for r in spark.table(name).collect()
        }

    # (a) flush boundary: max ts 02:00:00 exactly -> WM = 01:00; the
    # 00-01 window (end == WM) emits, the 01-02 and 02-03 windows don't
    s1 = tmp_path / "single"
    s1.mkdir()
    out = run(
        s1,
        [("0_all", [
            (1, "a", d(2024, 1, 10, 0, 30)),
            (2, "a", d(2024, 1, 10, 1, 30)),
            (3, "a", d(2024, 1, 10, 2, 0, 0)),
        ])],
    )
    assert out == {(0, "a"): 1}

    # (b) disordered: batch 1 = on-time (advances WM to 12:30), batch 2
    # = late barrage; one late row shares the 11-12 window with an
    # on-time row — flushed MERGED (n=2), the other resurrects 01-02
    s2 = tmp_path / "disorder"
    s2.mkdir()
    out = run(
        s2,
        [
            ("0_ontime", [
                (1, "a", d(2024, 1, 10, 11, 50)),
                (2, "a", d(2024, 1, 10, 12, 30)),
                (3, "a", d(2024, 1, 10, 13, 30)),
            ]),
            ("1_late", [
                (4, "a", d(2024, 1, 10, 1, 30)),
                (5, "a", d(2024, 1, 10, 11, 45)),
            ]),
        ],
        max_files=1,
    )
    assert out == {(1, "a"): 1, (11, "a"): 2}


def test_sessionize_state_and_plan_guard(spark, events_dir, tmp_path):
    """Round-14 verdict item 7: pin the session-window run's plan shape
    and state cardinality, so the next ambient-load bench episode is
    distinguishable from a plan regression without a forensic round.
    Three facts the r14 quiet-close forensics had to re-derive, now
    asserted: exactly ONE stateful operator (the session aggregation),
    state rows == distinct (user, session) pairs, and no second
    shuffle sneaking into the stateful path."""
    import json as _json

    out = sw.streaming_sessionize(_stream_events(spark, events_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("sess_guard")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess_guard"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [
        p for p in (_json.loads(pr.json) for pr in q.recentProgress)
        if p.get("stateOperators")
    ]
    assert progress, "no stateful progress recorded"
    state = progress[-1]["stateOperators"]
    assert len(state) == 1, f"expected ONE stateful operator: {state}"
    assert "session" in state[0]["operatorName"].lower()
    # events_dir: user 1 sessions {min 0, 5} + {min 70}, user 2 {min 0}
    assert state[0]["numRowsTotal"] == 3
    assert len(spark.sql("select * from sess_guard").collect()) == 3
    # plan shape: the session aggregation is fed by exactly one hash
    # exchange (partial agg -> shuffle -> state update/merge -> final)
    plan = q._jsq.explainInternal(True)
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash <= 1, f"session-window path grew a shuffle: {n_hash}"
