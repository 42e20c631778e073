"""Scale-posture tests: plan-shape assertions that the 100 TB
techniques actually produce the plans they promise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parcial_bigdata_spark.operators import dedup, joins, scale


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    spark.sql("CREATE DATABASE IF NOT EXISTS scaletest")
    yield
    spark.sql("DROP DATABASE IF EXISTS scaletest CASCADE")


def test_bucketed_join_has_no_exchange(spark, warehouse):
    orders = spark.range(1000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 7).alias("o_custkey")
    )
    items = spark.range(3000).select(
        (F.col("id") % 1000).alias("o_orderkey"), F.col("id").alias("l_qty")
    )
    scale.write_bucketed(orders, "scaletest.orders_b", "o_orderkey", 4, sort_col="o_orderkey")
    scale.write_bucketed(items, "scaletest.items_b", "o_orderkey", 4, sort_col="o_orderkey")

    joined = scale.bucketed_join(
        spark, "scaletest.orders_b", "scaletest.items_b", "o_orderkey",
        force_sortmerge=True,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: shuffle paid at write time
    assert joined.count() == 3000


def test_salted_join_matches_plain_join(spark):
    # pathological skew: 90% of left rows share one key
    left = spark.range(1000).select(
        F.when(F.col("id") < 900, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))

    plain = left.join(right, "k").select("k", "v", "w")
    salted = scale.salted_join(left, right, "k", n_salts=4).select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_outer_preserves_unmatched(spark):
    left = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    right = spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    out = scale.salted_join(left, right, "k", n_salts=4, how="left").collect()
    assert len(out) == 10
    unmatched = [r for r in out if r.w is None]
    assert len(unmatched) == 7


def test_salted_join_accepts_alias_spellings_and_rejects_right(spark):
    left = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    right = spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    # Spark-valid aliases of salt-safe types must not raise
    assert scale.salted_join(left, right, "k", how="leftouter").count() == 10
    assert scale.salted_join(left, right, "k", how="left_anti").count() == 7
    assert scale.salted_join(left, right, "k", how="semi").count() == 3
    import pytest

    for bad in ("right", "right_outer", "full", "full_outer", "cross"):
        with pytest.raises(ValueError, match="salted_join"):
            scale.salted_join(left, right, "k", how=bad)


def test_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("bucket5")
    )
    df.write.partitionBy("bucket5").parquet(path)

    pruned = scale.read_pruned(spark, path, "bucket5", 2)
    assert pruned.count() == 20
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the partition filter must act on metadata, not as a data Filter
    assert "PartitionFilters: [isnotnull(bucket5" in plan or "PartitionFilters: [(bucket5" in plan


def test_fan_out_small_scan_repairs_degenerate_scan(spark, tmp_path):
    """A single-split parquet scan gets repartitioned to the slot count;
    rows are preserved exactly; in-memory frames are left untouched."""
    path = str(tmp_path / "tiny")
    spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v")).coalesce(
        1
    ).write.parquet(path)
    df = spark.read.parquet(path)
    out = scale.fan_out_small_scan(df, "id")
    target = spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert f"REPARTITION_BY_NUM, {target}" in plan or "hashpartitioning(id" in plan
    assert {r.id for r in out.collect()} == set(range(1000))

    mem = spark.range(10)  # no files behind it -> structural no-op
    assert scale.fan_out_small_scan(mem, "id") is mem


def test_iter_checkpoint_uses_reliable_dir_when_configured(spark, tmp_path):
    """With a checkpoint dir configured (cluster posture), iterative
    loops must cut lineage via fault-tolerant .checkpoint() — files
    appear under the dir — and produce the same labels as local mode."""
    import os

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(10, 11)], "doc_a long, doc_b long"
    )
    baseline = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}

    ckdir = str(tmp_path / "reliable-ckpt")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        got = {
            r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()
        }
        assert got == baseline
        written = []
        for root, _dirs, files in os.walk(ckdir):
            written += files
        assert written, "no reliable checkpoint files were written"
    finally:
        # restore the local posture: the session is shared, and a
        # leaked checkpoint dir silently flips every later
        # iter_checkpoint test onto the reliable (file) path
        spark.sparkContext._jsc.sc().setCheckpointDir(None)


def test_iter_checkpoint_reset_stats_discards_origin_estimate(spark):
    """reset_stats=True must rebuild the checkpointed RDD as a fresh
    leaf whose size estimate is the conservative DEFAULT, not the
    origin plan's — iterative join loops rely on this to keep
    Catalyst's product-of-children join estimate from compounding
    across rounds into unbounded driver-side BigInteger work.  The
    implementation calls a package-private JVM constructor with a
    silent fallback; this test exists so a Spark upgrade that breaks
    the call turns RED here instead of silently re-exposing the
    blowup."""
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators.scale import iter_checkpoint

    df = spark.range(100).select(F.col("id").alias("a"))
    joined = df.join(df.withColumnRenamed("a", "b"), F.col("a") == F.col("b"))

    def size_of(frame):
        return int(
            frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )

    kept = iter_checkpoint(joined)
    reset = iter_checkpoint(joined, reset_stats=True)
    default = int(1 << 62)  # spark.sql.defaultSizeInBytes = Long.MaxValue
    assert size_of(reset) > default, "reset frame must carry the default estimate"
    assert size_of(kept) < default, "plain checkpoint must keep the origin estimate"
    # and the data round-trips identically
    assert sorted(r.a for r in reset.collect()) == list(range(100))


def test_iter_checkpoint_reset_stats_public_fallback(spark, monkeypatch):
    """When the package-private internalCreateDataFrame constructor
    drifts away (simulated by making the fast tier raise), the reset
    must degrade to the public-API createDataFrame rebuild — a WORKING
    default-estimate leaf, not a silent re-exposure of the BigInteger
    stats hazard (round-6 verdict item 4)."""
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators import scale

    monkeypatch.setattr(
        scale,
        "_reset_stats_internal",
        lambda ck: (_ for _ in ()).throw(RuntimeError("simulated drift")),
    )
    df = spark.range(100).select(F.col("id").alias("a"))
    joined = df.join(df.withColumnRenamed("a", "b"), F.col("a") == F.col("b"))
    reset = scale.iter_checkpoint(joined, reset_stats=True)
    size = int(reset._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size > int(1 << 62), "fallback frame must carry the default estimate"
    assert sorted(r.a for r in reset.collect()) == list(range(100))
    # the degraded tier leaves a record, not just a once-per-process warning
    assert {"op": "iter_checkpoint.reset_stats", "branch": "public_rebuild"} in [
        {"op": r["op"], "branch": r["branch"]} for r in scale.posture_log()
    ]


def test_release_checkpoint_frees_blocks_including_reset_frames(spark):
    """release_checkpoint must free the persisted blocks of a plain
    localCheckpoint frame AND of a reset_stats frame (whose LogicalRDD
    wraps a DERIVED rdd — the release has to route through the
    originally-persisted origin frame)."""
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    def pinned_rdd_id(frame):
        target = getattr(frame, "_iter_ck_origin", frame)
        return int(target._jdf.queryExecution().analyzed().rdd().id())

    def is_pinned(rdd_id):
        # keyed lookup, not a global count: other tests' blocks are
        # reaped asynchronously by the ContextCleaner mid-test
        return bool(
            spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rdd_id)
        )

    plain = iter_checkpoint(spark.range(50).select(F.col("id").alias("a")))
    assert is_pinned(pinned_rdd_id(plain))
    release_checkpoint(plain)
    assert not is_pinned(pinned_rdd_id(plain))

    reset = iter_checkpoint(
        spark.range(50).select(F.col("id").alias("a")), reset_stats=True
    )
    assert is_pinned(pinned_rdd_id(reset))
    release_checkpoint(reset)
    assert not is_pinned(pinned_rdd_id(reset))

    # non-checkpointed frames and None are no-ops, never errors
    release_checkpoint(spark.range(5))
    release_checkpoint(None)


def test_cc_star_rounds_release_superseded_blocks(spark, monkeypatch):
    """duplicate_components must not accumulate one materialized edge
    set per star round: after the call, at most the final frames stay
    pinned, not O(rounds) of history (round-6 advice)."""
    # disable the tail cut so a long chain actually spins star rounds
    monkeypatch.setattr(dedup, "_CC_TAIL_EDGES", 0)

    def n_persistent():
        return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())

    base = n_persistent()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(3000)], "doc_a long, doc_b long"
    )
    labels = dedup.duplicate_components(chain)
    assert labels.where(labels.comp != 0).count() == 0
    assert n_persistent() - base <= 3, (
        "star rounds leaked checkpoint blocks: "
        f"{n_persistent() - base} frames still pinned"
    )


def _in_memory_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    return spark.createDataFrame(
        [(1, base, "en", "web", len(base)), (2, base, "en", "web", len(base)),
         (3, "uno dos tres", "es", "web", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _in_memory_events(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10)
    return spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=5 * i), 1 + i % 2, "a", 0.0, "{}")
         for i in range(4)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


_CHECKPOINT_ONCE = {
    "paragraph_dedup": (_in_memory_docs, lambda d: dedup.paragraph_dedup(d, para_words=3)),
    "jaccard_pairs": (_in_memory_docs, dedup.jaccard_pairs),
    "session_overlap_pairs": (_in_memory_events, joins.session_overlap_pairs),
}


@pytest.mark.parametrize("op", list(_CHECKPOINT_ONCE))
def test_in_memory_input_materializes_the_reused_frame_once(spark, op):
    """An in-memory input gets the same plan as a file-backed one: the
    reused derived frame is checkpointed while the result is built (at
    least one Spark job), and every RDD leaf of the returned plan is
    that checkpoint, never the input itself."""
    import re

    make_input, build = _CHECKPOINT_ONCE[op]
    inp = make_input(spark)
    sc = spark.sparkContext
    group = f"checkpoint_once_{op}"
    sc.setJobGroup(group, f"{op} build-time checkpoint check")
    try:
        out = build(inp)
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    leaves = [
        {c.split("#")[0] for c in cols.split(", ")}
        for cols in re.findall(r"LogicalRDD \[([^\]]*)\]", plan)
    ]
    assert leaves and set(inp.columns) not in leaves
    if op == "session_overlap_pairs":
        assert "Window [" not in plan


def test_posture_log_snapshots_while_other_threads_record(monkeypatch):
    """The posture log is process-wide: a snapshot taken while other
    threads record new decisions must neither raise nor lose a record."""
    import sys
    import threading

    from parcial_bigdata_spark.operators import scale

    monkeypatch.setattr(scale, "_POSTURES", {})
    errors: list[Exception] = []

    def snapshot():
        try:
            for _ in range(500):
                scale.posture_log()
        except RuntimeError as e:  # dict changed size during iteration
            errors.append(e)

    recorders = [
        threading.Thread(
            target=lambda t=t: [scale.record_posture(f"op{t}", str(i)) for i in range(1000)]
        )
        for t in range(8)
    ]
    workers = recorders + [threading.Thread(target=snapshot) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in workers)
    assert errors == []
    assert sum(r["count"] for r in scale.posture_log()) == 8 * 1000


def test_parse_bytes_handles_unit_suffixes():
    """Spark byte-size confs come plain or unit-suffixed; '128m' read as
    128 bytes would inflate split estimates and silently disable the
    degenerate-scan repair (round-5 review)."""
    from parcial_bigdata_spark.operators.scale import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == 128 * 1024**2
    assert _parse_bytes("128MB") == 128 * 1024**2
    assert _parse_bytes("1g") == 1024**3
    assert _parse_bytes("64k") == 64 * 1024
    assert _parse_bytes("garbage") == 134217728  # falls back to default


def test_release_checkpoint_warns_once_on_accessor_drift(spark, caplog):
    """If the internal analyzed().rdd() accessor drifts on a future
    Spark build, the release silently becoming a permanent no-op would
    reintroduce per-round block accumulation invisibly — that path must
    WARN once per process (round-7 advice), while the documented
    nothing-to-release no-op (plain frames, None) stays silent."""
    import logging

    from parcial_bigdata_spark.operators import scale
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    # a reset frame whose origin's accessor raises = simulated drift
    ck = iter_checkpoint(spark.range(10), reset_stats=True)

    class _Broken:
        def queryExecution(self):
            raise RuntimeError("simulated build drift")

    ck._iter_ck_origin = type("F", (), {"_jdf": _Broken()})()
    scale._POSTURES.pop(("release_checkpoint", "no_op"), None)
    with caplog.at_level(logging.WARNING, logger="parcial_bigdata_spark.operators.scale"):
        release_checkpoint(ck)
        release_checkpoint(ck)  # once per process, not per call
    hits = [r for r in caplog.records if "release_checkpoint" in r.message]
    assert len(hits) == 1
    # plain frames and None never warn
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="parcial_bigdata_spark.operators.scale"):
        scale._POSTURES.pop(("release_checkpoint", "no_op"), None)
        release_checkpoint(spark.range(5))
        release_checkpoint(None)
    assert not [r for r in caplog.records if "release_checkpoint" in r.message]


# ---------------------------------------------------------------------------
# z-order clustering
# ---------------------------------------------------------------------------

def test_zorder_key_hand_computed(spark):
    from parcial_bigdata_spark.operators.scale import zorder_key

    df = spark.createDataFrame(
        [(3, 1), (0, 3), (2, 2), (0, 0)], "x long, y long"
    )
    got = {
        (r.x, r.y): r["__zkey"]
        for r in zorder_key(df, ["x", "y"], bits=2).collect()
    }
    # interleave: x bits on even positions, y bits on odd
    assert got == {(3, 1): 7, (0, 3): 10, (2, 2): 12, (0, 0): 0}


def test_zorder_validates_inputs(spark):
    import pytest as _pt

    from parcial_bigdata_spark.operators.scale import (
        zorder_expr_sql,
        zorder_key,
        zorder_pruning_stats,
    )

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with _pt.raises(ValueError, match="exactly 2"):
        zorder_key(df, ["x"])
    with _pt.raises(ValueError, match="missing columns"):
        zorder_key(df, ["x", "nope"])
    with _pt.raises(ValueError, match="bits"):
        zorder_expr_sql("x", "y", 0)
    with _pt.raises(ValueError, match="bucket_bits"):
        zorder_pruning_stats(df, ["x", "y"], bits=4, bucket_bits=9)


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """The layout claim, measured on real parquet footers: with two
    independent uniform key columns, a z-ordered write gives per-file
    min/max spans that are SMALL on BOTH columns, while a linear sort
    on x leaves every file spanning ~the full y range.  Span fraction
    = avg over files of (max-min+1)/domain; a filter on y at a random
    point reads ~that fraction of files."""
    import pyarrow.parquet as pq

    from parcial_bigdata_spark.operators.scale import write_zorder_clustered

    n, side = 4096, 64  # keys uniform over [0, 64) x [0, 64)
    df = spark.range(n).selectExpr(
        "CAST(hash(id) & 63 AS BIGINT) AS x",
        "CAST(hash(id * 7 + 1) & 63 AS BIGINT) AS y",
    )

    def span_fraction(path, col):
        fractions = []
        for f in (tmp_path / path).glob("*.parquet"):
            md = pq.read_metadata(f)
            lo = min(
                md.row_group(i).column(
                    [md.schema[j].name for j in range(len(md.schema))].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    [md.schema[j].name for j in range(len(md.schema))].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            fractions.append((hi - lo + 1) / side)
        assert fractions, f"no parquet files under {path}"
        return sum(fractions) / len(fractions)

    write_zorder_clustered(df, ["x", "y"], str(tmp_path / "zord"), target_files=16, bits=6)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "linear"))

    # linear sort: x is tight but y spans ~everything per file
    assert span_fraction("linear", "y") > 0.9
    # z-order: BOTH dimensions' spans shrink to tile-sized fractions
    assert span_fraction("zord", "x") < 0.5
    assert span_fraction("zord", "y") < 0.5


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    """OPTIMIZE semantics: a deliberately fragmented table (40 files)
    compacts to the audited target count with identical content."""
    from parcial_bigdata_spark.operators.scale import (
        compact_files,
        compaction_plan,
    )

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.range(20_000).selectExpr("id", "id % 97 AS k", "repeat('x', 50) AS pad")
    df.repartition(40).write.parquet(src)

    plan = compaction_plan(spark, src, target_bytes=1 << 20)
    assert plan["n_files"] == 40
    assert plan["n_small_files"] == 40          # all tiny vs 1 MiB target
    assert plan["target_files"] < 40

    result = compact_files(spark, src, dst, target_bytes=1 << 20)
    assert result["after"]["n_files"] == result["before"]["target_files"]
    assert result["after"]["total_bytes"] > 0

    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert b.count() == 20_000
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_distributed_rank_matches_window_rank(spark):
    """The percentile-bucketed rank must equal a plain partitioned
    row_number on (value, tiebreak) — exactly, under heavy ties (value
    cardinality 97 over 5000 rows) and under the degenerate all-equal
    column (one bucket carries everything; still exact, just
    unbalanced)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators.scale import distributed_rank

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("g"),
        F.pmod(F.xxhash64("id"), F.lit(97)).alias("v"),
        F.col("id").alias("tb"),
    )
    got = distributed_rank(df, "v", "tb", part_cols=["g"], out_col="rk")
    want = df.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("g").orderBy("v", "tb")),
    )
    assert {tuple(r) for r in got.select("g", "v", "tb", "rk").collect()} == {
        tuple(r) for r in want.collect()
    }

    const = spark.range(100).select(
        F.lit(1).alias("v"), F.col("id").alias("tb")
    )
    got2 = distributed_rank(const, "v", "tb", out_col="rk")
    assert [
        (r.tb, r.rk) for r in got2.orderBy("tb").collect()
    ] == [(i, i + 1) for i in range(100)]
