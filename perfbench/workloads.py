"""The three benchmark workloads.

Each workload has a ``setup`` (seeded inputs, plus the silver build for
``interval_serve``), a list of warm-up ops, and ``unit(i)``: the i-th
block of measured ops.  Every unit has the same composition, so a run
that measures whole units sees the same mix whatever the seed.
``UNIT_S`` is about how long one unit takes on a 4-core box once warm;
a run measures ``round(seconds / UNIT_S)`` units (at least one), so how
much work a run measures is fixed by ``--seconds``, not by its speed.
An op is a ``(name, fn)`` pair; ``fn()`` returns None when the engine's
answer checks out and a one-line mismatch otherwise, and may raise.
Spans around the calls into engine modules come from the shared tracer.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import functools
import os
import random

import fixtures
from spans import Tracer

# ---------------------------------------------------------------------------
# ingest_stream


class IngestStream:
    """One op lands a burst of day-files and drains it with one
    ``start_silver_stream(..., available_now=True)`` trigger."""

    name = "ingest_stream"
    UNIT_S = 11.0
    # per unit, in this order: two single-file bursts (the common case),
    # one backlog burst holding one non-list file, two single-file bursts;
    # the seed places the non-list file and one stray object
    UNIT = ("single", "single", "backlog", "single", "single")
    WARMUP = ("single", "backlog", "single")
    BACKLOG_FILES = 10
    sizes = {
        "bursts_per_unit": len(UNIT),
        "files_per_unit": UNIT.count("single") + UNIT.count("backlog") * BACKLOG_FILES,
        "ticks_per_file": fixtures.TICKS_PER_DAY,
        "non_list_files_per_unit": UNIT.count("backlog"),
        "stray_files_per_unit": 1,
        "warmup_bursts": ", ".join(WARMUP),
    }

    def __init__(self, seed: int, tracer: Tracer):
        self.seed = seed
        self.tracer = tracer
        self.expected_good = 0
        self.inserted = 0
        self._next_day = 0

    def setup(self, spark, root: str) -> None:
        self.spark = spark
        self.land_dir = os.path.join(root, "landing")
        self.silver = os.path.join(root, "silver")
        self.ckpt = os.path.join(root, "checkpoint")
        self.expected_good = 0
        self.inserted = 0
        self._next_day = 0

    def _burst(self, kinds: list[str]) -> list[fixtures.DayFile]:
        files = []
        for kind in kinds:
            day = self._next_day
            if kind != "stray":
                self._next_day += 1
            files.append(fixtures.materialize(self.seed, kind, day))
        return files

    def _op(self, files: list[fixtures.DayFile]):
        def run():
            from parcial_bigdata_spark.streaming.pipeline import start_silver_stream

            with self.tracer.span("bronze.land"):
                fixtures.land(self.land_dir, files)
            got = {"files_processed": 0, "rows_inserted": 0, "bad_rows": 0}

            def on_metrics(_batch_id: int, m: dict) -> None:
                for k in got:
                    got[k] += int(m[k])

            with self.tracer.span("streaming.pipeline") as span:
                q = start_silver_stream(
                    self.spark, self.land_dir, self.silver, self.ckpt,
                    available_now=True, on_metrics=on_metrics,
                )
                span.aliases.append(str(q.runId))
                q.awaitTermination()
            matching = [f for f in files if f.matches_glob]
            want = {
                "files_processed": len(matching),
                "rows_inserted": sum(f.good for f in matching),
                "bad_rows": sum(f.bad for f in matching),
            }
            self.expected_good += want["rows_inserted"]
            self.inserted += got["rows_inserted"]
            span.counts.update(got, input_bytes=sum(len(f.payload) for f in matching))
            return None if got == want else f"on_metrics {got} != expected {want}"

        return run

    def warmup(self):
        files = {"single": 1, "backlog": self.BACKLOG_FILES}
        return [(f"burst_{kind}", self._op(self._burst(["day"] * files[kind]))) for kind in self.WARMUP]

    def unit(self, i: int):
        rng = random.Random(f"{self.seed}:unit:{i}")
        bursts = []
        for kind in self.UNIT:
            if kind == "backlog":
                burst = ["day"] * self.BACKLOG_FILES
                burst[rng.randrange(self.BACKLOG_FILES)] = "non_list"
            else:
                burst = ["day"]
            bursts.append(burst)
        bursts[rng.randrange(len(bursts))].append("stray")
        return [(f"burst_{kind}", self._op(self._burst(b))) for kind, b in zip(self.UNIT, bursts)]

    def final_checks(self):
        def silver_count():
            n = self.spark.read.parquet(self.silver).count()
            return None if n == self.expected_good else f"silver has {n} rows, expected {self.expected_good}"

        return [("silver_row_count", silver_count)]


# ---------------------------------------------------------------------------
# interval_serve


class IntervalServe:
    """Setup builds seeded silver through the batch ingest path and
    registers it in the catalog; one op is one API request."""

    name = "interval_serve"
    UNIT_S = 5.5
    DAYS = 8  # more than the widest window, a week
    TABLE = "dolar"
    # per unit, in this order: 8 one-hour, 1 one-day and 1 one-week
    # windows at seeded positions; the warm-up has all three widths
    WINDOWS = [("1h", 3600)] * 4 + [("1d", 86400)] + [("1h", 3600)] * 4 + [("1w", 7 * 86400)]
    WARMUP_WINDOWS = [("1h", 3600), ("1d", 86400), ("1h", 3600), ("1w", 7 * 86400), ("1h", 3600), ("1h", 3600)]
    sizes = {
        "silver_days": DAYS,
        "silver_partitions": DAYS,
        "bronze_rows": DAYS * fixtures.TICKS_PER_DAY,
        "requests_per_unit": len(WINDOWS),
        "window_mix": "8x1h 1x1d 1x1w",
        "warmup_requests": len(WARMUP_WINDOWS),
    }

    def __init__(self, seed: int, tracer: Tracer):
        self.seed = seed
        self.tracer = tracer

    def setup(self, spark, root: str) -> str | None:
        from parcial_bigdata_spark.catalog import create_silver_table
        from parcial_bigdata_spark.sources import ingest

        self.spark = spark
        bronze = os.path.join(root, "bronze")
        silver = os.path.join(root, "silver")
        self.files = [fixtures.day_file(self.seed, d) for d in range(self.DAYS)]
        extras = [fixtures.day_file(self.seed, self.DAYS, non_list=True), fixtures.stray_file(0)]
        fixtures.land(bronze, self.files + extras)
        with self.tracer.span("sources.ingest") as span:
            cands = ingest.parse_rows(ingest.read_bronze(spark, bronze))
            ingest.write_silver(ingest.silver_rows(cands), silver)
            summary = ingest.ingest_summary(ingest.accounting(cands)).collect()[0]
            got = {
                "files_processed": int(summary["files_processed"]),
                "rows_inserted": int(summary["total_rows_inserted"]),
                "bad_rows": int(summary["total_bad_rows"]),
            }
            span.counts.update(got)
        with self.tracer.span("catalog.register"):
            spark.sql(f"DROP TABLE IF EXISTS {self.TABLE}")
            create_silver_table(spark, self.TABLE, silver)
            spark.sql(f"ALTER TABLE {self.TABLE} RECOVER PARTITIONS")
        # batch accounting groups candidate rows by file, so the non-list
        # file (no candidate rows) is not among the files it reports
        want = {
            "files_processed": self.DAYS,
            "rows_inserted": sum(f.good for f in self.files),
            "bad_rows": sum(f.bad for f in self.files),
        }
        self._t0 = fixtures.day_epoch(0)
        self._t1 = fixtures.day_epoch(self.DAYS)
        return None if got == want else f"build accounting {got} != {want}"

    def _op(self, width_s: int, start_s: int):
        def run():
            from parcial_bigdata_spark.operators.interval import interval, interval_count

            end_s = start_s + width_s
            start = _utc(start_s)
            end = _utc(end_s)
            with self.tracer.span("catalog"):
                df = self.spark.table(self.TABLE)
            with self.tracer.span("operators.interval.rows") as span:
                rows = interval(df, "fechahora", "valor", start, end).collect()
                span.counts["rows_returned"] = len(rows)
            with self.tracer.span("operators.interval.count"):
                cnt = interval_count(df, "fechahora", start, end).collect()[0]["cnt"]
            want = fixtures.good_ticks_in_window(self.files, start_s, end_s)
            if not cnt == len(rows) == want:
                return f"count {cnt}, rows {len(rows)}, expected {want}"
            ts = [r["fechahora"] for r in rows]
            if any(a > b for a, b in zip(ts, ts[1:])):
                return "rows not in ascending order"
            return None

        return run

    def _windows(self, rng: random.Random, windows):
        return [
            (f"interval_{label}", self._op(width, rng.randrange(self._t0, self._t1 - width)))
            for label, width in windows
        ]

    def warmup(self):
        return self._windows(random.Random(f"{self.seed}:warmup"), self.WARMUP_WINDOWS)

    def unit(self, i: int):
        return self._windows(random.Random(f"{self.seed}:unit:{i}"), self.WINDOWS)

    def final_checks(self):
        return []


def _utc(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


# ---------------------------------------------------------------------------
# analytics_batch

# one registry query per operator module
MIX = {
    "q1_pricing_summary": "operators.aggregations",
    "q5_region_revenue": "operators.joins",
    "window_topk_per_user": "operators.windows",
    "dedup_minhash_lsh": "operators.dedup",
    "knn_cosine_lsh": "operators.similarity",
    "text_token_counts": "operators.text",
    "sample_leakage_safe_split": "operators.sampling",
    "profile_orders_table": "operators.profiling",
}
MODULES = sorted(set(MIX.values()))

TABLE_SIZES = fixtures.TableSizes(
    customers=1500, suppliers=100, parts=2000, orders=15000, lineitems=60000,
    users=150, events=10000, documents=1000, embeddings=1000,
)


class AnalyticsBatch:
    """One op is one registry query written to a noop sink; one unit is
    one pass over the mix.  The warm-up pass collects every result and
    hash-compares it with its DuckDB oracle twin; the DuckDB answers are
    computed before the warm-up clock starts."""

    name = "analytics_batch"
    UNIT_S = 11.0
    sizes = {
        "tables": dataclasses.asdict(TABLE_SIZES),
        "query_mix": MIX,
        "warmup_passes": 1,
    }

    def __init__(self, seed: int, tracer: Tracer):
        self.seed = seed
        self.tracer = tracer
        self.reference: dict[str, tuple[str, int]] = {}

    def setup(self, spark, root: str) -> None:
        self.spark = spark
        self.tables = os.path.join(root, "tables")
        fixtures.write_tables(self.tables, self.seed, TABLE_SIZES)

    def _op(self, query: str):
        def run():
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from parcial_bigdata_spark.plans.registry import QUERIES

            with self.tracer.span(MIX[query]):
                df = QUERIES[query](self.spark, self.tables)
                obs = Observation(query)
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                n = obs.get["n"]
            got = (df.schema.simpleString(), n)
            want = self.reference.get(query)
            return None if got == want else f"schema/rows {got} != oracle-checked run {want}"

        return run

    def _checked_op(self, query: str, odf):
        """Warm-up form of an op: collect the result and hash-compare it
        with ``odf``, the query's DuckDB oracle answer, when it has one;
        queries without a twin must return a non-empty result.  Records
        the schema and row count the measured ops must reproduce."""

        def run():
            from parcial_bigdata_spark.plans.registry import QUERIES

            with self.tracer.span(MIX[query]):
                df = QUERIES[query](self.spark, self.tables)
                sdf = df.toPandas()
            self.reference[query] = (df.schema.simpleString(), len(sdf))
            if odf is None:
                return None if len(sdf) else "empty result"
            return compare_frames(_check_correctness(), sdf, odf)

        return run

    def _oracle_answers(self) -> dict:
        """DuckDB's answer for every query of the mix that has a twin."""
        import duckdb

        from parcial_bigdata_spark.catalog import TABLES
        from parcial_bigdata_spark.plans.registry import ORACLES

        cc = _check_correctness()
        answers = {}
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            for query in MIX:
                # the union-find twins equal the recursive-CTE oracles
                # (pinned in the test suite) at a fraction of the cost
                if query in cc.PY_ORACLES:
                    answers[query] = cc.PY_ORACLES[query](con)
                elif query in ORACLES:
                    answers[query] = con.execute(ORACLES[query]).df()
        return answers

    def warmup(self):
        answers = self._oracle_answers()
        return [(q, self._checked_op(q, answers.get(q))) for q in MIX]

    def unit(self, i: int):
        return [(q, self._op(q)) for q in MIX]

    def final_checks(self):
        return []


def compare_frames(cc, sdf, odf) -> str | None:
    """The differential rule of tools/check_correctness.py: same column
    names, same row count, equal canonical renderings."""
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
        return f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    sdf.columns = [c.lower() for c in sdf.columns]
    odf.columns = [c.lower() for c in odf.columns]
    if len(sdf) != len(odf):
        return f"rowcount {len(sdf)} vs {len(odf)}"
    if len(sdf) and not cc._canon(sdf).equals(cc._canon(odf)):
        return "values differ from the DuckDB oracle"
    return None


@functools.cache
def _check_correctness():
    """tools/check_correctness.py, imported by path."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (IngestStream, IntervalServe, AnalyticsBatch)}
