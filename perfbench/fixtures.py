"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes.  Nothing in this module touches Spark.

- Bronze day-files (``dolar-<epoch>.json``): one file per UTC day, 8640
  ten-second ticks of ``[epoch_ms, valor]``.  The generator plants bad
  elements and short tuples and keeps the exact count of good ticks, so
  the benchmark can check the engine's accounting to the row.
- A small star schema plus ``events``, ``documents`` and ``embeddings``
  tables in the layout ``parcial_bigdata_spark.catalog`` reads
  (``<dir>/<table>.parquet``), shaped like the fixture tables the
  registry queries were written against.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

TICKS_PER_DAY = 8640  # one tick every 10 s
TICK_S = 10
BASE_DAY = dt.date(2025, 1, 1)
BAD_ELEMENT_RATE = 0.01


def day_epoch(day_index: int) -> int:
    d = BASE_DAY + dt.timedelta(days=day_index)
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp())


@dataclass
class DayFile:
    """One landed bronze object and the exact outcome the engine must report."""

    name: str
    day_index: int
    payload: str
    attempted: int  # candidate rows the parse sees (0 for a non-list file)
    good: int
    bad_ticks: frozenset = field(default_factory=frozenset)  # tick indices dropped
    matches_glob: bool = True

    @property
    def bad(self) -> int:
        return self.attempted - self.good


def _tick_payload(rng: random.Random, day_index: int) -> tuple[str, frozenset, int]:
    t0 = day_epoch(day_index)
    price = 3900.0 + rng.random() * 300.0
    elems = []
    bad = set()
    for i in range(TICKS_PER_DAY):
        price = min(max(price + rng.gauss(0.0, 0.8), 3000.0), 5000.0)
        r = rng.random()
        if r < BAD_ELEMENT_RATE / 2:
            elems.append('["not-a-number", "x"]')
            bad.add(i)
            continue
        ms = (t0 + i * TICK_S) * 1000 + rng.randrange(1000)
        if r < BAD_ELEMENT_RATE:
            elems.append(f'["{ms}"]')  # short tuple
            bad.add(i)
        elif r < 0.2:
            elems.append(f"[{ms}, {price:.2f}]")  # bare numbers upstream
        else:
            elems.append(f'["{ms}", "{price:.2f}"]')
    return "[" + ", ".join(elems) + "]", frozenset(bad), TICKS_PER_DAY


def day_file(seed: int, day_index: int, non_list: bool = False) -> DayFile:
    rng = random.Random(f"{seed}:day:{day_index}")
    name = f"dolar-{day_epoch(day_index)}.json"
    if non_list:
        return DayFile(name, day_index, json.dumps({"a": day_index}), 0, 0)
    payload, bad, attempted = _tick_payload(rng, day_index)
    return DayFile(name, day_index, payload, attempted, attempted - len(bad), bad)


def stray_file(day_index: int) -> DayFile:
    """A landed object the ``dolar-*.json`` filter must skip."""
    return DayFile(f"otro-{day_index}.txt", day_index, "otro", 0, 0, matches_glob=False)


def materialize(seed: int, kind: str, day_index: int) -> DayFile:
    if kind == "stray":
        return stray_file(day_index)
    return day_file(seed, day_index, non_list=(kind == "non_list"))


def land(directory: str, files: list[DayFile]) -> None:
    """Write files into a landing directory atomically (write + rename),
    the way an object store exposes a finished upload."""
    os.makedirs(directory, exist_ok=True)
    for f in files:
        tmp = os.path.join(directory, "." + f.name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(f.payload)
        os.replace(tmp, os.path.join(directory, f.name))


def good_ticks_in_window(files: list[DayFile], start_s: int, end_s: int) -> int:
    """Closed-form count of good ticks with ``start_s <= ts <= end_s``."""
    n = 0
    for f in files:
        if not f.matches_glob or f.attempted == 0:
            continue
        t0 = day_epoch(f.day_index)
        lo = max(0, -(-(start_s - t0) // TICK_S))
        hi = min(TICKS_PER_DAY - 1, (end_s - t0) // TICK_S)
        if hi < lo:
            continue
        n += (hi - lo + 1) - sum(1 for i in f.bad_ticks if lo <= i <= hi)
    return n


# ---------------------------------------------------------------------------
# Analytics tables


_WORDS = (
    "a the data row column table key value join agg sort group filter scan "
    "hash merge window stream batch query spark vector part line order "
    "customer fast slow big small"
).split()
_LANGS = ("en", "en", "en", "en", "zh", "es", "de", "fr")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class TableSizes:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    users: int
    events: int
    documents: int
    embeddings: int
    dim: int = 64


def write_tables(directory: str, seed: int, sizes: TableSizes) -> dict[str, int]:
    """Write the ten catalog tables; returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    out: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        out[name] = table.num_rows

    def pick(options, n):
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.date, span: int, n):
        base = np.datetime64(start.isoformat(), "ms")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = sizes.customers
    put("customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": money(-999, 9999, n),
        "c_mktsegment": pick(_SEGMENTS, n),
    })
    n = sizes.suppliers
    put("supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": money(-999, 9999, n),
    })
    n = sizes.parts
    put("part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            pick(("small", "red", "blue", "large", "green", "steel", "brass", "tiny"), n),
            pick(("ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "spring"), n),
        )],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pick(("ECONOMY", "SMALL", "LARGE", "MEDIUM", "STANDARD", "PROMO"), n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n) * 0.1, 2),
    })
    n = sizes.orders
    put("orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, sizes.customers, n).astype(np.int64),
        "o_orderstatus": pick(("O", "F", "P"), n),
        "o_totalprice": money(1000, 500000, n),
        "o_orderdate": days(dt.date(1995, 1, 1), 2404, n),
        "o_orderpriority": pick(_PRIORITIES, n),
    })
    n = sizes.lineitems
    put("lineitem", {
        "l_orderkey": rng.integers(0, sizes.orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, sizes.parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, sizes.suppliers, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n),
        "l_linestatus": pick(("F", "O"), n),
        "l_shipdate": days(dt.date(1995, 1, 2), 2498, n),
    })
    n = sizes.events
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    put("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(base + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, sizes.users, n).astype(np.int64),
        "event_type": pick(_EVENT_TYPES, n),
        "value": money(0, 500, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })
    n = sizes.documents
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.02:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and rng.random() < 0.05:  # planted near duplicate
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(8, 90)))))
    put("documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n = sizes.embeddings
    vecs = rng.standard_normal((n, sizes.dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    return out
