"""Order-independent money aggregation.

Double sums depend on partial-sum order (Spark's partition merge vs a
sequential scan), and ``round(double, 2)`` of an exact ``.xx5`` half
itself differs across engines — Spark rounds the double's shortest
decimal repr (HALF_UP), DuckDB rounds the binary value.  Money inputs
carry ≤4 decimals, so their sums DO land exactly on half-cent
boundaries (observed at sf0.1: 2183640.6550).

``money_sum`` removes both hazards: accumulate in DECIMAL(18,4)
(exact, order-independent addition), round while still decimal
(half-away-from-zero in Spark and DuckDB alike), cast to double only
for output.  The matching oracle-SQL pattern is
``CAST(round(sum(CAST(<expr> AS DECIMAL(18,4))), 2) AS DOUBLE)``.

Averages over LARGE irregular denominators stay double: their decimal
expansions rarely terminate, so exact-half collisions are effectively
impossible.  But ratios with SMALL or dyadic denominators (weights
that are powers of two, counts like 8 or 3200) DO land on exact
halves — observed live at sf0.1: a 2-decimal value divided by a
power-of-two weight sum produced exactly 1.34875 and the engines
rounded it apart.  Every rational-quotient output therefore rounds
through ``ratio_round`` (below), never bare ``round(double, k)``.

Why not scaled-long (cents) accumulation, which is faster locally?
It overflows: a 6-decimal-scaled term tops out near 1e11, so ~1e8 rows
per group already threatens int64 — at 100 TB long-cents is wrong,
DECIMAL(38) is not.  The decimal aggregate costs ~2-3× the double sum
on the bench (q1 0.46→1.25 s at sf0.1); that is the price of a result
that is bit-identical at any scale, partition count, or engine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def money_sum(col: Column | str, scale: int = 2, cast: str = "decimal(18,4)") -> Column:
    """``cast`` must carry AT LEAST the term's exact decimal scale — 2
    for raw money columns, 4 for two-factor products (price×rate), 6
    for three-factor (price×rate×rate).  At or above the exact scale
    the double→decimal cast recovers the exact value on both engines
    (no rounding happens); below it, the cast itself must round, and
    engine rounding of binary doubles near decimal halves diverges."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(cast)), scale).cast("double")


def ratio_round(col: Column, digits: int) -> Column:
    """Engine-consistent rounding for RATIO outputs (p/q of exact
    operands): ``floor(x·10^k + 0.5) / 10^k`` evaluated entirely in
    IEEE doubles, so Spark and DuckDB — given the identical quotient
    double — produce the identical rounded double.

    Plain ``round(double, k)`` is NOT engine-consistent at exact
    decimal halves: Spark half-ups the double's shortest decimal repr
    while DuckDB rounds the binary value — and quotients of small
    exact operands DO land on halves (observed live: a 2-decimal value
    divided by a power-of-two weight sum produced 1.34875, rounding to
    1.3488 vs 1.3487 across engines at sf0.1).  The floor form rounds
    halves toward +inf on BOTH engines — the tie direction matters
    less than its consistency.  Oracle twin: ``ratio_round_sql``;
    Python twin (driver-side numpy, pandas stages):
    ``ratio_round_float``."""
    scale = float(10**digits)
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def ratio_round_sql(expr: str, digits: int) -> str:
    """The DuckDB-side twin of ``ratio_round`` — identical double ops."""
    scale = f"1e{digits}"
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def ratio_round_float(x: float, digits: int) -> float:
    """``ratio_round`` on a Python float — identical double ops, for
    results computed outside Spark expressions."""
    scale = float(10**digits)
    return math.floor(x * scale + 0.5) / scale
