"""Numeric helpers for oracle-exact aggregation.

Floating sums are order-dependent: Spark's partial aggregation and
DuckDB's sequential scan sum the same multiset in different orders,
so ``ROUND(SUM(x), 2)`` can flip on a half-cent boundary (observed at
~0.3% of groups at sf0.01).  Per-ROW expressions, by contrast, are
bit-identical across engines (same IEEE-754 ops on the same value).

``money_sum`` therefore rounds each term to integer cents first and
sums BIGINTs — exact in any order, on any engine, at any scale — and
divides once at the end.  ``MONEY_SUM_SQL`` is the DuckDB mirror.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 100  # cents


def money_sum(expr: Column | str, scale: int = SCALE) -> Column:
    """Order-independent 2-decimal sum: sum(round(x*100) as long)/100."""
    col = F.col(expr) if isinstance(expr, str) else expr
    return F.sum(F.round(col * scale, 0).cast("long")) / float(scale)


def money_sum_sql(expr: str, scale: int = SCALE) -> str:
    """DuckDB equivalent of ``money_sum`` (cast via DOUBLE so the
    HUGEINT sum divides into the same double)."""
    return (
        f"(CAST(SUM(CAST(ROUND(({expr}) * {scale}, 0) AS BIGINT)) AS DOUBLE)"
        f" / {scale}.0)"
    )


def leading_zero_rank(w: Column, bits: int) -> Column:
    """Leading-zero count of a ``bits``-wide non-negative long ``w``
    (``bits`` when ``w`` is 0): the HyperLogLog register rank and the
    geometric-noise draw.  Returns INT; callers cast.  DuckDB twin:
    ``CASE WHEN w = 0 THEN bits ELSE bits - length(bin(w)) END``."""
    return F.when(w == 0, F.lit(bits)).otherwise(
        F.lit(bits) - F.length(F.bin(w))
    )


def epoch_micros(col: str) -> Column:
    """Microseconds since 1970-01-01 00:00:00 of the TIMESTAMP_NTZ
    column ``col`` — session-timezone-independent (``unix_micros``
    needs LTZ).  DuckDB twin: ``epoch_us(col)``."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    )
