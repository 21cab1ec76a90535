"""Order-independent (exact) floating aggregates.

Floating SUM/AVG are order-dependent: on a 1000-executor cluster the
partition merge order is nondeterministic, so two runs of the same query
can differ in the low bits — and so can Spark vs the DuckDB oracle.
Flink's runtime has the same property; its SUM over DOUBLE is equally
order-dependent (upstream: flink-table-runtime aggregate codegen).

We make money-style aggregates *exact and deterministic* by casting to
DECIMAL before summing: decimal addition is associative/commutative, so
the result is identical for any partitioning — at sf0.01 under the oracle
and at 100 TB on a real cluster. The final cast back to DOUBLE is a single
deterministic rounding.

Scale choice: testdata money columns carry 2 decimal digits; products of
two/three such columns stay exact at scale 6. DECIMAL(27,6) leaves
21 integer digits — a sum of 1e12 rows of 1e6-magnitude values fits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_PREC, _SCALE = 27, 6


def _dec(col: Column) -> Column:
    return col.cast(f"decimal({_PREC},{_SCALE})")


def dsum(col: Column) -> Column:
    """Exact SUM of a double expression, returned as double."""
    return F.sum(_dec(col)).cast("double")


def dsum_round(col: Column, digits: int) -> Column:
    """Exact SUM rounded (half up) to ``digits`` decimals *before* the cast
    to double. Rounding the double instead splits engines on a tie: the
    double nearest 2142838.445 lies just below it, and Spark rounds its
    decimal text half up (.45) while DuckDB rounds its binary value (.44)."""
    return F.round(F.sum(_dec(col)), digits).cast("double")


def davg(col: Column) -> Column:
    """Exact AVG: exact decimal sum / count, one final double division."""
    return (F.sum(_dec(col)).cast("double") / F.count(col)).cast("double")


def dvar_samp(col: Column) -> Column:
    """Sample variance from exact sums: (Σx² − (Σx)²/n) / (n−1).

    Both Σ terms are exact decimal sums, so the result is deterministic
    under any partitioning (unlike the built-in streaming-merge variance).
    """
    n = F.count(col).cast("double")
    sx = F.sum(_dec(col)).cast("double")
    sxx = F.sum(_dec(col * col)).cast("double")
    return F.when(n > 1, (sxx - sx * sx / n) / (n - F.lit(1.0)))


def dstddev_samp(col: Column) -> Column:
    return F.sqrt(dvar_samp(col))


# ---- oracle-side (DuckDB SQL) counterparts --------------------------------
# Emit the *same* arithmetic as SQL text so both engines round identically.

def sql_dec(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL({_PREC},{_SCALE}))"


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM({sql_dec(expr)}) AS DOUBLE)"


def sql_dsum_round(expr: str, digits: int) -> str:
    return f"CAST(ROUND(SUM({sql_dec(expr)}), {digits}) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(CAST(SUM({sql_dec(expr)}) AS DOUBLE) / COUNT({expr}) AS DOUBLE)"


def sql_dvar_samp(expr: str) -> str:
    sx = f"CAST(SUM({sql_dec(expr)}) AS DOUBLE)"
    sxx = f"CAST(SUM({sql_dec(f'({expr}) * ({expr})')}) AS DOUBLE)"
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    return (
        f"CASE WHEN {n} > 1 THEN ({sxx} - {sx} * {sx} / {n}) / ({n} - 1.0) END"
    )


def sql_dstddev_samp(expr: str) -> str:
    return f"SQRT({sql_dvar_samp(expr)})"
