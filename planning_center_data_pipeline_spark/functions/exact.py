"""Order-independent, engine-portable numeric aggregation helpers.

Floating-point sums depend on summation order, which differs between
Spark partial/final aggregation and a single-threaded oracle.  To make
results bit-exact and reproducible at ANY parallelism (32 local threads
or 1000 executors), money aggregates use scaled-integer (fixed-point)
arithmetic on BIGINT:

    double -> round(x * 10^s) -> int64       (deterministic per value)
    -> exact integer sum                     (associative, order-free)
    -> cast double -> / 10^s                 (deterministic)

Why not decimal: Spark 4's decimal hash-aggregate runs 15-60x slower
than the long-backed path (measured: sum(decimal(12,2)) 37.5s vs
sum(double) 2.3s on 600k rows), while int64 sums stay inside
whole-stage codegen.  Range: a scale-2 money column up to 1e7 summed
over ~1e9 rows stays < 2^63; the scale-6 product terms hold to ~sf100.
Beyond that, partition the aggregation or fall back to decimal.

The DuckDB-oracle mirror of `money_sum(cents(c))` is
`CAST(SUM(CAST(ROUND(c*100) AS BIGINT)) AS DOUBLE)/100.0` — both
engines round half-away-from-zero on doubles and convert the identical
exact integer to double the same way.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(c: Column | str, scale: int = 2) -> Column:
    """Fixed-point int64 view of a money column: round(x * 10^scale)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * (10**scale)).cast("bigint")


def money_sum(expr: Column, scale: int = 2) -> Column:
    """Exact integer sum of a scaled-int expression, presented as
    double in original units."""
    return F.sum(expr).cast("double") / F.lit(float(10**scale))


def money_avg(expr: Column, scale: int = 2) -> Column:
    """Order-independent mean: exact integer sum / exact count."""
    return F.sum(expr).cast("double") / F.lit(float(10**scale)) / F.count(F.lit(1))


def sql_cents(col_expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of `cents` for oracle SQL strings."""
    return f"CAST(ROUND(({col_expr})*{10**scale}) AS BIGINT)"

