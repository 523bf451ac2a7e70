"""Order-independent numeric aggregation helpers.

Summing IEEE doubles is order-dependent, and Spark's shuffle order differs
from DuckDB's scan order, so ``SUM(double)`` can never hash-match an oracle
reliably. The fix: cast each value to DECIMAL before aggregating. Per-value
double->decimal conversion is deterministic, decimal addition is exact and
associative, so both engines produce the *identical* decimal sum regardless
of row order; rounding in the decimal domain and a final cast to double are
then bit-exact across engines.

Each Python helper has a ``*_sql`` twin that emits the equivalent ANSI SQL
for the DuckDB oracle — keep them in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

PREC = 18
SCALE = 4


def dec(col: Column | str, prec: int = PREC, scale: int = SCALE) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DecimalType(prec, scale))


def dec_sum(col: Column | str, round_to: int = 2) -> Column:
    """Exact decimal SUM, rounded in decimal domain, emitted as double."""
    return F.round(F.sum(dec(col)), round_to).cast("double")


def dec_sum_sql(expr: str, round_to: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL({PREC},{SCALE}))), {round_to}) AS DOUBLE)"


def dec_sum_exact(col: Column | str) -> Column:
    """Exact decimal SUM, unrounded, emitted as double via the string hop
    both engines print identically."""
    return F.sum(dec(col)).cast("string").cast("double")


def dec_sum_exact_sql(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL({PREC},{SCALE}))) AS VARCHAR) AS DOUBLE)"


def dec_avg(col: Column | str) -> Column:
    """Order-independent AVG: exact decimal sum, one IEEE divide at the end."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c)).cast("double") / F.count(c)


def dec_avg_sql(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL({PREC},{SCALE}))) AS DOUBLE) / COUNT({expr})"
    )
