"""Shared Column helpers for the corpus.

Conventions keeping the Spark result and the DuckDB oracle hash-identical:

- date/timestamp group keys are emitted as ISO ``yyyy-MM-dd`` strings
  (Spark ``date_format`` / DuckDB ``strftime``);
- floating aggregates are rounded on BOTH sides: sums → 2 decimals,
  means/ratios → 4, correlation/regression stats → 6;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def iso_day(col: Column | str) -> Column:
    """Timestamp/date → 'yyyy-MM-dd' string (oracle: strftime(col, '%Y-%m-%d')).

    cast→date→string, not ``date_format``: both emit the identical
    4-digit-padded ISO form under the session timezone, but the pattern
    formatter walks a DateTimeFormatter per row while the cast pair is a
    days-since-epoch integer div + a fixed-shape print — measured ~2×
    (0.098 s → 0.05 s over 50k rows, BENCH_NOTES r5) on a hot
    projection. Equality over the corpus is pinned by the oracle gate
    (every grouped day key hashes against DuckDB's strftime) plus the
    extreme-timestamp fuzz (1900/1969/2200)."""
    return F.col(col).cast("date").cast("string") if isinstance(col, str) else col.cast("date").cast("string")


# Doubles at or above 2⁵² are integers: rounding passes them through.
_INTEGRAL = float(2**52)


def dround(col: Column | str, n: int) -> Column:
    """Round a double exactly like DuckDB's ROUND(x, n).

    Spark's ``round`` converts through the shortest decimal representation
    (BigDecimal HALF_UP), DuckDB rounds the binary double via
    ``std::round(x * 10^n) / 10^n`` — they disagree on values that sit on a
    decimal .5 boundary (e.g. avg() hitting 38.37875). Replicating the
    binary form bit-for-bit keeps the driver's value hash identical.
    Nulls propagate; sign(x)*floor(abs..) matches round-half-away-from-zero.

    A scaled magnitude ``|x|·10ⁿ`` at or above 2⁵² is already integral
    (and NaN/±inf pass through), so it is divided back unchanged: Spark's
    ``FLOOR(double)`` returns BIGINT and would saturate at 2⁶³ (1.27e14 at
    n = 6 read 9223372036854.775). Below 2⁵² the bits are the plain
    floor form's.
    """
    p = float(10**n)
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("double")
    m = F.abs(c) * p
    return F.signum(c) * F.when(m < _INTEGRAL, F.floor(m + F.lit(0.5))).otherwise(m) / p


def dround_sql(expr: str, n: int) -> str:
    """SQL-string twin of :func:`dround` — same IEEE op order
    (``SIGNUM(c)·FLOOR(ABS(c)·10ⁿ + 0.5)/10ⁿ`` over the double cast, the
    same 2⁵² pass-through), so a selectExpr-built plan emits the same
    bits as the Column form.

    Exists for plan-build cost (r10): every Column operation is a py4j
    round-trip measured at ~1.4 ms on this runtime, and bench rebuilds
    each query's DataFrame every timed run — the Column ``dround`` costs
    ~12 calls (~17 ms) per use, while a parsed string is free. Hot
    queries build their final projections with this twin."""
    p = f"{float(10 ** n)!r}D"
    c = f"CAST({expr} AS DOUBLE)"
    m = f"ABS({c}) * {p}"
    return (
        f"SIGNUM({c}) * CASE WHEN {m} < {_INTEGRAL!r}D THEN FLOOR({m} + 0.5D) "
        f"ELSE {m} END / {p}"
    )


def py_dround(x: float | None, n: int) -> float | None:
    """Driver-side twin of :func:`dround` — same IEEE op order
    (signum·floor(|x|·10^n + 0.5)/10^n, the same 2⁵² pass-through), so a
    Python-computed small-path scalar matches the JVM expression
    bit-for-bit. Nulls propagate."""
    import math

    if x is None:
        return None
    p = float(10**n)
    m = abs(x) * p
    return math.copysign(1.0, x) * (math.floor(m + 0.5) if m < _INTEGRAL else m) / p


def r2(col: Column) -> Column:
    return dround(col, 2)


def r4(col: Column) -> Column:
    return dround(col, 4)


def r6(col: Column) -> Column:
    return dround(col, 6)


def day_spine(df: DataFrame, ts_col: str) -> DataFrame:
    """Generate the complete daily calendar spanning df's [min, max] of
    ``ts_col`` — one row per day, column ``day`` (DateType).

    Bounds come from a single-row aggregate; ``sequence`` + ``explode``
    generates the days inside the plan (the single-row cross join is free).
    """
    bounds = df.agg(
        F.min(F.to_date(ts_col)).alias("lo"), F.max(F.to_date(ts_col)).alias("hi")
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
