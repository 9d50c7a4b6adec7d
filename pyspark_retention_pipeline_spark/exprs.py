"""Expression helpers shared across operators.

Cross-engine float determinism rules (see registry docstring): the only
order-dependent reduction we use is SUM over doubles, so every such SUM is
rounded at a fixed decimal scale (the inputs carry 2-decimal money values, so
the true sum sits far from any rounding boundary relative to double error).
Derived floats are then computed from those already-identical values with
identical IEEE operations on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_lit(value: str) -> Column:
    """Timestamp-NTZ literal from ``YYYY-mm-dd HH:MM:SS`` — time-zone-free on
    both engines (oracle side uses ``TIMESTAMP '...'``)."""
    return F.to_timestamp_ntz(F.lit(value))


def sql_double(value: float) -> str:
    """SQL text for the double ``value``, exactly: its shortest round-trip
    ``repr`` cast from a string (a bare ``0.1`` in Spark SQL is a DECIMAL).
    Spark's cast reads ``inf``, ``-inf`` and ``nan`` too."""
    return f"CAST('{float(value)!r}' AS DOUBLE)"


def sql_name(name: str) -> str:
    """``name`` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def money_sum(col: Column | str) -> Column:
    """SUM of a 2-decimal money column, rounded to recover the exact decimal
    value regardless of partial-aggregation order. (Safe only for inputs that
    are exact 2-decimal values; for derived products use :func:`scaled_sum`.)"""
    return F.round(F.sum(col), 2)


def scaled_sum(expr: Column, scale: int = 4) -> Column:
    """Order-independent exact SUM of a money-derived expression.

    Each row is rounded to ``scale`` decimals and scaled to a BIGINT, summed
    exactly (integer addition is associative — identical on every engine and
    partitioning), then descaled. This sidesteps the float-summation-order
    problem entirely; valid while the scaled sum stays under 2^53 (1e9 rows ×
    1e5 magnitude at scale=4 — size partitions accordingly beyond that).

    SQL twin: ``SUM(CAST(ROUND(expr * 10^scale) AS BIGINT)) / CAST(10^scale AS DOUBLE)``.
    """
    s = 10 ** scale
    return F.sum(F.round(expr * s).cast("long")) / F.lit(float(s))


def md5_u32(key: Column | str) -> Column:
    """The first 8 hex digits of ``md5(key)`` as a BIGINT in [0, 2^32) —
    the package's deterministic hash value of a string key, identical on
    every engine, run and partitioning. Callers take their own modulus.
    DuckDB twin: ``CAST(('0x' || substring(md5(key), 1, 8)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def bigint(col: Column) -> Column:
    return col.cast("long")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns as a strict left fold —
    matches a sequential SUM over elements in index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def as_double_array(col: Column) -> Column:
    """array<float> → array<double> (exact widening) so downstream arithmetic
    runs in double precision on both engines."""
    return col.cast("array<double>")
