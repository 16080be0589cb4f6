"""Engine-identical rounding of double columns.

Spark's ``round(double, k)`` and DuckDB's ``round`` disagree on
half-way values, so both sides of every oracle check render money and
ratios with the same explicit half-up ``floor(x*k + 0.5)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(c: Column) -> Column:
    """Exact integer cents from a double price column."""
    return F.floor(c * 100 + F.lit(0.5)).cast("long")


def r6(c: Column) -> Column:
    """floor(x*1e6 + 0.5)/1e6 — half-up 6-dp render, identical on both
    engines."""
    return F.floor(c * 1000000 + F.lit(0.5)) / 1000000
