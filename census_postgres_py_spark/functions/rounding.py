"""Engine-identical rounding of double columns.

This is the only module that knows the rule: a double becomes
fixed-point as ``floor(e + 0.5)``, never ``F.round``. Spark's
``round(double, k)`` rounds the decimal text half-up while DuckDB's
``round`` works on the binary double, so the two disagree at ties:
Spark ``F.round(1.005, 2)`` gives ``1.01``, DuckDB
``round(1.005::DOUBLE, 2)`` gives ``1.0``. ``floor(1.005*100 + 0.5)``
is the same IEEE expression on both engines and gives 100 cents on
each. Oracle SQL spells the same ``floor(x*10^k + 0.5)``. The
``F.round`` renders still in the package are checked against DuckDB
``round`` and agree only while no input lands on such a tie.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def half_up(e: Column) -> Column:
    """Integer units of an expression the caller has already scaled,
    e.g. ``half_up(price * 100)`` is exact cents as BIGINT."""
    return F.floor(e + F.lit(0.5)).cast("long")


def round_dp(c: Column, k: int) -> Column:
    """``c`` rendered half-up to ``k`` decimal places, as a double."""
    return F.floor(c * 10**k + F.lit(0.5)) / 10**k
