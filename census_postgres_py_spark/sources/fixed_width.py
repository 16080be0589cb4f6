"""Fixed-width text reader (SURVEY.md §2.1 scan_fixed_width).

Reference behavior [PK]: the ACS geoheader is one fixed-width text file
per state, parsed by column offsets from a published layout spec into
(SUMLEVEL, COMPONENT, LOGRECNO, GEOID, NAME, ...).

Spark has no native fixed-width source; the idiomatic build is
``spark.read.text`` (one `value` column, splittable, parallel) plus a
generated projection of ``substring``/``trim``/``cast`` expressions —
all codegen'd, so parsing throughput is scan-bound. The layout is data
(a list of field specs), mirroring the reference's metadata-driven
design.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FixedWidthField:
    """One field of a fixed-width layout (1-based start, like ACS docs)."""

    name: str
    start: int  # 1-based byte offset
    length: int
    dtype: str = "string"  # any Spark cast target: int, long, double, ...


def _field_expr(field: FixedWidthField) -> Column:
    raw = F.substring(F.col("value"), field.start, field.length)
    col = F.trim(raw)
    if field.dtype != "string":
        col = col.cast(field.dtype)
    return col.alias(field.name)


def read_fixed_width(
    spark: SparkSession, path: str, layout: list[FixedWidthField]
) -> DataFrame:
    """Parse a fixed-width text file into typed columns per `layout`."""
    return spark.read.text(path).select(*[_field_expr(f) for f in layout])


def parse_fixed_width_lines(df: DataFrame, layout: list[FixedWidthField]) -> DataFrame:
    """Same projection over an existing single-column `value` DataFrame."""
    return df.select(*[_field_expr(f) for f in layout])


def format_fixed_width(df: DataFrame, layout: list[FixedWidthField]) -> DataFrame:
    """Render rows as fixed-width `value` lines (inverse, for tests).
    Values are space-padded right to each field's width."""
    parts = [
        F.rpad(F.coalesce(F.col(f.name).cast("string"), F.lit("")), f.length, " ")
        for f in layout
    ]
    return df.select(F.concat(*parts).alias("value"))


def fixed_width_line(row, layout: list[FixedWidthField]) -> str:
    """Render one row as :func:`format_fixed_width` renders it — the
    driver-side twin for rows already collected (a ``Row`` or a dict,
    read by field name): each field's text (``None`` as empty)
    space-padded, or cut, to the field's width."""
    return "".join(
        ("" if row[f.name] is None else str(row[f.name]))[: f.length].ljust(
            f.length
        )
        for f in layout
    )
