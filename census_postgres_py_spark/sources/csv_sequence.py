"""ACS sequence-file-style CSV reader (SURVEY.md §2.1 scan_csv_schema).

Reference behavior [PK]: sequence files are headerless, comma-delimited,
with '.'-coded jam values for suppressed cells that must load as NULL,
and a schema known only from the lookup metadata — never inferred.

Spark-first: `spark.read.csv` with an explicit StructType and
``nullValue='.'``. Explicit schemas matter doubly at scale: inference
costs a full extra pass over 100 TB and can mistype jam-value columns.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_sequence_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    null_value: str = ".",
) -> DataFrame:
    """Read a headerless CSV with explicit schema and jam-value NULLs."""
    return (
        spark.read.schema(schema)
        .option("header", "false")
        .option("nullValue", null_value)  # empty cells are NULL by default too
        .csv(path)
    )


def write_sequence_csv(df: DataFrame, path: str, null_value: str = ".") -> None:
    """Write a DataFrame as a headerless, jam-value-coded CSV (the
    inverse, used for round-trip tests)."""
    df.write.mode("overwrite").option("header", "false").option(
        "nullValue", null_value
    ).csv(path)


def sequence_csv_line(values: Iterable, null_value: str = ".") -> str:
    """Render one row as a line :func:`read_sequence_csv` reads back to
    the same values — the driver-side twin of :func:`write_sequence_csv`
    for rows already collected. ``None`` becomes ``null_value``; a float
    is written in Python's shortest round-trip form, which parses to the
    same double. Values are not quoted, so one holding a comma, quote or
    line break is refused."""
    cells = [null_value if v is None else str(v) for v in values]
    for c in cells:
        if any(ch in c for ch in ',"\r\n'):
            raise ValueError(f"sequence cell needs quoting: {c!r}")
    return ",".join(cells)
