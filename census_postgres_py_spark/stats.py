"""Planning facts of parquet files, read from their footers.

The engine plans from metadata before it reads data, as the ACS loader
builds its table schemas from the ACS metadata before reading a cell.
Every size gate, unroll bound, packed-key proof and zone map asks this
module: exact row counts (:func:`rows`), per-file column ranges
(:func:`bounds`, :func:`key_range`), the stored timestamp unit and the
documents head sample; :func:`memo` also keys the fixture schema and the
triangle skew probe. It is the only module that opens parquet files
driver-side.

Each fact is memoized per file :func:`fingerprint` (mtime + size), so a
file rewritten in place is read again and an unchanged one costs no
footer read and no Spark job. Nothing here caches data or results.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import Any

import pyarrow.parquet as pq

#: (path, key) -> (fingerprint, value).
_MEMO: dict[tuple[str, Hashable], tuple[Any, Any]] = {}
_MISS = object()


def fingerprint(path: str):
    """mtime + size of ``path``; None when it cannot be stat-ed.

    Rewriting a part file in place changes neither the directory's
    mtime nor its size, so a directory folds in the stats of every file
    under it."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            parts = tuple(
                sorted(
                    (fn, s.st_mtime_ns, s.st_size)
                    for root, _, fns in os.walk(path)
                    for fn in fns
                    for s in (os.stat(os.path.join(root, fn)),)
                )
            )
            return (st.st_mtime_ns, st.st_size, parts)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def _lookup(path: str, key: Hashable):
    """(fingerprint of ``path``, memoized value or ``_MISS``)."""
    fp = fingerprint(path)
    hit = _MEMO.get((path, key))
    if fp is not None and hit is not None and hit[0] == fp:
        return fp, hit[1]
    return fp, _MISS


def _store(path: str, key: Hashable, fp, value) -> None:
    if fp is not None:
        _MEMO[(path, key)] = (fp, value)


def memo(path: str, key: Hashable, compute: Callable[[], Any]) -> Any:
    """``compute()``, cached under (``path``, ``key``) for as long as
    ``path`` keeps its fingerprint. A path that cannot be stat-ed is
    never cached."""
    fp, value = _lookup(path, key)
    if value is _MISS:
        value = compute()
        _store(path, key, fp, value)
    return value


def files(path: str) -> list[str]:
    """The parquet files of ``path``: the path itself, or every
    ``*.parquet`` file under it when it is a directory."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(root, fn)
            for root, _, fns in os.walk(path)
            for fn in fns
            if fn.endswith(".parquet")
        )
    return [path]


def rows(sf_dir: str, table: str) -> int:
    """Exact row count of fixture ``table`` from its parquet footers.

    ``num_rows`` is a required footer field, so this never scans data
    pages and never starts a Spark job; a directory sums its files."""
    path = f"{sf_dir}/{table}.parquet"
    return memo(
        path,
        "rows",
        lambda: sum(pq.ParquetFile(f).metadata.num_rows for f in files(path)),
    )


def is_nanos(path: str, column: str) -> bool:
    """Whether ``column`` is stored as parquet TIMESTAMP(NANOS), which
    Spark reads only under ``spark.sql.legacy.parquet.nanosAsLong``."""

    def read() -> bool:
        dt = pq.read_schema(files(path)[0]).field(column).type
        return getattr(dt, "unit", None) == "ns"

    return memo(path, ("nanos", column), read)


def _footer_bounds(path: str, column: str):
    """(min, max) of ``column`` from the row-group statistics; None for
    a file without rows; ``_MISS`` when a row group lacks min/max."""
    md = pq.ParquetFile(path).metadata
    idx = md.schema.names.index(column)
    lo = hi = None
    for rg in range(md.num_row_groups):
        if md.row_group(rg).num_rows == 0:
            continue
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return _MISS
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _scan_bounds(spark, paths: list[str], column: str) -> dict:
    """(min, max) of ``column`` per file of ``paths`` from one Spark job.

    The job runs in a child session with adaptive execution off, so its
    aggregation stays one job instead of one per query stage; the
    caller's session conf is never touched. Files without a non-null
    value have no entry."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    dt = from_arrow_type(pq.read_schema(paths[0]).field(column).type)
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", "1")
    got = (
        child.read.schema(T.StructType([T.StructField(column, dt)]))
        .parquet(*paths)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(column).alias("lo"), F.max(column).alias("hi"))
        .collect()
    )
    asked = {os.path.realpath(p): p for p in paths}
    return {
        asked[os.path.realpath(unquote(urlparse(f).path))]: (lo, hi)
        for f, lo, hi in got
        if lo is not None
    }


def bounds(spark, paths: list[str], column: str) -> dict[str, tuple]:
    """Per-file (min, max) of ``column`` over the parquet files
    ``paths``; a file without a non-null value has no entry.

    Read from the footer's row-group statistics. Only the files whose
    footer lacks them are scanned, all in one
    ``groupBy(input_file_name)`` min/max job. Each file's answer is
    memoized per fingerprint, so the job runs once per file version.
    Never returns None."""
    key = ("bounds", column)
    found: dict[str, Any] = {}
    scan: dict[str, Any] = {}
    for p in paths:
        fp, b = _lookup(p, key)
        if b is _MISS:
            b = _footer_bounds(p, column)
            if b is _MISS:
                scan[p] = fp
                continue
            _store(p, key, fp, b)
        found[p] = b
    if scan:
        scanned = _scan_bounds(spark, list(scan), column)
        for p, fp in scan.items():
            found[p] = scanned.get(p)
            _store(p, key, fp, found[p])
    return {p: b for p, b in found.items() if b is not None}


def key_range(spark, sf_dir: str, table: str, column: str) -> tuple:
    """(min, max) of ``column`` over fixture ``table``: the union of
    :func:`bounds` over its files; (0, 0) for a table without a value."""
    spans = bounds(spark, files(f"{sf_dir}/{table}.parquet"), column).values()
    return (
        min((lo for lo, _ in spans), default=0),
        max((hi for _, hi in spans), default=0),
    )


def documents_head_sample(sf_dir: str, n: int = 512) -> list[str]:
    """First ≤n document texts, read driver-side (one column, one
    batch, no Spark job). Serves the corpus-statistic planning gates
    (``tables.vocab_rows_per_doc``, ``tables.vocab_sample_distinct``).
    Raises on a missing or unreadable table; callers own the default."""
    path = f"{sf_dir}/documents.parquet"

    def read() -> list[str]:
        pf = pq.ParquetFile(files(path)[0])
        batch = next(pf.iter_batches(batch_size=n, columns=["text"]))
        return [txt or "" for txt in batch.column("text").to_pylist()]

    return memo(path, ("head", n), read)
