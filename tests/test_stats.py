"""Footer statistics (census_postgres_py_spark.stats): exact row counts,
per-file key bounds with their one-job scan for files written without
statistics, the fingerprint memo and its invalidation, and the operators
whose gates read them returning the same rows on a statistics-free copy
of the fixture."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_SMOKE

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"stats-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rows_matches_footer_and_scan(spark):
    from census_postgres_py_spark import stats
    from census_postgres_py_spark.tables import t

    n = stats.rows(SF_SMOKE, "orders")
    assert n == pq.ParquetFile(f"{SF_SMOKE}/orders.parquet").metadata.num_rows
    assert n == t(spark, SF_SMOKE, "orders").count()
    assert n > 0


def test_rows_sums_footers_for_directory_dataset(spark, tmp_path):
    # a directory of part-files (the sink layout) sums footers
    from census_postgres_py_spark import stats
    from census_postgres_py_spark.tables import t

    out = str(tmp_path / "orders.parquet")
    t(spark, SF_SMOKE, "orders").limit(100).repartition(3).write.parquet(out)
    assert stats.rows(str(tmp_path), "orders") == 100


def test_memo_invalidates_on_rewrite(spark, tmp_path):
    """Schema, row count, key bounds and the triangle skew probe are
    memoized per file fingerprint: a file rewritten in place is read
    again, and a repeat call on an unchanged file starts no job."""
    from census_postgres_py_spark import stats
    from census_postgres_py_spark.operators.ext_round4n import _occ_skew_stats
    from census_postgres_py_spark.tables import t

    sf = str(tmp_path)
    path = f"{sf}/lineitem.parquet"

    def facts():
        li = t(spark, sf, "lineitem")
        occ = li.groupBy("l_partkey").count().withColumnRenamed("count", "occ")
        return (
            tuple(li.columns),
            stats.rows(sf, "lineitem"),
            stats.bounds(spark, [path], "l_partkey")[path],
            _occ_skew_stats(sf, occ),
        )

    pq.write_table(
        pa.table({"l_orderkey": [1, 1, 2, 3], "l_partkey": [1, 1, 2, 3]}),
        path,
    )
    assert facts() == (("l_orderkey", "l_partkey"), 4, (1, 3), (2, 4 / 3))
    _, n_jobs = _jobs(spark, facts)
    assert n_jobs == 0

    pq.write_table(
        pa.table(
            {
                "l_orderkey": [1, 1, 1, 2, 3, 4],
                "l_partkey": [5, 5, 5, 6, 7, 9],
                "l_extra": [0] * 6,
            }
        ),
        path,
    )
    assert facts() == (
        ("l_orderkey", "l_partkey", "l_extra"), 6, (5, 9), (3, 1.5)
    )
    _, n_jobs = _jobs(spark, facts)
    assert n_jobs == 0


#: Ops whose gates and unroll bounds read footer statistics, and the
#: fixture tables they read.
_STAT_OPS = (
    "hier_flatten",
    "hier_rollup_spend",
    "graph_triangle_count",
    "join_bipartite_projection",
    "pipeline_manifest_prune_e2e",
)
_STAT_TABLES = ("customer", "orders", "lineitem", "part")
_STAT_KEYS = (
    ("customer", "c_custkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("orders", "o_orderkey"),
)
#: Confs the one-job bounds scan sets in its child session.
_SCAN_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def test_statistics_free_copy_matches_fixture(spark, queries, tmp_path):
    """A copy of the fixture written without footer min/max returns the
    same rows from every op whose gates read them. Each statistic of
    the copy costs at most one Spark job, and a second call none."""
    from census_postgres_py_spark import stats
    from census_postgres_py_spark.tables import t

    copy = tmp_path / "sf_nostats"
    copy.mkdir()
    for name in _STAT_TABLES:
        dst = str(copy / f"{name}.parquet")
        pq.write_table(
            pq.read_table(f"{SF_SMOKE}/{name}.parquet"),
            dst,
            write_statistics=False,
        )
        md = pq.ParquetFile(dst).metadata
        assert md.row_group(0).column(0).statistics is None
    sf = str(copy)

    conf_before = [spark.conf.get(k) for k in _SCAN_CONFS]
    # (statistic, Spark jobs its first computation starts): the schema
    # is inferred by one job, row counts are footer fields, and each
    # key range is one min/max scan, as no footer carries min/max
    computations = [
        (lambda name=name: t(spark, sf, name).schema, 1)
        for name in _STAT_TABLES
    ]
    computations += [
        (lambda name=name: stats.rows(sf, name), 0) for name in _STAT_TABLES
    ]
    computations += [
        (lambda tbl=tbl, col=col: stats.key_range(spark, sf, tbl, col), 1)
        for tbl, col in _STAT_KEYS
    ]
    for compute, want_jobs in computations:
        first, n_first = _jobs(spark, compute)
        second, n_second = _jobs(spark, compute)
        assert (n_first, n_second) == (want_jobs, 0) and first == second
    for tbl, col in _STAT_KEYS:
        assert stats.key_range(spark, sf, tbl, col) == stats.key_range(
            spark, SF_SMOKE, tbl, col
        )
    # the scans ran in a child session: the caller's conf is untouched
    assert conf_before == [spark.conf.get(k) for k in _SCAN_CONFS]

    for qid in _STAT_OPS:
        want = sorted(map(tuple, queries[qid](spark, SF_SMOKE).collect()))
        got = sorted(map(tuple, queries[qid](spark, sf).collect()))
        assert want and got == want, qid


def test_micros_events_read_leaves_nanos_conf_unset(spark):
    from census_postgres_py_spark.tables import t

    spark.conf.unset(NANOS_CONF)
    t(spark, SF_SMOKE, "events").count()
    assert spark.conf.get(NANOS_CONF, None) is None


def test_nanos_events_read_rebuilds_micros(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts`` is the one layout that needs the legacy
    conf; it reads back as the same instants at microsecond precision."""
    from datetime import datetime, timedelta

    from census_postgres_py_spark.tables import t

    when = [datetime(2024, 1, 2, 3, 4, 5, 6), datetime(2024, 6, 1)]
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": pa.array(when, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
        coerce_timestamps=None,
    )
    try:
        df = t(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_CONF) == "true"
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [
            r[0] for r in df.orderBy("event_id").selectExpr(
                "unix_micros(ts)"
            ).collect()
        ]
        epoch = datetime(1970, 1, 1)
        assert got == [(w - epoch) // timedelta(microseconds=1) for w in when]
    finally:
        spark.conf.unset(NANOS_CONF)
