"""Batch==stream equivalence (SURVEY.md §5.2 item 5): the real
`readStream` jobs in streaming/jobs.py must produce exactly what the
equivalent batch aggregation produces — Spark's windowed aggregations
are the same Catalyst expressions either way, so any divergence is a
bug in our streaming plumbing (source materialization, watermark,
output mode)."""

from __future__ import annotations

import os
import tempfile

import pytest

from tests.conftest import SF_SMOKE, SF_T2


def _rowset(df):
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def test_stream_watermark_equals_batch_tumbling(spark, queries):
    # stream_watermark = watermarked 1h tumbling agg on a real stream;
    # stream_tumbling = the identical agg expressed on the batch table.
    stream = queries["stream_watermark"](spark, SF_SMOKE)
    batch = queries["stream_tumbling"](spark, SF_SMOKE)
    assert _rowset(stream) == _rowset(batch)


def test_stream_dedup_removes_redelivery(spark, queries):
    from census_postgres_py_spark.tables import t

    n_events = t(spark, SF_SMOKE, "events").count()
    deduped = queries["stream_dedup_state"](spark, SF_SMOKE)
    # the source delivers the file TWICE; state must collapse it back
    assert deduped.count() == n_events
    assert deduped.select("event_id").distinct().count() == n_events


def test_stream_foreachbatch_totals(spark, queries):
    from pyspark.sql import functions as F

    from census_postgres_py_spark.tables import t

    got = {
        (r["event_type"], r["n"])
        for r in queries["stream_foreachbatch_jdbc"](spark, SF_SMOKE).collect()
    }
    want = {
        (r["event_type"], r["n"])
        for r in t(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_static_join_matches_batch(spark, queries):
    from pyspark.sql import functions as F

    from census_postgres_py_spark.tables import t

    stream = queries["stream_static_join"](spark, SF_SMOKE)
    dim = (
        t(spark, SF_SMOKE, "customer")
        .join(
            t(spark, SF_SMOKE, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    batch = (
        t(spark, SF_SMOKE, "events")
        .join(dim, "user_id")
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.floor(F.sum("value") * 100 + F.lit(0.5)) / 100).alias(
                "total_value"
            ),
        )
    )
    assert _rowset(stream) == _rowset(batch)


def test_stream_stream_join_equals_batch(spark, queries):
    """The watermarked stream-stream interval join must emit exactly
    the pairs the equivalent batch self-join produces."""
    from pyspark.sql import functions as F

    from census_postgres_py_spark.tables import t

    ev = t(spark, SF_SMOKE, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    batch = v.join(
        c,
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") >= F.col("vts"))
        & (F.col("cts") <= F.col("vts") + F.expr("interval 30 minutes")),
    ).select("view_id", "click_id", "user_id")
    stream = queries["stream_stream_join"](spark, SF_SMOKE)
    assert _rowset(stream) == _rowset(batch)


def test_stream_stream_left_outer_flushes_unmatched(spark, queries):
    """The LEFT OUTER stream-stream join must emit (a) exactly the
    batch left-join rows, including (b) NULL-click rows for views
    with no click in-window — (b) only works if the heartbeat
    advanced the watermark far enough to flush the tail."""
    from pyspark.sql import functions as F

    from census_postgres_py_spark.tables import t

    ev = t(spark, SF_SMOKE, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    batch = v.join(
        c,
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") >= F.col("vts"))
        & (F.col("cts") <= F.col("vts") + F.expr("interval 30 minutes")),
        "leftOuter",
    ).select("view_id", "click_id", "user_id")
    stream = queries["stream_stream_left_outer"](spark, SF_SMOKE)
    assert _rowset(stream) == _rowset(batch)
    nulls = [r for r in stream.collect() if r["click_id"] is None]
    assert nulls, "no unmatched views emitted - watermark never flushed"


def test_stream_sessionize_state_equals_batch_twin(spark, queries):
    """The streaming tier and the batch tier must agree row for row:
    stream_sessionize_state (applyInPandasWithState, recompute on
    update across micro-batches) vs win_sessionize (lag + running-sum
    windows) — same gap rule, same output schema."""
    cols = ["user_id", "session_no", "start_ms", "n_events", "dur_ms"]
    stream = (
        queries["stream_sessionize_state"](spark, "/root/testdata/sf0.001")
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    batch = (
        queries["win_sessionize"](spark, "/root/testdata/sf0.001")
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        stream.astype("int64"), batch.astype("int64")
    )


def test_sessionize_state_late_events(spark, tmp_path):
    """Bounded-state sessionizer under out-of-order + late arrival
    (r5 VERDICT item 2). Exercises, through the REAL code path:

    * in-batch disorder — batch 0 feeds user 7's session reversed;
    * MID-STREAM timeout eviction — user 7 is absent from batch 1
      while the watermark passes its open session's timeout, so the
      session is emitted by the timeout callback, not by a closing
      event;
    * session numbering ACROSS an eviction — user 7 returns in batch
      2; the tombstone keeps the counter so the new session is
      session_no 2, not a restart at 1;
    * the late-drop contract — a batch-2 event at t=40min is behind
      the late-event watermark (70min, from batch 0's data; Spark
      filters stateful-op input against the PREVIOUS batch's
      watermark) and must never reach the handler. Had it survived it
      would surface as a spurious extra session after s1's eviction.
    """
    import os
    import time

    from pyspark.sql import functions as F

    from census_postgres_py_spark.streaming.jobs import (
        _sessionize_run_stateful,
    )

    m = 60_000  # one minute in ms
    day = 86_400_000  # offset off epoch 0 (initial watermark)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)

    def mk(rows):
        return spark.createDataFrame(
            [(u, day + t, e) for (u, t, e) in rows],
            "user_id long, ts_ms long, event_id long",
        ).select(
            "user_id",
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
            "ts_ms",
            "event_id",
        )

    batches = [
        # b0: user 7's session fed OUT OF ORDER; user 8 at t=100min
        # drags the watermark to 70min
        [(7, 20 * m, 3), (7, 0 * m, 1), (7, 10 * m, 2), (8, 100 * m, 4)],
        # b1: user 7 absent; eviction watermark is now 70min > user 7's
        # timeout (50min) -> s1 emitted BY TIMEOUT here. User 9 pushes
        # the watermark on
        [(9, 110 * m, 5)],
        # b2: t=40min is LATE (behind the 70min late-filter watermark,
        # dropped); t=120min is fresh and must become session TWO
        [(7, 40 * m, 6), (7, 120 * m, 7)],
    ]
    base_mtime = time.time() - 3600
    schema = None
    for i, rows in enumerate(batches):
        df = mk(rows)
        schema = df.schema
        tmp = feed + f"_b{i}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        dst = os.path.join(feed, f"batch-{i}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (base_mtime + 10 * i, base_mtime + 10 * i))

    out = _sessionize_run_stateful(
        spark, feed, schema, ckpt=str(tmp_path / "ckpt")
    )
    got = {
        (r["user_id"], r["session_no"]): (
            r["start_ms"] - day,
            r["n_events"],
            r["dur_ms"],
        )
        for r in out.collect()
    }
    assert got == {
        # s1: the three disordered events, dur 20min — NOT stretched by
        # the late t=40 event, and emitted via mid-stream timeout
        (7, 1): (0, 3, 20 * m),
        # s2 NOT s1: the tombstone preserved numbering across eviction
        (7, 2): (120 * m, 1, 0),
        (8, 1): (100 * m, 1, 0),
        (9, 1): (110 * m, 1, 0),
    }, got


@pytest.fixture(scope="module")
def scratch_ids(spark, queries, tmp_path_factory):
    """Every registered id whose call leaves files under a fresh
    ``tempfile.tempdir`` — found by calling each one, not listed, so a
    writer added later is covered without editing the tests."""
    root = tmp_path_factory.mktemp("scratch_ids")
    found = []
    with pytest.MonkeyPatch.context() as mp:
        for qid in sorted(queries):
            d = root / qid
            d.mkdir()
            mp.setattr(tempfile, "tempdir", str(d))
            queries[qid](spark, SF_SMOKE)
            if any(d.iterdir()):
                found.append(qid)
    assert {
        "sink_parquet",
        "scan_orc",
        "pipeline_acs_e2e",
        "stream_sessionize_state",
    } <= set(found), found
    return found


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


def test_cached_feed_ops_are_repeat_call_stable(spark, queries, scratch_ids):
    """Every op that writes scratch returns the same rows when called
    twice, and a result held from the first call still reads after the
    second call. Per-call outputs go to a new directory each call, so
    the second call cannot overwrite what the held result reads; the
    cached stream feeds replay fully because each run still starts
    from a fresh checkpoint."""
    for qid in scratch_ids:
        held = queries[qid](spark, SF_SMOKE)
        again = queries[qid](spark, SF_SMOKE)
        first, second = _sorted_rows(held), _sorted_rows(again)
        assert first and first == second, qid


def test_cached_inputs_follow_the_fixture_not_its_basename(
    spark, queries, scratch_ids, tmp_path, monkeypatch
):
    """A directory named like SF_T2 but holding SF_SMOKE's tables
    answers as SF_SMOKE after a call on the real SF_T2 has filled the
    scratch: a cached input is found by its fixture's fingerprint, never
    by the basename of ``sf_dir``. Each id is compared with a call on
    that directory under an empty tempdir. Every scratch id runs, not
    only those with a cached input, so the test needs no knowledge of
    which policy a site uses; per-call ids pass by construction."""
    fake = tmp_path / "fixture" / os.path.basename(SF_T2)
    fake.mkdir(parents=True)
    for entry in os.listdir(SF_SMOKE):
        (fake / entry).symlink_to(os.path.join(SF_SMOKE, entry))
    for qid in scratch_ids:
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / f"alone_{qid}"))
        os.mkdir(tempfile.tempdir)
        alone = _sorted_rows(queries[qid](spark, str(fake)))
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / f"after_{qid}"))
        os.mkdir(tempfile.tempdir)
        queries[qid](spark, SF_T2)
        assert _sorted_rows(queries[qid](spark, str(fake))) == alone, qid


def test_event_streams_read_the_fixture_in_place(
    spark, queries, monkeypatch, tmp_path
):
    """The plain events streams read the fixture file itself: nothing
    is written under a fresh tempdir, and a second call in the same
    session returns the same non-empty rows — with the fixture as the
    source, only the fresh checkpoint per call makes the rerun replay
    the whole file."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for qid in ("stream_windowed_topk", "stream_watermark"):
        first = sorted(map(tuple, queries[qid](spark, SF_SMOKE).collect()))
        second = sorted(map(tuple, queries[qid](spark, SF_SMOKE).collect()))
        assert first and first == second, qid
    assert not list(tmp_path.iterdir())


def _fake_fixture(root, name="sf_fake"):
    sf = root / name
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"v1")
    return str(sf)


def _recording_build(builds):
    def build(d):
        builds.append(d)
        with open(os.path.join(d, "data.csv"), "w") as f:
            f.write("1\n")

    return build


def test_cached_feed_validates_fingerprint_and_swaps_atomically(
    monkeypatch, tmp_path
):
    """``scratch.cached`` names its directory by the fixture's
    fingerprint: an unchanged fixture is a cache hit, a fixture touched
    in place gets a new directory (the old one stays for results that
    still read it), and the build runs in a sibling directory that is
    renamed into place, so no reader sees a half-built input."""
    from census_postgres_py_spark import scratch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = _fake_fixture(tmp_path)
    builds = []
    build = _recording_build(builds)

    d1 = scratch.cached("feed", sf, build, "events")
    assert len(builds) == 1
    assert os.path.basename(d1) == f"feed-{scratch.fingerprint(sf, 'events')}"
    assert os.path.dirname(builds[0]) == os.path.dirname(d1)
    assert builds[0] != d1 and not os.path.exists(builds[0])
    assert os.path.exists(os.path.join(d1, "data.csv"))

    # unchanged fixture => cache hit, no rebuild
    assert scratch.cached("feed", sf, build, "events") == d1
    assert len(builds) == 1

    # fixture rewritten in place => new directory, old one untouched
    st = os.stat(os.path.join(sf, "events.parquet"))
    os.utime(
        os.path.join(sf, "events.parquet"),
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000),
    )
    d2 = scratch.cached("feed", sf, build, "events")
    assert d2 != d1 and len(builds) == 2
    assert os.path.exists(os.path.join(d1, "data.csv"))
    assert os.path.exists(os.path.join(d2, "data.csv"))

    # same basename, different directory => different fingerprint
    (tmp_path / "elsewhere").mkdir()
    other = _fake_fixture(tmp_path / "elsewhere")
    assert scratch.fingerprint(other, "events") != scratch.fingerprint(
        sf, "events"
    )


def test_cached_feed_race_loser_verifies_winner_fingerprint(
    monkeypatch, tmp_path
):
    """A builder whose rename loses to a concurrent builder adopts the
    winner's directory without building again: the directory it lost
    to carries its own fixture fingerprint in its name, so it holds the
    same input."""
    from census_postgres_py_spark import scratch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = _fake_fixture(tmp_path)
    final = os.path.join(
        tmp_path, "cppys_cache", f"feed-{scratch.fingerprint(sf, 'events')}"
    )
    builds = []

    def build(d):
        builds.append(d)
        # the concurrent winner renames its build into place first
        os.makedirs(final)
        with open(os.path.join(final, "data.csv"), "w") as f:
            f.write("winner\n")

    assert scratch.cached("feed", sf, build, "events") == final
    assert len(builds) == 1 and not os.path.exists(builds[0])
    with open(os.path.join(final, "data.csv")) as f:
        assert f.read() == "winner\n"
    assert scratch.cached("feed", sf, build, "events") == final
    assert len(builds) == 1


#: Every registered op that drives a stream into a memory sink.
_MEMORY_SINK_OPS = (
    "stream_watermark",
    "stream_dedup_state",
    "stream_custom_state",
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_static_join",
    "stream_python_datasource",
    "stream_sessionize_state",
    "stream_windowed_topk",
)


def test_stream_ops_leave_caller_session_untouched(spark, queries):
    """A stream op may swap spark.sql.shuffle.partitions only while its
    query starts, and must drop its memory sink's temp view: after
    every memory-sink op the caller's conf is what it was and the
    catalog holds no ``sink_*`` table, while each returned DataFrame
    still reads its rows."""
    key = "spark.sql.shuffle.partitions"
    parts = spark.conf.get(key)
    before = {tb.name for tb in spark.catalog.listTables()}
    for qid in _MEMORY_SINK_OPS:
        assert queries[qid](spark, SF_SMOKE).count() > 0, qid
        assert spark.conf.get(key) == parts, qid
        added = {tb.name for tb in spark.catalog.listTables()} - before
        assert not {n for n in added if n.startswith("sink_")}, (qid, added)


def test_run_to_memory_state_parts_outlive_the_start_swap(spark, tmp_path):
    """The state-store partition count is read when the query starts,
    so the swap that ends right after ``start()`` still gives every
    state operator _STREAM_STATE_PARTS partitions."""
    from pyspark.sql import functions as F

    from census_postgres_py_spark.streaming import jobs
    from census_postgres_py_spark.tables import t

    key = "spark.sql.shuffle.partitions"
    parts = spark.conf.get(key)
    spark.conf.set(key, str(jobs._STREAM_STATE_PARTS + 1))
    try:
        ckpt = str(tmp_path / "ckpt")
        counts = (
            t(spark, SF_SMOKE, "events", stream=True)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .count()
        )
        out = jobs._run_to_memory(
            counts,
            "complete",
            state_parts=jobs._STREAM_STATE_PARTS,
            checkpoint=ckpt,
        )
        assert out.count() > 0
    finally:
        spark.conf.set(key, parts)
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert meta and {r["numPartitions"] for r in meta} == {
        jobs._STREAM_STATE_PARTS
    }, meta


#: The ops whose state lives in the JVM state store, sized by
#: ``jobs._state_parts``; the applyInPandasWithState ops keep
#: ``jobs._STREAM_STATE_PARTS``.
_JVM_STATE_OPS = (
    "stream_windowed_topk",
    "stream_watermark",
    "stream_static_join",
    "stream_dedup_state",
)
_PYTHON_STATE_OPS = ("stream_custom_state", "stream_sessionize_state")


@pytest.fixture
def state_parts_seen(monkeypatch):
    """The ``state_parts`` each ``_run_to_memory`` call is given."""
    from census_postgres_py_spark.streaming import jobs

    seen = []
    real = jobs._run_to_memory

    def spy(df, output_mode, state_parts=None, checkpoint=None):
        seen.append(state_parts)
        return real(df, output_mode, state_parts, checkpoint)

    monkeypatch.setattr(jobs, "_run_to_memory", spy)
    return seen


@pytest.mark.parametrize("qid", _JVM_STATE_OPS)
def test_jvm_state_ops_size_state_to_source_rows(
    spark, queries, qid, monkeypatch, state_parts_seen
):
    """A JVM-state op gets ``_state_parts`` — one partition per
    ``_STATE_ROWS_PER_PART`` source rows — so SF_SMOKE runs on fewer
    partitions than the cap; with ``_STATE_ROWS_PER_PART`` patched to 1
    (a 100 TB stream) it gets the cap, with identical rows."""
    from census_postgres_py_spark.streaming import jobs

    small = jobs._state_parts(SF_SMOKE, "events")
    assert small < jobs._STREAM_STATE_PARTS
    sized = _sorted_rows(queries[qid](spark, SF_SMOKE))
    assert state_parts_seen == [small]

    monkeypatch.setattr(jobs, "_STATE_ROWS_PER_PART", 1)
    capped = _sorted_rows(queries[qid](spark, SF_SMOKE))
    assert state_parts_seen == [small, jobs._STREAM_STATE_PARTS]
    assert sized and sized == capped


@pytest.mark.parametrize("qid", _PYTHON_STATE_OPS)
def test_python_state_ops_keep_the_fixed_state_parts(
    spark, queries, qid, state_parts_seen
):
    """Each micro-batch of an applyInPandasWithState op is a parallel
    python fold, so these keep ``_STREAM_STATE_PARTS`` at any size."""
    from census_postgres_py_spark.streaming import jobs

    assert queries[qid](spark, SF_SMOKE).count() > 0
    assert state_parts_seen == [jobs._STREAM_STATE_PARTS]
