"""Batch==stream equivalence (SURVEY.md §5.2 item 5): the real
`readStream` jobs in streaming/jobs.py must produce exactly what the
equivalent batch aggregation produces — Spark's windowed aggregations
are the same Catalyst expressions either way, so any divergence is a
bug in our streaming plumbing (source materialization, watermark,
output mode)."""

from __future__ import annotations

import shutil
import tempfile

from tests.conftest import SF_SMOKE


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


def test_cached_feed_ops_are_repeat_call_stable(spark, queries):
    """The marker-cached streaming feeds (sessionize / dedup_state /
    custom_state) must return IDENTICAL results on a second call in the
    same session. This pins the checkpoint-per-run invariant: the feed
    data may be cached, but a reused file-source CHECKPOINT would mark
    every feed file consumed and the second run would silently emit
    nothing — exactly the regression this test exists to catch."""
    for qid in (
        "stream_sessionize_state",
        "stream_dedup_state",
        "stream_custom_state",
    ):
        from tests.conftest import SF_SMOKE

        first = sorted(map(tuple, queries[qid](spark, SF_SMOKE).collect()))
        second = sorted(map(tuple, queries[qid](spark, SF_SMOKE).collect()))
        assert first and first == second, qid


def test_event_streams_read_the_fixture_in_place(
    spark, queries, monkeypatch, tmp_path
):
    """The plain events streams read the fixture file itself: no
    ``events_src_*`` copy is written under a fresh tempdir, and a second
    call in the same session returns the same non-empty rows — with the
    fixture as the source, only the fresh checkpoint per call makes the
    rerun replay the whole file."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for qid in ("stream_windowed_topk", "stream_watermark"):
        first = sorted(map(tuple, queries[qid](spark, SF_SMOKE).collect()))
        second = sorted(map(tuple, queries[qid](spark, SF_SMOKE).collect()))
        assert first and first == second, qid
    assert not list(tmp_path.glob("cppys_stream/events_src_*"))


def test_cached_feed_validates_fingerprint_and_swaps_atomically(tmp_path):
    """ADVICE r7 (streaming/jobs.py:146): the materialize-once feeds
    must (a) cache-hit on an unchanged fixture, (b) REBUILD when the
    fixture is regenerated in place or the marker is stale — not
    silently replay a wrong feed forever — and (c) never expose a
    half-built dir (the marker is only ever inside a fully-built dir
    that was os.rename'd into place)."""
    import os

    from census_postgres_py_spark.streaming import jobs

    builds = []

    def build(d):
        builds.append(d)
        with open(os.path.join(d, "data.csv"), "w") as f:
            f.write("1\n")

    name = "test_feed_fingerprint"
    d1 = jobs._cached_feed(name, SF_SMOKE, build)
    assert len(builds) == 1
    # the build ran in a sibling tmp dir, then got renamed into place
    assert builds[0] != d1
    fp = jobs._fixture_fingerprint(SF_SMOKE)
    with open(os.path.join(d1, "_FEED_READY")) as f:
        assert f.read().strip() == fp

    # unchanged fixture => cache hit, no rebuild
    d2 = jobs._cached_feed(name, SF_SMOKE, build)
    assert d2 == d1 and len(builds) == 1

    # stale marker (fixture regenerated in place / basename collision
    # with a different sf_dir) => rebuild, marker restored
    with open(os.path.join(d1, "_FEED_READY"), "w") as f:
        f.write("stale-fingerprint")
    d3 = jobs._cached_feed(name, SF_SMOKE, build)
    assert len(builds) == 2 and d3 == d1
    with open(os.path.join(d3, "_FEED_READY")) as f:
        assert f.read().strip() == fp
    assert os.path.exists(os.path.join(d3, "data.csv"))

    # a different sf_dir yields a different fingerprint by path alone
    alt = tmp_path / "sfalt"
    alt.mkdir()
    assert jobs._fixture_fingerprint(str(alt)) != fp

    import shutil

    shutil.rmtree(d1, ignore_errors=True)


def test_cached_feed_race_loser_verifies_winner_fingerprint(monkeypatch, tmp_path):
    """ADVICE r8 (streaming/jobs.py): when the swap rename fails (lost
    a cross-process race), the loser must NOT blindly adopt the
    winner's dir — a basename-colliding builder with a DIFFERENT
    sf_dir leaves a feed with a different fingerprint. The loser must
    re-verify the final marker and retry the build/swap until its own
    fingerprint is in place."""
    import os

    from census_postgres_py_spark.streaming import jobs

    name = "test_feed_racecheck"
    base = os.path.join(tempfile.gettempdir(), "cppys_stream")
    os.makedirs(base, exist_ok=True)
    final = os.path.join(base, name)
    shutil.rmtree(final, ignore_errors=True)
    fp = jobs._fixture_fingerprint(SF_SMOKE)

    builds = []

    def build(d):
        builds.append(d)
        with open(os.path.join(d, "data.csv"), "w") as f:
            f.write("1\n")

    real_rename = os.rename
    fail_next = {"n": 1}

    def racy_rename(src, dst):
        # Simulate losing the swap: the first tmp->final rename raises,
        # and the "winner" (a different-sf_dir builder) has already
        # installed a feed with a FOREIGN fingerprint.
        if dst == final and fail_next["n"] > 0:
            fail_next["n"] -= 1
            os.makedirs(final, exist_ok=True)
            with open(os.path.join(final, "_FEED_READY"), "w") as f:
                f.write("foreign-fingerprint")
            raise OSError("simulated lost swap race")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racy_rename)
    d = jobs._cached_feed(name, SF_SMOKE, build)
    # the loser retried (2 builds) instead of adopting the foreign feed
    assert len(builds) == 2 and d == final
    with open(os.path.join(d, "_FEED_READY")) as f:
        assert f.read().strip() == fp
    assert os.path.exists(os.path.join(d, "data.csv"))
    shutil.rmtree(final, ignore_errors=True)


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
