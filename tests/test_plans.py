"""Physical-plan assertions — the 100 TB mandate made checkable: a
filter that doesn't reach the parquet scan, a dim join that doesn't
broadcast, or an all-pairs nested loop in a dedup path would each be
invisible at sf0.001 and fatal at scale, so the suite pins the plan
shape itself (referenced by operators/scans.py's docstring)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


from census_postgres_py_spark.plans import (
    executed_plan as _plan,
    optimized_plan as _optimized,
)


def test_filter_pred_pushes_down_to_scan(spark, queries):
    plan = _plan(queries["filter_pred"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    # at least one predicate actually pushed, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "filter_pred pushed no predicates to parquet"


def test_scan_parquet_prunes_columns(spark, queries):
    plan = _plan(queries["scan_parquet"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # the query projects 3 columns; the scan must not read all 16
    assert read_schema.count(",") <= 3, read_schema


def test_join_broadcast_is_broadcast(spark, queries):
    assert "BroadcastHashJoin" in _plan(queries["join_broadcast"](spark, SF_SMOKE))


def test_star_join_broadcasts_dims(spark, queries):
    plan = _plan(queries["join_multiway_star"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "qid",
    ["dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
     "dedup_embedding_cosine", "join_similarity_ann", "join_similarity_ivf"],
)
def test_no_all_pairs_join_in_candidate_paths(spark, queries, qid):
    """Every near-dup/ANN operator must generate candidates via an
    equi-join (hash/merge), never a cartesian or broadcast
    nested-loop over the full table."""
    plan = _plan(queries[qid](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, qid
    assert "BroadcastNestedLoopJoin" not in plan, qid


def test_partition_pruning_on_partitioned_sink(
    spark, queries, monkeypatch, tmp_path
):
    """A year-filtered read of the partitioned sink must prune at the
    partition level (PartitionFilters), not scan-and-filter."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    queries["sink_parquet"](spark, SF_SMOKE).collect()  # materialize sink
    [path] = map(str, tmp_path.glob("cppys_call/orders_by_year-*"))
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = _plan(df)
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_year" in pf, plan


def test_copartitioned_join_reuses_shuffles(spark, queries):
    """join_copartitioned's whole point: 2 repartition exchanges and
    then join + same-key groupBy with no additional exchange."""
    df = queries["join_copartitioned"](spark, SF_SMOKE)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 2, final
    assert "SortMergeJoin" in final
    assert "BroadcastHashJoin" not in final


def test_whole_stage_codegen_covers_agg(spark, queries):
    df = queries["agg_hash"](spark, SF_SMOKE)
    df.collect()  # AQE finalizes (and codegens) the plan on execution
    plan = _plan(df)
    # "*(n)" prefixes are WholeStageCodegen stages in plan toString
    assert "*(" in plan, plan


def test_sample_filter_is_shuffle_free(spark, queries):
    """Hash sampling must be a pure filter over the scan — a shuffle
    (or RNG-based sample node) would break its determinism story."""
    plan = _plan(queries["sample_hash_stratified"](spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "Sample" not in plan  # no RNG sample operator


def test_chunking_is_shuffle_free(spark, queries):
    plan = _plan(queries["text_chunk_fixed"](spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "Generate" in plan  # sequence+explode row expansion


def test_stats_exact_is_one_combinable_shuffle(spark, queries):
    """Sufficient-statistic moments: exactly one Exchange (the group
    shuffle), with a partial_ aggregate before it (map-side combine of
    the decimal sums)."""
    plan = _plan(queries["agg_stats_exact"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan


def test_training_pipeline_shuffle_budget(spark, queries):
    """The composed pipeline earns at most 3 hash shuffles: fingerprint
    dedup groupBy, the kept-ids join, and the final shard agg. More
    would mean a stage lost its pipelining."""
    plan = _plan(queries["pipeline_training_e2e"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_skew_salted_join_shuffles_on_salt(spark, queries):
    """The salted join must be a SHUFFLE join keyed on (custkey, salt)
    — a broadcast would mean no reduce-side skew existed to fix."""
    plan = _plan(queries["join_skew_salted"](spark, SF_SMOKE))
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan.split("HashAggregate")[0]
    join_line = next(
        ln for ln in plan.splitlines()
        if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln
    )
    assert "salt" in join_line, join_line


def test_bucketed_join_no_input_exchange(spark, queries):
    """Bucketed tables joined on the bucket key must NOT shuffle the
    join inputs — the write-time bucketing already co-located them.
    The only allowed Exchange is the final groupBy's."""
    plan = _plan(queries["sink_bucketed"](spark, SF_SMOKE))
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bucketed_sink_leaves_the_catalog_unchanged(spark, queries):
    """sink_bucketed drops its two bucketed tables once ``spark.table``
    has resolved them: the caller's catalog ends the call as it began,
    and the result still reads the bucketed files (rows, and the
    shuffle-free SortMergeJoin of the test above)."""
    before = {tb.name for tb in spark.catalog.listTables()}
    df = queries["sink_bucketed"](spark, SF_SMOKE)
    after = {tb.name for tb in spark.catalog.listTables()}
    assert after <= before and not {n for n in after if n.startswith("cppys_")}
    plan = _plan(df)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert df.count() > 0


def test_dynamic_partition_pruning_fires(spark, queries):
    """join_partition_pruned's whole point: the fact scan's
    PartitionFilters must carry a runtime dynamicpruningexpression
    (2 of 7 year partitions read), not a full scan."""
    df = queries["join_partition_pruned"](spark, SF_SMOKE)
    plan = _plan(df)
    fact_scan = [
        line
        for line in plan.split("\n")
        if "PartitionFilters" in line and "o_year" in line
    ]
    assert fact_scan, plan
    assert any("dynamicpruning" in line.lower() for line in fact_scan), plan


def test_triangle_adjacency_broadcast_gate_both_modes(
    spark, queries, monkeypatch
):
    """graph_triangle_count's adjacency broadcast is gated on an O(1)
    footer estimate of |E| vs ext_round4n._ADJ_BROADCAST_MAX_EDGES
    (r6 VERDICT item 2: an ungated F.broadcast of a table that grows
    with E is a cluster-killer past executor memory). autoBroadcast is
    forced off so the physical plan reflects the GATE's decision, not
    the planner's tiny-fixture size estimates: gate open → the hint
    plans both adjacency attachments as BroadcastHashJoin anyway; gate
    closed (cap 0) → both become shuffled joins, no nested-loop
    fallback, and the answer is bit-identical."""
    from census_postgres_py_spark.operators import ext_round4n

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = queries["graph_triangle_count"](spark, SF_SMOKE)
        plan_hinted = _plan(hinted)
        assert plan_hinted.count("BroadcastHashJoin") >= 2, plan_hinted

        monkeypatch.setattr(ext_round4n, "_ADJ_BROADCAST_MAX_EDGES", 0)
        shuffled = queries["graph_triangle_count"](spark, SF_SMOKE)
        plan_shuffled = _plan(shuffled)
        assert "BroadcastHashJoin" not in plan_shuffled, plan_shuffled
        assert "BroadcastNestedLoopJoin" not in plan_shuffled
        assert "CartesianProduct" not in plan_shuffled
        assert (
            plan_shuffled.count("SortMergeJoin")
            + plan_shuffled.count("ShuffledHashJoin")
            >= 2
        ), plan_shuffled
        assert sorted(map(tuple, hinted.collect())) == sorted(
            map(tuple, shuffled.collect())
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


@pytest.mark.parametrize(
    "qid",
    ["win_share_of_total", "agg_topn_others", "join_multiway_star"],
)
def test_dim_broadcast_gate_both_modes(spark, queries, qid, monkeypatch):
    """Every broadcast hint on a frame derived from a SCALE-GROWING
    table (part/customer/filtered orders) goes through
    tables.gated_broadcast: at fixture scale the hint plans a
    BroadcastHashJoin; with tables._BROADCAST_DIM_MAX_ROWS patched to
    0 (simulating a 100 TB table) the hint is dropped and the join
    degrades to a shuffled strategy — never a nested-loop — with a
    bit-identical answer. Fixed-cardinality dims (region/nation) keep
    their unconditional hints, so the star join still shows ≥1
    BroadcastHashJoin even with the gate closed."""
    from census_postgres_py_spark import tables

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = queries[qid](spark, SF_SMOKE)
        plan_hinted = _plan(hinted)
        assert "BroadcastHashJoin" in plan_hinted, plan_hinted

        monkeypatch.setattr(tables, "_BROADCAST_DIM_MAX_ROWS", 0)
        shuffled = queries[qid](spark, SF_SMOKE)
        plan_shuffled = _plan(shuffled)
        assert "BroadcastNestedLoopJoin" not in plan_shuffled
        assert "CartesianProduct" not in plan_shuffled
        assert (
            plan_shuffled.count("SortMergeJoin")
            + plan_shuffled.count("ShuffledHashJoin")
            >= 1
        ), plan_shuffled
        if qid == "join_multiway_star":
            # region/nation are NOT gated — their hints must survive,
            # while the gated dims' hints are gone
            assert "BroadcastHashJoin" in plan_shuffled, plan_shuffled
            assert plan_shuffled.count("BroadcastHashJoin") < (
                plan_hinted.count("BroadcastHashJoin")
            ), plan_shuffled
        else:
            assert "BroadcastHashJoin" not in plan_shuffled, plan_shuffled
        assert sorted(map(tuple, hinted.collect())) == sorted(
            map(tuple, shuffled.collect())
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_null_safe_join_stays_hash_join(spark, queries):
    """eqNullSafe must remain an equi hash-join key - a fallback to
    BroadcastNestedLoopJoin would be quadratic at scale."""
    plan = _plan(queries["join_null_safe"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_window_agg_fast_is_single_shuffle_no_window(spark, queries):
    """The vectorized twin must be one hash shuffle + partition-local
    sort + MapInPandas — no WindowExec (that's the slow surface it
    replaces) and no per-group re-entry."""
    df = queries["udf_window_agg_fast"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_window_agg_fast_matches_per_frame_surface(spark, queries):
    """Same oracle, same values: the batch-streaming kernel must agree
    with the per-frame pandas-UDAF surface row for row."""
    slow = {
        (r.o_custkey, r.o_orderkey): r.w_run
        for r in queries["udf_window_agg"](spark, SF_SMOKE).collect()
    }
    fast = {
        (r.o_custkey, r.o_orderkey): r.w_run
        for r in queries["udf_window_agg_fast"](spark, SF_SMOKE).collect()
    }
    assert slow == fast


@pytest.mark.parametrize(
    "qid, n_pins",
    [
        ("udf_grouped_map", 1),
        ("udf_grouped_train", 1),
        ("pipeline_embedding_e2e", 2),
        ("dedup_tfidf_cosine", 2),
        ("agg_cooccurrence", 1),
        ("join_apportion_capacity", 1),
        ("ts_resample_fill", 1),
        ("agg_tdigest", 2),
    ],
)
def test_parallelism_pins_survive_in_plan(spark, queries, qid, n_pins):
    """The AQE-coalesce single-task disease (BASELINE.md r6
    continuation): byte-compact shuffle outputs coalesce to 1-2
    partitions and the downstream fan-out (pair join, explode,
    per-group Python kernel) serializes into one task — answers stay
    exact, wall time goes bimodal. The fix is an explicit repartition
    on the downstream keys; user repartitions surface as
    REPARTITION_BY_NUM exchanges and are exempt from coalescing, so
    their presence in the executed plan IS the regression guard."""
    plan = _plan(queries[qid](spark, SF_SMOKE))
    assert plan.count("REPARTITION_BY_NUM") >= n_pins, qid
