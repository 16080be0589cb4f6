"""Per-round benchmark — the driver's perf feedback loop (BASELINE.md).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``, writes the
full per-query timing map to ``bench_queries.json``, and prints ONE
compact JSON line (LAST line of stdout — sized to survive the
driver's tail capture, see r4 VERDICT item 1)::

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {<12 slowest>}, "sf": 0.1, "n_queries": 242,
     "n_failed": 0, "failed": [], "queries_file": "bench_queries.json"}

Execution is forced through the ``noop`` sink so we measure the full
plan (scan -> shuffle -> result) without driver-collect overhead —
the same shape a cluster job would have.

r13: after the timed pass, queries that read >3x their committed
bench_queries.json value are re-run once warm and both readings ride a
``retimes`` field (see collect_retimes) — the host stalls
intermittently and a single cold rep can read 3-10x true cost, so the
artifact now carries the evidence to adjudicate such rows. The timed
pass itself, headline_total, and the queries map are unchanged.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

# Host-state calibration (r11 VERDICT item 1). Driver bench totals
# walked 197.6 -> 283.2 -> 334.1 s across r9..r11 while warm minima of
# the same queries stayed flat-or-faster — pure host drift, and each
# close needed an afternoon of forensics to prove it. So every bench
# artifact now carries its own normalizer: three probe queries that
# have not changed since r5, warm-min of 3 reps measured immediately
# before the timed pass, against anchors pinned from the r9
# best-of-six close (commit f40e4a7 bench_queries.json — the calmest
# recorded host state). drift = median(probe/anchor); ~1.0 on a calm
# host, and the r10/r11 adjudications measured ~1.3-1.7 in the
# drifted state. tools/drift_adjudicate.py consumes these fields to
# normalize its regression thresholds.
CALIBRATION_ANCHORS = {
    "transform_bucketize": 0.186,
    "dq_dup_rate": 0.258,
    "agg_hash": 0.588,
}
#: the anchors are only meaningful under the config they were pinned
#: at; off-config runs (sf0.01 smokes, reduced-cpu sessions) still
#: emit the raw probe times but suppress the drift ratio.
CALIBRATION_CONFIG = {"sf": 0.1, "cpus": "32"}

# Representative of every operator family in SURVEY.md §2 + the
# LLM-pipeline extensions; the expensive queries are all here so a
# perf regression can't hide.
HEADLINE = [
    "join_multiway_star",
    "agg_hash",
    "join_asof",
    "join_theta_range",
    "win_rank",
    "win_running",
    "pivot_wide",
    "unpivot_long",
    "fn_text_analysis",
    "text_token_count",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "join_similarity_topk",
    "join_similarity_ann",
    "join_similarity_ivf",
    "stream_session",
    "udf_grouped_map",
    "text_tfidf",
    "agg_skew_salted",
    "pipeline_acs_e2e",
    "text_chunk_fixed",
    "pipeline_training_e2e",
    "dedup_edit_distance",
    "win_funnel_steps",
    "dedup_containment",
    "agg_tdigest",
    "agg_bitmap_distinct",
    "join_partition_pruned",
    "udf_map_in_arrow",
    "ts_resample_fill",
    "agg_histogram",
    "fn_nested_explode",
    "join_bloom_prefilter",
    "win_running_distinct",
    "dedup_keep_best",
    "sink_compact_files",
    "stream_incremental_availablenow",
    "ts_anomaly_mad",
    "agg_argmax",
    "udf_pandas_iter",
    "fn_variant_json",
    "fn_xml_parse",
    "udf_window_agg_fast",
    "cdc_apply",
    "dim_scd2",
    "join_spatial_grid",
    "text_ngram_topk",
    "scan_log_regex",
    "emb_dim_stats",
    "emb_centroid_label",
    "join_interval_bin",
    "win_moving_regression",
    "mm_audio_features",
    "fn_ip_parse",
    "win_rolling_median",
    "agg_entropy",
    "graph_pagerank_iter",
    "sample_topk_per_group",
    "pipeline_embedding_e2e",
    "snapshot_diff",
    "transform_impute_mean",
    "udf_model_score",
    "win_attribution_last_touch",
    "agg_time_to_convert",
    "agg_gini",
    "join_nearest_event",
    "udf_grouped_train",
    "fn_url_canonicalize",
    "transform_onehot",
    "win_sessionize",
    "win_streak",
    "agg_cooccurrence",
    "agg_ab_lift",
    "text_readability",
    "dedup_prefix_cluster",
    "win_ema",
    "emb_label_confusion",
    "emb_outlier_topk",
    "agg_heavy_hitters",
    "dq_fk_orphans",
    "transform_bucketize",
    "agg_zorder_cells",
    "mm_phash_dedup",
    "join_point_in_time",
    "join_range_dim",
    "agg_weighted_percentile",
    "sink_csv_escaped",
    "pipeline_warehouse_e2e",
    "agg_count_min_sketch",
    "win_rolling_zscore",
    "transform_minmax_scale",
    "fn_row_checksum",
    "dq_dup_rate",
    "stream_sessionize_state",
    "agg_markov_transitions",
    "win_time_since_last",
    "agg_overlap_matrix",
    "agg_basket_lift",
    "dedup_incremental",
    "emb_quantize_int8",
    "agg_churn_weekly",
    "agg_seasonality",
    "win_period_growth",
    "dq_skew_report",
    "text_chunk_stride",
    "fn_unicode_slug",
    "emb_pca_power",
    "transform_ffill",
    "agg_cohort_ltv",
    "emb_silhouette_approx",
    "agg_funnel_bounded",
    "agg_rfm_segments",
    "agg_benford",
    "agg_pareto_share",
    "agg_new_vs_returning",
    "ts_forecast_naive",
    "agg_state_merge",
    "win_peak_detection",
    "agg_interpurchase_gap",
    "text_pack_sequences",
    "stream_windowed_topk",
    "agg_chisq_independence",
    "text_vocab_growth",
    "agg_survival_curve",
    "join_mutual_topk",
    "win_drawdown",
    "transform_robust_scale",
    "fn_fiscal_445",
    "ts_decompose_daily",
    "sink_dynamic_partition_overwrite",
    "dedup_record_linkage",
    "text_js_divergence",
    "scan_file_metadata",
    "join_bridge_allocation",
    "agg_path_signatures",
    "transform_mask_deterministic",
    "transform_target_encode_loo",
    "win_rank_delta",
    "dedup_source_mirror",
    "dq_sequence_gaps",
    "agg_order_aging",
    "ts_autocorr",
    "ts_cusum_changepoint",
    "win_vwap",
    "hier_flatten",
    "graph_triangle_count",
    "graph_degree_hist",
    "text_bm25",
    "text_pmi_bigrams",
    "text_zipf_slope",
    "dq_outlier_iqr",
    "sample_weighted",
    "win_bollinger",
    "join_skyline",
    "ts_active_intervals",
    "emb_truncation_quality",
    "agg_growth_accounting",
    "agg_trimmed_mean",
    "join_nearest_facility",
    "agg_ks_statistic",
    "agg_decile_lift",
    "win_rolling_corr",
    "agg_auc_roc",
    "fn_luhn_checksum",
    "dq_uniqueness_profile",
    "ts_periodogram",
    "transform_winsorize",
    "hier_rollup_spend",
    "agg_adstock",
    "agg_rolling_active_users",
    "fn_workdays_between",
    "agg_eb_smoothed_rate",
    "agg_mann_kendall",
    "transform_rare_collapse",
    "win_ohlc_candles",
    "emb_dedup_sweep",
    "pipeline_manifest_prune_e2e",
    "win_rsi",
    "text_feature_hashing",
    "agg_dormancy_states",
    "win_attribution_position",
    "agg_lorenz_points",
    "dq_fk_inference",
    "pipeline_feature_store_e2e",
    "dq_temporal_consistency",
    "agg_overdispersion",
    "agg_sprt_decision",
    "emb_centroid_drift",
    "join_bipartite_projection",
    "text_prefix_autocomplete",
    "dedup_tfidf_cosine",
    "dq_coverage_matrix",
    "agg_price_index_laspeyres",
    "ts_backlog_value",
    "agg_seasonal_strength",
    "agg_gumbel_maxima",
    "agg_stickiness_ratio",
    "text_ngram_novelty",
    "agg_calibration_error",
    "fn_float32_precision_audit",
    "join_complement_rank",
    "agg_bcg_matrix",
    "agg_abc_xyz",
    "fn_tax_brackets",
    "join_fifo_matching",
    "text_burstiness",
    "agg_price_elasticity",
    "agg_pvm_bridge",
    "fn_consistent_sampling",
    "sample_balanced_classes",
    "dq_checksum_reconciliation",
    "dim_golden_record",
    "agg_retention_fit",
    "agg_reach_frequency",
    "join_returns_impact",
    "agg_anova_weekday",
    "text_perplexity_filter",
    "dq_distribution_psi",
    "ts_twab_monthly",
    "agg_hhi_concentration",
    "win_rolling_geomean",
    "dq_denormalized_field_audit",
    "agg_did_estimate",
    "agg_simpson_flip",
    "dq_header_detail_reconcile",
    "agg_interval_union_days",
    "agg_mutual_information",
    "win_tail_ratio",
    "agg_error_budget_burn",
    "fn_geo_destination",
    "dq_attribute_conflicts",
    "transform_quantile_normalize",
    "agg_covariance_matrix",
    "agg_cohens_d",
    "agg_spc_rules",
    "fn_uuid3_mint",
    "join_apportion_capacity",
    "agg_pareto_crosspoint",
    "agg_moods_median_test",
    "dq_benford_second_digit",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from census_postgres_py_spark.session import get_spark

    spark = get_spark("census-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def run(qid: str) -> float:
        t0 = time.perf_counter()
        qs[qid](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return round(time.perf_counter() - t0, 3)

    # Warm up before timing: JVM/codegen (join_multiway_star) AND the
    # Python/Arrow worker pool (udf_grouped_map) — daemon worker
    # fork/spawn otherwise lands on whichever pandas-UDF query runs
    # first and added up to 1.3 s of machine-load-dependent variance to
    # it (r2 driver bench: udf_grouped_map 4.24 s vs 2.95 s anchor).
    run("join_multiway_star")
    run("udf_grouped_map")

    calib = run_calibration(run)
    on_config = (
        sf == CALIBRATION_CONFIG["sf"] and cpus == CALIBRATION_CONFIG["cpus"]
    )

    # Previous committed per-query map, read BEFORE this run overwrites
    # it — the reference the stall re-time pass compares against.
    here = os.path.dirname(os.path.abspath(__file__))
    prev_queries: dict[str, float] = {}
    try:
        with open(os.path.join(here, "bench_queries.json")) as fh:
            prev_rec = json.load(fh)
        if prev_rec.get("sf") == sf:  # cross-SF times are incomparable
            prev_queries = prev_rec.get("queries", {})
    except Exception:  # noqa: BLE001 — missing/corrupt map: no retimes
        prev_queries = {}

    times: dict[str, float] = {}
    for qid in HEADLINE:
        if qid not in qs:
            times[qid] = -1.0
            continue
        try:
            times[qid] = run(qid)
        except Exception as exc:  # noqa: BLE001 — bench must always emit JSON
            print(f"bench: {qid} failed: {exc}", file=sys.stderr)
            times[qid] = -1.0

    retimes = collect_retimes(run, times, prev_queries)

    # The full per-query map (242 entries, ~6 KB) overflowed the
    # driver's tail capture in round 4 (BENCH_r04.json "parsed": null),
    # losing the round's official perf record. Per the r4 VERDICT
    # (item 1): write the complete map to bench_queries.json (committed
    # per round) and keep the driver-parsed LAST line compact — total,
    # sf, and only the slowest queries (where regressions live).
    with open(os.path.join(here, "bench_queries.json"), "w") as fh:
        json.dump(
            full_record(times, sf, calib, on_config, retimes),
            fh,
            indent=1,
            sort_keys=True,
        )
    print(compact_line(times, sf, calib, on_config, retimes))
    return 0


#: Stall re-time pass (r12 VERDICT item 6): a single cold rep on this
#: host can read 3-10x its true value (mm_phash 9.8 s vs the same
#: driver's 2.3 s minutes later), producing false "regressed" rows.
#: After the timed loop, any query that read > RETIME_FACTOR x its
#: committed bench_queries.json value (and above an absolute floor, so
#: sub-second scheduling blips don't qualify) is re-run once WARM and
#: BOTH readings are reported in a `retimes` field. Additions-only:
#: headline_total and the queries map keep the original readings.
RETIME_FACTOR = 3.0
RETIME_FLOOR_SEC = 1.0
RETIME_MAX = 8


def collect_retimes(
    run, times: dict, prev_queries: dict
) -> dict[str, list[float]]:
    suspects = [
        q
        for q, v in times.items()
        if v >= RETIME_FLOOR_SEC
        and prev_queries.get(q, -1.0) > 0
        and v > RETIME_FACTOR * prev_queries[q]
    ]
    suspects.sort(key=lambda q: -times[q])
    out: dict[str, list[float]] = {}
    for q in suspects[:RETIME_MAX]:
        try:
            out[q] = [times[q], run(q)]
        except Exception as exc:  # noqa: BLE001 — bench must always emit JSON
            print(f"bench: retime {q} failed: {exc}", file=sys.stderr)
            out[q] = [times[q], -1.0]
    return out


def run_calibration(run, reps: int = 3) -> dict[str, float]:
    """Warm-min of ``reps`` for each pinned probe (first rep doubles as
    that query's own warm-up). Probes run AFTER the JVM/Arrow warm-ups
    and BEFORE the timed pass, so they measure the host state the pass
    is about to experience. A probe failure records -1 and drops out of
    the drift median rather than killing the bench."""
    calib: dict[str, float] = {}
    for qid in CALIBRATION_ANCHORS:
        try:
            calib[qid] = min(run(qid) for _ in range(reps))
        except Exception as exc:  # noqa: BLE001 — bench must always emit JSON
            print(f"bench: calibration {qid} failed: {exc}", file=sys.stderr)
            calib[qid] = -1.0
    return calib


def drift_factor(calib: dict | None) -> float | None:
    """median(probe/anchor) over the probes that ran; None when no
    probe succeeded (or calibration was skipped)."""
    if not calib:
        return None
    rs = [
        calib[q] / a
        for q, a in CALIBRATION_ANCHORS.items()
        if calib.get(q, -1.0) > 0
    ]
    return round(statistics.median(rs), 3) if rs else None


def _calib_fields(calib: dict | None, on_config: bool = True) -> dict:
    if calib is None:
        return {}
    return {
        "calib": calib,
        "calib_anchors": CALIBRATION_ANCHORS,
        # drift is only meaningful under the anchor config (sf0.1,
        # local[32]); off-config runs keep the raw probes but emit
        # null so nothing downstream normalizes by a bogus ratio
        "drift": drift_factor(calib) if on_config else None,
    }


def full_record(
    times: dict,
    sf,
    calib: dict | None = None,
    on_config: bool = True,
    retimes: dict | None = None,
) -> dict:
    total = round(sum(v for v in times.values() if v >= 0), 3)
    return {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "queries": times,
        **_calib_fields(calib, on_config),
        **({"retimes": retimes} if retimes else {}),
    }


def compact_line(
    times: dict,
    sf,
    calib: dict | None = None,
    on_config: bool = True,
    retimes: dict | None = None,
) -> str:
    """The driver-parsed stdout line. MUST stay small: the driver tail-
    captures stdout, and a >~4 KB line is what lost BENCH_r04
    (tests/test_bench_contract.py pins the budget)."""
    total = round(sum(v for v in times.values() if v >= 0), 3)
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:12])
    failed = sorted(q for q, v in times.items() if v < 0)
    return json.dumps(
        {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": slowest,
            "sf": sf,
            "n_queries": len(times),
            "n_failed": len(failed),
            "failed": failed[:10],
            "queries_file": "bench_queries.json",
            **_calib_fields(calib, on_config),
            **({"retimes": retimes} if retimes else {}),
        }
    )


if __name__ == "__main__":
    raise SystemExit(main())
