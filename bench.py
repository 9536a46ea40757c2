#!/usr/bin/env python
"""Benchmark: headline engine queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query materializes fully through the noop sink (no driver collect cost,
no skipped projections).

Full-suite flagging (scripts/bench_full.py): the slow-query flag threshold
is calibration-scaled since r10 — FLAG_BASE_SEC (5 s) × max(1, jvm_sum /
0.33 s reference) — so a slow VM inflates the bar instead of false-flagging
a correct plan (r9: w1_personal_best_applyinpandas at 5.22 s on a session
whose calib ran 35% slow). A fast VM never lowers it below the base.

Drift diagnosis (r7 lesson): when a round's numbers look uniformly inflated,
re-run A/B against the previous round's code in the SAME warm process —
warm A/B is the diagnostic; the calibration ratio (jvm_sum / scan) alone
UNDER-explains VM drift, so a calib-normalized comparison can still chase
phantom regressions. An idle-VM re-run resolved r7's 424 s -> 252 s
full-suite artifact.

Cache-dependent per-query times (r8 shared-cache roster, CLAUDE.md): these
HEADLINE queries' individual numbers depend on SUITE ORDER because an
earlier query may have warmed a shared (session, sf_dir) cache — read
their per-query movers against that, not as algorithmic changes (the
suite TOTAL is always honest):

  query                 warmed by / shared frame
  --------------------  -------------------------------------------------
  dedup_minhash_verified pays the warming cost for the pair-list +
                         shingle caches the queries below reuse
  dedup_minhash_lsh      MinHash candidate pair list (its own cache entry)
  dedup_clusters         same pair list
  dedup_ngram_jaccard    distinct-shingles frame (dedup.shingle_keys_frame)
  text_lang_id_confusion pinned confusion matrix (its own cache entry, r9;
                         warms text_lang_id_macro_f1 in the full suite)

In the FULL suite the trigram/hashed-score/survivors caches make the
text_lm_surprisal, quality_perplexity_buckets, scoring, and bias-audit
families order-dependent the same way (SCALE.md "cache roster").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
from f1_lakehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship medallion shape, TPC-H-style scan/join/agg,
# windows/sessionization, and the training-data pipeline (dedup, ANN, text).
HEADLINE = [
    "flagship_supplier_summary",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "join_star_broadcast",
    "join_asof_latest_order",
    "a7_median_curve",
    "w_sessionize_events",
    "w_running_total",
    "q10_returned_items",
    "q18_large_volume_customers",
    "skew_salted_aggregate",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_simhash",
    "dedup_clusters",
    "ann_cosine_topk_bruteforce",
    "ann_cosine_topk_lsh",
    "ann_ivf_centroid_probe",
    "text_quality_score",
    "text_lang_id_confusion",
    "mm_binary_decode_meta",
]

# Round-2 additions, timed separately so "value" (headline total) stays
# comparable across rounds; reported under "extended" in the same JSON line.
EXTENDED = [
    "hll_register_sketch_exact",
    "orders_kaplan_meier_fulfillment",
    "stats_bootstrap_ci_poisson",
    "ann_matryoshka_prefix_recall",
    "events_ewma_anomaly",
    "lineitem_benford_audit",
    "orders_cohort_ltv",
    "orders_seasonal_decompose",
    "orders_holt_forecast",
    "events_viterbi_journeys",
    "events_shapley_attribution",
    "ann_reciprocal_rank_fusion",
    "part_abc_xyz_matrix",
    "orders_haar_wavelet",
    "events_markov_absorption",
    "text_rouge_l_candidates",
    "stats_jackknife_variance",
    "filtering_bias_audit",
    "scoring_conformal_interval",
    "scoring_auc_mann_whitney",
    "orders_holt_backtest",
    "curation_neyman_allocation",
    "events_binary_segmentation",
    "events_ab_srm_guard",
    "supplier_revenue_gini",
    "text_rake_keyphrases",
    "scoring_decile_lift",
    "lineitem_unit_value_index",
    "dedup_embedding_cosine",
    "dedup_edit_distance",
    "ann_lsh_materialized",
    "ann_knn_self_join",
    "decontam_ngram_overlap",
    "quality_gopher_repetition",
    "pii_scrub_redact",
    "events_ks_two_sample",
    "events_welch_ttest",
    "events_permutation_test",
    "orders_quantile_sketch_contract",
    "supplier_mad_outliers",
    "scoring_propensity_nn_att",
    "orders_spc_control_chart",
    "orders_acf_ljung_box",
    "scoring_cohens_kappa",
    "events_ips_offpolicy",
    "mm_phash_radius_search",
    "supplier_eb_rate_shrinkage",
    "events_poststratified_lift",
    "nation_grouped_quantile_sketch",
    "events_mde_power_analysis",
    "orders_interrupted_time_series",
    "orders_cpk_capability",
    "curation_train_val_test_split",
    "curation_pack_sequences",
    "curation_domain_mixture",
    "mm_frame_sample",
    "mm_feature_extract",
    "events_multires_rollup",
    "grouping_sets_mixed",
    "json_roundtrip_events",
    "dedup_incremental_minhash",
    "curation_priority_sample",
    "curation_global_shuffle_shard",
    "ann_lsh_recall",
    "pipeline_corpus_survivors",
    "text_vocab_coverage",
    "text_bpe_merges",
    "text_bpe_encode",
    "events_anomaly_zscore",
    "ann_pq_adc_topk",
    "dedup_substring_exact",
    "semdedup_cluster_prune",
    "join_minmax_prefilter",
    "ann_pq_rerank",
    "ann_lsh_multiprobe",
    "dedup_lsh_candidate_recall",
    "corpus_source_overlap",
    "variant_events_extract",
    "cms_heavy_hitters",
    "maparrow_token_stats",
    "xml_roundtrip_events",
    "w_percentrank_cumedist",
    "events_sliding_window",
    "dedup_jaccard_prefix_filter",
    "dedup_sorted_neighborhood",
    "bloom_prefilter_stats",
    "w_topk_per_group_limit",
    "skyline_price_size",
    "ann_mips_norm_augment",
    "dedup_containment",
    "join_asof_nearest_order",
    "ann_hard_negatives",
    "a14_mode_argmax",
    "w_session_window_native",
    "join_full_outer_reconcile",
    "events_date_spine_ffill",
    "o6_pagination_offset",
    "events_last_touch_attribution",
    "text_phrase_search_postings",
    # round-3 additions
    "text_ngram_novelty",
    "ann_range_search",
    "events_gaps_islands",
    "events_rolling_distinct_users",
    "embedding_top_pc_power_iter",
    "embedding_dim_moments",
    "pareto_abc_parts",
    "weighted_percentile_price",
    "orders_market_basket",
    "curation_greedy_coverage",
    "events_ab_test_lift",
    "events_cusum_changepoint",
    "nation_revenue_hhi",
    "events_spine_linear_interp",
    "dedup_rate_by_source",
    "embedding_drift_centroid_shift",
    "events_peak_concurrency",
    "dedup_snm_multipass",
    # round-3 second batch
    "dsir_importance_weights",
    "dsir_resample",
    "quality_perplexity_buckets",
    "embedding_mahalanobis_outliers",
    "ann_ivf_pq",
    "curation_kcenter_diversity",
    "orders_rfm_segmentation",
    "regression_nation_trend",
    "events_time_decay_engagement",
    "join_asof_tolerance",
    "pipeline_training_data_card",
    "events_late_data_audit",
    "text_source_drift_chi2",
    "text_bigram_pmi_top",
    "mm_payload_cdc_chunks",
    "dedup_minhash_band_curve",
    "ann_ivf_nprobe_sweep",
    "events_dau_wau_stickiness",
    "embedding_top2_pc_deflation",
    "supplier_return_rate_wilson",
    # round-3 third batch
    "ann_ivfpq_recall",
    "events_bot_heuristic",
    "curation_minority_oversample",
    "text_intradoc_span_dedup",
    "embedding_pairwise_sim_hist",
    "curation_epoch_repeat_schedule",
    "decontam_provenance",
    "curation_cluster_safe_split",
    "dedup_best_representative",
    "events_cuped_adjusted_lift",
    # round-4 additions: F1 parity adapters (the dashboard/model functions
    # over the documented lineitem/orders mapping)
    "f1_driver_session_summary",
    "f1_team_event_summary",
    "f1_fastest_laps",
    "f1_weather_pace_join",
    # round-4 additions: pipeline operators
    "dedup_corpus_lines",
    "text_repetition_loop_detect",
    "scoring_hashed_linear_quality",
    "curation_doremi_reweight",
    "ann_batch_query_topk",
    "embedding_knn_ood_score",
    # round-5 additions
    "orders_theil_sen_trend",
    "orders_mann_kendall_trend",
    "lineitem_fisher_price_index",
    "orders_nelson_aalen_hazard",
    "supplier_lorenz_curve",
    "events_winsorized_lift",
    "events_bh_fdr_segments",
    "orders_croston_intermittent",
    "scoring_isotonic_calibration",
    "docs_confident_learning_prune",
    "embedding_knn_shapley",
    "mm_phash_hadamard_neardup",
    "lineitem_mean_excess_evt",
    "orders_spearman_price_volume",
    "text_vocab_growth_curve",
    "text_mattr_lexical_diversity",
    "events_qini_uplift_curve",
    "orders_runs_test",
    "supplier_revenue_anova",
    "scoring_brier_decomposition",
    "text_hellinger_source_drift",
    "approx_sketches",
    "hll_mergeable_distinct",
    "graph_triangle_count",
    "text_token_burstiness",
    "part_bom_subtree_rollup",
    "orders_hier_forecast_reconcile",
    "events_position_attribution",
    "events_did_lift",
    "orders_median_ci",
    "supplier_cr_concentration",
]

# Bench breadth freeze (r3 verdict item 8): the extended suite passed 100
# queries, where single-run noise on the shared VM starts to swamp
# round-over-round signal and inflates the driver's bench wall-time. The
# printed JSON line (what the driver records as BENCH_r{N}) is now the
# STABLE headline only — comparable one-to-one across rounds — and the
# extended sweep runs only when explicitly requested; its full detail is
# committed in BENCH_LOCAL.json each round.
EXTENDED_ENABLED = os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "0") == "1"

# r6 verdict item 5: the three headline queries whose plans were rewritten
# for scale in r6 (de-hinting + plan-visible probe bounds) moved >1.2x in
# the r6 snapshot. Record ALL run times (not just best-of) for these so
# BENCH_LOCAL carries the per-query variance needed to tell VM noise from
# a structural scale-for-bench tradeoff.
VARIANCE_WATCH = [
    "ann_cosine_topk_bruteforce",
    "ann_cosine_topk_lsh",
    "skew_salted_aggregate",
]


def main() -> None:
    _ensure_loaded()
    spark = get_spark(app_name="f1_lakehouse_spark_bench")
    # Warm the JVM: codegen, parquet reader, shuffle and noop-sink paths —
    # otherwise the first timed query absorbs several seconds of startup.
    from f1_lakehouse_spark.tables import load_table

    warm = load_table(spark, SF_DIR, "lineitem")
    warm.groupBy("l_returnflag").count().write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(1000).selectExpr("sum(id)").collect()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    # Machine-speed calibration: two fixed reference ops, timed WARM (after
    # the warmup block above). Query times only compare across rounds after
    # dividing by the calibration — the shared VM's throughput swings >2×
    # between rounds (r2 measured: warm range-sum 0.59 s vs 4.2 s cold, and
    # repeated identical q1 runs spanning 2.8–15 s on an idle machine).
    def _calibrate() -> dict[str, float]:
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        jvm_sum = time.perf_counter() - t0
        t0 = time.perf_counter()
        load_table(spark, SF_DIR, "lineitem").count()
        scan_count = time.perf_counter() - t0
        return {"jvm_sum_100m_sec": round(jvm_sum, 3), "lineitem_count_sec": round(scan_count, 3)}

    calib = _calibrate()

    def timed_runs(name: str, n: int) -> list[float]:
        """The ONE measurement protocol: full materialization through the
        noop sink, n wall-clock samples."""
        fn = REGISTRY[name].fn
        out = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            out.append(round(time.perf_counter() - t0, 3))
        return out

    def time_set(names: list[str]) -> dict[str, float]:
        # best-of-N: single-run numbers on a shared VM swing ±50% (GC/JIT)
        return {name: min(timed_runs(name, runs)) for name in names}

    times = time_set(HEADLINE)
    extended = time_set(EXTENDED) if EXTENDED_ENABLED else None
    variance = (
        # all-runs timing for the r6 structural movers, same protocol
        {name: timed_runs(name, 5) for name in VARIANCE_WATCH}
        if EXTENDED_ENABLED
        else None
    )
    total = round(sum(times.values()), 3)
    payload = {
        "metric": "headline_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "calib": calib,
        "sf": float(sf),
    }
    if extended is not None:
        payload["extended"] = extended
    if variance is not None:
        payload["variance_watch_runs"] = variance
    # The driver tail-captures stdout; r2's stored line was truncated by
    # post-print JVM shutdown noise + line length. Defend both ways:
    # full payload to a file, then stop Spark BEFORE printing so the JSON
    # line is the absolute last stdout output (extended detail lives in the
    # file to keep the printed line comfortably inside any tail window).
    # Extended detail only overwrites the committed BENCH_LOCAL.json when the
    # extended sweep actually ran (headline-only runs would clobber it).
    if extended is not None:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"), "w") as f:
            json.dump(payload, f, indent=1)
    spark.stop()
    line = dict(payload)
    if extended is not None:
        line["extended_total_sec"] = round(sum(extended.values()), 3)
        del line["extended"]
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
