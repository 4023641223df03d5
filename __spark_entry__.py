"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship WordCount-parity pipeline (the reference's
one example job, ``WordCount.java:28-32``) on sf0.001. ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 via the
registry in ``flink_emqx_connector_spark.plans``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine session confs on a driver-provided session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # NOTE: spark.sql.codegen.cache.maxEntries is a STATIC conf — it can
    # only help sessions built by session.py:get_spark (bench, tests); a
    # driver-provided session keeps the 100-entry default and re-pays
    # whole-stage-codegen when a long query sequence evicts wide plans.
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from flink_emqx_connector_spark.plans import QUERIES

    _configure(spark)
    return QUERIES["wordcount"].spark(spark, "/root/testdata/sf0.001")


# Latest round in which each query got a green driver CORRECTNESS record.
# The driver records the first 50 ``queries()`` entries per round; ordering
# below puts never-recorded names first, then the STALEST records (lowest
# round), so the 50-entry window both covers new work and continuously
# re-verifies the oldest records as rounds accumulate. Local `plans.check`
# covers the full registry every round regardless.
#
# Maintenance rules (learned rounds 3-8):
#  * after each round, regenerate from CORRECTNESS_r0*.json (a green record
#    updates the name's round; an errored record DELETES the entry so the
#    driver replaces it);
#  * DELETE a name whose implementation materially changed this round (so
#    the driver re-verifies the new plan, not the old record);
#  * approx_aggregates is rows-only by design (round 4 record) — its
#    bounded-error contract is gate-enforced locally (plans/check.py).
# tests/test_survey_consistency.py asserts the literal is duplicate-free
# and registry-known (the 40596e4 bug class).
_DRIVER_RECORDED = {
        # materialization-rule deletions (re-record-on-change): the plans
        # that changed when every checkpoint moved into materialize.py.
        # dedup_simhash and dedup_simhash_hamming fingerprint the corpus
        # per query now (the cross-query cache is gone), and
        # dedup_simhash's final plan runs the UDF scan; the minhash
        # signature plan and the dfcap shingle rows tokenize once, after
        # the repartition (dedup_minhash_lsh, dedup_lsh_recall_eval,
        # dedup_method_agreement and dedup_incremental were never
        # recorded, so they are already in front);
        # markov_stationary_events and embedding_pca_power_iteration
        # materialize eagerly. Deleted so the driver re-verifies the new
        # plans first.
        # round-13 OPTIMIZATION deletions (re-record-on-change): the 25
        # queries whose physical plans were restructured this round
        # (shared-subtree checkpointing, minhash single-hash-pass,
        # partitioned-write repartition — OPTIMIZATION_r13.md; outputs
        # hash-identical at 4 scales locally) are deleted so the driver
        # re-verifies the NEW plans, not the old records.
        # round 11 deletions (re-record-on-change): user_ltv_deciles
        # (integer-cents + discrete-order-statistic rewrite, new schema)
        # and doc_length_percentile_bands (discrete quantile bounds) so
        # the driver re-verifies the rewritten plans.
        # latest green driver record: round 5 (2 names; 15 round-5 names
        # re-recorded green in round 12 and moved to that block)
        "daily_anomaly_events": 13, # latest green driver record: round 6 (13 names)
        "dup_inflation_by_source": 13, "events_weekday_enrichment": 13, "late_arrival_accounting": 13,
        "latest_state_per_user": 13, "ngram_coverage_curve": 13,
        "pairwise_centroid_distances": 13, "reservoir_sample_per_source": 13,
        "session_gap_stats": 13, "tokenizer_fertility_by_lang": 13, "top_token_coverage_by_lang": 13,
        "zipf_fit_docs": 13,
        # latest green driver record: round 7 (25 names)
        "ann_ivf_topk": 7, "ann_lsh_topk": 7, "ann_topk_cosine": 7,
        "approx_aggregates_bounded": 7, "asof_join_purchase_view": 13,
        "dedup_embedding_cosine": 7, "dedup_exact": 7,
        "doc_fingerprint_dupes": 13, "embedding_clusters": 7,
        "embedding_quantization_stats": 7, "knn_join_topk": 7,
        "lang_id_confusion": 13, "multimodal_features": 7, "nearest_centroid_confusion": 7,
        "pivot_lineitem_status": 13, "text_quality_scores": 13,
        "text_token_stats": 13, "token_hapax_ratio": 7,
        "vector_norm_outliers": 7,
        # latest green driver record: round 8 (40 names)
        "ann_truncated_dim_recall": 8,
        "anti_join_customers_without_orders": 8, "bloom_membership_eval": 8,
        "boilerplate_bigrams_by_source": 8,
        "compaction_bins_by_source": 8, "decode_json": 8,
        "dedup_exact_normalized": 8, "distinct_counts": 8,
        "embedding_gram_matrix": 8,
        "event_trigrams_top": 8, "events_rollup_reaggregate": 8,
        "hash_split_train_val_test": 8,
        "heavy_hitters_cms": 8, "hll_manual_registers": 8,
        "knn_label_agreement": 8,
        "q3_top_revenue_orders": 8, "rolling_sum": 8, "rollup_lineitem": 8,
        "runtime_filter_join": 8, "scalar_functions_part": 8,
        "scd2_user_state_history": 8, "schema_evolution_scan": 8,
        "semi_join_customers_with_orders": 8, "sessionization": 8,
        "set_except_users": 8, "set_intersect_users": 8, "topic_filter": 8,
        "topk_global_lineitems": 8, "window_running_total": 8,
        "window_topk_orders_per_customer": 8, "wordcount": 8,
        # latest green driver record: round 9 (43 names)
        # round 13 deletion (re-record-on-change): bucketed_colocated_join
        # (4-decimal fixed-point revenue — sum-then-round semantics, new
        # values) re-verifies fresh.
        "approx_aggregates": 9, "array_agg_order_quantities": 9,
        "codec_roundtrip_docs": 9,
        "correlated_subquery_agg": 9, "cross_join_grid": 9, "cube_orders": 9,
        "decode_dead_letter_split": 9,
        "doc_winnowing_fingerprints": 9, "embedding_drift_scores": 9,
        "full_outer_join_coverage": 9, "interval_join_event_pairs": 9,
        "json_functions_events": 9, "left_outer_join_nulls": 9,
        "map_functions_events": 9, "multimodal_frame_sample": 9,
        "multimodal_resize_plan": 9, "ohlc_per_user_hour": 9,
        "pareto_frontier_parts": 9, "percentiles_lineitem": 9,
        "q18_large_orders": 9, "range_frame_trailing_sum": 9,
        "resample_gapfill_events": 9, "sequence_pack_contiguous": 9,
        "sequence_pack_docs": 9, "sql_above_average_orders": 9,
        "sql_buyer_viewer_setops": 9, "sql_docs_lang_profile": 9,
        "sql_events_daily_activity": 9, "sql_exists_repeat_purchasers": 9,
        "sql_nation_region_rollup": 9, "sql_order_value_deciles": 9,
        "sql_priority_share_by_year": 9, "sql_supplier_part_coverage": 9,
        "sql_top3_parts_per_brand": 9, "text_regex_tokens": 9,
        "union_all_counts": 9, "unpivot_part_measures": 9,
        "window_distribution_functions": 9, "window_functions_family": 9,
        # latest green driver record: round 10 (50 names)
        "cleaning_pipeline_counts": 10, "date_functions_orders": 10,
        "decode_avro_payload": 10, "decode_csv_payload": 10,
        "decode_xml_payload": 10, "embedding_covariance_exact": 10,
        "event_order_inversions": 10,
        "event_rate_cusum": 10, "fuzzy_match_nations": 10,
        "grouping_sets_orders": 10, "join_size_cms_estimate": 10, "knn_graph_lsh": 10,
        "multimodal_audio_windows": 10, "multimodal_shot_boundaries": 10,
        "multiset_ops_users": 10, "null_safe_join_segments": 10,
        "posexplode_doc_tokens": 10, "profile_documents": 10,
        "q14_promo_share": 10, "q15_top_supplier": 10,
        "q17_small_quantity_revenue": 10,
        "q19_brand_quantity_disjunction": 10, "q1_pricing_summary": 10,
        "q22_idle_wealthy_customers": 10, "q5_local_supplier_volume": 10,
        "q6_forecast_revenue": 10, "q7_volume_shipping": 10,
        "q8_market_share": 10, "q9_product_profit": 10,
        "quality_drop_reasons": 10, "salted_user_activity": 10,
        "scan_jsonl_roundtrip": 10, "scan_orc_roundtrip": 10,
        # round 13 deletion (re-record-on-change): sketch_merge_cms
        # (localCheckpoint on the shared token-hash scan; same values,
        # new plan) re-verifies fresh.
        "sliding_window_events": 10,
        "snapshot_diff_cdc": 10, "sql_except_all_order_bag": 10,
        "sql_grouping_flags": 10,
        "sql_interface_revenue_by_nation_quarter": 10,
        "sql_monthly_ship_flow": 10, "sql_returnflag_status_matrix": 10,
        "sql_segment_revenue": 10, "star_join_supplier_region": 10,
        "stratified_kfold_assignment": 10, "stratified_sample_docs": 10,
        "tumbling_window": 10,
        "udtf_tokenize": 10,
        # latest green driver record: round 11 (50 names)
        "asof_nearest_purchase_view": 11, "balance_lang_sample": 11,
        "benford_digit_audit": 11,
        "bigram_lm_topk": 11, "bpe_merge_candidates": 11,
        "chunk_docs_overlap": 11, "code_switch_docs": 11, "contamination_check_docs": 11,
        "event_periodicity_acf": 11, "gini_by_priority": 11, "global_shuffle_docs": 11,
        "hll_rollup_merge": 11, "jl_projection_distortion": 11,
        "line_dedup_docs": 11,
        # round 12 deletion (re-record-on-change): mix_waterfill_allocation
        # (exact closed-form water level, new schema) re-verifies fresh.
        "partitioned_layout_pruning": 11, "pii_redact_docs": 11,
        "pit_join_purchase_state": 11, "q10_returned_revenue_topk": 11,
        "q11_important_stock": 11, "q12_priority_by_status": 11,
        "q13_customer_order_distribution": 11,
        "q4_late_shipment_priority": 11, "quality_model_score": 11,
        "quality_score_calibration": 11, "regression_per_segment": 11,
        "repetition_filter_docs": 11, "sample_apportionment_hamilton": 11,
        "shard_assignment_docs": 11, "token_vocab_coverage": 11, "try_functions_safety": 11,
        "variant_props_stats": 11,
        "weighted_median_price": 11, "weighted_sample_docs": 11,
        "zscore_per_priority": 11,
        # latest green driver record: round 12 (49 of 50 names; the 50th,
        # hill_tail_index_sources, is OMITTED per re-record-on-change —
        # round 13 moves its FP ln() sum into a deterministic-order
        # cumulative window per r12 ADVICE, so the driver re-verifies it).
        "capture_recapture_estimate": 12, "changepoint_daily_events": 12,
        "chao1_vocab_richness": 12, "chi2_lang_source_residuals": 12,
        "cumulative_new_users_daily": 12,
        "curriculum_token_phases": 12, "doc_length_percentile_bands": 12, "dp_noisy_source_counts": 12,
        "durbin_watson_daily_events": 12, "event_transition_matrix": 12,
        "fano_burstiness_event_types": 12, "gaps_islands_activity_streaks": 12,
        "histogram_events": 12, "intra_label_cosine": 12,
        "k_anonymity_audit": 12, "kaplan_meier_time_to_purchase": 12,
        "label_centroids": 12, "log2_latency_histogram": 12,
        "mannwhitney_auc_sources": 12,
        "median_ci_order_statistic": 12, "mix_waterfill_allocation": 12,
        "mode_event_type_by_hour": 12, "ngram_novelty_docs": 12,
        "poisson_bootstrap_mean_ci": 12,
        "prefix_truncation_dupes": 12, "q16_supplier_part_variety": 12,
        "q20_part_share_suppliers": 12, "q21_last_shipper_census": 12,
        "q2_min_cost_supplier": 12, "quantile_normalize_doclen": 12,
        "range_partition_plan": 12, "retention_cohorts": 12,
        "runs_test_daily_events": 12, "simpson_diversity_sources": 12,
        "skew_salt_planner": 12, # table_checksum_by_source deleted r13: its r12 record pre-dates
        # the 866c31f digest-column rewrite — driver must re-verify
        "sql_group_by_all_status_priority": 12,
        "time_decay_user_scores": 12, "token_entropy_docs": 12,
        "trimmed_winsorized_order_stats": 12, "twap_user_value": 12,
        "user_ltv_deciles": 12, "zone_map_skipping_audit": 12,
        # latest green driver record: round 13 (46 of 50 names; the other
        # 4 — dedup_minhash_lsh, dedup_lsh_recall_eval, fd_violation_audit,
        # dynamic_partition_overwrite — are OMITTED per re-record-on-change:
        # their plans were restructured by the round-14 optimization wave.
        # round-14 deletions (re-record-on-change): the 15 further queries
        # whose physical plans changed this round (minhash array signatures
        # + cheap probe, auto-selector single-tokenize eager pair checkpoint,
        # fd tall census, day-salted partitioned write, composition shared
        # frames — OPTIMIZATION_r14.md; outputs hash-identical locally at
        # sf0.001/sf0.01/sf0.1) are deleted so the driver re-verifies the
        # NEW plans, not the old records.
        "ann_ivf_kmeans_topk": 13,
        "apportionment_dhondt_vs_hamilton": 13,
        "basket_brand_lift": 13,
        "bm25_search_topk": 13,
        "bucketed_colocated_join": 13,
        "chunk_stitch_census": 13,
        "dedup_common_substring": 13,
        "event_type_cooccurrence": 13,
        "fk_integrity_audit": 13,
        "funnel_stage_conversion": 13,
        "hill_tail_index_sources": 13,
        "hybrid_rrf_search": 13,
        "kmeans_cluster_quality": 13,
        "kmeans_lloyd_embeddings": 13,
        "ks_distance_sources": 13,
        "lm_perplexity_docs": 13,
        "mad_outlier_events": 13,
        "merge_upsert_orders": 13,
        "odds_ratio_long_docs_by_source": 13,
        "sketch_merge_cms": 13,
        "source_token_kl": 13,
        "table_checksum_by_source": 13,
        "temperature_resample_sources": 13,
        "tfidf_top_terms": 13,
        "token_budget_selection": 13,
        "token_cooccurrence_pmi": 13,
        "typo_token_pairs": 13,
        "zorder_layout_stats": 13,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    BASELINE.json LLM-pipeline extensions)."""
    from flink_emqx_connector_spark.plans import QUERIES

    def _wrap(q):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return q.spark(_configure(spark), sf_dir)

        return run

    # Never-recorded first (round 0), then stalest records; sort is
    # stable so registry (module-family) order holds within each group
    # — keeps shared subplans adjacent under the driver's 100-entry
    # codegen cache (round-8 tail-order A/B).
    ordered = sorted(QUERIES, key=lambda n: _DRIVER_RECORDED.get(n, 0))
    return {name: _wrap(QUERIES[name]) for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle for each SQL-expressible query; probabilistic
    operators (MinHash-LSH recall, LSH ANN, HLL sketches) are omitted
    → driver records the weaker rows-only check."""
    from flink_emqx_connector_spark.plans import all_oracle_sql

    return all_oracle_sql()
