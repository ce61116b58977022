"""The driver-window order computed in ``__spark_entry__.py``: the round-17
window reproduced from the committed records, the full order the driver
sees, and the rotation invariants on synthetic records. No Spark session."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

import __spark_entry__ as entry

# The round-17 driver window, slot by slot: the 12 changed rows, then the
# stalest green rows.
R17_WINDOW = (
    "dedup_incremental_vs_corpus",
    "sim_incremental_near_dup_vs_corpus",
    "sim_diverse_cell_sample",
    "sim_ivf_int8_rerank",
    "sim_ivf_topk",
    "sim_embedding_near_dup",
    "sim_knn_graph",
    "sim_semantic_dedup",
    "sim_semantic_dedup_planted",
    "graph_pagerank_customer_supplier",
    "sim_ivf_pq_rerank",
    "sim_semantic_dedup_apply",
    "p4_json_parse_agg",
    "j5_enrichment_chain",
    "s2_latest_per_key",
    "asof_join_last_order_before_event",
    "merge_upsert_user_state",
    "text_ngram_novelty",
    "dedup_containment_pairs",
    "sim_mmr_diversified_topk",
    "sim_knn_label_accuracy",
    "eval_classifier_auc",
    "eval_calibration_bins",
    "text_bm25_search",
    "eval_confusion_threshold",
    "eval_score_length_spearman",
    "er_fuzzy_match_part_names",
    "attribution_linear_credit",
    "events_cohort_retention",
    "events_top_paths",
    "events_activity_gaps",
    "events_concurrency_sweep",
    "events_cumulative_distinct_users",
    "events_markov_transitions",
    "customer_rfm_segments",
    "basket_part_pair_lift",
    "timeseries_gapfill_events",
    "stat_mad_outliers",
    "dq_benford_first_digit",
    "events_ohlc_daily",
    "graph_link_prediction_jaccard",
    "events_type_overlap_matrix",
    "window_percent_change_daily",
    "timeseries_cusum_change",
    "timeseries_dow_seasonality",
    "customer_revenue_concentration",
    "agg_countmin_heavy_hitters",
    "stat_chi2_event_type_dow",
    "ab_test_proportion_ztest",
    "timeseries_ewma_daily_by_type",
)

# Everything past the round-17 window, in registration order.
R17_PAST_WINDOW = """
j2_stream_table_left_join j1_stream_table_inner_join j4_table_table_left_join
j3_table_table_inner_join j_full_outer_join a1_count_by_key a1_multi_agg
p4_json_schema_inference simple_stream_passthrough s2_cdc_apply_tombstones
source_csv_roundtrip_nation source_json_roundtrip_nation source_orc_roundtrip_nation
sink_partitioned_overwrite_day source_schema_evolution_mergeread
source_parquet_footer_walk source_orc_footer_walk streaming_count_by_event_type
streaming_stream_static_join streaming_tumbling_window_counts
streaming_suppressed_window_counts streaming_sliding_window_counts
streaming_session_window_counts streaming_stream_stream_join streaming_latest_per_key
streaming_fk_join_enrichment streaming_dedup_distinct_keys streaming_quality_gate_ingest
streaming_mix_ingest streaming_stream_stream_left_join
streaming_stream_stream_full_outer_join streaming_latest_per_key_state
streaming_session_state_machine streaming_funnel_conversion streaming_cdc_tombstones
streaming_rate_limit_ingest streaming_ohlc_daily streaming_temporal_asof_join
streaming_holt_trend streaming_ewma_value streaming_multimodal_ingest
streaming_compressed_ingest streaming_confluent_ingest multimodal_metadata
multimodal_frame_sample multimodal_feature_extract multimodal_png_decode
multimodal_png_palette_decode multimodal_color_image_decode multimodal_png_alpha_decode
multimodal_gif_decode multimodal_jpeg_recon multimodal_jpeg_color_recon
multimodal_jpeg_progressive_recon multimodal_ahash_near_dup multimodal_audio_features
multimodal_mulaw_audio_decode multimodal_g711_mixed_decode multimodal_audio_near_dup
multimodal_video_scene_stats multimodal_video_near_dup multimodal_gif_anim_scene_stats
multimodal_exif_metadata multimodal_gzip_text_ingest multimodal_bz2_xz_text_ingest
multimodal_webdataset_ingest multimodal_gif_composite_stats multimodal_cross_modal_dedup
multimodal_format_census multimodal_zip_bundle_ingest multimodal_bmp_decode
multimodal_mp3_metadata multimodal_flac_metadata multimodal_mp3_id3v2_tags
multimodal_tiff_decode multimodal_mp4_metadata multimodal_ogg_metadata
multimodal_subtitle_cues multimodal_flac_audio_decode dedup_exact dedup_ngram_jaccard
dedup_minhash_lsh dedup_connected_components dedup_connected_components_two_phase
dedup_apply_canonical_corpus dedup_simhash dedup_decontaminate dedup_decontaminate_bloom
pipeline_curate_corpus dedup_lines dedup_passages dedup_contamination_report
dedup_soft_weights sim_cosine_topk sim_centroid_by_label sim_quantize_int8
sim_centroid_outliers sim_random_projection text_quality_metrics text_token_counts
text_lang_id text_quality_filter text_top_words text_fingerprints text_pii_scrub
text_hash_sample text_tfidf_top_terms text_repetition_metrics text_stratified_sample
text_hash_split llm_pack_sequences llm_corpus_shards llm_token_budget_shards
text_unigram_logprob text_gopher_quality_rules text_bigram_logprob llm_mix_corpus_tokens
text_perplexity_filter text_chunk_documents text_corpus_report_rollup text_bpe_top_pairs
text_classifier_score llm_temperature_sample_sources text_normalize
text_url_canonicalize text_kfold_split llm_dsir_importance_weights
llm_weighted_sample_docs eval_pr_curve text_encoding_census filter_pushdown_scan
semi_join_customers_with_orders anti_join_customers_without_orders
window_topk_orders_per_customer window_running_sum_frame window_lag_gap_sessionize
global_topk_orders set_union_distinct set_except set_intersect
rollup_orders_by_status_priority cube_orders_by_status_priority scalar_function_showcase
salted_agg_orders_by_status unpivot_customer_measures grouping_sets_orders
session_window_per_user array_agg_order_keys_per_customer window_sliding_counts
range_join_events_within_30min percentiles_value_by_event_type pivot_event_value_by_type
date_interval_arithmetic tpch_q1_pricing_summary tpch_q6_forecast_revenue
tpch_q14_promo_revenue tpch_q5_local_supplier_volume tpch_q3_shipping_priority
agg_approx_distinct_users tpch_q4_order_priority tpch_q10_returned_items
tpch_q18_large_volume_customer agg_approx_quantiles_value tpch_q7_nation_volume
events_funnel_conversion tpch_q21_waiting_suppliers tpch_q2_min_cost_supplier
tpch_q15_top_supplier tpch_q22_dormant_customers tpch_q11_important_stock
events_funnel_stage_counts events_funnel_time_to_convert tpch_q12_late_shipment_priority
tpch_q13_customer_order_distribution tpch_q17_small_quantity_revenue
tpch_q19_disjunctive_predicates tpch_q8_national_market_share
tpch_q9_product_type_profit tpch_q16_supplier_relationship
tpch_q20_part_promotion_suppliers window_rank_functions_showcase array_function_showcase
window_range_moving_avg events_zscore_outliers agg_histogram_totalprice
stat_corr_price_linecount stat_regression_tokens_by_source agg_hll_mergeable_rollup
window_trending_topk asof_join_next_order_after_event udtf_explode_props_kv
zorder_key_orders incremental_agg_orders_by_status er_fuzzy_match_brand_ngram
graph_triangle_count_copurchase timeseries_holt_trend_daily timeseries_twap_value_daily
graph_bfs_hops_copurchase timeseries_autocorr_daily geo_radius_join_customers
events_pattern_match_sequence bucketed_join_orders_lineitem agg_approx_percentile_value
dq_profile_events dq_profile_events_approx dq_constraints_orders scd2_user_event_history
join_salted_skew_events scd2_temporal_lookup dq_drift_psi_totalprice
cdc_snapshot_diff_orders dq_quarantine_bad_records dq_drift_ks_totalprice
kafka_avro_ocf_roundtrip kafka_confluent_avro_decode kafka_protobuf_decode
kafka_avro_map_decode kafka_msgpack_decode kafka_cbor_decode kafka_thrift_decode
web_warc_ingest web_html_extract web_warc_html_pipeline
""".split()

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {**GREEN, "hash_match": False}


def test_round_17_window_from_committed_records():
    records = entry.correctness_records(17)
    order = entry.driver_order(list(entry.QUERIES), records, changed=R17_WINDOW[:12])
    assert tuple(order[:50]) == R17_WINDOW


def test_driver_sees_the_round_17_order():
    """Re-pin when ``ROUND`` or ``CHANGED`` moves to the next round."""
    assert list(entry.queries()) == [*R17_WINDOW, *R17_PAST_WINDOW]
    assert list(entry.oracle_sql()) == [*R17_WINDOW, *R17_PAST_WINDOW]


def test_changed_names_are_registered():
    assert set(entry.CHANGED) <= set(entry.QUERIES)


def test_red_row_is_not_green():
    names = ["a", "b", "c"]
    records = [{"a": GREEN, "b": RED, "c": {**GREEN, "err": "boom"}}]
    # b and c were never green, so they lead; a's green row puts it last
    assert entry.driver_order(names, records, (), window=2) == ["b", "c", "a"]


@st.composite
def rounds(draw):
    names = [f"q{i}" for i in range(draw(st.integers(1, 40)))]
    records = [
        {
            n: draw(st.sampled_from([GREEN, RED]))
            for n in draw(st.lists(st.sampled_from(names), unique=True))
        }
        for _ in range(draw(st.integers(0, 5)))
    ]
    changed = set(draw(st.lists(st.sampled_from(names), unique=True)))
    return names, records, changed, draw(st.integers(1, 15))


@settings(max_examples=200, deadline=None)
@given(rounds())
def test_rotation_invariants(case):
    names, records, changed, window = case
    green = {}
    for rnd, record in enumerate(records, 1):
        for n, row in record.items():
            if row is GREEN:
                green.setdefault(n, []).append(rnd)

    def tier(n):
        return 0 if n not in green else 1 if n in changed else 2

    def rank(n):
        return tier(n), max(green.get(n, [0])), len(green.get(n, [])), names.index(n)

    order = entry.driver_order(names, records, changed, window=window)
    head, tail = order[:window], order[window:]
    assert sorted(order) == sorted(names)
    assert tail == [n for n in names if n not in head]
    # never-green first, then changed, then the rest, each by
    # (last green round, green count, registration index)
    assert [rank(n) for n in head] == sorted(map(rank, head))
    # nothing past the window outranks a window slot
    assert not tail or rank(head[-1]) < min(map(rank, tail))
    # demotion never trades away unproven or changed coverage
    if sum(tier(n) < 2 for n in names) <= window:
        assert all(n in green and n not in changed for n in tail)
