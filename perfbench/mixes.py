"""Frozen query and cache-builder lists for the benchmark's workloads.

The names are stored here, not derived from the registry at run time,
so that a query added to or renamed in the engine changes the
benchmark only through an edit of this file.
``tests/test_perfbench_mixes.py`` checks that every name resolves and that the two mixes split the
registry's queries between them.

Each query workload keeps two lists:

- ``*_MIX`` — every registered query that belongs to the workload. The
  two mixes are disjoint and together cover the registry.
- ``*_TIMED`` — the subset a run times. A cold pass over a whole mix
  costs 20-45 s on a 4-core host before any warm sample, which does not
  fit the time one run may take. The subset is picked by one rule, not
  by speed: the consumers of the workload's cache builders (so every
  build has a reader), plus every eighth query of each engine module
  in name order.
"""

from __future__ import annotations

# The six builders over ``events`` (sketches, the as-of projection,
# the three chunked layouts and the hourly OHLC aggregate).
TICK_QUERY_BUILDERS: tuple[str, ...] = (
    "events_user_cms",
    "conversion_proj",
    "events_time_layout",
    "events_append_layout",
    "events_zorder_layout",
    "ohlc_hourly",
)

# The other 24 builders: corpus tokenization, dedup fingerprints,
# shingle and simhash profiles, the bigram LM and the ANN index.
CORPUS_PREP_BUILDERS: tuple[str, ...] = (
    "doc_gram",
    "doc_term_tf",
    "term_df",
    "doc_lengths",
    "doc_fp_census",
    "dedup_census_report",
    "doc_bigram",
    "bigram_counts",
    "bigram_prefix",
    "bigram_lm",
    "lm_scored_bigrams",
    "ngram_lm_top50",
    "minhash_profile_16",
    "minhash_profile_8",
    "shingle_hashes",
    "simhash_sigs",
    "simhash_grouped",
    "winnow_fp",
    "ann_matrices",
    "ivf_assign",
    "exact_topk",
    "probe_topk",
    "bm25_scalars",
    "shingle_salt_cms",
)

# Each mix as engine module -> that module's queries, in name order.
TICK_QUERY_MODULES: dict[str, tuple[str, ...]] = {
    "parity": (
        "q_conditional_count", "q_event_lag", "q_filter_pushdown",
        "q_group_percentiles", "q_groupby_avg", "q_latency_percentiles",
        "q_latency_summary", "q_minmax_value", "q_modulo_sample",
        "q_throughput_window", "q_topk_orders", "q_vwap_by_symbol",
    ),
    "timeseries": (
        "q_anomaly_zscore", "q_append_window_scan", "q_chunk_dpp_join",
        "q_counter_rate", "q_cusum_changepoint", "q_ewma_smooth",
        "q_gapfill_interp", "q_gapfill_locf", "q_heartbeat_uptime",
        "q_latest_point", "q_m4_downsample", "q_max_drawdown",
        "q_ohlc_bars", "q_ohlc_daily_rollup", "q_state_durations",
        "q_time_weighted_avg", "q_time_window_scan", "q_top_movers",
        "q_zorder_scan",
    ),
    "indicators": (
        "q_anomaly_mad", "q_bollinger_bands", "q_revenue_concentration",
        "q_rolling_wau", "q_rsi", "q_winsorized_mean",
    ),
    "stats": (
        "q_acf", "q_benford_digits", "q_hourofweek_profile",
        "q_markov_transitions", "q_ols_trend", "q_welch_ttest",
    ),
    "relational": (
        "q_array_ops", "q_asof_forward", "q_asof_join", "q_distinct_users",
        "q_join_orders_customer", "q_json_extract", "q_lag_delta",
        "q_moving_avg", "q_range_join", "q_rank_per_group",
        "q_recursive_calendar", "q_rollup_revenue", "q_semi_anti_join",
        "q_set_ops", "q_string_funcs",
    ),
    # without q_doc_chunks, which reads the corpus
    "analytic": (
        "q_approx_distinct", "q_approx_percentile", "q_cube_revenue",
        "q_event_funnel", "q_grouping_sets", "q_heavy_hitters",
        "q_range_frame", "q_retention_cohorts", "q_session_window",
        "q_sliding_window", "q_stratified_sample", "q_value_histogram",
    ),
    "warehouse": (
        "q_mom_growth", "q_percent_of_total", "q_pricing_summary",
        "q_region_revenue", "q_shipping_priority", "q_unpivot_measures",
    ),
    "functions_q": (
        "q_date_funcs", "q_math_funcs", "q_null_semantics",
        "q_pivot_revenue", "q_stats_moments", "q_subqueries",
        "q_window_funcs",
    ),
    "streaming_q": (
        "q_stream_dedup", "q_stream_enrich", "q_stream_latency",
        "q_stream_ohlc", "q_stream_session", "q_stream_throughput",
        "q_stream_vwap",
    ),
}

CORPUS_PREP_MODULES: dict[str, tuple[str, ...]] = {
    "text": (
        "q_contamination", "q_fingerprint", "q_lang_id", "q_quality_score",
        "q_regex_tokens", "q_repetition_ratio", "q_token_counts",
        "q_winnow_neardup", "q_winnowing_fp",
    ),
    "dedup": (
        "q_dedup_apply", "q_dedup_clusters", "q_dedup_exact",
        "q_dedup_near", "q_embedding_neardup", "q_minhash_jaccard",
        "q_ngram_jaccard", "q_simhash",
    ),
    "pipeline": (
        "q_bm25_rank", "q_dup_ratio_by_source", "q_length_deciles",
        "q_lm_score", "q_mixture_sample", "q_ngram_lm_bigrams",
        "q_pack_plan", "q_scrub_flags", "q_tfidf_topterms",
        "q_token_diversity", "q_train_shards",
    ),
    "similarity": (
        "q_ann_ivf", "q_ann_recall", "q_ann_search", "q_cosine_topk",
        "q_kmeans_update", "q_knn_classify", "q_semantic_dedup",
    ),
    "multimodal": (
        "q_audio_decode", "q_binary_metadata", "q_decode_roundtrip",
        "q_frame_sample", "q_image_decode",
    ),
    "analytic": ("q_doc_chunks",),
}

# One reader per tick cache builder, so every build in a timed run has a
# query that reads what it built. (Every corpus query reads a corpus
# builder's artifact, so the stride rule alone covers corpus_prep.)
TICK_BUILDER_READERS: dict[str, str] = {
    "events_user_cms": "q_heavy_hitters",
    "conversion_proj": "q_asof_join",
    "events_time_layout": "q_time_window_scan",
    "events_append_layout": "q_append_window_scan",
    "events_zorder_layout": "q_zorder_scan",
    "ohlc_hourly": "q_ohlc_bars",
}

# tick_ingest's query probe: the streaming pipeline's batch twin (the
# same OHLC/dsum aggregation, over the fixture ``events``) and the
# builder it reads. One phase-2 micro-batch per second gives too few
# warm samples for a p95, so the query metrics come from this loop.
TICK_INGEST_PROBE_BUILDERS: tuple[str, ...] = ("ohlc_hourly",)
TICK_INGEST_PROBE: tuple[str, ...] = ("q_ohlc_bars",)

# Every STRIDE-th query of each module, in name order from the first.
STRIDE = 8


def _mix(modules: dict[str, tuple[str, ...]]) -> tuple[str, ...]:
    return tuple(q for names in modules.values() for q in names)


TICK_QUERY_MIX = _mix(TICK_QUERY_MODULES)
CORPUS_PREP_MIX = _mix(CORPUS_PREP_MODULES)


def _timed(modules: dict[str, tuple[str, ...]], readers) -> tuple[str, ...]:
    picked = set(readers) | {q for names in modules.values() for q in names[::STRIDE]}
    return tuple(q for q in _mix(modules) if q in picked)


TICK_QUERY_TIMED = _timed(TICK_QUERY_MODULES, TICK_BUILDER_READERS.values())
CORPUS_PREP_TIMED = _timed(CORPUS_PREP_MODULES, ())
