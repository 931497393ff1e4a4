"""The frozen workload lists resolve in the engine and split it cleanly."""

from __future__ import annotations

import mixes


def test_query_names_resolve_and_split_the_registry():
    from open_rust_timeseries_db_spark.queries import all_queries

    registered = set(all_queries())
    tick, corpus = set(mixes.TICK_QUERY_MIX), set(mixes.CORPUS_PREP_MIX)
    assert len(tick) == len(mixes.TICK_QUERY_MIX) == 90
    assert len(corpus) == len(mixes.CORPUS_PREP_MIX) == 41
    assert tick <= registered and corpus <= registered
    assert not tick & corpus
    assert tick | corpus == registered
    assert len(registered) == 131


def test_timed_subsets_are_pinned():
    # A change to the rule in mixes.py, or to a module's list, changes
    # what a run times; it must show up here as an edit.
    assert mixes.TICK_QUERY_TIMED == (
        "q_conditional_count", "q_modulo_sample", "q_anomaly_zscore",
        "q_append_window_scan", "q_heartbeat_uptime", "q_ohlc_bars",
        "q_time_window_scan", "q_zorder_scan", "q_anomaly_mad", "q_acf",
        "q_array_ops", "q_asof_join", "q_range_join", "q_approx_distinct",
        "q_heavy_hitters", "q_session_window", "q_mom_growth", "q_date_funcs",
        "q_stream_dedup",
    )
    assert mixes.CORPUS_PREP_TIMED == (
        "q_contamination", "q_winnowing_fp", "q_dedup_apply", "q_bm25_rank",
        "q_tfidf_topterms", "q_ann_ivf", "q_audio_decode", "q_doc_chunks",
    )
    assert set(mixes.TICK_INGEST_PROBE) <= set(mixes.TICK_QUERY_MIX)
    assert set(mixes.TICK_INGEST_PROBE_BUILDERS) <= set(mixes.TICK_QUERY_BUILDERS)


def test_builder_names_resolve_and_split_the_builders(tables):
    from open_rust_timeseries_db_spark.queries.cache_builds import cache_builders
    from open_rust_timeseries_db_spark.session import get_spark

    spark = get_spark("perfbench-tests", cpus=2)
    try:
        names = list(cache_builders(spark, tables))
    finally:
        spark.stop()
    tick, corpus = mixes.TICK_QUERY_BUILDERS, mixes.CORPUS_PREP_BUILDERS
    assert len(set(tick)) == 6 and len(set(corpus)) == 24
    assert not set(tick) & set(corpus)
    assert set(tick) | set(corpus) == set(names)
