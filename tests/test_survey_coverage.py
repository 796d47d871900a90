"""SURVEY.md §2 coverage guard.

Asserts every operator key from the §2 inventory is registered — a
refactor that accidentally drops a contract query fails HERE, by name,
instead of silently shrinking the driver-checked surface.
"""

from __future__ import annotations

from powertrainstreaming_spark.plans.registry import all_defs

# The complete §2 key list (SURVEY.md:173-311), by section.
SURVEY_KEYS = {
    # §2.1 scans / sources / sinks
    "scan_parquet", "scan_schema_assert", "source_stream_file",
    "sink_parquet", "sink_memory_console", "source_kafka_adapter",
    "scan_csv_json",
    # §2.2 projection / filter
    "project_compute", "filter_compound", "filter_in_between_like",
    "filter_null_semantics", "case_when",
    # §2.3 joins
    "join_broadcast", "join_shuffle_equi", "join_left_right_full",
    "join_semi", "join_anti", "join_cross", "join_theta_range",
    "join_multikey_composite", "join_asof", "join_interval_stream",
    "join_stream_static",
    # §2.4 aggregation
    "agg_global", "agg_groupby_multi", "agg_count_distinct",
    "agg_approx_distinct", "agg_filter_clause", "agg_rollup", "agg_cube",
    "agg_grouping_sets", "agg_collect_sorted", "distinct_rows",
    # §2.5 windows
    "win_row_number_topk", "win_rank_dense", "win_lag_lead",
    "win_running_sum", "win_moving_avg", "win_first_last_ntile",
    "win_percent_cume",
    # §2.6 sort / top-k
    "sort_multi_nulls", "topk_global",
    # §2.7 set ops
    "set_union_all", "set_union_distinct", "set_intersect", "set_except",
    # §2.8 scalar functions
    "fn_string", "fn_date", "fn_math", "fn_array", "fn_map_struct",
    "fn_json",
    # §2.9 UDF surface
    "udf_python_scalar", "udf_pandas_scalar", "udaf_pandas_grouped",
    "udtf_apply_in_pandas", "udtf_map_in_pandas",
    # §2.10 streaming
    "stream_tumbling_agg", "stream_sliding_agg", "stream_session_window",
    "stream_watermark_late", "stream_dedup", "stream_stateful_running",
    "stream_output_modes", "stream_foreachbatch_sink",
    # §2.11 LLM-pipeline extensions
    "dedup_exact", "dedup_near_minhash", "dedup_near_exact",
    "sim_knn_bruteforce", "sim_pair_join_threshold", "sim_topk_per_query",
    "multimodal_join", "text_tokenize_tf", "text_ngram", "text_tfidf",
    "text_stats_lang", "text_keyword_filter",
}


def test_every_survey_key_is_registered():
    missing = SURVEY_KEYS - set(all_defs())
    assert not missing, f"SURVEY §2 keys no longer registered: {sorted(missing)}"


def test_extras_are_intentional():
    """Queries beyond the §2 inventory are engine extensions — keep the
    list explicit so accidental registrations stand out in review."""
    extras = set(all_defs()) - SURVEY_KEYS
    assert extras == {
        "dedup_embedding_cosine",
        "join_runtime_bloom",
        "join_dpp_partitioned",
        "join_lateral_topn",
        "fn_try_safe",
        "fn_variant_extract",
        "scan_schema_evolution",
        "scan_orc_roundtrip",
        "ts_corr_channels",
        "ts_downsample_ohlc",
        "agg_bitmap_distinct",
        "index_inverted_postings",
        "text_boilerplate_spans",
        "text_entropy",
        "win_gaps_islands",
        "layout_zorder_cluster",
        "fn_url_parse",
        "ts_resample_interp",
        "ts_sliding_distinct",
        "sample_importance_weighted",
        "win_running_distinct",
        "filter_scalar_subquery",
        "scan_snapshot_time_travel",
        "agg_minmax_by",
        "agg_bool_countif",
        "win_nth_value",
        "events_markov_transitions",
        "ts_linreg_trend",
        "events_attribution_last_touch",
        "fn_collation_ci",
        "set_union_by_name",
        "multimodal_contrastive_pairs",
        "dedup_fuzzy_levenshtein",
        "text_unigram_logprob",
        # round 4
        "dedup_incremental_minhash",
        "dedup_keep_longest",
        "join_range_binned",
        "ts_ewma",
        "sample_topk_per_group",
        "events_sequence_pattern",
        "graph_pagerank_neardup",
        "agg_mode_deterministic",
        "fn_date_extended",
        "corpus_token_budget",
        "win_ignore_nulls",
        "corpus_eval_leakage",
        "fn_bitwise",
        "dedup_url_canonical",
        "agg_weighted_avg",
        "agg_string_agg",
        "join_null_safe",
        "text_hashing_trick",
        "events_rfm_segmentation",
        "ts_seasonal_profile",
        "events_ab_test_lift",
        "agg_approx_topk",
        "agg_hll_sketch_merge",
        "scan_partition_pruned",
        "maintenance_compact_files",
        "sim_lsh_rp_pairs",
        "sim_pair_multiprobe",
        "stream_stateful_timeout",
        # round 6
        "corpus_epoch_shuffle",
        "corpus_mixture_interleave",
        "text_bpe_pair_counts",
        "dedup_segment_global",
        "corpus_dsir_weights",
        "stream_segment_dedup",
        "corpus_decontam_ngram",
        "split_train_holdout",
        "pack_concat_chunks",
        "text_repetition_ratio",
        "corpus_mixture_weights",
        "pipeline_corpus_curate",
        "agg_approx_quantile",
        "agg_histogram",
        "merge_upsert_cdc",
        "ts_gapfill_locf",
        "ts_anomaly_zscore",
        "events_funnel",
        "retention_cohort",
        "profile_columns",
        "text_pii_scrub",
        "agg_pivot",
        "agg_unpivot",
        "sample_bernoulli_hash",
        "sample_stratified",
        "text_chunk_overlap",
        "dedup_near_ngram",
        "dedup_near_simhash",
        "agg_median_percentile",
        "dedup_cluster_cc",
        "sim_knn_ivf_kmeans",
        "text_lang_id",
        "text_token_count",
        "text_fingerprint_rolling",
        "multimodal_frame_sample",
        "join_skew_salted",
        "multimodal_binary_features",
        "pipeline_corpus_clean",
        "sim_knn_ivf",
        "sink_bucketed_join",
        "text_fingerprint",
        "text_quality_score",
        "win_range_interval",
        # round 7
        "text_bpe_merge_steps",
        "text_bpe_encode_stats",
        "text_bpe_fertility",
        # round 8
        "corpus_mixture_temperature",
        "diag_key_skew",
        "sim_pq_adc",
        "pack_strategy_compare",
        "corpus_decontam_bloom",
        "text_bigram_kn_logprob",
        "text_bm25_topk",
        "text_pmi_collocations",
        "corpus_quality_gate",
        "agg_countmin_heavy",
        "corpus_decontam_minhash",
        "stream_countmin_cells",
        "sim_containment_join",
        "corpus_perplexity_buckets",
        "ts_level_shift",
        "ts_holt_winters",
        "merge_scd2_intervals",
        "stream_scd2_changes",
        # round 9
        "corpus_quality_gate_threshold",
        "corpus_perplexity_bucket_cuts",
        "text_bpe_encode_docs",
        "text_repeated_ngrams",
        "text_ngram_novelty",
        "corpus_lang_confusion",
        "stream_quality_gate",
        "agg_quantile_histogram",
        "sim_knn_ivf_pq",
        "ts_mad_outliers",
        # round 10
        "dedup_span_repeated",
        "dedup_embedding_cluster",
        "stream_span_dedup",
        # round 11
        "dedup_span_index_merge",
        "dedup_embedding_cluster_mp",
    }, f"unexpected extras: {sorted(extras - SURVEY_KEYS)}"


def test_every_extension_has_a_survey_212_row():
    """Every extension key (registered beyond the §2 contract) must
    carry exactly one row in SURVEY §2.12's table stating what it is
    and how it's checked — the allow-list above says an extra is
    intentional; this says it's DOCUMENTED, so extension sprawl stays
    auditable as the registry grows (a new registration fails here
    until its one-line 'why it exists' row is written)."""
    import re
    from pathlib import Path

    survey = Path(__file__).resolve().parent.parent / "SURVEY.md"
    text = survey.read_text()
    start = text.index("### 2.12")
    # Table ends at the next heading (or EOF).
    m = re.search(r"\n#+ ", text[start + 1 :])
    section = text[start : start + 1 + m.start()] if m else text[start:]
    rows = re.findall(r"^\| `([a-z0-9_]+)` \|", section, flags=re.M)
    extras = set(all_defs()) - SURVEY_KEYS
    missing = extras - set(rows)
    assert not missing, f"extension keys without a SURVEY §2.12 row: {sorted(missing)}"
    dupes = {k for k in rows if rows.count(k) > 1}
    assert not dupes, f"duplicate §2.12 rows: {sorted(dupes)}"


def test_query_surface_is_contract_first_tier_ordered():
    """queries()/oracle_sql() iterate SURVEY §2-contract keys with SQL
    oracles first (P0 → P1 → P2, alphabetical within a tier), then
    contract rows-only keys, then §2.12 extensions: the external
    driver hash-checks exactly the first 50 entries, so every slot in
    that window must be an oracle-backed contract row (SURVEY.md §2
    driver-window contract).  A new registration can only break this
    by mis-tiering itself."""
    from powertrainstreaming_spark.plans.registry import _CONTRACT_KEYS

    defs = all_defs()
    tier_of = {"P0": 0, "P1": 1, "P2": 2}
    keys = [
        (
            (0 if d.oracle is not None else 1) if name in _CONTRACT_KEYS else 2,
            tier_of[d.tier],
            name,
        )
        for name, d in defs.items()
    ]
    assert keys == sorted(keys)
    # The driver window itself: 50/50 oracle-backed §2-contract keys.
    window = list(defs)[:50]
    assert all(n in _CONTRACT_KEYS for n in window)
    assert all(defs[n].oracle is not None for n in window)


def test_operators_doc_matches_generator():
    """docs/OPERATORS.md is generated from the registry; the committed
    file must equal the generator's output (regenerate with
    `python docs/gen_operators.py > docs/OPERATORS.md`)."""
    import importlib.util
    from pathlib import Path

    docs = Path(__file__).resolve().parent.parent / "docs"
    spec = importlib.util.spec_from_file_location(
        "gen_operators", docs / "gen_operators.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (docs / "OPERATORS.md").read_text() == gen.render()
