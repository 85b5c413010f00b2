"""The query workloads: frozen members and their seeded order.

The olap workload runs the olap group; the curation_streaming workload
runs the curation and the streaming groups. Each group follows one rule,
applied once to the query registry (`graft.SparkEntry.queries`) and frozen
here. Membership does not change when a later change makes a query lazy or
eager, and no member is dropped for being slow, failing or noisy.

* olap: every registered query of Relational (without its lakehouse rows,
  the ones that create a ManifestTable or GraftCatalog table), OlapExtras,
  TimeJoins, AnalyticsOps, RangeOps, Json, IntegrityOps, AuditOps,
  ScaleOps, Composition, and the batch twins of Sessionize. Mostly short,
  lazily built, read-only queries: planning, job launch and scan/shuffle.
* curation: every registered query of DedupOps, SimilarityOps,
  CurationOps, TextAnalysis, TextFeatures, TokenizerOps, Multimodal,
  GraphOps and ml.Forecast. Eager construction, persist, localCheckpoint,
  overlap pools, iterative fixpoints and per-row CPU.
* streaming: every registered Structured Streaming query of StreamingOps,
  TransformWithStateOps and the stream rows of Sessionize. Each runs an
  AvailableNow catch-up over `events` while it is built: micro-batch
  bookkeeping and state stores. The three stream rows registered in batch
  modules (q_stream_dsv2 in Json, q_stream_ingest_report and
  q_stream_decontaminate in CurationOps) are in no group.

A full pass over the three groups takes more than four minutes on a
4-core host, and the benchmark budget allows well under a minute per run.
Each run therefore measures a frozen sample: from every module, the member
whose SHA-1 of the name sorts first. The sample is stratified by module, so
every module is measured, and it is chosen by a rule blind to speed. Every
run of a workload measures the same sample; the seed sets the order.
"""
import hashlib
import random

OLAP = {
    "Relational": """
        q1_pricing q_clean_count q_clean_trips q_csv_roundtrip
        q_cust_big_orders q_cust_no_orders q_date_parts q_date_range
        q_dedup_append q_distinct_parts q_except_all_buyers
        q_except_buyers q_full_outer q_intersect_all_buyers
        q_intersect_buyers q_jsonl_roundtrip q_local_supplier_volume
        q_preview q_quarantine q_revenue_by_nation q_schema_evolution
        q_sql_api q_string_agg q_string_ops q_topk_orders q_window_lag
        q_window_ranks q_window_running
    """.split(),
    "OlapExtras": """
        q_approx_distinct q_cohort_retention q_conditional_agg
        q_corr_stats q_cube q_date_arith q_event_transitions q_funnel
        q_grouping_sets q_key_skew q_rollup q_sample q_scd2
        q_share_of_total q_unpivot q_variant_get q_variant_shredded
        q_window_distribution q_window_range_frame
    """.split(),
    "TimeJoins": """
        q_asof_last_error q_asof_tolerance q_demand_by_hour q_gap_fill
        q_pit_features q_time_join_day
    """.split(),
    "AnalyticsOps": """
        q_edit_distance q_ewma q_interval_coverage q_markov q_mode_user
        q_pareto q_psi_drift q_rfm q_rolling_distinct q_token_entropy
    """.split(),
    "RangeOps": """
        q_band_join_auto q_equidepth_hist q_histogram q_range_join
        q_stratified_sample
    """.split(),
    "Json": """
        q_dsv2_point q_dsv2_sink q_json_extract q_json_roundtrip
        q_json_typed q_json_weather
    """.split(),
    "IntegrityOps": """
        q_ab_test q_cascade_delete q_cdc_apply q_incremental_agg
        q_ref_integrity q_snapshot_diff q_table_checksum q_weighted_mean
    """.split(),
    "AuditOps": """
        q_benford q_iqr_outliers q_k_anonymity q_observe_metrics
        q_zorder
    """.split(),
    "ScaleOps": """
        q_advised_join q_backfill_partition q_bucketed_join q_cms_freq
        q_compact_files q_heavy_hitters q_latest_partition
        q_mv_incremental q_mv_join_rewrite q_mv_rewrite
        q_partitioned_scan q_runtime_filter q_salted_agg q_salted_join
        q_sampled_estimate q_sketch_union q_weighted_sample
    """.split(),
    "Composition": """
        q_approx_quantiles q_curate q_percentiles q_pivot
    """.split(),
    "Sessionize": """
        q_session_window q_sessionize
    """.split(),
}

CURATION = {
    "DedupOps": """
        q_containment q_dedup_exact q_embed_neardup q_incremental_dedup
        q_minhash_pairs q_ngram_jaccard q_simhash_pairs q_split_leakage
        q_substring_dedup
    """.split(),
    "SimilarityOps": """
        q_embed_centroids q_embed_quantize q_hard_negatives q_hybrid_rrf
        q_knn_classifier q_knn_ivf q_knn_ivfpq q_knn_lsh q_knn_pq
        q_knn_topk q_knn_topk_agg q_label_noise q_matryoshka_recall
        q_positive_pairs q_retrieval_eval q_sparse_cosine q_vector_index
        q_vector_index_dml
    """.split(),
    "CurationOps": """
        q_bloom_decontaminate q_bm25_index q_bm25_search q_clean_corpus
        q_cluster_cap q_contam_fraction q_curriculum q_decontaminate
        q_dedup_clusters q_dedup_clusters_lsh q_dedup_clusters_star
        q_dedup_keep_best q_dsir_sample q_dsir_select q_dup_ngram_frac
        q_ingest_report q_length_buckets q_orc_roundtrip q_pack_windows
        q_profile q_score_calibrate q_source_filter q_split_traintest
        q_temperature_mix q_token_budget_mix q_vocab_oov
    """.split(),
    "TextAnalysis": """
        q_blocklist_filter q_chunk_dedup q_chunk_docs q_fingerprint
        q_lang_id q_langid_eval q_normalize_text q_pmi_bigrams
        q_quality_rules q_redact_pii q_repetition q_rolling_hash
        q_text_quality q_token_stats q_topk_quality q_unigram_logprob
    """.split(),
    "TextFeatures": """
        q_doc_embed q_doc_freq q_doc_knn q_ngram_counts q_tfidf_topterms
    """.split(),
    "TokenizerOps": """
        q_bpe_encode q_bpe_pairs q_bpe_train q_bpe_train_encode
        q_tokenizer_fertility
    """.split(),
    "Multimodal": """
        q_audio_decode q_blob_features q_blob_meta q_frame_sample
        q_image_decode q_image_phash q_image_resize
    """.split(),
    "GraphOps": """
        q_attribution q_lateral_topn q_pagerank q_recursive_reach
        q_triangles
    """.split(),
    "Forecast": """
        q_feature_encode q_feature_scale q_ml_cv q_ml_demand_gbt
        q_ml_fare_lr
    """.split(),
}


STREAMING = {
    "StreamingOps": """
        q_stream_approx_distinct q_stream_changes q_stream_dedup
        q_stream_dedup_ttl q_stream_hourly q_stream_left_outer
        q_stream_manifest_sink q_stream_manifest_source q_stream_medallion
        q_stream_merge q_stream_mor_upsert q_stream_psi q_stream_quarantine
        q_stream_sliding q_stream_static_join q_stream_stream_join
        q_stream_table_sink q_stream_table_upsert
    """.split(),
    "TransformWithStateOps": """
        q_stream_pit q_stream_user_totals
    """.split(),
    "Sessionize": """
        q_stream_session_window q_stream_sessions
    """.split(),
}

WORKLOADS = {"olap": (OLAP,), "curation_streaming": (CURATION, STREAMING)}
STREAM_MEMBERS = {n for names in STREAMING.values() for n in names}


def sample(workload):
    """[(module, name)] of the workload's frozen sample, one member per
    module of each of its groups."""
    return [(module, min(names, key=lambda n: hashlib.sha1(n.encode()).hexdigest()))
            for group in WORKLOADS[workload] for module, names in group.items()]


def member_plan(workload, seed):
    """The workload's sample in the seed's order."""
    members = sample(workload)
    random.Random(seed).shuffle(members)
    return [{"name": n, "module": m} for m, n in members]
