"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship pipeline on sf0.001 (smoke).
queries()     — name → (spark, sf_dir) -> DataFrame, one per operator
                from SURVEY.md §2 (+ extension layer).
oracle_sql()  — name → DuckDB SQL over the same parquet views; the
                driver hash-compares both sides at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's composed output document — one row per
    page carrying hierarchy + counts + tokens + L2 norm together (the
    `wikibooks` collection, SURVEY.md §1.4.1), canonicalized. This is
    the full pipeline end-to-end: scan → clean/tokenize → stopword
    gate → TF → stats → token arrays → path derivation → hierarchy
    self-join → child aggregates → substring counts → assembly."""
    from capstone_etl_spark.operators.outputs import wikibooks_docs

    return wikibooks_docs(spark, "/root/testdata/sf0.001").orderBy("doc_id")


# The driver's correctness harness samples the FIRST ~50 registered
# queries in registry order. Lifetime driver attestation after r10:
# 327/327 ever attested; the only RED-at-latest rows are the
# label_noise trio (r9+r10), root-caused in r11 to a DuckDB HUGEINT
# output column (see Block 1 below). Round-11 order: the two staged
# diagnostics + the trio lead, then one stalest-attested canary per
# family (tests/test_entry_contract.py enforces the span — head-block
# members count toward their families), then the least-recently-
# attested queries fill the window; past position 50 the rest of the
# registry rides in staleness order so any extra driver sampling
# refreshes the stalest signal first.
_PRIORITY = [
    # Block 0: the queries whose internals changed most recently lead
    # the window, so the driver attests them first — the stream queries
    # r12 rewrote (built-in streaming aggregations, truncated static
    # legs) and the two iterative pipelines behind r12's lazy CC
    # checkpoints.
    "stream_ab_test",
    "stream_conversion_survival",
    "stream_training_manifest",
    "dedup_clusters_incremental",
    "corpus_pipeline",
    # ---- driver window (first 50), round 12 -----------------------
    # Block 1: the label_noise trio — driver-red r9+r10, root-caused in
    # r11 (the trio was the ONLY oracle set emitting a HUGEINT column,
    # n_agree, whose pandas float64 form stringifies '2.0' vs Spark's
    # '2' under the driver's value hash) and GREEN in the r11 driver
    # window. The two staged diagnostics (label_noise_cells/votes,
    # ADVICE r10 #1b) did their job and leave the window head per their
    # own r11 comment + VERDICT r11 #1 — they stay REGISTERED (position
    # 51+) so nothing disappears from the registry.
    "label_noise_audit",
    "label_noise_incremental",
    "stream_label_noise",
    # ...plus the round's one NEW parity query (first driver
    # attestation): the reference-cardinality stopword gate.
    "stopword_full_gate",
    # Block 2: family canaries — every operator family keeps >=1 row
    # in the window (tests/test_entry_contract.py enforces the span);
    # each entry is the LEAST-recently-driver-attested member of its
    # family after round 10 (round shown), staleness order.
    "dedup_minhash_lsh",  # dedup, r4
    "quality_filter_funnel",  # quality, r4
    "stream_tumbling_windows",  # streaming, r4
    "ann_recall_eval",  # ann, r6
    "event_anomaly_zscore",  # events, r6
    "kmv_source_overlap",  # sketches, r6
    "mixing_allocation",  # corpus, r6
    "pii_redaction",  # privacy, r6
    "multimodal_audio_resample",  # multimodal, r7
    "retrieval_ndcg",  # doc_similarity, r7
    "split_leakage_audit",  # decontamination+splits, r7
    "zipf_fit",  # textstats, r7
    "kmeans_lloyd",  # kmeans, r8
    "negative_sampling_table",  # sampling, r8
    "rag_chunk_retrieval",  # chunking, r8
    "sequence_packing",  # packing, r9
    "tokens_collection",  # outputs, r9
    "campaign_window_stats",  # rangejoin, r10
    # Block 3: the 26 least-recently-attested remaining queries fill
    # the window — the stalest lifetime signal gets refreshed first.
    "orders_per_customer_rank",  # last driver row: r2
    "parent_child",  # last driver row: r2
    "parent_child_agg",  # last driver row: r2
    "part_cooccurrence",  # last driver row: r2
    "parts_without_orders",  # last driver row: r2
    "positional_index",  # last driver row: r2
    "posting_stats",  # last driver row: r2
    "pricing_summary",  # last driver row: r2
    "priority_order_counts",  # last driver row: r2
    "product_profit",  # last driver row: r2
    "promo_revenue",  # last driver row: r2
    "returned_item_losses",  # last driver row: r2
    "revenue_by_nation",  # last driver row: r2
    "segment_status_matrix",  # last driver row: r2
    "shipping_priority",  # last driver row: r2
    "small_qty_revenue",  # last driver row: r2
    "sparse_vector_strings",  # last driver row: r2
    "sparse_vectors",  # last driver row: r2
    "substring_counts",  # last driver row: r2
    "supplier_part_volume",  # last driver row: r2
    "tf_idf",  # last driver row: r2
    "tf_per_doc",  # last driver row: r2
    "top_customers",  # last driver row: r2
    "top_supplier",  # last driver row: r2
    "vocab_ids",  # last driver row: r2
    "ann_brute_topk",  # last driver row: r3
    # ...two stalest 51+ rows promoted into the slots the retired
    # diagnostics freed (both last attested r3/r4-era):
    "bigram_pmi",
    "corpus_summary",
    # ---- position 51+: every query below is driver-green in some
    # round AND green on the committed local full gate; ordered
    # least-recently-attested first so any extra driver sampling adds
    # the stalest signal. The retired label_noise diagnostics lead this
    # block: freshly attested green in r11, kept registered so the
    # registry never shrinks.
    "label_noise_cells",
    "label_noise_votes",
    "decontamination_spans",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "doc_chunks_overlap",
    "doc_fingerprint",
    "embedding_norms",
    "embedding_quantize",
    "gram_novelty",
    "language_id",
    "multimodal_frames",
    "multimodal_stats",
    "repetition_ratio",
    "stream_sliding_windows",
    "stream_tier_rollup",
    "stream_user_activity",
    "token_counts",
    "token_entropy",
    "token_vector_collection",
    "top_tokens_per_source",
    "vocab_coverage",
    "bpe_merge_pairs",
    "corpus_drift",
    "embedding_pairs",
    "event_asof_last_view",
    "event_daily_pivot",
    "event_daily_unpivot",
    "event_day_type_cube",
    "event_gap_fill",
    "event_gap_stats",
    "event_props_redaction",
    "event_retention_cohorts",
    "event_trailing_value",
    "event_transitions",
    "event_user_deciles",
    "event_user_funnel",
    "event_value_histogram",
    "event_value_percentiles",
    "hierarchy_pagerank",
    "pack_attention_spans",
    "packed_sequences",
    "packing_efficiency",
    "stream_click_attribution",
    "stream_user_sessions",
    "unigram_logprob",
    "winnowing_fingerprints",
    "bigram_lm_perplexity",
    "bpe_learn_merges",
    "curation_verdict",
    "dedup_incremental",
    "dedup_source_matrix",
    "doc_keywords",
    "dsir_importance",
    "embedding_whitening",
    "feature_hashing_vectors",
    "hierarchy_rollup",
    "important_parts",
    "ivf_cell_balance",
    "length_histogram",
    "local_supplier_volume",
    "mad_outliers",
    "min_cost_supplier",
    "output_file_plan",
    "retrieval_mrr",
    "semantic_dedup",
    "skipgram_pairs",
    "stream_count_min",
    "stream_kmv_sketch",
    "stream_reservoir_sample",
    "token_budget_selection",
    "tokenizer_fertility",
    "training_shuffle",
    "weighted_sample",
    "winnowing_pairs",
    "ann_ivf_pq_topk",
    "ann_pq_topk",
    "bloom_membership",
    "bpe_apply_merge",
    "cooccurrence_triangles",
    "count_min_error",
    "dedup_agreement",
    "difficulty_deciles",
    "dominant_bolt_suppliers",
    "embedding_covariance",
    "embedding_dim_stats",
    "embedding_pq",
    "event_ewma_daily",
    "event_grouping_sets",
    "event_scd_intervals",
    "hard_negative_mining",
    "hybrid_retrieval_rrf",
    "key_skew_audit",
    "late_shipment_priority",
    "length_quartiles_per_source",
    "multimodal_resize",
    "pca_power_iteration",
    "salted_hot_key_join",
    "signal_correlations",
    "source_quality_summary",
    "stream_decontamination",
    "stream_mixing_weights",
    "stream_pii_scan",
    "stream_quality_funnel",
    "supplier_count_by_part_class",
    "zorder_file_layout",
    "zorder_pruning_gain",
    "ann_radius_search",
    "bpe_encode",
    "bt_source_ratings",
    "bucketed_batching",
    "cms_join_size",
    "code_detection",
    "corpus_cube",
    "curriculum_schedule",
    "dedup_aware_weights",
    "dedup_containment",
    "dedup_keep_best",
    "dedup_sorted_neighborhood",
    "dedup_threshold_sweep",
    "dp_source_histogram",
    "embedding_coverage_audit",
    "embedding_outliers",
    "event_changelog_apply",
    "histogram_quantiles",
    "hll_distinct_sketch",
    "k_anonymity_audit",
    "label_separability",
    "lsh_tuning_curve",
    "matryoshka_recall",
    "multimodal_phash_dedup",
    "quality_agreement_matrix",
    "rendezvous_sharding",
    "source_loso_influence",
    "stopword_discovery",
    "stream_ann_topk",
    "stream_changelog_apply",
    "stream_dedup_incremental",
    "stream_hll_sketch",
    "stream_ivf_assign",
    "stream_template_extraction",
    "template_extraction",
    "tokenizer_comparison",
    "training_manifest",
    "unicode_audit",
    "unigram_tokenizer",
    "ab_test_analysis",
    "association_rules",
    "conversion_model_calibration",
    "conversion_survival",
    "dataset_card",
    "dp_quantile_release",
    "event_attribution_credit",
    "event_bot_score",
    "event_frequent_sequences",
    "event_psi_drift",
    "event_seasonality",
    "event_tail_index",
    "group_dro_weights",
    "heaps_law_fit",
    "hubness_audit",
    "ivf_cell_medoids",
    "ivf_probe_recall_curve",
    "kmv_set_difference",
    "kneser_ney_bigram",
    "ks_source_drift",
    "l_diversity_audit",
    "label_propagation",
    "lm_greedy_decode",
    "logistic_conversion_model",
    "markov_next_accuracy",
    "multimodal_caption_pairs",
    "naive_bayes_source_model",
    "next_event_examples",
    "pq_distortion_audit",
    "quantile_normalization",
    "repeated_ngram_spans",
    "rfm_segments",
    "span_corruption_masks",
    "split_perplexity_gap",
    "stream_dp_histogram",
    "stream_group_dro",
    "stream_ks_drift",
    "stream_psi_drift",
    "stream_quantile_sketch",
    "token_gini",
    "woe_feature_bins",
    "ann_hivf_topk",
    "ann_ivf_topk",
    "bitext_mining",
    "bootstrap_ci",
    "conformal_coverage",
    "coreset_coverage_audit",
    "decontamination",
    "dedup_exact",
    "doc_chunks",
    "doc_sample_stratified",
    "doc_similarity_topk",
    "doc_splits",
    "embedding_curation_manifest",
    "embedding_shift_audit",
    "event_cuped_adjustment",
    "event_double_ewma",
    "event_overdispersion",
    "hivf_cell_balance",
    "hivf_cell_medoids",
    "kcenter_coreset",
    "kll_quantile_sketch",
    "kll_sketch_merge",
    "knn_shapley_values",
    "label_centroids",
    "mmr_diversified_topk",
    "multimodal_meta",
    "pareto_frontier_docs",
    "pii_scan",
    "pq_hier_distortion_audit",
    "semantic_dedup_hier",
    "stream_ann_hivf_topk",
    "stream_bitext_mining",
    "stream_coreset_coverage",
    "stream_cuped",
    "stream_embedding_shift",
    "stream_hivf_cell_balance",
    "stream_kll_sketch",
    "stream_naive_bayes",
    "stream_pareto_frontier",
    "stream_rfm_segments",
    "stream_semantic_dedup_hier",
    "text_quality",
    "ann_hivf_pq_topk",
    "ann_lsh_topk",
    "blocking_suppliers",
    "bm25_topk",
    "boilerplate_lines",
    "chunk_packing",
    "cluster_aware_splits",
    "customer_order_distribution",
    "customer_year_setops",
    "customer_yoy_revenue",
    "dedup_clusters",
    "dictionary_file_gate",
    "dictionary_gate",
    "disjunctive_part_revenue",
    "doc_dense_ids",
    "doc_stats",
    "doc_token_arrays",
    "event_daily_matrix",
    "event_dedup",
    "event_props_json",
    "event_sessions",
    "event_sliding_windows",
    "event_tumbling_windows",
    "event_user_rank",
    "event_user_rank_profile",
    "forecast_revenue_change",
    "fuzzy_part_names",
    "idle_rich_customers",
    "inverted_index",
    "kmeans_silhouette",
    "kmv_distinct_shingles",
    "language_id_confusion",
    "large_orders",
    "market_share",
    "multimodal_frame_dedup",
    "nation_trade_flows",
    "order_date_rollup",
    "order_priority_rollup",
    "quality_filter_flags",
    "reservoir_sample",
    "semantic_decontamination",
    "sequence_packing_greedy",
    "source_mixing_weights",
    "stream_ann_hivf_pq_topk",
    "stream_event_dedup",
    "wikibooks_docs",
]


def _registry() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    from capstone_etl_spark.operators import (
        corpus,
        dedup,
        doc_similarity,
        events,
        multimodal,
        outputs,
        packing,
        preference,
        privacy,
        quality,
        rangejoin,
        relational,
        sampling,
        scaleaudit,
        sketches,
        similarity,
        streaming_queries,
        text_pipeline,
        textstats,
        valuation,
    )

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in (
        text_pipeline,
        relational,
        events,
        dedup,
        similarity,
        textstats,
        outputs,
        streaming_queries,
        multimodal,
        doc_similarity,
        rangejoin,
        sampling,
        scaleaudit,
        corpus,
        packing,
        quality,
        privacy,
        sketches,
        preference,
        valuation,
    ):
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLE_SQL)
    oracles.update({s: oracles[b] for s, b in streaming_queries.BATCH_TWIN.items()})

    ordered_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _PRIORITY:
        if name in queries:
            ordered_q[name] = queries[name]
    for name, fn in queries.items():
        if name not in ordered_q:
            ordered_q[name] = fn
    ordered_o = {name: oracles[name] for name in ordered_q if name in oracles}
    return ordered_q, ordered_o


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
