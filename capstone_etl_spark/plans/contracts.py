"""Plan contracts shared by tools/dump_plans.py and tests/test_plans.py.

ALLOWED_CARTESIAN is the closed list of queries whose physical plan may
contain a CartesianProduct / BroadcastNestedLoopJoin, each with the
bounded build side that justifies it. Anything else showing a cartesian
is a defect: test_plans.test_cartesian_allowlist fails on any headline
query with an unlisted cartesian, so the no-cartesian contract is
mechanically checkable instead of free-text (VERDICT r4 item 4).

Every entry is one of two shapes, neither a pairwise blow-up:
- a 1-row scalar broadcast: a global aggregate (corpus total, count,
  average) joined into the plan lazily instead of an eager driver-side
  .count()/.collect();
- a bounded small-relation broadcast: a build side whose size is a
  function of the corpus that grows strictly slower than the data
  (≈√N quantizer seeds; |sources|²·k sketch rows).
"""

from __future__ import annotations

ALLOWED_CARTESIAN: dict[str, str] = {
    "tf_idf": "1-row corpus document-count broadcast (index.py tf_idf)",
    "bigram_pmi": "1-row unigram + bigram total broadcasts (textstats.py)",
    "corpus_drift": "1-row corpus token-total broadcast (textstats.py)",
    "unigram_logprob": "1-row corpus LM-total broadcast (quality.py)",
    "idle_rich_customers": (
        "1-row average-balance scalar subquery broadcast (relational.py, Q22)"
    ),
    "event_user_rank_profile": (
        "1-row user-count and median broadcasts (events.py)"
    ),
    "kmv_source_overlap": (
        "sketch x sketch pairwise join bounded by |sources|^2 * k sketch "
        "rows - never corpus data (sketches.py)"
    ),
    "hierarchy_pagerank": (
        "1-row node-count / dangling-mass broadcasts per unrolled "
        "iteration (text_pipeline.py)"
    ),
    "difficulty_deciles": (
        "1-row corpus-count broadcast for decile boundaries (quality.py)"
    ),
    "curriculum_schedule": (
        "inherits difficulty_deciles' 1-row corpus-count broadcast; its "
        "own decile-offset join is a bounded 10-row broadcast (quality.py)"
    ),
    "semantic_dedup": (
        "1-row corpus-stats broadcast + the hash-sampled ~sqrt(N) "
        "quantizer-seed broadcast (similarity.quantizer_seeds)"
    ),
    "source_loso_influence": (
        "1-row corpus (N, V) broadcast over the source-token spine "
        "(corpus.py)"
    ),
    "heaps_law_fit": (
        "1-row max-doc broadcast + the 10-row checkpoint-grid "
        "inequality join (bounded nested loop) + the 1-row fit "
        "broadcast back over the 10-row curve (textstats.py)"
    ),
    "hubness_audit": (
        "composes ann_ivf_topk's candidate pipeline — inherits its "
        "seed/probe-count broadcasts; adds a 1-row totals broadcast "
        "over the degree histogram (similarity.py)"
    ),
    "event_tail_index": (
        "1-row threshold broadcast over the ≤ k+1 top-order-statistic "
        "rows (events.py)"
    ),
    "event_psi_drift": (
        "1-row time-midpoint + 1-row reference-range broadcasts over "
        "the scan (events.py)"
    ),
    "split_perplexity_gap": (
        "1-row train-LM (N, V) broadcast over the split-token spine + "
        "the 1-row train-nll broadcast over the 3-row result "
        "(quality.py)"
    ),
    "association_rules": (
        "1-row doc-count broadcast over the bounded <= 2*C(64,2)-row "
        "rule relation (textstats.py)"
    ),
    "conversion_survival": (
        "1-row at-risk-total broadcast over the minute-bounded KM "
        "curve relation (events.py)"
    ),
    "ivf_cell_medoids": (
        "1-row corpus-stats broadcast + the hash-sampled ~sqrt(N) "
        "quantizer-seed broadcast (similarity.quantizer_seeds)"
    ),
    "ann_ivf_topk": (
        "1-row corpus-stats + 1-row probe-count broadcasts + the "
        "~sqrt(N) quantizer-seed broadcast (similarity.quantizer_seeds)"
    ),
    "ann_radius_search": (
        "composes ann_ivf_topk's candidate pipeline (_ivf_scored) - "
        "inherits its seed/probe-count broadcasts (similarity.py)"
    ),
    # not in the headline list but registered queries with the same
    # deliberate shapes (documented here so the allowlist is complete
    # for any future headline additions):
    "token_entropy": "1-row corpus token-total broadcast (textstats.py)",
    "zipf_fit": "1-row regression-moment broadcast (textstats.py)",
    "corpus_summary": (
        "1-row x 1-row x 1-row dashboard assembly (corpus.py) - every "
        "side is a single-row aggregate"
    ),
    "ann_brute_topk": (
        "broadcast query set x corpus scan - the documented eval-only "
        "brute-force baseline (similarity.py)"
    ),
    "ann_recall_eval": (
        "composes ann_brute_topk / ann_ivf_topk - inherits their "
        "bounded broadcasts"
    ),
    "event_anomaly_zscore": (
        "1-row per-type z-score stats broadcast back over days "
        "(events.py)"
    ),
    "mixing_allocation": "1-row corpus-total broadcast (corpus.py)",
    "vocab_coverage": "1-row corpus token-total broadcast (textstats.py)",
    "gram_novelty": "1-row corpus gram-total broadcast (dedup.py)",
    "language_id_confusion": "1-row corpus doc-count broadcast (textstats.py)",
    "doc_similarity_topk": (
        "1-row corpus doc-count broadcast feeding the tf-idf weights "
        "(doc_similarity.py)"
    ),
    "bpe_apply_merge": (
        "1-row winning-merge-pair broadcast applied over the aggregated "
        "vocabulary (textstats.py)"
    ),
    "important_parts": (
        "1-row nation-total broadcast for the Q11 global-fraction "
        "HAVING (relational.py)"
    ),
    "mad_outliers": (
        "1-row corpus-median + 1-row MAD broadcasts back over the "
        "per-doc counts (quality.py)"
    ),
    "pca_power_iteration": (
        "1-row max-|w| normalization broadcast per unrolled iteration "
        "over the DIM^2-row matrix relation (similarity.py)"
    ),
    "doc_keywords": (
        "1-row corpus document-count broadcast feeding the tf-idf "
        "scores (textstats.py — tf_idf's shape)"
    ),
    "bpe_learn_merges": (
        "1-row winning-pair broadcast applied to the aggregated "
        "vocabulary per learned round (textstats.py — "
        "bpe_apply_merge's shape, iterated)"
    ),
    "bpe_encode": (
        "1-row winning-pair broadcast per learned round "
        "(textstats.py — bpe_learn_merges' loop; the encode join "
        "itself is a vocab-sized equi-join)"
    ),
    "unigram_tokenizer": (
        "1-row piece-mass normalizer broadcast over the bounded piece "
        "inventory (textstats.py — the Viterbi DP itself is map-only "
        "column math)"
    ),
    "lsh_tuning_curve": (
        "three 1-row measurement aggregates (candidate / verified / "
        "true pair counts) broadcast onto the 19-row S-curve grid "
        "(scaleaudit.py)"
    ),
    "curation_verdict": (
        "composes unigram_logprob + mad_outliers — inherits their "
        "1-row corpus-total / median / MAD broadcasts (quality.py)"
    ),
    "source_quality_summary": (
        "composes curation_verdict — inherits the same 1-row "
        "broadcasts (quality.py)"
    ),
    "dsir_importance": (
        "two 1-row feature-mass totals (target/raw) broadcast over the "
        "per-(doc,bucket) counts; the DSIR_BUCKETS-row models join "
        "broadcast on the bucket key, not cartesian (quality.py)"
    ),
    "token_budget_selection": (
        "composes unigram_logprob — inherits its 1-row corpus LM-total "
        "broadcast; budgets/offsets are bounded equi-joins (quality.py)"
    ),
    "bm25_topk": (
        "1-row corpus doc-count/avgdl broadcast over the query-term "
        "candidate postings (doc_similarity.py)"
    ),
    "embedding_pq": (
        "the hash-sampled ~sqrt(N) quantizer-seed broadcast "
        "(similarity.quantizer_seeds' 1-row stats join), sliced per "
        "subspace (similarity.py)"
    ),
    "ann_pq_topk": (
        "inherits embedding_pq's quantizer-seed broadcast; the ADC "
        "distance tables are a (queries x M x ~sqrt(N))-row broadcast "
        "equi-join, not cartesian (similarity.py)"
    ),
    "ann_ivf_pq_topk": (
        "composes the IVF probe and the PQ ADC rank — inherits the "
        "~sqrt(N) quantizer-seed broadcast and the 1-row probe-count "
        "broadcast (similarity.py)"
    ),
    "hybrid_retrieval_rrf": (
        "composes bm25_topk + ann_pq_topk — inherits their 1-row "
        "corpus-stats and quantizer-seed broadcasts (doc_similarity.py)"
    ),
    "zorder_pruning_gain": (
        "16-row literal probe table broadcast against the ≤2·Z_FILES-row "
        "per-file min/max stats — both sides corpus-size-free "
        "(scaleaudit.py)"
    ),
    "ivf_cell_balance": (
        "the hash-sampled ~sqrt(N) quantizer-seed broadcast "
        "(similarity.quantizer_seeds' 1-row stats join) + a 1-row "
        "corpus-total broadcast for the share/cap columns "
        "(scaleaudit.py)"
    ),
    "retrieval_mrr": (
        "composes bm25_topk — inherits its 1-row corpus "
        "doc-count/avgdl broadcast (doc_similarity.py)"
    ),
    "bt_source_ratings": (
        "1-row max-rating anchor broadcast per unrolled MM iteration "
        "over the |sources|-row rating relation (preference.py)"
    ),
    "matryoshka_recall": (
        "broadcast query set x corpus scan, twice (full-dim and "
        "truncated rankings) - ann_brute_topk's documented eval-only "
        "shape (similarity.py)"
    ),
    "retrieval_ndcg": (
        "composes bm25_topk — inherits its 1-row corpus "
        "doc-count/avgdl broadcast (doc_similarity.py, retrieval_mrr's "
        "shape)"
    ),
    "stopword_discovery": (
        "1-row corpus doc-count broadcast over the token-level "
        "aggregates (textstats.py — tf_idf's shape)"
    ),
    "cms_join_size": (
        "1-row exact-size x 1-row sketch-estimate combine (sketches.py) "
        "— both sides are single-row aggregates"
    ),
    "quality_agreement_matrix": (
        "1-row LM-threshold (corpus mean per-token NLL) broadcast over "
        "the per-doc verdict relation (quality.py)"
    ),
    "dedup_threshold_sweep": (
        "9-row threshold-grid broadcast expanded over the df-capped "
        "candidate-pair relation via a range predicate (scaleaudit.py)"
    ),
    "tokenizer_comparison": (
        "composes bpe_encode (inherits its 1-row winning-pair broadcast "
        "per learned round) + four 1-row rollups unioned (textstats.py)"
    ),
    "histogram_quantiles": (
        "1-row (min,max,count) stats broadcast into the bin map, plus "
        "rank-range probes against the <=W-row histogram and the "
        "value-domain-bounded cumulative relation (sketches.py)"
    ),
    "kneser_ney_bigram": (
        "1-row bigram-type-total broadcast (the continuation-probability "
        "denominator) over the KN_TOPK-row relation (textstats.py)"
    ),
    "ivf_probe_recall_curve": (
        "composes the IVF probe pipeline + ann_brute_topk ground truth "
        "— inherits the ~sqrt(N) seed broadcast and the eval-only "
        "brute query x corpus scan; adds a 1-row query-count broadcast "
        "(similarity.py)"
    ),
    "kmv_set_difference": (
        "sketch x sketch pairwise join bounded by |sources|^2 * k "
        "sketch rows (kmv_source_overlap's shape) - never corpus data "
        "(sketches.py)"
    ),
    "group_dro_weights": (
        "1-row corpus token-total broadcast (unigram_logprob's shape) "
        "over the |sources|-row loss relation (quality.py)"
    ),
    "rag_chunk_retrieval": (
        "1-row chunk-count/avgdl stats broadcast over the query-term "
        "candidate postings (doc_similarity.py - bm25_topk's shape at "
        "chunk granularity)"
    ),
    "naive_bayes_source_model": (
        "1-row vocab-size/train-count scalars and the |sources|-row "
        "per-class constant relation broadcast over the test-doc spine "
        "(textstats.py - the factored NB score's class grid)"
    ),
    "ks_source_drift": (
        "the |sources|-row source list broadcast over the distinct "
        "length domain (the ECDF evaluation grid) + the 1-row corpus "
        "doc-count broadcast (textstats.py)"
    ),
    "woe_feature_bins": (
        "1-row POS/NEG label-total broadcast over the <= 4*WOE_BINS "
        "bin cells (events.py)"
    ),
    "quantile_normalization": (
        "1-row corpus doc-count broadcast for the rank mapping "
        "(quality.py; the global order itself is with_dense_ids)"
    ),
    "lm_greedy_decode": (
        "DECODE_STEPS 1-row probe-side joins against the cached argmax "
        "relation + the 1-row seed aggregate (textstats.py)"
    ),
    "pq_distortion_audit": (
        "inherits embedding_pq's ~sqrt(N) codebook broadcast; adds the "
        "1-row seed-count and distortion-total broadcasts over the "
        "PQ_M-row audit (similarity.py)"
    ),
    "rfm_segments": (
        "1-row max-ts and user-count broadcasts over the per-user "
        "relation; the rankings themselves are with_dense_ids "
        "(events.py)"
    ),
    "stream_rfm_segments": (
        "shares rfm_release — the same 1-row max-ts / user-count "
        "broadcasts over the drained per-user snapshot "
        "(streaming_queries.py)"
    ),
    "bootstrap_ci": (
        "1-row point-estimate broadcast over the 2-row percentile "
        "readout; the replicate relation is BOOT_B rows by "
        "construction (events.py)"
    ),
    "event_cuped_adjustment": (
        "1-row time-midpoint and pooled-theta broadcasts over the "
        "<= AB_VARIANTS-row rollup (events.py)"
    ),
    "stream_cuped": (
        "shares cuped_release — the same 1-row pooled-theta broadcast "
        "over the drained per-user snapshot (streaming_queries.py)"
    ),
    "ann_hivf_topk": (
        "1-row corpus-stats / min-hash / probe-count broadcasts + the "
        "1-row collected ~N^(1/4) branch-array broadcast that routes "
        "every vector in-row (similarity._hier_cand_seed); the only "
        "Generate is the bounded BRANCH_PROBES=2 route explode"
    ),
    "hivf_cell_medoids": (
        "inherits hier_assign's 1-row stats / min-hash / branch-array "
        "broadcasts (similarity._hier_cand_seed); candidate selection "
        "is a cell-cap-bounded window, the pairwise stage is pop*M per "
        "cell"
    ),
    "stream_ann_hivf_pq_topk": (
        "ann_hivf_pq_topk's serving path at ingest — the 1-row "
        "branch-cells routing artifact broadcast against the stream; "
        "candidates and code terms flow through stream-static "
        "equi-joins (streaming_queries.py)"
    ),
    "ann_hivf_pq_topk": (
        "composes the two-level coarse router (ann_hivf_topk's 1-row "
        "branch-array / stats / probe-count broadcasts) with the "
        "per-subspace hier encode (_pq_hier_codes' (m, branch) "
        "broadcast equi-join) and the flat Qx M x ~sqrt(N) query ADC "
        "table broadcast — every crossJoin side is 1-row or "
        "query-bounded (similarity.py)"
    ),
    "semantic_dedup_hier": (
        "inherits hier_assign's 1-row stats / min-hash / branch-array "
        "broadcasts (similarity._hier_cand_seed); the pair stage is the "
        "flat semantic_dedup's cell-bounded equi-join"
    ),
    "hivf_cell_balance": (
        "inherits hier_assign's 1-row stats / min-hash / branch-array "
        "broadcasts + the 1-row corpus-total broadcast of the shared "
        "_cell_balance_tail (scaleaudit.py)"
    ),
    "pq_hier_distortion_audit": (
        "inherits the branch-array / 1-row stats broadcasts of the "
        "per-subspace two-level router (_pq_hier_codes) + the 1-row "
        "seed-count and distortion-total broadcasts over the PQ_M-row "
        "audit (similarity.py)"
    ),
    "bitext_mining": (
        "inherits hier_assign's 1-row stats / min-hash / branch-array "
        "broadcasts; candidates are each source's top-BITEXT_C "
        "within-cell cosines scored IN-ROW against per-cell target "
        "posting arrays (_bitext_capped_pairs — r11; the uncapped "
        "popA*popB pair shuffle measured decade-2 exponent 1.41 and "
        "was replaced), so every window/join downstream runs on the "
        "N*C relation (similarity.py)"
    ),
    "kll_quantile_sketch": (
        "1-row-per-source stats broadcast into the survivor filter, "
        "plus rank-range probes of the <=K-row-per-source sample and "
        "the value-domain-bounded cumulative relation (sketches.py; "
        "the histogram_quantiles shape with a mergeable sample)"
    ),
    "knn_shapley_values": (
        "broadcast N_QUERIES-row test set x corpus scan — the "
        "eval-bounded brute pattern (ann_brute_topk's shape); the "
        "suffix recurrence is one window pass per test point "
        "(valuation.py)"
    ),
    "label_noise_audit": (
        "the hash-sampled ~sqrt(N) quantizer-seed broadcast + 1-row "
        "corpus-stats broadcast (similarity.quantizer_seeds — "
        "semantic_dedup's index); the vote stage is a within-cell "
        "equi-join, never N x N (valuation.py)"
    ),
    "kcenter_coreset": (
        "per-round crossJoin of the corpus against the <=K-row "
        "selected-centers broadcast (greedy k-center, K=8 fixed "
        "rounds), each round ending in a 1-row TakeOrdered pick "
        "(valuation.py)"
    ),
    "mmr_diversified_topk": (
        "broadcast N_QUERIES-row query set x corpus scan for the "
        "retrieve; every MMR round then touches only the C=20-per-"
        "query cached candidate lists (valuation.py)"
    ),
    "label_noise_incremental": (
        "the base-built ~sqrt(N) quantizer-seed broadcast + 1-row "
        "corpus-stats broadcast (quantizer_seeds over the base "
        "subset); the delta-vs-base vote stage is a cell equi-join, "
        "candidate volume |delta| x cell population (valuation.py)"
    ),
    "stream_label_noise": (
        "inherits label_noise_incremental's base-seed / 1-row stats "
        "broadcasts (the static index side and the delta-row batch "
        "tail); in-stream routing is the 1-row collect_list seed "
        "broadcast, per-row math, zero state (streaming_queries.py)"
    ),
    "coreset_coverage_audit": (
        "inherits kcenter_coreset's per-round <=K-row selected "
        "broadcasts; the assignment pass is one crossJoin against the "
        "KCENTER_K-row center broadcast + a 1-row corpus-total "
        "broadcast for the share column (valuation.py)"
    ),
    "stream_embedding_shift": (
        "no cartesian of its own: the static base side is one 64-row "
        "aggregate, the stream side a DIM-key complete-mode aggregate "
        "joined on d (streaming_queries.py)"
    ),
    "stream_coreset_coverage": (
        "inherits kcenter_coreset's per-round broadcasts (static "
        "center selection) + the 1-row collect_list center broadcast "
        "for in-row routing and a 1-row drained-total broadcast "
        "(streaming_queries.py)"
    ),
    "embedding_curation_manifest": (
        "composes semantic_dedup + label_noise_audit (one SHARED "
        "quantizer-seed broadcast and one shared cell-pair relation) "
        "+ knn_shapley_values (its N_QUERIES-row test broadcast) — "
        "inherits those operators' bounded broadcasts (valuation.py)"
    ),
}

# NOTE: conversion_model_calibration and logistic_conversion_model are
# deliberately NOT in the plans HEADLINE: their final plans embed the
# learned-weight literals, which change with the data and would churn
# PLANS.md on every regeneration; their per-round discipline is pinned
# by tests/test_round8_session5.py instead.

# The queries whose plans PLANS.md records (tools/dump_plans.py) and
# over which the cartesian allowlist is asserted.
HEADLINE: list[str] = [
    "tf_per_doc",
    "doc_stats",
    "inverted_index",
    "sparse_vectors",
    "tf_idf",
    "wikibooks_docs",
    "parent_child_agg",
    "pricing_summary",
    "top_customers",
    "revenue_by_nation",
    "orders_per_customer_rank",
    "order_date_rollup",
    "dedup_minhash_lsh",
    "embedding_pairs",
    "ann_ivf_topk",
    "ann_hivf_topk",
    "doc_similarity_topk",
    "bigram_pmi",
    "campaign_window_stats",
    "small_qty_revenue",
    "event_user_funnel",
    "doc_sample_stratified",
    "embedding_quantize",
    "positional_index",
    "event_trailing_value",
    "event_day_type_cube",
    "event_gap_stats",
    "nation_trade_flows",
    "market_share",
    "product_profit",
    "promo_revenue",
    "disjunctive_part_revenue",
    "idle_rich_customers",
    "blocking_suppliers",
    "event_gap_fill",
    "source_mixing_weights",
    "top_supplier",
    "large_orders",
    "token_entropy",
    "top_tokens_per_source",
    "decontamination_spans",
    "event_retention_cohorts",
    "event_props_redaction",
    "kmeans_lloyd",
    "cluster_aware_splits",
    "multimodal_frame_dedup",
    "fuzzy_part_names",
    "shipping_priority",
    "priority_order_counts",
    "forecast_revenue_change",
    "returned_item_losses",
    "customer_order_distribution",
    "event_value_histogram",
    "event_user_rank_profile",
    "event_daily_unpivot",
    "customer_yoy_revenue",
    "sequence_packing",
    "sequence_packing_greedy",
    "packing_efficiency",
    "packed_sequences",
    "chunk_packing",
    "pack_attention_spans",
    "winnowing_fingerprints",
    "semantic_dedup",
    "corpus_drift",
    "bpe_merge_pairs",
    "quality_filter_flags",
    "quality_filter_funnel",
    "unigram_logprob",
    "kmv_distinct_shingles",
    "kmv_source_overlap",
    "hierarchy_pagerank",
    "repeated_ngram_spans",
    "difficulty_deciles",
    "mixing_allocation",
    "min_cost_supplier",
    "local_supplier_volume",
    "important_parts",
    "late_shipment_priority",
    "supplier_count_by_part_class",
    "dominant_bolt_suppliers",
    "reservoir_sample",
    "length_histogram",
    "tokenizer_fertility",
    "bigram_lm_perplexity",
    "bpe_apply_merge",
    "embedding_dim_stats",
    "embedding_covariance",
    "skipgram_pairs",
    "mad_outliers",
    "training_shuffle",
    "pca_power_iteration",
    "feature_hashing_vectors",
    "dedup_source_matrix",
    "doc_keywords",
    "embedding_whitening",
    "count_min_error",
    "bpe_learn_merges",
    "length_quartiles_per_source",
    "curation_verdict",
    "source_quality_summary",
    "hierarchy_rollup",
    "dsir_importance",
    "token_budget_selection",
    "bm25_topk",
    "embedding_pq",
    "ann_pq_topk",
    "cooccurrence_triangles",
    "hybrid_retrieval_rrf",
    "key_skew_audit",
    "output_file_plan",
    "ivf_cell_balance",
    "weighted_sample",
    "retrieval_mrr",
    "dedup_incremental",
    "ann_ivf_pq_topk",
    "zorder_file_layout",
    "event_scd_intervals",
    "pii_scan",
    "pii_redaction",
    "boilerplate_lines",
    "hard_negative_mining",
    "event_ewma_daily",
    "signal_correlations",
    "salted_hot_key_join",
    "bloom_membership",
    "multimodal_resize",
    "zorder_pruning_gain",
    "bt_source_ratings",
    "template_extraction",
    "embedding_coverage_audit",
    "bucketed_batching",
    "matryoshka_recall",
    "dedup_containment",
    "embedding_outliers",
    "retrieval_ndcg",
    "dedup_keep_best",
    "stopword_discovery",
    "unicode_audit",
    "bpe_encode",
    "unigram_tokenizer",
    "training_manifest",
    "lsh_tuning_curve",
    "multimodal_audio_resample",
    "cms_join_size",
    "histogram_quantiles",
    "kll_quantile_sketch",
    "ann_hivf_pq_topk",
    "stream_ann_hivf_pq_topk",
    "hivf_cell_medoids",
    "semantic_dedup_hier",
    "bitext_mining",
    "hivf_cell_balance",
    "pq_hier_distortion_audit",
    "k_anonymity_audit",
    "kmeans_silhouette",
    "event_changelog_apply",
    "quality_agreement_matrix",
    "dedup_threshold_sweep",
    "tokenizer_comparison",
    "ann_radius_search",
    "label_separability",
    "dedup_aware_weights",
    "hll_distinct_sketch",
    "corpus_cube",
    "multimodal_phash_dedup",
    "dedup_sorted_neighborhood",
    "split_leakage_audit",
    "code_detection",
    "semantic_decontamination",
    "curriculum_schedule",
    "dp_source_histogram",
    "source_loso_influence",
    "ivf_cell_medoids",
    "rendezvous_sharding",
    "heaps_law_fit",
    "l_diversity_audit",
    "ab_test_analysis",
    "hubness_audit",
    "event_tail_index",
    "negative_sampling_table",
    "event_psi_drift",
    "split_perplexity_gap",
    "association_rules",
    "label_propagation",
    "token_gini",
    "conversion_survival",
    "event_seasonality",
    "dedup_clusters_incremental",
    "event_frequent_sequences",
    "next_event_examples",
    "span_corruption_masks",
    "kneser_ney_bigram",
    "dataset_card",
    "dp_quantile_release",
    "ivf_probe_recall_curve",
    "kmv_set_difference",
    "group_dro_weights",
    "rag_chunk_retrieval",
    "multimodal_caption_pairs",
    "naive_bayes_source_model",
    "ks_source_drift",
    "woe_feature_bins",
    "quantile_normalization",
    "markov_next_accuracy",
    "lm_greedy_decode",
    "pq_distortion_audit",
    "rfm_segments",
    # logistic_conversion_model is excluded: its plan embeds the 15
    # learned-weight literals, so the dump would churn on every data
    # change; its per-round discipline is pinned by
    # tests/test_round8_session5.py instead.
    "event_attribution_credit",
    "event_bot_score",
    "bootstrap_ci",
    "event_cuped_adjustment",
    "pareto_frontier_docs",
    "event_overdispersion",
    "knn_shapley_values",
    "label_noise_audit",
    "kcenter_coreset",
    "mmr_diversified_topk",
    "label_noise_incremental",
    "coreset_coverage_audit",
    "embedding_shift_audit",
    "embedding_curation_manifest",
    "event_double_ewma",
]
