"""Driver-contract smoke: entry() runs, queries()/oracle_sql() agree on
keys, and a sample of queries matches the DuckDB oracle at sf0.001."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import compare

# The KMV family shares its hash stream, sketches and estimator across
# the batch queries and the stream twin; sf0.001 has more than K=256
# shingles per source, so the h_k estimator branch runs.
SAMPLE = [
    "tf_per_doc", "doc_stats", "vocab_ids", "pricing_summary", "top_customers",
    "kmv_distinct_shingles", "kmv_source_overlap", "kmv_set_difference",
    "stream_kmv_sketch",
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "doc_id" in df.columns and "euclidian_norm" in df.columns


def test_oracle_keys_subset_of_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_priority_names_all_registered():
    qs = entrymod.queries()
    missing = [n for n in entrymod._PRIORITY if n not in qs]
    assert missing == [], f"stale _PRIORITY entries: {missing}"


def test_first_fifty_span_every_family():
    """The driver's correctness harness samples the first ~50 registered
    queries; every operator family must land at least one row in that
    window (VERDICT r2, item 1)."""
    first50 = list(entrymod.queries())[:50]
    families = {
        # source_loso_influence (leave-one-source-out valuation) joined
        # the family in round-7 session 5 and sits in the head block,
        # covering the window for the demoted mixing_allocation
        # dataset_card / span_corruption_masks (corpus.py, round-8
        # session 2) sit in the head block, covering the window for
        # the demoted mixing_allocation
        "corpus": (
            "corpus_pipeline", "source_mixing_weights", "mixing_allocation",
            "source_loso_influence", "dataset_card", "span_corruption_masks",
        ),
        # dedup_sorted_neighborhood / split_leakage_audit joined their
        # families in round-7 session 3 and sit in the head block,
        # covering the window for the demoted canaries
        # dedup_clusters_incremental (round-8 cluster maintenance)
        # joined the family and sits in the head block, covering the
        # window for the demoted dedup_agreement
        "dedup": (
            "dedup_minhash_lsh", "dedup_clusters", "dedup_exact",
            "dedup_agreement", "dedup_sorted_neighborhood",
            "dedup_clusters_incremental",
        ),
        # semantic_decontamination (embedding-space leakage) joined the
        # family in round-7 session 4
        "decontamination": (
            "decontamination", "repeated_ngram_spans", "split_leakage_audit",
            "semantic_decontamination",
        ),
        # ann_radius_search / kmeans_silhouette joined their families
        # in round-7 session 2 and sit in the head block, covering the
        # window for the demoted r4-green canaries
        # ivf_cell_medoids / hubness_audit joined the family in round-7
        # session 5 and lead the round-8 window
        # pq_distortion_audit / ivf_probe_recall_curve (round 8) sit
        # in the head block alongside the Block-1 members
        "ann": (
            "ann_lsh_topk", "ann_ivf_topk", "ann_recall_eval",
            "ann_radius_search", "ivf_cell_medoids", "hubness_audit",
            "ivf_probe_recall_curve", "pq_distortion_audit",
        ),
        "kmeans": ("kmeans_lloyd", "label_centroids", "kmeans_silhouette"),
        # rag_chunk_retrieval (round-8 chunk-level BM25, head block)
        # covers the window for the demoted bm25_topk
        "doc_similarity": (
            "doc_similarity_topk", "bm25_topk", "retrieval_ndcg",
            "rag_chunk_retrieval",
        ),
        # the round-7 streaming/multimodal head-block queries cover the
        # window for the demoted multi-round-green canaries
        # the round-8 streaming additions (KM survival, quantile
        # sketch, PSI drift, Group-DRO, A/B monitor) joined the family
        # across sessions 1-4 and sit in the head block, covering the
        # window for the demoted multi-round-green canaries
        "streaming": (
            "stream_tumbling_windows", "stream_user_sessions",
            "stream_quality_funnel", "stream_kmv_sketch", "stream_event_dedup",
            "stream_changelog_apply", "stream_ivf_assign", "stream_hll_sketch",
            "stream_conversion_survival", "stream_quantile_sketch",
            "stream_psi_drift", "stream_group_dro", "stream_ab_test",
            "stream_ks_drift", "stream_rfm_segments", "stream_naive_bayes",
            "stream_cuped", "stream_pareto_frontier",
        ),
        # multimodal_caption_pairs (round-8 pair admission, head
        # block) covers the window for the demoted frame dedup
        "multimodal": (
            "multimodal_frame_dedup",
            "multimodal_meta",
            "multimodal_audio_resample",
            "multimodal_phash_dedup",
            "multimodal_caption_pairs",
        ),
        "outputs": ("wikibooks_docs", "tokens_collection"),
        # rag_chunk_retrieval scores doc_chunks' 50-token units (the
        # chunk-boundary offset arithmetic runs inside it) and sits in
        # the head block, covering the window for chunk_packing
        "chunking": ("doc_chunks", "chunk_packing", "rag_chunk_retrieval"),
        "packing": ("sequence_packing", "sequence_packing_greedy"),
        # split_leakage_audit exercises the family's salted-hash split
        # assignment (sampling.split_column) from the head block
        # split_perplexity_gap (train-LM split scoring over the same
        # salted-hash split assignment) sits in the Block-1 head,
        # covering the window for the demoted cluster_aware_splits
        "splits": (
            "doc_splits", "cluster_aware_splits", "split_leakage_audit",
            "split_perplexity_gap",
        ),
        # negative_sampling_table (frequency-smoothed contrastive
        # negatives, Block-1 head seat) covers the window for the
        # demoted reservoir_sample
        "sampling": (
            "doc_sample_stratified", "reservoir_sample",
            "negative_sampling_table",
        ),
        "rangejoin": ("campaign_window_stats",),
        # heaps_law_fit / token_gini joined in round-7 session 5 and
        # lead the round-8 window
        "textstats": (
            "text_quality", "zipf_fit", "language_id_confusion",
            "heaps_law_fit", "token_gini", "naive_bayes_source_model",
            "ks_source_drift", "lm_greedy_decode",
        ),
        # code_detection joined the family in round-7 session 3,
        # curriculum_schedule in session 4
        # group_dro_weights (quality.py's worst-group mixer) joined
        # the family in round-8 session 3 and sits in the head block,
        # covering the window for the demoted difficulty_deciles
        "quality": (
            "quality_filter_flags", "quality_filter_funnel",
            "difficulty_deciles", "code_detection", "curriculum_schedule",
            "group_dro_weights", "quantile_normalization",
            "pareto_frontier_docs",
        ),
        # privacy family added in round-7 session 4 (k_anonymity_audit
        # sits in the session-2 head block, dp_source_histogram in the
        # session-4 head block)
        # l_diversity_audit / stream_dp_histogram joined in round-7
        # session 5 and lead the round-8 window
        "privacy": (
            "pii_scan", "pii_redaction", "boilerplate_lines",
            "k_anonymity_audit", "dp_source_histogram",
            "l_diversity_audit", "stream_dp_histogram",
        ),
        # the round-7 session-2 sketches sit in the new-query head
        # block, covering the window alongside the KMV canaries
        # kmv_set_difference (round-8 Theta-sketch a-not-b) joined the
        # family and sits in the head block, covering the window for
        # the demoted kmv_source_overlap
        # the round-9 KLL trio (kll_quantile_sketch / kll_sketch_merge
        # / stream_kll_sketch) joined the family and leads the round-9
        # window, covering it for the demoted earlier canaries
        "sketches": (
            "kmv_distinct_shingles",
            "kmv_source_overlap",
            "cms_join_size",
            "histogram_quantiles",
            "hll_distinct_sketch",
            "kmv_set_difference",
            "kll_quantile_sketch",
            "kll_sketch_merge",
            "stream_kll_sketch",
        ),
        # event_changelog_apply joined the family in round-7 session 2
        # and sits in the new-query head block, covering the window
        # the round-7 session-5 event analytics lead the round-8 window
        "events": (
            "event_anomaly_zscore",
            "event_user_rank_profile",
            "event_changelog_apply",
            "ab_test_analysis",
            "event_tail_index",
            "event_psi_drift",
            "conversion_survival",
            "event_seasonality",
            # round-8 session 5: attribution, bot screen, logistic GD,
            # WoE feature screen
            "event_attribution_credit",
            "event_bot_score",
            "markov_next_accuracy",
            "rfm_segments",
            "bootstrap_ci",
            "conformal_coverage",
            "event_cuped_adjustment",
            "event_overdispersion",
            "logistic_conversion_model",
            "woe_feature_bins",
            "conversion_model_calibration",
        ),
    }
    absent = {
        fam: qlist
        for fam, qlist in families.items()
        if not any(q in first50 for q in qlist)
    }
    assert absent == {}, f"families missing from the driver's 50-query window: {absent}"


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, sf_dir, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark_pdf = qs[name](spark, sf_dir).toPandas()
    duck_pdf = con.execute(oracles[name]).df()
    assert compare(name, spark_pdf, duck_pdf) == []
