"""Degenerate-corpus cross-engine sweep (the generalization of ADVICE
r4 #1): every document-shaped query family is run Spark-vs-DuckDB on a
corpus of pathological documents — empty text, whitespace-only,
punctuation-only, single-token, Zipf-degenerate repetition, MULTIBYTE
unicode, one huge token, digits-only, control characters. The r5 sweep
of the full 154-query gate on this corpus caught the multimodal
byte-vs-character length divergence (length() vs strlen(), char-sliced
vs byte-sliced frames); this test pins the representative set so the
classes of bug it found stay fixed."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import compare

ROWS = [
    (0, "", "en", "web", 0),
    (1, "   ", "en", "web", 3),
    (2, "!!! ??? ...", "en", "web", 11),
    (3, "a", "en", "books", 1),
    (4, "the the the the", "en", "books", 15),
    (5, "a perfectly ordinary document with several distinct words", "en", "web", 57),
    (6, "café naïve 日本語 mixed unicode text", "fr", "web", 30),
    (7, "x" * 5000, "en", "code", 5000),
    (8, "123 456 789 0", "en", "code", 13),
    (9, "\tTabs\nand\nnewlines\teverywhere\n", "en", "web", 30),
]

# One representative per document-query family (streaming excluded —
# job-per-call; the full sweep runs via
#   tools/check_correctness.py /tmp/<degenerate-dir>
# ad hoc). multimodal_* are the queries the r5 sweep actually caught.
NAMES = [
    "multimodal_stats",
    "multimodal_meta",
    "multimodal_frames",
    "multimodal_frame_dedup",
    "text_quality",
    "quality_filter_flags",
    "token_counts",
    "doc_fingerprint",
    "length_histogram",
    "tokenizer_fertility",
    "doc_chunks",
    "dedup_exact",
    "sequence_packing",
    "reservoir_sample",
    # round 9: tiny per-source counts → level 0, the sample IS the
    # corpus, est must equal exact with abs_error 0 in both engines
    "kll_quantile_sketch",
    # round-5 training-pipeline ops (document-shaped)
    "skipgram_pairs",
    "mad_outliers",
    "training_shuffle",
    "feature_hashing_vectors",
    "doc_keywords",
    "bpe_learn_merges",
    "count_min_error",
    "length_quartiles_per_source",
    "curation_verdict",
    "source_quality_summary",
    # round-5 session-2 ops: empty target set (dsir), sub-2-token docs
    # absent (budget selection, bm25 candidates), deep-tree rollup on a
    # 10-doc corpus
    "hierarchy_rollup",
    "dsir_importance",
    "token_budget_selection",
    "bm25_topk",
    # round-5 session-3 ops: empty/whitespace docs weight-floor to 1
    # (weighted_sample), zero-byte files still plan ≥1 file
    # (output_file_plan), queries with zero relevant docs (retrieval_mrr)
    "output_file_plan",
    "weighted_sample",
    "retrieval_mrr",
    # delta docs with no shingles (empty/short text) must verdict as new
    "dedup_incremental",
    # privacy ops: digit-heavy / control-char / huge-token docs through
    # the regex stack; empty + whitespace docs through line splitting
    "pii_scan",
    "pii_redaction",
    "boilerplate_lines",
    # zero/near-zero variance signals must NULL the correlation, not
    # divide by zero or drift
    "signal_correlations",
    # tiny/degenerate vocabularies through the bit-packed filter
    "bloom_membership",
    # multibyte/huge/empty payloads through the resize geometry
    "multimodal_resize",
    # round-6 ops: empty/whitespace docs share the '' template shape
    # (template_extraction), every doc duels in some bucket with ties
    # on identical n_chars (bt_source_ratings), zero-token docs are
    # absent from the batch plan while the 5000-char doc clamps to the
    # top bucket (bucketed_batching)
    "template_extraction",
    "bt_source_ratings",
    "bucketed_batching",
    # short/empty docs have no shingles -> absent from containment;
    # ndcg queries with zero relevant docs must score 0.0, not NULL
    "dedup_containment",
    "retrieval_ndcg",
    # keep-best ties (equal n_chars) must pick the same doc in both
    # engines; 'the'-only corpus makes every token a stopword candidate
    "dedup_keep_best",
    "stopword_discovery",
    # multibyte unicode doc + control chars + empty docs through the
    # char-class counts; 0/0 ratio must be 0.0 in both engines
    "unicode_audit",
    # round-7: the full learn->encode arc on a corpus where merge
    # candidates are scarce (single-char tokens, digit runs, one huge
    # 'xxxx...' token that dominates every pair count) — the encode
    # join must still cover every source and fertility stays finite
    "bpe_encode",
    # the 5000-char token is out of model (> UNI_MAX_WORD_LEN), empty
    # docs contribute no words, digit runs segment over digit pieces —
    # the DP must stay total on whatever vocabulary remains
    "unigram_tokenizer",
    # the composed manifest on a corpus where most docs fail the
    # quality gate and doc_id 0 is both bench (0 % 50 == 0) and the
    # natural min survivor — the screen must still leave a coherent
    # (possibly empty) shard table
    "training_manifest",
    # a corpus whose only near-dup signal is the repeated 'the' doc:
    # the curve's measured columns must stay coherent (verified <=
    # candidates, verified <= true) even when counts are 0 or tiny
    "lsh_tuning_curve",
    # empty/multibyte/huge payloads through the audio geometry + the
    # exact-integer sample accounting (rate*dur//1000 both engines)
    "multimodal_audio_resample",
    # round-7 session 2: n_chars ties put several quantile ranks in the
    # SAME histogram bin and the same exact value; the interpolation
    # and the discrete-rank pick must agree engine-for-engine
    "histogram_quantiles",
    # zero-token docs have no LM row: the COALESCE(FALSE) rule must
    # verdict them identically on both engines in every pair cell
    "quality_agreement_matrix",
    # only the repeated-'the' pair survives any threshold: the sweep's
    # LEFT join must keep the empty thresholds as explicit 0 rows
    "dedup_threshold_sweep",
    # scarce merges + out-of-model huge token: the unigram coverage
    # mass must differ from BPE's by exactly the out-of-model words
    "tokenizer_comparison",
    # the repeated-'the' docs form the only real cluster; every other
    # doc must ride through as a singleton at weight exactly 1.0
    "dedup_aware_weights",
    # near-empty vocabularies leave almost every register empty: the
    # linear-counting branch (with its cross-engine ln) must fire
    # identically in both engines
    "hll_distinct_sketch",
    # NULL-lang / empty docs must land in the right CUBE cells with
    # grouping_id separating subtotals from genuine NULL keys
    "corpus_cube",
    # repeated and near-empty payloads through the per-byte cell
    # grid: tiny payloads (< 64 bytes) leave cells absent and the
    # identical-doc pair must fingerprint to hamming 0 in both engines
    "multimodal_phash_dedup",
    # round-7 session 3: the three shingle-free docs (empty /
    # whitespace / punctuation-only) share blocking key '' and become
    # window-adjacent — their pairwise union is 0, so the 1.0
    # both-empty Jaccard branch must fire identically in both engines
    "dedup_sorted_neighborhood",
    # a 10-doc corpus rarely crosses the split cut with >= 3 shared
    # capped 8-grams: the audit must return the same (possibly empty)
    # relation on both engines
    "split_leakage_audit",
    # empty docs score 0.0/false; the single-5000-char-token doc has
    # rep_ratio exactly 0; digits-only docs hit no markers — the
    # verdict threshold must agree engine-for-engine on every edge
    "code_detection",
    # round-7 session 4: a 10-doc corpus puts ~1 doc per difficulty
    # decile and several docs tie at nll 0 (empty/OOV-only token
    # lists) — the (nll, doc_id) and (decile, hash, doc_id) orders
    # must tiebreak identically in both engines
    "curriculum_schedule",
    # tiny per-source counts (1-3 docs) + noise can push the released
    # count negative: the max(0, ·) clamp must fire identically
    "dp_source_histogram",
    # round-7 session 5: a 10-doc corpus leaves most of the 9 shards
    # empty — the spine's zero-fill and the first-match CASE argmax
    # must agree with Spark's min(struct) tiebreak on every doc
    "rendezvous_sharding",
    # empty/whitespace docs contribute zero tokens: their source's
    # leave-one-out denominator subtraction and the add-α smoothing
    # must agree engine-for-engine (sources: web/books/code → 3 rows)
    "source_loso_influence",
    # a 10-doc corpus puts several checkpoints before the first
    # token-bearing doc: the zero-token row drop and the tiny-N OLS
    # (possibly NULL fit) must agree engine-for-engine
    "heaps_law_fit",
    # a 10-doc corpus can leave a split empty (or tokenless): the
    # OOV-α scoring, the empty-split row drop, and the possibly-NULL
    # train baseline must agree engine-for-engine
    "split_perplexity_gap",
    # tiny vocab → massive lift/confidence TIES: the top-k boundary
    # (df desc, token) and the rule ranking tiebreaks must agree
    # engine-for-engine
    "association_rules",
    # a pair-less near-dup graph (no doc shares a shingle) must leave
    # every doc a singleton community through all LP rounds
    "label_propagation",
    # several zero-token docs → rank ties at x=0 and a possibly-zero
    # token total: the NULL-gini guard must fire identically
    "token_gini",
    # round-8 session 5: empty-token train docs feed the NB cells, the
    # salted split can leave buckets empty, and score TIES (identical
    # texts would tie exactly; here the 'the'-run doc vs short docs)
    # must argmax identically
    "naive_bayes_source_model",
    # duplicated n_chars values → tied ECDF jump points; the integer
    # max must pick the same D in both engines
    "ks_source_drift",
    # duplicate lengths + doc_id ties through the within-source rank →
    # the integer rank mapping must land on the same global doc
    "quantile_normalization",
    # a bigram-scarce corpus (single-char / digit-run / 5000-char
    # tokens): the greedy chain must truncate identically when the
    # modal token has no outgoing bigram
    "lm_greedy_decode",
    # ties on BOTH dimensions (several zero-token docs share
    # (n_chars, 0)) must all survive the skyline in both engines
    "pareto_frontier_docs",
    # the composed collections: empty/whitespace docs have no tokens
    # (COALESCE'd stats, '' token lists) and all ten docs are roots
    "wikibooks_docs",
    "tokens_collection",
    "token_vector_collection",
    "parent_child_agg",
]


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("degenerate")
    pdf = pd.DataFrame(
        ROWS, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    pdf.to_parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck(degenerate_sf):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{degenerate_sf}/documents.parquet'"
    )
    return con


def _matches_oracle(spark, sf_dir: str, duck, name: str) -> None:
    from capstone_etl_spark.session import release_caches

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    try:
        spark_pdf = qs[name](spark, sf_dir).toPandas()
    finally:
        release_caches()
    duck_pdf = duck.execute(oracles[name]).df()
    assert compare(name, spark_pdf, duck_pdf) == []


@pytest.mark.parametrize("name", NAMES)
def test_degenerate_corpus_matches_oracle(spark, degenerate_sf, duck, name):
    _matches_oracle(spark, degenerate_sf, duck, name)


# ROWS plus the id anomalies the page hierarchy must carry: a NULL
# doc_id (no page: page_loc and parent_path are NULL), a second row
# reusing root id 5 and a child of that root (b5/p55, whose parent path
# holds two rows). The text of the NULL row shares 'ordinary' and
# 'document' with doc 5 and has one token of its own.
ID_ANOMALY_ROWS = ROWS + [
    (None, "an ordinary nullid document", "en", "web", 27),
    (5, "a second ordinary document reusing five", "en", "books", 39),
    (55, "child page of the fifth root", "en", "web", 28),
]
ID_ANOMALY_NAMES = [
    "wikibooks_docs",
    "parent_child_agg",
    "tokens_collection",
    "token_vector_collection",
    "doc_dense_ids",
]


@pytest.fixture(scope="module")
def id_anomaly_sf(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("id_anomaly")
    pdf = pd.DataFrame(
        ID_ANOMALY_ROWS, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "Int64", "n_chars": "int64"})
    pdf.to_parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", ID_ANOMALY_NAMES)
def test_id_anomalies_match_oracle(spark, id_anomaly_sf, name):
    """NULL and duplicated doc_ids through the page hierarchy and the
    composed collections: the wikibooks relation has one row per
    non-NULL document row and parent row at its parent path (13 here:
    b5/p55 sits under both rows of id 5), the children of a path count
    each child row once per row at that path in parent_child_agg, and
    a NULL id sorts last and renders no posting."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{id_anomaly_sf}/documents.parquet'")
    _matches_oracle(spark, id_anomaly_sf, con, name)


# Threshold-boundary near-dup corpus: pairs that sit exactly on the
# Jaccard (0.5) and containment (0.8) thresholds, a three-doc chain that
# clusters only transitively, an exact duplicate, and a bench doc
# (doc_id % 50 == 0) duplicating a train doc. Every doc passes the
# corpus pipeline's n_chars gate. On the degenerate corpus above the
# pair queries return no rows; here every near-dup step carries pairs.
NEAR_DUP_ROWS = [
    (0, "p q r s t u x"),  # bench: 4 of its 5 shingles are in doc 7
    (1, "a b c d e f"),  # Jaccard 2/4 = 0.5 with doc 2 and with doc 50
    (2, "c d e f"),
    (3, "k l m n o"),  # chain 3 ~ 4 ~ 5 (Jaccard 3/5 each), 3 vs 5 only 1/5
    (4, "k l m n o g h"),
    (5, "m n o g h"),
    (6, "k l m n o"),  # exact duplicate of doc 3
    (7, "p q r s t u v w y z"),  # holds bench doc 0: containment 0.8, Jaccard 4/9
    (9, "unrelated words that share no trigram"),
    (50, "c d e f"),  # bench doc duplicating train doc 2
]
NEAR_DUP_NAMES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_containment",
    "decontamination",
    "dedup_clusters",
    "dedup_sorted_neighborhood",
    "corpus_pipeline",
    "training_manifest",
    "gram_novelty",
    "lsh_tuning_curve",
    "dedup_threshold_sweep",
    "label_propagation",
]


@pytest.fixture(scope="module")
def near_dup_sf(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("near_dup")
    pdf = pd.DataFrame(
        [(i, text, "en", "web", 60) for i, text in NEAR_DUP_ROWS],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    pdf.to_parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def near_dup_duck(near_dup_sf):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{near_dup_sf}/documents.parquet'")
    return con


def test_near_dup_fixture_sits_on_thresholds(near_dup_duck):
    """The fixture's boundary pairs are in the oracles' output: the
    >= compares keep a Jaccard of exactly 0.5 and a containment of
    exactly 0.8."""
    oracles = entrymod.oracle_sql()
    pairs = set(near_dup_duck.execute(oracles["dedup_ngram_jaccard"]).fetchall())
    assert {(1, 2, 0.5), (1, 50, 0.5)} <= pairs
    flagged = set(near_dup_duck.execute(oracles["decontamination"]).fetchall())
    assert (7, 0, 0.444444, 0.8) in flagged


@pytest.mark.parametrize("name", NEAR_DUP_NAMES)
def test_near_dup_boundaries_match_oracle(spark, near_dup_sf, near_dup_duck, name):
    _matches_oracle(spark, near_dup_sf, near_dup_duck, name)


# Degenerate embeddings: ALL-IDENTICAL vectors → zero covariance matrix
# (the PCA normalization's 0/0 edge — guarded to the zero vector, λ
# NULL), plus a zero vector and one normal vector in a second corpus
# that keeps variance positive on every dimension the stats see.
EMB_NAMES = [
    "embedding_dim_stats",
    "embedding_covariance",
    "embedding_whitening",
    "pca_power_iteration",
    # identical vectors → tied distances; PQ argmin must tiebreak
    # identically in both engines
    "embedding_pq",
    # identical vectors → every seed at distance 0 from every vector;
    # the cell-balance assignment must tiebreak to the same cell
    "ivf_cell_balance",
    # tied coarse probes AND tied ADC codes — both stages must
    # tiebreak identically in both engines
    "ann_ivf_pq_topk",
    # round 10: the same total ties through BOTH router levels AND the
    # per-subspace hier codes — every (bd2, branch) / (d2, cell) /
    # (adc, neighbor_id) tiebreak must agree engine-for-engine
    "ann_hivf_pq_topk",
    # round 6: identical vectors → every distance-to-centroid 0.0,
    # ranking must tiebreak on vec_id identically in both engines
    "embedding_outliers",
    # identical vectors → full and truncated rankings tie everywhere;
    # recall must still be exactly 1.0 via the shared vec_id tiebreak
    "matryoshka_recall",
    # identical vectors → a = b = 0 for every point: the silhouette
    # 0/0 guard must pin s to 0.0 in both engines, and all points
    # land in cell 0 via the shared (dist, cell) tiebreak
    "kmeans_silhouette",
    # identical vectors → every candidate pair has cosine exactly 1:
    # all pairs are in-radius and the probe/assign tiebreaks must
    # produce the identical candidate set in both engines
    "ann_radius_search",
    # identical vectors → within_ss = between_ss = 0 for both labels:
    # the fully-degenerate 0.0 branch (not NULL, not inf) must fire
    # identically in both engines
    "label_separability",
    # round-7 session 4: identical vectors → the single bench vector
    # (vec_id 0) hits both train vectors at cosine exactly 1.0; the
    # bipartite bucket join and the argmax must agree in both engines
    "semantic_decontamination",
    # round-7 session 5: identical vectors → one cell, every member at
    # total distance 0 — the medoid argmin must tiebreak to the same
    # vec_id in both engines and mean_d2 must be exactly 0.0
    "ivf_cell_medoids",
    # identical vectors → every neighbor list ties completely; the
    # shared rnk tiebreak must give both engines the identical degree
    # histogram
    "hubness_audit",
    # round 9: identical vectors → every branch at distance 0 from
    # every seed and vector; the two-level router's (bd2, branch) and
    # (d2, cell) tiebreaks must agree engine-for-engine through BOTH
    # levels
    "ann_hivf_topk",
    # round 9: one cell, every candidate at total distance 0 — the
    # sampled-medoid (tot_d2, vec_id) argmin and the hash-least
    # candidate selection must tiebreak identically
    "hivf_cell_medoids",
    # round 9: every pair at cosine exactly 1 through the hierarchical
    # blocking — keep-one must pick the same minima in both engines
    "semantic_dedup_hier",
    # round 9: identical vectors → every per-subspace route and
    # codeword argmin ties completely; both engines must pick the
    # same codes through two levels of (d2, id) tiebreaks
    "pq_hier_distortion_audit",
    # round 9: every cross-side pair at cosine exactly 1 → margins all
    # equal; the mutual (margin, sim, id) argmax must mine the same
    # pairs in both engines
    "bitext_mining",
    # round 9 valuation: all three vec_ids < N_QUERIES → the train set
    # is EMPTY; both engines must release 0 rows, not error
    "knn_shapley_values",
    # round 9 valuation: every within-cell pair at cosine exactly 1 —
    # the vote ranking is pure vec_id tiebreak in both engines
    "label_noise_audit",
    # round 9 valuation: only 3 vectors for K=8 greedy rounds — rounds
    # 4+ must go empty identically (3-row output), radii exactly 0.0
    "kcenter_coreset",
    # round 9 valuation: all sims tie at 1.0 → every round's pick is a
    # pure cid tiebreak; rounds beyond the candidate count go empty
    "mmr_diversified_topk",
    # round 9 valuation: the salted delta bucket may select none/all of
    # the 3 ids — both engines must agree on the (possibly empty)
    # delta verdict set with every sim tied at 1.0
    "label_noise_incremental",
    # round 9 valuation: 3 identical vectors → every center distance
    # ties at 0; the (d, center_id) argmin must agree in both engines
    "coreset_coverage_audit",
    # round 9 valuation: identical vectors → per-dim base_sd exactly 0
    # → std_shift NULL in both engines (the degenerate-sd branch)
    "embedding_shift_audit",
    # round 9 valuation flagship: all three ids are test-split (< 10)
    # → shap NULL for every row; all pairs at cosine 1 → keep-one and
    # vote ties must resolve identically through the shared pairs
    "embedding_curation_manifest",
    # the stream twins route and probe IN-ROW (array_sort over (bd2,
    # branch) / (d2, cell) structs) where their batch forms use
    # windows and min(struct): with every distance tied, the in-row
    # tiebreaks must pick the batch oracle's branches, cells and ranks
    "stream_ann_topk",
    "stream_ann_hivf_topk",
    "stream_ann_hivf_pq_topk",
    "stream_bitext_mining",
    "stream_semantic_dedup_hier",
    "stream_ivf_assign",
    "stream_hivf_cell_balance",
    "stream_label_noise",
    # the remaining oracles over the quantized grid and similarity's
    # shared index fragments (seeds, flat/two-level assignment,
    # probes, PQ distances and codes): with every distance tied, each
    # composed chain must tiebreak exactly as its engine form does
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_recall_eval",
    "hivf_cell_balance",
    "ivf_probe_recall_curve",
    "kmeans_lloyd",
    "label_centroids",
    "label_noise_cells",
    "label_noise_votes",
    "pq_distortion_audit",
    "semantic_dedup",
]


@pytest.fixture(scope="module")
def degenerate_emb_sf(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("degenerate_emb")
    dim = 64
    same = [0.125] * dim
    rows = [(0, same, 0), (1, same, 0), (2, same, 1)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf["vec_id"] = pdf["vec_id"].astype("int64")
    pdf["label"] = pdf["label"].astype("int32")
    pdf.to_parquet(str(d / "embeddings.parquet"))
    return str(d)


@pytest.mark.parametrize("name", EMB_NAMES)
def test_degenerate_embeddings_match_oracle(spark, degenerate_emb_sf, name):
    from capstone_etl_spark.session import release_caches

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{degenerate_emb_sf}/embeddings.parquet'"
    )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    try:
        spark_pdf = qs[name](spark, degenerate_emb_sf).toPandas()
    finally:
        release_caches()
    duck_pdf = con.execute(oracles[name]).df()
    assert compare(name, spark_pdf, duck_pdf) == []


@pytest.fixture(scope="module")
def zero_prefix_emb_sf(tmp_path_factory):
    """Embeddings where vector 0's first TRUNC_DIM components are ALL
    ZERO (nonzero tail keeps the full-dim norm positive): the prefix
    cosine's 0-norm case the r6 advice flagged — Spark's guarded
    division returns NULL (coalesced to 0.0) where DuckDB's raw IEEE
    division would yield inf/NaN; the CASE guard must make the oracle
    agree. Values are deterministic arithmetic, no RNG."""
    import pandas as pd

    d = tmp_path_factory.mktemp("zero_prefix_emb")
    dim, n = 64, 12
    rows = []
    for vid in range(n):
        v = [((vid * 31 + k) % 7 - 3) * 0.25 for k in range(dim)]
        if vid == 0:
            v[:16] = [0.0] * 16
        rows.append((vid, v, vid % 3))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf["vec_id"] = pdf["vec_id"].astype("int64")
    pdf["label"] = pdf["label"].astype("int32")
    pdf.to_parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_matryoshka_zero_prefix_norm_matches_oracle(spark, zero_prefix_emb_sf):
    from capstone_etl_spark.session import release_caches

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{zero_prefix_emb_sf}/embeddings.parquet'"
    )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    try:
        spark_pdf = qs["matryoshka_recall"](spark, zero_prefix_emb_sf).toPandas()
    finally:
        release_caches()
    duck_pdf = con.execute(oracles["matryoshka_recall"]).df()
    assert compare("matryoshka_recall", spark_pdf, duck_pdf) == []
    # the zero-prefix query still ranks (sim pinned to 0.0, not an
    # error): query 0 must appear with a full result row
    assert 0 in set(spark_pdf["query_id"])
