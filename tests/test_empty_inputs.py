"""Degenerate-input armor: every core operator must yield an EMPTY (or
well-defined) result on empty / pathological input, never crash — the
bug class behind the round-1 shingles sequence(1,0) crash."""

from __future__ import annotations

from pyspark.sql import functions as F

from capstone_etl_spark.operators.dedup import minhash_signatures, shingles, simhash
from capstone_etl_spark.operators.doc_similarity import doc_cosine_pairs
from capstone_etl_spark.operators.index import inverted_index, sparse_vectors
from capstone_etl_spark.operators.tokenize import doc_stats, term_frequencies
from capstone_etl_spark.operators.vocab import vocabulary, with_dense_ids


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _degenerate_docs(spark):
    # empty strings, whitespace, punctuation-only, single token
    return spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "!!! ??? ..."), (3, "one"), (4, None)],
        "doc_id long, text string",
    )


def test_text_pipeline_empty_relation(spark):
    docs = _empty_docs(spark)
    tf = term_frequencies(docs)
    assert tf.count() == 0
    assert doc_stats(tf).count() == 0
    assert vocabulary(tf).count() == 0
    assert inverted_index(tf).count() == 0
    assert sparse_vectors(tf, vocabulary(tf)).count() == 0


def test_text_pipeline_degenerate_rows(spark):
    docs = _degenerate_docs(spark)
    tf = term_frequencies(docs)
    got = {(r.doc_id, r.token): r.qty for r in tf.collect()}
    assert got == {(3, "one"): 1}        # only the real token survives


def test_dedup_operators_degenerate(spark):
    docs = _degenerate_docs(spark)
    assert shingles(docs, max_df=None).count() == 0   # all docs < 3 tokens
    assert minhash_signatures(docs).count() == 0
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh.get(3, 0) != 0              # single-token doc still hashes
    assert 0 not in sh and 4 not in sh    # empty/null docs drop out


def test_doc_similarity_empty_and_single(spark):
    tf_empty = term_frequencies(_empty_docs(spark))
    assert doc_cosine_pairs(tf_empty).count() == 0
    one = spark.createDataFrame([(0, "solo token pair")], "doc_id long, text string")
    assert doc_cosine_pairs(term_frequencies(one)).count() == 0  # no pairs


def test_dense_ids_empty(spark):
    df = spark.createDataFrame([], "k string")
    assert with_dense_ids(df, "k").count() == 0


def test_session_and_windows_empty_events(spark):
    from capstone_etl_spark.operators.events import dedup_counts, tumbling
    from capstone_etl_spark.streaming.windows import stream_session_windows

    ev = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    assert tumbling(ev).count() == 0
    assert stream_session_windows(ev).count() == 0
    assert dedup_counts(ev).count() == 0


def test_connected_components_degenerate(spark):
    from capstone_etl_spark.operators.dedup import connected_components

    # empty edge relation → empty labels, no crash, no infinite loop
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0
    # pure self-loops converge in one round
    loops = spark.createDataFrame([(7, 7), (9, 9)], "src long, dst long")
    got = {r.doc_id: r.label for r in connected_components(loops).collect()}
    assert got == {7: 7, 9: 9}


def test_kmeans_fewer_vectors_than_cells(spark, monkeypatch):
    """N < K: every vector is its own seed; empty cells keep their seed
    centroid and the job completes with one row per vector."""
    import capstone_etl_spark.operators.similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i) / 10] * sim.DIM, 0) for i in range(3)],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(sim, "load_table", lambda *_a, **_k: emb)
    rows = sim.kmeans_lloyd(spark, "unused").collect()
    assert len(rows) == 3
    assert all(r.dist_sq_fp == 0 for r in rows)  # each vec sits on its seed


def test_fuzzy_names_no_self_pairs(spark, monkeypatch):
    import capstone_etl_spark.operators.relational as rel

    part = spark.createDataFrame(
        [(1, "blue bolt"), (2, "blue bolt"), (3, "glue bolt"), (4, "completely different")],
        "p_partkey long, p_name string",
    )
    monkeypatch.setattr(rel, "load_table", lambda *_a, **_k: part)
    got = [(r.n1, r.n2, r.dist) for r in rel.fuzzy_part_names(spark, "unused").collect()]
    # duplicate names collapse via distinct; only the 1-edit pair remains
    assert got == [("blue bolt", "glue bolt", 1)]


def test_gap_fill_single_event_user(spark, monkeypatch):
    import capstone_etl_spark.operators.events as ev

    one = spark.createDataFrame(
        [(1, "2024-01-05 10:00:00", 3, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    monkeypatch.setattr(ev, "_events", lambda *_a, **_k: one)
    rows = ev.gap_fill_daily(spark, "unused").collect()
    assert len(rows) == 1 and rows[0].is_gap == 0


def _write_docs_table(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_round4_ops_degenerate_documents(spark, tmp_path):
    """Packing / drift / BPE on a table where only one doc has a real
    token: exact expected outputs, no crash on empty-token docs."""
    from capstone_etl_spark.operators import packing
    from capstone_etl_spark.operators.textstats import bpe_merge_pairs, corpus_drift

    sf = _write_docs_table(
        spark,
        tmp_path,
        [
            (0, "", "en", "a", 0),
            (1, "   ", "en", "a", 3),
            (2, "!!! ???", "en", "b", 7),
            (3, "one two", "en", "b", 7),
            (4, None, "en", "c", 0),
        ],
    )
    packed = packing.sequence_packing(spark, sf).collect()
    assert len(packed) == 1 and packed[0].n_tokens == 2 and packed[0].seq_id == 0
    greedy = packing.sequence_packing_greedy(spark, sf).collect()
    assert len(greedy) == 1 and greedy[0].pack_id == 0
    eff = packing.packing_efficiency(spark, sf).collect()
    assert len(eff) == 1 and eff[0].n_packs == 1 and eff[0].n_tokens == 2
    # drift: only source b has tokens; its distribution IS the corpus → KL 0
    drift = corpus_drift(spark, sf).collect()
    assert len(drift) == 1 and drift[0].source == "b" and drift[0].kl_nats == 0.0
    pairs = {r.pair: r.cnt for r in bpe_merge_pairs(spark, sf).collect()}
    assert pairs == {"on": 1, "ne": 1, "tw": 1, "wo": 1}


def test_round4_ops_empty_tables(spark, tmp_path):
    from capstone_etl_spark.operators import packing
    from capstone_etl_spark.operators.similarity import semantic_dedup
    from capstone_etl_spark.operators.textstats import bpe_merge_pairs, corpus_drift

    sf = _write_docs_table(spark, tmp_path, [])
    spark.createDataFrame([], "vec_id long, embedding array<float>, label string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    assert packing.sequence_packing(spark, sf).count() == 0
    assert packing.sequence_packing_greedy(spark, sf).count() == 0
    assert packing.packing_efficiency(spark, sf).count() == 0
    assert corpus_drift(spark, sf).count() == 0
    assert bpe_merge_pairs(spark, sf).count() == 0
    assert semantic_dedup(spark, sf).count() == 0


def test_winnowing_detection_guarantee(spark, tmp_path):
    """Schleimer et al.'s core property: two docs sharing a token run of
    >= w + k - 1 tokens share at least one fingerprint; docs shorter
    than w + k - 1 tokens yield none."""
    from capstone_etl_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    shared = " ".join(f"common{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    sf = _write_docs_table(
        spark,
        tmp_path,
        [
            (1, "alpha beta gamma " + shared + " delta epsilon", "en", "a", 0),
            (2, shared + " zeta eta theta iota kappa", "en", "b", 0),
            (3, "tiny doc", "en", "c", 0),
        ],
    )
    out = {r.doc_id: r for r in winnowing_fingerprints(spark, sf).collect()}
    fp1 = set(out[1].fingerprints.split(","))
    fp2 = set(out[2].fingerprints.split(","))
    assert fp1 & fp2, "shared run must contribute a shared fingerprint"
    assert 3 not in out  # below the full-window threshold -> no row
    assert out[1].n_fingerprints == len(fp1)


def _tiny_corpus_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_quality_ops_on_degenerate_corpus(spark, tmp_path):
    from capstone_etl_spark.operators.quality import (
        quality_filter_flags,
        quality_filter_funnel,
        unigram_logprob,
    )
    from capstone_etl_spark.session import release_caches

    sf = _tiny_corpus_dir(
        spark,
        tmp_path,
        [(0, "", "en", "s0", 0), (1, "   ", "en", "s0", 3), (2, "one", "en", "s1", 3)],
    )
    try:
        flags = {r.doc_id: r for r in quality_filter_flags(spark, sf).collect()}
        assert len(flags) == 3
        # empty/whitespace docs fail min_tokens, never crash
        assert flags[0].reject_reason == "min_tokens"
        assert flags[1].reject_reason == "min_tokens"
        funnel = quality_filter_funnel(spark, sf).collect()
        assert funnel[0].n_in == 3
        # unigram_logprob: empty docs simply have no rows (no tokens)
        nll = {r.doc_id: r for r in unigram_logprob(spark, sf).collect()}
        assert set(nll) == {2}
        assert nll[2].nll_nats == 0.0  # sole token: p = 1, -ln(1) = 0
    finally:
        release_caches()


def test_kmv_ops_on_empty_corpus(spark, tmp_path):
    from capstone_etl_spark.operators.sketches import kmv_distinct_shingles, kmv_source_overlap
    from capstone_etl_spark.session import release_caches

    sf = _tiny_corpus_dir(spark, tmp_path, [])
    try:
        assert kmv_distinct_shingles(spark, sf).count() == 0
        assert kmv_source_overlap(spark, sf).count() == 0
    finally:
        release_caches()


def test_pagerank_on_edgeless_forest(spark, tmp_path):
    # off-wiki URLs only (doc_id % 97 == 3 yields external URLs, but a
    # root-only corpus also has zero edges): every node must carry the
    # base rank, no division by zero from empty outdegrees
    from capstone_etl_spark.operators.text_pipeline import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
        hierarchy_pagerank,
    )
    from capstone_etl_spark.session import release_caches

    sf = _tiny_corpus_dir(
        spark,
        tmp_path,
        [(i, "a b c", "en", "s0", 5) for i in range(5)],  # ids 0-4 → all roots
    )
    try:
        ranks = {r.doc_id: r.rank for r in hierarchy_pagerank(spark, sf).collect()}
        n = len(ranks)
        base = ((PR_DAMP_DEN - PR_DAMP_NUM) * (PR_SCALE // n)) // PR_DAMP_DEN
        assert n == 5
        assert set(ranks.values()) == {base}
    finally:
        release_caches()


def test_repeated_spans_on_unrepeated_corpus(spark, tmp_path):
    from capstone_etl_spark.operators.dedup import repeated_ngram_spans
    from capstone_etl_spark.session import release_caches

    sf = _tiny_corpus_dir(
        spark,
        tmp_path,
        [(0, "entirely unique words in this document", "en", "s0", 10),
         (1, "", "en", "s0", 0)],
    )
    try:
        got = {r.doc_id: r for r in repeated_ngram_spans(spark, sf).collect()}
        assert got[0].n_spans == 0 and got[0].n_flagged == 0
        assert got[1].n_tokens == 0 and got[1].flagged_ratio is None
    finally:
        release_caches()


def test_session2_ops_empty_tables(spark, tmp_path):
    """The r5 session-2 operators degrade to empty relations (no
    divide-by-zero, no null explosions) when every input table is
    empty."""
    from capstone_etl_spark.operators.doc_similarity import bm25_topk
    from capstone_etl_spark.operators.quality import (
        dsir_importance,
        token_budget_selection,
    )
    from capstone_etl_spark.operators.relational import cooccurrence_triangles
    from capstone_etl_spark.operators.similarity import embedding_pq
    from capstone_etl_spark.operators.text_pipeline import hierarchy_rollup
    from capstone_etl_spark.session import release_caches

    sf = _write_docs_table(spark, tmp_path, [])
    spark.createDataFrame([], "vec_id long, embedding array<float>, label int").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    spark.createDataFrame([], "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    ops = (
        hierarchy_rollup,
        dsir_importance,
        token_budget_selection,
        bm25_topk,
        embedding_pq,
        cooccurrence_triangles,
    )
    try:
        for fn in ops:
            assert fn(spark, sf).count() == 0, fn.__name__
    finally:
        release_caches()


def test_logistic_family_empty_events(spark, tmp_path):
    """ADVICE r8: _fit_logit divided by the cohort count with no guard —
    an empty (or train-only-empty) events table raised ZeroDivisionError
    on the driver. The trainer now short-circuits to zero weights, so
    every consumer of the trained chain releases a well-defined (often
    empty) relation instead of crashing."""
    from capstone_etl_spark.operators.events import (
        conformal_coverage,
        conversion_model_calibration,
        logistic_conversion_model,
    )
    from capstone_etl_spark.session import release_caches

    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    sf = str(tmp_path)
    try:
        for fn in (logistic_conversion_model, conversion_model_calibration, conformal_coverage):
            assert fn(spark, sf).count() >= 0, fn.__name__
    finally:
        release_caches()
