"""Invariant tests for the round-7 operators: the full BPE encode pass
and the streaming incremental-dedup admission query."""

from __future__ import annotations


def test_bpe_encode_invariants(spark, sf_dir):
    from capstone_etl_spark.operators.textstats import bpe_encode

    rows = bpe_encode(spark, sf_dir).collect()
    assert rows, "every source with tokens must appear"
    for r in rows:
        # each word encodes to >= 1 symbol and <= its char count
        assert r.n_words <= r.n_bpe_tokens <= r.n_chars
        assert r.fertility >= 1.0
        assert r.chars_per_bpe_token >= 1.0
        # merges actually fired somewhere: with BPE_MERGES learned
        # merges over a natural-language corpus the encoded stream is
        # strictly shorter than the char baseline
        assert r.n_bpe_tokens < r.n_chars


def test_bpe_encode_consistent_with_learned_merges(spark, sf_dir):
    """Corpus-level sanity: the learned merges strictly compressed the
    encoded stream below the char baseline (n_bpe < n_chars with both
    positive). The EXACT cross-check — per-source totals equal a pure-
    Python reimplementation of the learn+encode semantics, including
    merge order and the pair-less-round guard — lives in
    tests/test_property_round7.py::test_bpe_encode_matches_python_model
    (the learn table's own cnt counts overlapping pair occurrences, so
    n_chars − n_bpe == Σcnt does NOT hold as an identity and is
    deliberately not asserted here)."""
    from capstone_etl_spark.operators.textstats import bpe_encode

    agg = bpe_encode(spark, sf_dir).groupBy().sum("n_chars", "n_bpe_tokens").first()
    n_chars, n_bpe = agg
    assert 0 < n_bpe < n_chars


def test_unigram_tokenizer_invariants(spark, sf_dir):
    from capstone_etl_spark.operators.textstats import (
        UNI_MAX_WORD_LEN,
        unigram_tokenizer,
    )

    rows = unigram_tokenizer(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_pieces <= r.word_len <= UNI_MAX_WORD_LEN
        assert 0 < r.min_cost_fp <= r.max_cost_fp
        assert r.weighted_cost > 0.0


def test_unigram_tokenizer_no_unk(spark, sf_dir):
    """Every in-model word (length <= UNI_MAX_WORD_LEN) must segment:
    single-char pieces are kept unconditionally, so the DP is total."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.textstats import (
        UNI_MAX_WORD_LEN,
        unigram_tokenizer,
    )

    vocab = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(tokenize("text")).alias("t"))
        .filter(F.length("t") <= UNI_MAX_WORD_LEN)
        .select("t")
        .distinct()
        .count()
    )
    got = unigram_tokenizer(spark, sf_dir).groupBy().sum("n_words").first()[0]
    assert got == vocab


def test_unigram_tokenizer_picks_learned_piece(spark, tmp_path):
    """Hand-checkable Viterbi: corpus 'ab ab ab ab abab' keeps pieces
    {a, b, ab} (equal cost ln 3 each) — 'ab' must segment as ONE piece
    (the multi-char piece beats a+b) and 'abab' as TWO 'ab' pieces."""
    import pandas as pd

    from capstone_etl_spark.operators.textstats import unigram_tokenizer

    d = tmp_path / "uni"
    d.mkdir()
    pd.DataFrame(
        [(0, "ab ab ab ab abab", "en", "web", 16)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
        str(d / "documents.parquet")
    )
    rows = {(r.word_len, r.n_pieces): r for r in unigram_tokenizer(spark, str(d)).collect()}
    assert set(rows) == {(2, 1), (4, 2)}
    assert rows[(2, 1)].sum_tf == 4 and rows[(4, 2)].sum_tf == 1
    # all three kept pieces have identical freq 6 of total 18: cost ln 3
    assert rows[(2, 1)].min_cost_fp == 1098612
    assert rows[(4, 2)].min_cost_fp == 2 * 1098612


def test_training_manifest_invariants(spark, sf_dir):
    from capstone_etl_spark.operators.corpus import N_SHARDS, corpus_pipeline, training_manifest
    from capstone_etl_spark.operators.dedup import BENCH_MOD

    rows = training_manifest(spark, sf_dir).collect()
    assert rows
    total_docs = 0
    for r in rows:
        assert r.split in ("train", "val", "test")
        assert 0 <= r.shard_id < N_SHARDS
        assert r.n_docs > 0 and r.n_tokens > 0
        assert r.min_doc_id <= r.max_doc_id
        assert r.min_doc_id % BENCH_MOD != 0 and r.max_doc_id % BENCH_MOD != 0
        total_docs += r.n_docs
    # the screen only removes docs from the survivor set
    survivors = corpus_pipeline(spark, sf_dir).count()
    assert 0 < total_docs <= survivors


def test_bpe_pairless_round_keeps_vocabulary(spark, tmp_path):
    """An all-single-char corpus has no pair to merge in ANY round:
    top1 is empty and the rewrite must keep reprs unchanged (the inner
    join-on-true wiped the vocabulary before the left-join guard) —
    pinned cross-engine, since the oracle's scalar subquery NULLed the
    reprs on the same input."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from tools.check_correctness import compare

    d = tmp_path / "pairless"
    d.mkdir()
    pd.DataFrame(
        [(0, "a b a b b", "en", "web", 9), (1, "b a", "en", "books", 3)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
        str(d / "documents.parquet")
    )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    for name in ("bpe_encode", "bpe_learn_merges"):
        spdf = qs[name](spark, str(d)).toPandas()
        assert compare(name, spdf, con.execute(oracles[name]).df()) == []
    # every word survives encoding with repr == itself (fertility 1)
    enc = {r.source: r for r in qs["bpe_encode"](spark, str(d)).collect()}
    assert enc["web"].n_words == 5 and enc["web"].n_bpe_tokens == 5
    assert enc["books"].fertility == 1.0


def test_lsh_tuning_curve_invariants(spark, sf_dir):
    from capstone_etl_spark.operators.scaleaudit import lsh_tuning_curve

    rows = sorted(lsh_tuning_curve(spark, sf_dir).collect(), key=lambda r: r.s)
    assert len(rows) == 19
    prev_p = 0.0
    for r in rows:
        # the S-curve is monotone nondecreasing in s and a probability
        assert 0.0 <= r.p_candidate <= 1.0
        assert r.p_candidate >= prev_p - 1e-9
        prev_p = r.p_candidate
        # measured columns are grid-constant and coherent
        assert 0 <= r.n_verified <= r.n_candidates
        assert r.n_verified <= r.n_true
        assert 0.0 <= r.precision <= 1.0 and 0.0 <= r.recall <= 1.0
    # near s=1 the configured banding must almost surely catch a dup
    assert rows[-1].p_candidate > 0.99
