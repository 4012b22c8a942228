"""Pipeline operators on a tiny hand-computed corpus: TF, stats,
vocabulary ids, inverted index, sparse vectors, TF-IDF."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from capstone_etl_spark.functions.stopwords import STOPWORDS, stopwords_spark_sql_in_list
from capstone_etl_spark.functions.text import tokenize

from capstone_etl_spark.operators.index import (
    inverted_index,
    sparse_vectors,
    tf_idf,
    tf_with_token_ids,
)
from capstone_etl_spark.operators.tokenize import doc_stats, doc_tokens, term_frequencies
from capstone_etl_spark.operators.vocab import vocabulary, with_dense_ids

DOCS = [
    (0, "apple banana apple"),
    (1, "banana cherry the cherry cherry"),  # 'the' is a stopword
    (2, ""),
]


def _tf(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return term_frequencies(docs)


def test_term_frequencies(spark):
    got = {(r.doc_id, r.token): r.qty for r in _tf(spark).collect()}
    assert got == {(0, "apple"): 2, (0, "banana"): 1, (1, "banana"): 1, (1, "cherry"): 3}


def test_doc_stats_norms(spark):
    got = {r.doc_id: r for r in doc_stats(_tf(spark)).collect()}
    assert got[0].n_tokens == 3 and got[0].n_unique == 2
    assert math.isclose(got[0].euclidian_norm, math.sqrt(4 + 1))
    assert math.isclose(got[1].euclidian_norm, math.sqrt(1 + 9))
    assert 2 not in got  # empty doc contributes no TF rows


def test_vocabulary_dense_ids(spark):
    got = {r.token: r.token_id for r in vocabulary(_tf(spark)).collect()}
    assert got == {"apple": 0, "banana": 1, "cherry": 2}


def test_dense_ids_match_row_number(spark):
    vocab = _tf(spark).select("token").distinct()
    got = {r.token: r.id for r in with_dense_ids(vocab, "token").collect()}
    assert got == {"apple": 0, "banana": 1, "cherry": 2}


def test_dense_ids_multi_partition(spark):
    # 10k rows across many input partitions: ids must be a dense 0-based
    # permutation matching the sort order, with no Python-row path.
    df = spark.range(0, 10_000, 1, 16).select(
        F.concat(F.lit("k"), F.format_string("%05d", (F.col("id") * 7919) % 10_000)).alias("key")
    )
    out = with_dense_ids(df, "key", id_name="rank")
    rows = out.orderBy("key").collect()
    assert [r.rank for r in rows] == list(range(10_000))
    assert rows[0].key == "k00000" and rows[-1].key == "k09999"


def test_inverted_index_sorted_postings(spark):
    got = {r.token: [(p.doc_id, p.qty) for p in r.references] for r in inverted_index(_tf(spark)).collect()}
    assert got["banana"] == [(0, 1), (1, 1)]
    assert got["cherry"] == [(1, 3)]


def test_sparse_vectors_shapes(spark):
    tf = _tf(spark)
    sv = {r.doc_id: r for r in sparse_vectors(tf, vocabulary(tf)).collect()}
    assert sv[0].compressed_token_vector == {"0": 2, "1": 1}
    assert sv[0].tokenrefs == [0, 1] and sv[0].values == [2, 1]
    assert sv[1].tokenrefs == [1, 2] and sv[1].values == [1, 3]


def test_tf_idf_values(spark):
    tf = _tf(spark)
    got = {(r.doc_id, r.token): r.tfidf for r in tf_idf(tf).collect()}
    # banana appears in both docs → idf = ln(2/2) = 0
    assert got[(0, "banana")] == 0.0
    assert math.isclose(got[(0, "apple")], 2 * math.log(2))
    assert math.isclose(got[(1, "cherry")], 3 * math.log(2))


def test_broadcast_join_in_sparse_vector_plan(spark):
    tf = _tf(spark)
    plan = tf_with_token_ids(tf, vocabulary(tf))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _optimized(df) -> str:
    """Optimized logical plan with attribute ids normalized."""
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_stopword_gate_matches_isin(spark):
    """doc_tokens' one-expression NOT IN gate equals the `~isin` form:
    same rows on a list with a quote, a backslash, the empty string and
    a live token, and the same optimized plan on the default list. The
    Spark SQL renderer round-trips every word through the parser."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    custom = ("it's", "a\\b", "", "the")
    got = spark.sql(f"SELECT array({stopwords_spark_sql_in_list(custom)}) AS w").first().w
    assert tuple(got) == custom
    for words in (custom, STOPWORDS):
        gated = doc_tokens(docs, stopwords=words)
        isin = docs.select(
            F.col("doc_id"), F.explode(tokenize("text")).alias("token")
        ).filter(~F.col("token").isin(list(words)))
        assert sorted(gated.collect()) == sorted(isin.collect())
        assert _optimized(gated) == _optimized(isin)
    assert "the" not in {r.token for r in doc_tokens(docs, stopwords=custom).collect()}
