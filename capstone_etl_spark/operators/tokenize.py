"""Tokenization pipeline operators (SURVEY.md §2 P2-P5, A1, A2, A4).

The reference's `parseDoc` (main.go:245-283) — clean → lower → split →
dictionary semi-gate → stopword anti-gate → per-(doc,token) counts →
unique count → L2 norm — re-expressed as one lazy DataFrame DAG:

    read → tokenize (F.split/explode) → gates (broadcast semi/anti
    joins or a literal NOT IN) → groupBy(doc,token).count → groupBy(doc).agg

Scale notes (100 TB):
- explode multiplies rows ~100× (tokens per doc); the groupBy(doc_id,
  token) that immediately follows does map-side partial aggregation, so
  the shuffle carries the *aggregated* TF pairs, not raw tokens.
- The stopword gate removes the head of the Zipf curve *before* the
  shuffle, which is also the skew mitigation: the hottest token keys
  ("the", "of"…) never reach the exchange.
- Dictionary gate: a 2.4 MB side input → broadcast left_semi join,
  never a shuffle (reference loads it into a process-global hash set,
  main.go:108-118; same idea, cluster-safe).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from capstone_etl_spark.functions.stopwords import STOPWORDS, stopwords_spark_sql_in_list
from capstone_etl_spark.functions.text import tokenize


def doc_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: Iterable[str] | None = STOPWORDS,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, token) — one row per kept token occurrence.

    stopwords: literal set → one `token NOT IN (…)` expression (small,
    compiled into the plan — the broadcast anti-join equivalent of
    main.go:252). It parses in one call; `~isin(list)` builds the same
    plan with one py4j literal call per word.
    dictionary: optional one-column ('word') DataFrame → broadcast
    left_semi join (main.go:251).
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokenize(text_col)).alias("token"))
    words = tuple(stopwords or ())
    if words:
        toks = toks.filter(F.expr(f"token NOT IN ({stopwords_spark_sql_in_list(words)})"))
    if dictionary is not None:
        dict_df = dictionary.select(F.col(dictionary.columns[0]).alias("token")).distinct()
        toks = toks.join(F.broadcast(dict_df), "token", "left_semi")
    return toks


def term_frequencies(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: Iterable[str] | None = STOPWORDS,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, token, qty) — per-document term frequency (A1,
    main.go:249-259). Partial+final hash agg; shuffle key (doc_id,
    token) is high-cardinality and post-stopword, i.e. unskewed."""
    return (
        doc_tokens(docs, id_col, text_col, stopwords, dictionary)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("qty"))
    )


def doc_stats_columns() -> list[Column]:
    """The per-doc stats aggregates over a TF relation grouped by
    doc_id: token totals, distinct count (A2, main.go:254-257) and the
    L2 norm over TF values (A4, main.go:272-281)."""
    return [
        F.sum("qty").alias("n_tokens"),
        F.count("*").alias("n_unique"),
        F.sqrt(F.sum(F.col("qty") * F.col("qty")).cast("double")).alias("euclidian_norm"),
    ]


def doc_stats(tf: DataFrame) -> DataFrame:
    """Per-doc rollup of the TF relation (doc_stats_columns). One
    shuffle on doc_id."""
    return tf.groupBy("doc_id").agg(*doc_stats_columns())
