"""Inverted index + sparse vectors (SURVEY.md §2 A6-A9, J4, J5).

Reference semantics:
- inverted index: token → posting list of (doc_id, qty)
  (main.go:151-163), built from nested maps.
- sparse TF vector per doc: {str(vocab_idx) → qty} plus the sorted
  index array TokenRefs (main.go:215-243) — built by an O(docs×vocab)
  dense probe loop.

Spark re-architecture: the dense probe becomes an equi-join of the TF
relation with the vocabulary (J4) — O(NNZ), not O(D×V). The vocabulary
side is small (Heaps' law) → broadcast join, no shuffle of the TF side.
`collect_list` order is nondeterministic post-shuffle, so every array is
wrapped in `sort_array` for deterministic output (SURVEY.md §7.6.4).

Divergences from reference recorded in SURVEY.md §7.6: TokenRefs is
emitted trimmed (no trailing-zero slots, §7.6.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def inverted_index(tf: DataFrame) -> DataFrame:
    """token → sorted posting list array<struct<doc_id,qty>> (A6).
    One shuffle on token; map-side partial collect keeps it linear."""
    return tf.groupBy("token").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "qty"))).alias("references")
    )


def posting_stats(tf: DataFrame) -> DataFrame:
    """Scalar posting-list summary (document frequency + total qty) —
    the oracle-friendly projection of the inverted index."""
    return tf.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("qty").alias("total_qty"),
    )


def tf_with_token_ids(tf: DataFrame, vocab: DataFrame, strategy: str = "broadcast") -> DataFrame:
    """(doc_id, token_id, qty) — J4 as an equi-join on token.

    strategy picks the physical join for the vocabulary side:
    - 'broadcast' (default): the vocabulary is bounded by Heaps' law —
      at 100 TB corpus scale it is still ≪ broadcast threshold after
      stopword removal, so ship it to every task and never shuffle the
      TF side.
    - 'shuffle': spill-safe sort-merge — the fallback for a vocabulary
      past the broadcast threshold (e.g. no stopword gate + byte-level
      n-gram vocab). Both sides shuffle on token; no executor needs to
      hold the vocab in memory.
    - 'auto': no hint — Catalyst sizes it against
      spark.sql.autoBroadcastJoinThreshold, and AQE re-plans
      sort-merge → broadcast at runtime from TRUE sizes.
    All three produce identical rows (tests/test_plans.py pins the
    broadcast and sort-merge plans and cross-checks results)."""
    if strategy == "broadcast":
        v = F.broadcast(vocab)
    elif strategy == "shuffle":
        v = vocab.hint("merge")
    elif strategy == "auto":
        v = vocab
    else:
        raise ValueError(f"unknown join strategy {strategy!r}")
    return tf.join(v, "token").select("doc_id", "token_id", "qty")


def sparse_vectors(tf: DataFrame, vocab: DataFrame, strategy: str = "broadcast") -> DataFrame:
    """Per-doc sparse TF vector in both reference shapes (A8, A9):
    - compressed_token_vector: map<string,long> (BSON-style string keys,
      main.go:222-235)
    - tokenrefs: sorted array of vocab indices present (trimmed —
      divergence §7.6.2)
    At scale prefer the paired-array layout (indices/values) also
    emitted here — it is MLlib SparseVector's layout and avoids
    MapType's comparison/shuffle awkwardness (SURVEY.md §7.7)."""
    ids = tf_with_token_ids(tf, vocab, strategy)
    entries = ids.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("token_id", "qty"))).alias("pairs")
    )
    return entries.select(
        "doc_id",
        F.map_from_entries(
            F.transform("pairs", lambda p: F.struct(p.token_id.cast("string").alias("key"), p.qty.alias("value")))
        ).alias("compressed_token_vector"),
        F.transform("pairs", lambda p: p.token_id).alias("tokenrefs"),
        F.transform("pairs", lambda p: p.qty).alias("values"),
    )


def doc_token_array_column() -> Column:
    """The per-doc `tokens` aggregate over a TF relation grouped by
    doc_id: array<struct<token,qty>> sorted by token (A7,
    main.go:273-278; sort_array replaces Go map-order nondeterminism)."""
    return F.sort_array(F.collect_list(F.struct("token", "qty"))).alias("tokens")


def doc_token_arrays(tf: DataFrame) -> DataFrame:
    """Per-doc sorted token array (doc_token_array_column)."""
    return tf.groupBy("doc_id").agg(doc_token_array_column())


def tf_idf(tf: DataFrame) -> DataFrame:
    """TF-IDF extension (SURVEY.md §7.8): weight = qty * ln(N / df).

    N (corpus size) is a 1-row `agg(countDistinct)` relation broadcast
    into the plan as a scalar cross join — never a driver-side eager
    `.count()`, which would execute the whole TF lineage as a blocking
    action and then recompute it for the output (the exact anti-pattern
    at 100 TB: two corpus tokenization passes + a driver sync point).
    df comes from the posting stats — one extra broadcast join. Callers
    should pass a cached `tf` so its three consumers (rows, df, N)
    evaluate the lineage once."""
    n_rel = tf.agg(F.countDistinct("doc_id").cast("double").alias("_n_docs"))
    df_rel = tf.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tf.join(F.broadcast(df_rel), "token")
        .crossJoin(F.broadcast(n_rel))
        .select(
            "doc_id",
            "token",
            "qty",
            (F.col("qty") * F.log(F.col("_n_docs") / F.col("df"))).alias("tfidf"),
        )
    )
