"""Cache lifecycle: every cache/checkpoint the engine creates must be
released by session.release_caches() — a long-lived session running
many queries must not accumulate persisted relations until memory
pressure evicts them (at 100 TB a leaked cache is an executor-memory
incident). VERDICT r2 'What's wrong' #4."""

from __future__ import annotations

import __spark_entry__ as entrymod
from capstone_etl_spark.session import release_caches

SF_DIR = "/root/testdata/sf0.001"

# One cache-heavy query per family that uses cached()/checkpoint_truncate:
# shared TF lineages, shingle tables, LSH buckets, kmeans by_dim, the
# iterative connected-components loop, and the composed corpus pipeline.
CACHE_HEAVY = [
    "sparse_vectors",
    "tf_idf",
    "vocab_coverage",
    "wikibooks_docs",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "kmeans_lloyd",
    "doc_similarity_topk",
    "corpus_pipeline",
    "event_gap_fill",
]


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_caches_leaves_no_persistent_rdds(spark):
    spark.catalog.clearCache()
    release_caches()
    baseline = _persisted(spark)
    qs = entrymod.queries()
    for name in CACHE_HEAVY:
        qs[name](spark, SF_DIR).count()
        assert _persisted(spark) >= baseline
        release_caches()
        leaked = _persisted(spark) - baseline
        assert leaked == 0, f"{name}: {leaked} persisted relations survived release_caches()"


def test_connected_components_frees_superseded_rounds(spark):
    """The CC loop must hold at most the current + previous round's
    checkpoint blocks, not one per round (chain graphs run many
    rounds)."""
    from capstone_etl_spark.operators.dedup import connected_components

    spark.catalog.clearCache()
    release_caches()
    baseline = _persisted(spark)
    # 64-node chain: 0-1-2-...-63, directed both ways — needs several
    # pointer-jumping rounds to converge
    edges = spark.range(63).selectExpr("id AS src", "id + 1 AS dst")
    edges = edges.union(edges.selectExpr("dst AS src", "src AS dst"))
    labels = connected_components(edges)
    assert labels.select("label").distinct().count() == 1
    # pointer jumping is O(log diameter): a 64-chain must converge far
    # under CC_MAX_ROUNDS, or the cap would mask a propagation bug
    from capstone_etl_spark.operators import dedup as dedup_mod

    assert 1 < dedup_mod._LAST_CC_ROUNDS <= 10
    # converged: only the final labels checkpoint may remain live
    assert _persisted(spark) - baseline <= 1
    release_caches()
    assert _persisted(spark) - baseline == 0
