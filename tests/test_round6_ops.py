"""Invariant tests for the round-6 operators: Bradley-Terry source
ratings, structural template extraction, embedding coverage audit,
length-bucketed batching, and Matryoshka truncation recall. Oracle
parity runs in the full gate (tools/check_correctness.py); these pin
the semantic invariants oracle hashing can't express."""

from __future__ import annotations

from capstone_etl_spark.operators.dedup import TEMPLATE_MIN_DOCS, template_extraction
from capstone_etl_spark.operators.packing import (
    BATCH_BUCKETS,
    BATCH_TOKEN_BUDGET,
    bucketed_batching,
)
from capstone_etl_spark.operators.preference import (
    BT_SCALE,
    bt_source_ratings,
)
from capstone_etl_spark.operators.scaleaudit import embedding_coverage_audit
from capstone_etl_spark.operators.similarity import (
    TOP_K,
    ann_brute_topk,
    matryoshka_recall,
)


def test_bt_ratings_invariants(spark, sf_dir):
    rows = bt_source_ratings(spark, sf_dir).collect()
    assert rows, "every sf fixture has bucket collisions across sources"
    # each duel contributes 1 game to both players and exactly 1 win
    assert sum(r.n_wins for r in rows) * 2 == sum(r.n_games for r in rows)
    for r in rows:
        assert 0 <= r.n_wins <= r.n_games
        assert 0.0 <= r.bt_rating <= 1.0
    # the max-anchor normalization pins the best source to exactly 1.0
    assert max(r.bt_rating for r in rows) == 1.0


def test_bt_ratings_order_follows_strength(spark):
    """A synthetic corpus where source 'big' always out-sizes 'small'
    must rate big > small (BT strength is monotone in wins)."""
    rows = [(i, "word " * 50, "en", "big", 250) for i in range(0, 40)] + [
        (i, "word " * 5, "en", "small", 25) for i in range(40, 80)
    ]
    import pandas as pd

    d = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {r.source: r for r in bt_source_ratings(spark, tmp).collect()}
    if "big" in got and "small" in got:  # needs >=1 shared bucket
        assert got["big"].bt_rating == 1.0
        assert got["small"].bt_rating < got["big"].bt_rating
        assert got["small"].n_wins == 0


def test_template_extraction_groups(spark, sf_dir):
    df = template_extraction(spark, sf_dir)
    rows = df.collect()
    for r in rows:
        assert r.n_docs >= TEMPLATE_MIN_DOCS
        assert 1 <= r.n_sources <= r.n_docs
        assert len(r.template_hash) == 32
    # shapes are unique per row (it is the group key)
    shapes = [r.template_shape for r in rows]
    assert len(shapes) == len(set(shapes))


def test_template_extraction_masks_digits_and_case(spark):
    """'Page 3 of 71' and 'PAGE 8 OF 12' must land in one template."""
    import pandas as pd

    rows = [
        (0, "Page 3 of 71", "en", "a", 12),
        (1, "PAGE 8 OF 12", "en", "b", 12),
        (2, "an entirely different looking document body here", "en", "a", 48),
    ]
    d = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = template_extraction(spark, tmp).collect()
    assert len(got) == 1
    assert got[0].n_docs == 2 and got[0].n_sources == 2
    assert got[0].example_doc_id == 0


def test_embedding_coverage_audit_bounds(spark, sf_dir):
    rows = embedding_coverage_audit(spark, sf_dir).collect()
    scopes = {r.scope for r in rows}
    assert "embeddings:all" in scopes
    assert any(s.startswith("docs:") for s in scopes)
    for r in rows:
        assert 0 <= r.n_matched <= r.n_rows
        assert 0.0 <= r.pct_matched <= 100.0


def test_bucketed_batching_plan(spark, sf_dir):
    rows = bucketed_batching(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.bucket_len in BATCH_BUCKETS
        assert r.pad_waste >= 0
        assert 0.0 < r.efficiency <= 1.0
        bs = max(1, BATCH_TOKEN_BUDGET // r.bucket_len)
        assert r.n_batches == -(-r.n_docs // bs)  # ceil
        # payload never exceeds the padded envelope
        assert r.total_tokens <= r.n_docs * r.bucket_len


def test_matryoshka_recall_bounds_and_ground_truth(spark, sf_dir):
    rows = matryoshka_recall(spark, sf_dir).collect()
    n_q = ann_brute_topk(spark, sf_dir).select("query_id").distinct().count()
    assert len(rows) == n_q  # zero-overlap queries must still appear
    for r in rows:
        assert r.k == TOP_K
        assert 0 <= r.n_hit <= r.k
        assert abs(r.recall - r.n_hit / r.k) < 1e-12


def test_containment_bounds_and_asymmetry(spark, sf_dir):
    from capstone_etl_spark.operators.dedup import (
        CONTAIN_THRESHOLD,
        dedup_containment,
        jaccard_pairs,
        _docs,
    )

    rows = dedup_containment(spark, sf_dir).collect()
    for r in rows:
        assert r.containment >= CONTAIN_THRESHOLD
        assert 0.0 < r.containment <= 1.0
        # jaccard never exceeds either containment direction
        assert r.jaccard <= r.containment + 1e-9
        assert r.src_doc != r.dst_doc


def test_containment_catches_partial_copy(spark):
    """A doc fully embedded in a 10x larger doc: containment 1.0,
    jaccard far below the near-dup threshold — the class this operator
    exists for."""
    import pandas as pd
    import tempfile

    small = " ".join(f"tok{i}" for i in range(40))
    big = small + " " + " ".join(f"other{i}" for i in range(400))
    rows = [(0, small, "en", "a", len(small)), (1, big, "en", "b", len(big))]
    d = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    )
    from capstone_etl_spark.operators.dedup import dedup_containment

    with tempfile.TemporaryDirectory() as tmp:
        d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {(r.src_doc, r.dst_doc): r for r in dedup_containment(spark, tmp).collect()}
    assert (0, 1) in got, "small-in-big direction must be flagged"
    assert got[(0, 1)].containment == 1.0
    assert got[(0, 1)].jaccard < 0.2
    assert (1, 0) not in got  # big is NOT contained in small


def test_embedding_outliers_ranks(spark, sf_dir):
    from capstone_etl_spark.operators.similarity import OUTLIER_TOP, embedding_outliers

    rows = embedding_outliers(spark, sf_dir).collect()
    assert rows
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
        assert 1 <= r.rnk <= OUTLIER_TOP
        assert r.dist_to_centroid >= 0.0
    for label, rs in by_label.items():
        rs.sort(key=lambda r: r.rnk)
        dists = [r.dist_to_centroid for r in rs]
        assert dists == sorted(dists, reverse=True), f"label {label} not ranked desc"


def test_retrieval_ndcg_bounds_vs_mrr(spark, sf_dir):
    from capstone_etl_spark.operators.doc_similarity import retrieval_mrr, retrieval_ndcg

    ndcg = {r.query_id: r for r in retrieval_ndcg(spark, sf_dir).collect()}
    mrr = {r.query_id: r for r in retrieval_mrr(spark, sf_dir).collect()}
    assert set(ndcg) == set(mrr)
    for qid, r in ndcg.items():
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9
        assert r.hits_at_k == mrr[qid].hits_at_k
        assert r.n_rel == mrr[qid].n_rel
        # zero relevant -> zero score in both metrics; a first-rank hit
        # with all relevant docs retrieved -> ndcg 1.0
        if r.n_rel == 0:
            assert r.ndcg == 0.0 and mrr[qid].rr == 0.0
        if r.hits_at_k > 0:
            assert r.ndcg > 0.0


def test_dedup_keep_best_picks_longest(spark, sf_dir):
    from capstone_etl_spark.operators.dedup import dedup_clusters, dedup_keep_best

    best = dedup_keep_best(spark, sf_dir).collect()
    assert best
    by_cluster = {}
    chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    for r in best:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        kept = [r for r in members if r.is_kept == 1]
        assert len(kept) == 1, f"cluster {cid}: exactly one kept member"
        k = kept[0]
        assert all(r.kept_doc_id == k.doc_id for r in members)
        # the kept member is the longest (ties -> smallest doc_id)
        for r in members:
            assert (chars[k.doc_id], -k.doc_id) >= (chars[r.doc_id], -r.doc_id) or (
                chars[k.doc_id] == chars[r.doc_id] and k.doc_id <= r.doc_id
            )
    # same clustering as dedup_clusters, different representative rule
    cl = {r.doc_id: r.cluster_id for r in dedup_clusters(spark, sf_dir).collect()}
    assert all(cl[r.doc_id] == r.cluster_id for r in best)


def test_stopword_discovery_finds_function_words(spark, sf_dir):
    from capstone_etl_spark.operators.textstats import (
        STOPWORD_MAX_SRC_SHARE,
        STOPWORD_MIN_DOC_FRAC,
        stopword_discovery,
    )

    rows = stopword_discovery(spark, sf_dir).collect()
    assert rows, "the synthetic corpus has corpus-wide function words"
    toks = {r.token for r in rows}
    assert "the" in toks or "a" in toks  # classic function words surface
    for r in rows:
        assert r.doc_frac >= STOPWORD_MIN_DOC_FRAC
        assert r.top_source_share <= STOPWORD_MAX_SRC_SHARE + 1e-9
        assert r.n_sources >= 1 and r.df >= 1


def test_unicode_audit_counts(spark):
    """Hand-checkable counts: 'café 日本語' has 4 non-ASCII chars of 8."""
    import pandas as pd
    import tempfile

    from capstone_etl_spark.operators.textstats import unicode_audit

    rows = [
        (0, "café 日本語", "fr", "a", 8),
        (1, "plain ascii", "en", "a", 11),
        (2, "", "en", "b", 0),
        (3, "日本語のテキスト", "ja", "b", 8),
    ]
    d = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    )
    with tempfile.TemporaryDirectory() as tmp:
        d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {r.source: r for r in unicode_audit(spark, tmp).collect()}
    a, b = got["a"], got["b"]
    assert a.total_chars == 19 and a.non_ascii_chars == 4
    assert a.n_docs_mostly_non_ascii == 0
    assert b.total_chars == 8 and b.non_ascii_chars == 8
    assert b.n_docs_mostly_non_ascii == 1  # the all-Japanese doc
    assert b.non_ascii_ratio == 1.0


def test_matryoshka_full_dim_is_perfect_recall(spark, sf_dir):
    """Sanity: truncating to the FULL dimension must give recall 1.0
    (the truncated ranking degenerates to the exact ranking)."""
    import capstone_etl_spark.operators.similarity as sim

    rows = sim.matryoshka_recall(spark, sf_dir, trunc_dim=sim.DIM).collect()
    assert rows and all(r.recall == 1.0 for r in rows)
