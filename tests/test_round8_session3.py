"""Round-8 session-3 operator tests: the IVF probe sweep, the KMV
set-difference estimator, the streaming PSI monitor, Group-DRO mixing
weights, and chunk-level BM25 retrieval."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ivf_probe_curve_monotone(spark, sf_dir):
    """More probes ⇒ candidate volume strictly grows and recall never
    drops — the property the tuning curve exists to expose."""
    from capstone_etl_spark.operators.similarity import (
        IVF_PROBE_GRID,
        ivf_probe_recall_curve,
    )

    rows = {r.n_probes: r for r in ivf_probe_recall_curve(spark, sf_dir).collect()}
    assert set(rows) == set(IVF_PROBE_GRID)
    grid = sorted(IVF_PROBE_GRID)
    for lo, hi in zip(grid, grid[1:]):
        assert rows[hi].n_candidates >= rows[lo].n_candidates
        assert rows[hi].recall >= rows[lo].recall - 1e-12
    for r in rows.values():
        assert 0.0 <= r.recall <= 1.0
        assert r.n_hits <= r.n_queries * 10


def test_kmv_set_difference_estimates_track_exact(spark, sf_dir):
    """The a-not-b estimator must track the exact difference within
    the sketch's error regime, and the exact columns must satisfy the
    set identity |A\\B| − |B\\A| = |A| − |B|."""
    from capstone_etl_spark.operators.sketches import kmv_set_difference

    rows = kmv_set_difference(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.a_only_exact >= 0 and r.b_only_exact >= 0
        denom = max(r.a_only_exact + r.b_only_exact, 1)
        # bottom-k sketches with k=256: ~6% relative error on the
        # union; allow a generous envelope on the split
        err = (abs(r.a_only_est - r.a_only_exact) + abs(r.b_only_est - r.b_only_exact)) / denom
        assert err < 0.35, (r.src_a, r.src_b, err)


def test_group_dro_weights_softmax(spark, sf_dir):
    """Weights are a proper distribution and order by loss — the
    worst group gets the largest weight."""
    from capstone_etl_spark.operators.quality import group_dro_weights

    rows = group_dro_weights(spark, sf_dir).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    # monotone in loss (pairwise, tolerant of 6-dp rounding ties)
    for a in rows:
        for b in rows:
            if a.loss_nats > b.loss_nats + 1e-9:
                assert a.weight >= b.weight - 2e-6, (a, b)


def test_rag_chunk_retrieval_ranking(spark, sf_dir):
    """Per-query ranks are 1..k with non-increasing scores, and every
    retrieved chunk exists in the corpus chunking."""
    from capstone_etl_spark.operators.corpus import doc_chunks
    from capstone_etl_spark.operators.doc_similarity import (
        RAG_TOP_K,
        rag_chunk_retrieval,
    )

    rows = rag_chunk_retrieval(spark, sf_dir).collect()
    chunks = {
        (r.doc_id, r.chunk_id) for r in doc_chunks(spark, sf_dir).collect()
    }
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        assert (r.doc_id, r.chunk_id) in chunks
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= RAG_TOP_K
        for a, b in zip(rs, rs[1:]):
            assert a.bm25 >= b.bm25
