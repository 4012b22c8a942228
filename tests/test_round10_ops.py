"""Round-10 operators: HIVF-PQ — the production serving shape with no
flat O(N·√N) index-build term left (VERDICT r9 #5). The composition is
ann_hivf_topk's two-level coarse router + _pq_hier_codes' per-subspace
hier encode + ann_ivf_pq_topk's flat query-side ADC tables."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401  (fixture parity)


def test_hivf_pq_output_contract(spark):
    """Every query answered, ranks contiguous from 1, ADC distance
    nondecreasing in rank — ann_ivf_pq_topk's output contract holds
    under the two-level router."""
    from capstone_etl_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        ann_hivf_pq_topk,
    )
    from capstone_etl_spark.session import release_caches

    sf = "/root/testdata/sf0.001"
    try:
        rows = ann_hivf_pq_topk(spark, sf).collect()
    finally:
        release_caches()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(N_QUERIES))
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1)), q
        assert len(rs) <= TOP_K
        ds = [r.adc_dist for r in rs]
        assert ds == sorted(ds), q


def test_hivf_pq_recall_vs_flat_ivfpq(spark):
    """On the near-uniform sf0.001 corpus — the worst case for a
    hierarchy — HIVF-PQ retains most of flat IVF-PQ's brute-force
    recall (its coarse candidates are a routed subset of the flat
    candidate set, and its codes argmin over a routed codeword
    subset)."""
    from capstone_etl_spark.operators.similarity import (
        ann_brute_topk,
        ann_hivf_pq_topk,
        ann_ivf_pq_topk,
    )
    from capstone_etl_spark.session import release_caches

    sf = "/root/testdata/sf0.001"
    try:
        brute = [
            (r.query_id, r.neighbor_id) for r in ann_brute_topk(spark, sf).collect()
        ]

        def recall(df):
            by_q: dict[int, set[int]] = {}
            for r in df.collect():
                by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
            return sum(1 for q, n in brute if n in by_q.get(q, set())) / len(brute)

        r_flat = recall(ann_ivf_pq_topk(spark, sf))
        r_hier = recall(ann_hivf_pq_topk(spark, sf))
    finally:
        release_caches()
    # deterministic on the fixed corpus; the two-level router trades
    # some recall for the N^(1/4) build — pin a floor relative to flat
    assert r_hier >= 0.5 * r_flat, f"hier {r_hier:.2f} vs flat {r_flat:.2f}"


def test_hivf_pq_plan_shape(spark):
    """No cartesian product anywhere in the composed plan: the branch
    array, probe count, corpus stats and query ADC tables are all
    1-row or query-bounded broadcasts; candidate flow is equi-joins on
    cell / (m, branch) / (query_id, m, cw)."""
    from capstone_etl_spark.operators.similarity import ann_hivf_pq_topk
    from capstone_etl_spark.plans import formatted_plan
    from capstone_etl_spark.session import release_caches

    spark.catalog.clearCache()
    try:
        plan = formatted_plan(ann_hivf_pq_topk(spark, "/root/testdata/sf0.001"))
    finally:
        release_caches()
    assert "CartesianProduct" not in plan
