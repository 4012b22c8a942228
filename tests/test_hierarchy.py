"""Hierarchy operators: derived-key LEFT OUTER self-join + child aggs,
including orphan children (parent path absent) and NULL-parent roots."""

from __future__ import annotations

from capstone_etl_spark.operators.hierarchy import (
    child_aggregates,
    derive_paths,
    link_hierarchy,
)

PAGES = [
    (1, "https://en.wikibooks.org/wiki/Book"),
    (2, "https://en.wikibooks.org/wiki/Book/Ch1"),
    (3, "https://en.wikibooks.org/wiki/Book/Ch1/Sec1"),
    (4, "https://en.wikibooks.org/wiki/Orphan/Child"),  # parent path absent
]


def _linked(spark):
    pages = spark.createDataFrame(PAGES, "page_id long, url string")
    return link_hierarchy(derive_paths(pages), id_col="page_id")


def test_left_outer_parent_links(spark):
    got = {r.page_id: r.parent_page for r in _linked(spark).collect()}
    # root and orphan → NULL (divergence from 0-sentinel, SURVEY.md §7.6.3)
    assert got == {1: None, 2: 1, 3: 2, 4: None}


def test_child_aggregates(spark):
    """Children are keyed by their parent path: a page finds its
    children under its own page_loc."""
    pages = derive_paths(spark.createDataFrame(PAGES, "page_id long, url string"))
    agg = {r.page_loc: r for r in child_aggregates(pages, id_col="page_id").collect()}
    assert agg["Book"].count_children == 1 and agg["Book"].child_pages == [2]
    assert agg["Book/Ch1"].count_children == 1 and agg["Book/Ch1"].child_pages == [3]
    # the orphan's parent path is a key no page sits at
    assert agg["Orphan"].child_pages == [4]
    assert "Orphan" not in {r.page_loc for r in pages.collect()}


def test_pagerank_fixed_point_invariants(spark):
    from capstone_etl_spark.operators.text_pipeline import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
        hierarchy_pagerank,
        parent_child,
    )
    from capstone_etl_spark.session import release_caches

    sf = "/root/testdata/sf0.001"
    try:
        ranks = {r.doc_id: r.rank for r in hierarchy_pagerank(spark, sf).collect()}
        parents = {r.doc_id: r.parent_page for r in parent_child(spark, sf).collect()}
    finally:
        release_caches()
    n = len(ranks)
    base = ((PR_DAMP_DEN - PR_DAMP_NUM) * (PR_SCALE // n)) // PR_DAMP_DEN
    assert set(parents) == set(ranks)
    has_children = {p for p in parents.values() if p is not None}
    for doc_id, rank in ranks.items():
        if parents[doc_id] is None:
            # no in-links (roots, off-wiki docs): rank is exactly the base
            assert rank == base, (doc_id, rank, base)
        else:
            # every linked child received damped mass on top of the base
            assert rank > base, (doc_id, rank, base)
    # total mass never exceeds one SCALE unit of rank (dangling drop
    # only removes mass; integer floors only remove mass)
    assert sum(ranks.values()) <= PR_SCALE
    assert has_children  # fixture sanity: the forest is non-trivial


def test_hierarchy_rollup_matches_duckdb_and_invariants(spark):
    import duckdb

    from capstone_etl_spark.operators.text_pipeline import (
        HIERARCHY_ROLLUP_SQL,
        ROLLUP_ARITY,
        hierarchy_rollup,
    )
    from capstone_etl_spark.session import release_caches

    sf = "/root/testdata/sf0.001"
    try:
        rows = hierarchy_rollup(spark, sf).collect()
    finally:
        release_caches()
    got = {r.doc_id: (r.depth, r.subtree_docs, r.subtree_chars) for r in rows}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = {int(a): (int(b), int(c), int(d)) for a, b, c, d in con.execute(HIERARCHY_ROLLUP_SQL).fetchall()}
    assert got == want
    n = len(got)
    # root subsumes the whole corpus; its depth is 0
    assert got[0][0] == 0 and got[0][1] == n
    # leaves (no node claims them as parent) hold exactly themselves
    parents = {(d - 1) // ROLLUP_ARITY for d in got if d >= 1}
    leaves = [d for d in got if d not in parents]
    assert leaves and all(got[d][1] == 1 for d in leaves)
    # a node's subtree is strictly inside its parent's
    for d in got:
        if d >= 1:
            p = (d - 1) // ROLLUP_ARITY
            assert got[d][1] < got[p][1]
            assert got[d][0] == got[p][0] + 1


def test_subtree_rollup_deep_chain(spark):
    """Pointer doubling must close a CHAIN of depth 30 in the default 5
    rounds (2^5 = 32 > 30) — the fixture's K-ary tree only reaches
    depth ~4, so this pins the deep-path coverage the round constant
    promises."""
    from capstone_etl_spark.operators.text_pipeline import subtree_rollup
    from capstone_etl_spark.session import release_caches
    from pyspark.sql import functions as F

    n = 31  # chain 0 <- 1 <- ... <- 30
    nodes = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") + 100).alias("n_chars")
    )
    parents = spark.range(1, n).select(
        F.col("id").alias("doc_id"), (F.col("id") - 1).alias("j")
    )
    try:
        got = {
            r.doc_id: (r.depth, r.subtree_docs, r.subtree_chars)
            for r in subtree_rollup(nodes, parents).collect()
        }
    finally:
        release_caches()
    assert len(got) == n
    for i in range(n):
        depth, docs, chars = got[i]
        assert depth == i
        assert docs == n - i
        assert chars == sum(j + 100 for j in range(i, n))
