"""Invariant tests for the round-7 session-2 operators: CMS join-size
estimation, histogram quantile sketch, k-anonymity audit, and the
simplified k-means silhouette."""

from __future__ import annotations


def test_cms_join_size_never_underestimates(spark, sf_dir):
    """The CMS inner product is a provable overestimate: colliding keys
    only add positive mass to both factors. And the exact column must
    equal the join size computed the straightforward way."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.sketches import cms_join_size
    from capstone_etl_spark.sources.tables import load_table

    row = cms_join_size(spark, sf_dir).first()
    assert row.overestimate >= 0
    assert row.cms_estimate == row.exact_size + row.overestimate

    ev = load_table(spark, sf_dir, "events")
    truth = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .join(ev.filter(F.col("event_type") == "view").select("user_id"), "user_id")
        .count()
    )
    assert row.exact_size == truth


def test_histogram_quantiles_error_bounded_by_bin_width(spark, sf_dir):
    """The whole point of the sketch: any quantile is answered to
    within one bin width, and both estimate and truth stay inside the
    value range."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.sketches import HQ_W, histogram_quantiles
    from capstone_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    mn, mx = docs.agg(F.min("n_chars"), F.max("n_chars")).first()
    bw = (mx - mn + 1) / HQ_W

    rows = histogram_quantiles(spark, sf_dir).orderBy("q").collect()
    assert [r.q for r in rows] == [0.25, 0.5, 0.75, 0.9, 0.99]
    prev_exact = float("-inf")
    for r in rows:
        assert r.abs_error <= bw + 1e-9
        assert mn <= r.exact_quantile <= mx
        assert mn <= r.est_quantile <= mx + bw
        # the discrete quantile is nondecreasing in q
        assert r.exact_quantile >= prev_exact
        prev_exact = r.exact_quantile


def test_k_anonymity_audit_monotone_in_k(spark, sf_dir):
    """Raising k can only put MORE groups (and rows) below the bar, and
    the totals must tie out to the table itself."""
    from capstone_etl_spark.operators.privacy import k_anonymity_audit
    from capstone_etl_spark.sources.tables import load_table

    rows = k_anonymity_audit(spark, sf_dir).orderBy("k").collect()
    assert [r.k for r in rows] == [2, 5, 10]
    n_customers = load_table(spark, sf_dir, "customer").count()
    prev_g, prev_r = -1, -1
    for r in rows:
        assert r.n_rows == n_customers
        assert 0 <= r.groups_below <= r.n_groups
        assert 0 <= r.rows_below <= r.n_rows
        assert r.groups_below >= prev_g and r.rows_below >= prev_r
        # a group below k has at most k-1 rows, and singletons dominate
        # the bound from the other side
        assert r.groups_below <= r.rows_below <= r.groups_below * (r.k - 1)
        assert abs(r.pct_rows_below - r.rows_below / r.n_rows) < 1e-6
        prev_g, prev_r = r.groups_below, r.rows_below


def test_kmeans_silhouette_range_and_coverage(spark, sf_dir):
    """The simplified silhouette with b = runner-up centroid distance
    is confined to [0, 1] by construction (b >= a >= 0); every vector
    lands in exactly one cell."""
    from capstone_etl_spark.operators.similarity import kmeans_silhouette
    from capstone_etl_spark.sources.tables import load_table

    rows = kmeans_silhouette(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n_vecs
    for r in rows:
        assert 0.0 <= r.min_sil <= r.mean_sil <= r.max_sil <= 1.0


def test_ann_radius_consistent_with_topk(spark, sf_dir):
    """Radius search and IVF top-k read the SAME scored candidate
    relation, so every top-k row at or above the radius must appear in
    the radius result, and every radius row must clear the radius."""
    from capstone_etl_spark.operators.similarity import (
        ANN_RADIUS_SIM,
        ann_ivf_topk,
        ann_radius_search,
    )

    radius = {
        (r.query_id, r.neighbor_id): r.sim
        for r in ann_radius_search(spark, sf_dir).collect()
    }
    assert radius, "the corpus must have some in-radius pair"
    assert all(s >= ANN_RADIUS_SIM for s in radius.values())
    topk = ann_ivf_topk(spark, sf_dir).collect()
    for r in topk:
        if r.sim >= ANN_RADIUS_SIM:
            assert radius[(r.query_id, r.neighbor_id)] == r.sim


def test_label_separability_tie_out(spark, sf_dir):
    """Every labeled vector lands in exactly one class row; scatter
    sums are nonnegative and the ratio is the emitted division."""
    from capstone_etl_spark.operators.similarity import label_separability
    from capstone_etl_spark.sources.tables import load_table

    rows = label_separability(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n
    for r in rows:
        assert r.within_ss >= 0 and r.between_ss >= 0
        if r.within_ss > 0:
            assert abs(r.separability - r.between_ss / r.within_ss) < 1e-6
        elif r.between_ss == 0:
            assert r.separability == 0.0  # fully degenerate class
        else:
            assert r.separability is None  # unbounded (perfect) separation


def test_phash_finds_byte_level_near_dups(spark, tmp_path):
    """The sf0.01 corpus has no in-radius image pairs (the gate's
    0-row agreement is real but weak), so construct them: doc_ids 0
    and 3 are both image payloads (doc_id % 3) with IDENTICAL text →
    identical fingerprints → a hamming-0 pair; doc 6 perturbs one
    character → at most a few cell means move, and any emitted pair
    must clear the pigeonhole-exact threshold."""
    import pandas as pd

    from capstone_etl_spark.operators.multimodal import (
        PHASH_HAM_MAX,
        media_phash_dedup,
    )

    base = ("the quick brown fox jumps over the lazy dog " * 5).strip()
    rows = [
        (0, base, "en", "web", len(base)),
        (3, base, "en", "web", len(base)),
        (6, base.replace("quick", "quack", 1), "en", "web", len(base)),
        (9, "a completely different document about spark physical plans and shuffles", "en", "web", 72),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf = pdf.astype({"doc_id": "int64", "n_chars": "int64"})
    pdf.to_parquet(str(tmp_path / "documents.parquet"))

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in media_phash_dedup(spark, str(tmp_path)).collect()
    }
    assert pairs[(0, 3)] == 0  # identical payloads MUST pair at hamming 0
    assert all(h <= PHASH_HAM_MAX for h in pairs.values())


def test_hll_sketch_accuracy_and_branching(spark, sf_dir):
    """m=64 classic HLL carries ~1.04/√64 ≈ 13% standard error; assert
    a loose 3-sigma bound per source, plus the structural invariants:
    the zero-register count fits the register file, and the
    linear-counting branch fires exactly when it should."""
    from capstone_etl_spark.operators.sketches import HLL_M, hll_distinct_sketch

    rows = hll_distinct_sketch(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_zero_registers <= HLL_M
        assert r.hll_estimate > 0
        assert r.rel_error <= 0.45  # 3-sigma-ish for m=64
        if r.linear_counting:
            assert r.n_zero_registers > 0


def test_hll_registers_merge_by_max(spark, sf_dir):
    """The sketch's defining property: element-wise MAX of per-source
    register files equals the register file of the unioned stream —
    verified by deriving the whole-corpus registers both ways."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.sketches import hll_rho_rows
    from capstone_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokenize("text")).alias("token")).distinct()
    rho_rows = hll_rho_rows(toks)  # the PRODUCTION pipeline, not a copy
    per_source = rho_rows.groupBy("source", "bucket").agg(F.max("rho").alias("reg"))
    merged = {
        r.bucket: r.m
        for r in per_source.groupBy("bucket").agg(F.max("reg").alias("m")).collect()
    }
    direct = {
        r.bucket: r.m
        for r in rho_rows.groupBy("bucket").agg(F.max("rho").alias("m")).collect()
    }
    assert merged == direct


def test_dedup_aware_weights_conserves_docs(spark, sf_dir):
    """Every document appears in exactly one (source, cluster_size)
    cell, the weight is exactly 1/size, and the effective-document
    mass never exceeds the raw count."""
    from capstone_etl_spark.operators.dedup import dedup_aware_weights
    from capstone_etl_spark.sources.tables import load_table

    rows = dedup_aware_weights(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    effective = 0.0
    for r in rows:
        assert r.cluster_size >= 1
        assert abs(r.weight_each - round(1.0 / r.cluster_size, 6)) < 1e-9
        effective += r.n_docs * (1.0 / r.cluster_size)
    assert effective <= n_docs
    assert any(r.cluster_size == 1 and r.weight_each == 1.0 for r in rows)


def test_label_separability_perfect_separation_is_null(spark, tmp_path):
    """Each label collapsed to its own point away from the global
    centroid: within_ss = 0 with between_ss > 0 must yield NULL (the
    unbounded-separation sentinel), never 0.0 — a 0-pin would rank the
    best case worst."""
    import pandas as pd

    from capstone_etl_spark.operators.similarity import label_separability

    dim = 64
    rows = [(i, [0.1 if i % 2 == 0 else 0.5] * dim, i % 2) for i in range(6)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf["vec_id"] = pdf["vec_id"].astype("int64")
    pdf["label"] = pdf["label"].astype("int32")
    pdf.to_parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.label: r for r in label_separability(spark, str(tmp_path)).collect()}
    for lbl in (0, 1):
        assert out[lbl].within_ss == 0
        assert out[lbl].between_ss > 0
        assert out[lbl].separability is None


def test_quality_agreement_matrix_counts_tie_out(spark, sf_dir):
    """Each pair's four cells must partition the corpus, agreement is
    their keep+drop share, and every pair row sees the same n_docs."""
    from capstone_etl_spark.operators.quality import quality_agreement_matrix

    rows = quality_agreement_matrix(spark, sf_dir).collect()
    assert sorted(r.pair for r in rows) == ["gopher~length", "gopher~lm", "lm~length"]
    n_docs = {r.n_docs for r in rows}
    assert len(n_docs) == 1 and n_docs.pop() > 0
    for r in rows:
        assert r.n_both_keep + r.n_both_drop + r.n_only_a + r.n_only_b == r.n_docs
        assert abs(r.agreement - (r.n_both_keep + r.n_both_drop) / r.n_docs) < 1e-6


def test_dedup_threshold_sweep_monotone(spark, sf_dir):
    """Raising the threshold can only shrink the surviving pair set and
    the touched-document set; the production threshold's row must agree
    with the deployed pair query's count."""
    from capstone_etl_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        ngram_jaccard_pairs,
    )
    from capstone_etl_spark.operators.scaleaudit import dedup_threshold_sweep

    rows = dedup_threshold_sweep(spark, sf_dir).orderBy("threshold").collect()
    assert [round(r.threshold, 1) for r in rows] == [
        round(0.1 * i, 1) for i in range(1, 10)
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_pairs <= prev.n_pairs
        assert cur.n_docs <= prev.n_docs
    for r in rows:
        # every surviving pair touches 2 docs, shared docs only shrink it
        assert r.n_docs <= 2 * r.n_pairs or r.n_pairs == 0

    prod = ngram_jaccard_pairs(spark, sf_dir).count()
    at_prod = [r for r in rows if abs(r.threshold - JACCARD_THRESHOLD) < 1e-9]
    if at_prod:  # only when the production threshold sits on the grid
        assert at_prod[0].n_pairs == prod


def test_tokenizer_comparison_orders_sanely(spark, sf_dir):
    """Whitespace fertility is exactly 1, learned tokenizers sit
    between whitespace and the char ceiling, and every row's fertility
    is its own ratio."""
    from capstone_etl_spark.operators.textstats import tokenizer_comparison

    rows = {r.tokenizer: r for r in tokenizer_comparison(spark, sf_dir).collect()}
    assert set(rows) == {"whitespace", "char", "bpe", "unigram"}
    for r in rows.values():
        assert abs(r.fertility - r.n_tokens / r.n_words) < 1e-6
    assert rows["whitespace"].fertility == 1.0
    assert 1.0 <= rows["bpe"].fertility <= rows["char"].fertility
    assert 1.0 <= rows["unigram"].fertility
    # BPE merges strictly compressed below the char baseline
    assert rows["bpe"].n_tokens < rows["char"].n_tokens


def test_kmeans_silhouette_runner_up_wiring(spark, tmp_path):
    """Six DISTINCT vectors, all under the seed count: every vector is
    its own cell with a = 0 and b = the distance to its nearest OTHER
    centroid > 0, so every silhouette must be exactly 1.0. This pins
    two wirings at once: b really is the runner-up (own-cell distance
    would give 0.0) and the 0/0 guard does not misfire when only a is
    zero."""
    import pandas as pd

    from capstone_etl_spark.operators.similarity import kmeans_silhouette

    dim = 64
    rows = []
    for i in range(6):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + 0.25 * i] * dim, i % 2))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf["vec_id"] = pdf["vec_id"].astype("int64")
    pdf["label"] = pdf["label"].astype("int32")
    pdf.to_parquet(str(tmp_path / "embeddings.parquet"))

    out = kmeans_silhouette(spark, str(tmp_path)).collect()
    assert sum(r.n_vecs for r in out) == 6
    assert len(out) == 6
    for r in out:
        assert r.n_vecs == 1
        assert r.mean_sil == r.min_sil == r.max_sil == 1.0
