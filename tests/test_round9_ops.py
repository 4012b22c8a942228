"""Round-9 operators.

The two-level (hierarchical) quantizer family: the flat-IVF assignment
stage measured exponent 1.26-1.28 at the second scale decade (SCALE.md)
— the O(N·√N) quantizer pass heading for N^1.5. ann_hivf_topk /
hier_assign are the production mitigation (≈N^(1/4) in-row branch
routing); hivf_cell_medoids adds the sampled-candidate medoid. These
tests pin recall on clustered data, the branch size law, plan shape,
medoid estimator quality, and batch/stream equality for the serving
twin. Also covered: the stream_training_manifest drain-equality proof,
the KLL sketch's merge law and error envelope, bitext mining's
ground-truth alignment recovery, and the PQ-hier distortion bound."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _clustered_corpus(spark, tmp_path, n_clusters=20, per=50):
    from capstone_etl_spark.operators.similarity import DIM

    rows = []
    for i in range(n_clusters * per):
        k = i % n_clusters
        center = [math.sin(0.7 * k * (d + 1)) for d in range(DIM)]
        noise = [((i * 131 + d * 17) % 101) / 101.0 * 0.02 - 0.01 for d in range(DIM)]
        rows.append((i, [float(c + x) for c, x in zip(center, noise)], f"c{k}"))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_hivf_recall_clustered(spark, tmp_path):
    """On data WITH cluster structure (the real-encoder case) the
    hierarchical index keeps the flat index's near-exact recall: a
    cluster co-locates in one cell, that cell's branch is the nearest
    branch for every member, and BRANCH_PROBES=2 covers boundary
    routing."""
    from capstone_etl_spark.operators.similarity import ann_brute_topk, ann_hivf_topk

    sf = _clustered_corpus(spark, tmp_path)
    hivf: dict[int, set[int]] = {}
    for r in ann_hivf_topk(spark, sf).collect():
        hivf.setdefault(r.query_id, set()).add(r.neighbor_id)
    brute = [(r.query_id, r.neighbor_id) for r in ann_brute_topk(spark, sf).collect()]
    hits = sum(1 for q, n in brute if n in hivf.get(q, set()))
    assert hits >= 0.9 * len(brute), f"clustered recall {hits}/{len(brute)}"


def test_hivf_recall_vs_flat_sf0001(spark):
    """On the near-uniform sf0.001 corpus — the worst case for any
    hierarchy — the two-level router retains most of the flat index's
    recall (it scans a subset of the flat candidate set by design)."""
    from capstone_etl_spark.operators.similarity import (
        ann_brute_topk,
        ann_hivf_topk,
        ann_ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    brute = [(r.query_id, r.neighbor_id) for r in ann_brute_topk(spark, sf).collect()]

    def recall(df):
        by_q: dict[int, set[int]] = {}
        for r in df.collect():
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(1 for q, n in brute if n in by_q.get(q, set())) / len(brute)

    r_flat = recall(ann_ivf_topk(spark, sf))
    r_hier = recall(ann_hivf_topk(spark, sf))
    # deterministic on the fixed corpus; hierarchy trades some recall
    # for the N^(1/4) assignment — pin a floor relative to flat
    assert r_hier >= 0.5 * r_flat, f"hier {r_hier:.2f} vs flat {r_flat:.2f}"


def test_branch_layer_size_law(spark):
    """Branch count tracks N^(1/4) (seeds track √N; one hash, two
    thresholds ⇒ branches ⊆ seeds), and every vector routes — the
    min-hash fallback keeps the router total on tiny corpora."""
    from capstone_etl_spark.operators.similarity import hier_branches, quantizer_seeds

    n = 4096
    rows = [
        (i, [((i * 37 + d * 11) % 97) / 97.0 - 0.5 for d in range(8)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    quant = F.transform(
        "embedding", lambda v: F.floor(v.cast("double") * 10000 + 0.5).cast("long")
    )
    emb_q = emb.select("vec_id", quant.alias("vq"))
    seeds = {r.cell for r in quantizer_seeds(emb_q).collect()}
    branches = {r.branch for r in hier_branches(emb_q).collect()}
    assert branches <= seeds
    assert 1 <= len(branches) <= 4 * n ** 0.25, (len(branches), n ** 0.25)


def test_branch_fallback_single_vector(spark):
    """A 1-vector corpus still yields exactly one branch (the min-hash
    fallback), so assignment is total."""
    from capstone_etl_spark.operators.similarity import hier_branches

    emb_q = spark.createDataFrame(
        [(7, [100, -200, 300])], "vec_id long, vq array<long>"
    )
    rows = hier_branches(emb_q).collect()
    assert [r.branch for r in rows] == [7]


def test_hivf_plan_shape(spark):
    """The routing stage is broadcast-only (the collected branch array
    — no shuffle before assignment's partial-agg argmin) and the only
    Generate is the bounded BRANCH_PROBES route explode."""
    from capstone_etl_spark.operators.similarity import ann_hivf_topk
    from capstone_etl_spark.plans import formatted_plan
    from capstone_etl_spark.session import release_caches

    spark.catalog.clearCache()
    try:
        plan = formatted_plan(ann_hivf_topk(spark, "/root/testdata/sf0.001"))
    finally:
        release_caches()
    import re

    assert "CartesianProduct" not in plan
    # the explode of the 2-element route array is the only allowed
    # Generate shape; it appears once per cand_seed consumer (assign +
    # probes share the subtree). The N x dims x cells posexplode
    # fan-out must not return.
    tree_gens = re.findall(r"Generate \(\d+\)", plan)
    assert len(tree_gens) <= 2, tree_gens


def test_kll_merge_law_and_error_bound(spark, sf_dir):
    """The sketch's two load-bearing properties: (a) the MERGE LAW —
    survival is per-row deterministic and samples are nested (h mod
    2^(L+1) = 0 implies h mod 2^L = 0), so shards sketched at lower
    levels merge by re-filtering at the union's level and unioning,
    with NO resampling; (b) the estimate's rank error stays within the
    O(1/sqrt(K)) envelope (checked generously at 4 standard errors in
    value space via the exact audit column already emitted)."""
    from capstone_etl_spark.functions.hashing import md5_hash60
    from capstone_etl_spark.operators.sketches import KLL_K, kll_quantile_sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = md5_hash60(F.concat(F.lit("kll:"), F.col("doc_id").cast("string")))
    vals = docs.select("doc_id", h.alias("h"))
    # (a) merge law: shard A sketched at level 1, shard B at level 2;
    # merging at the union level L=3 must equal sketching the union
    # at L=3 directly
    a = vals.filter(F.col("doc_id") % 2 == 0)
    b = vals.filter(F.col("doc_id") % 2 == 1)
    merged = (
        a.filter(F.col("h") % 2 == 0).filter(F.col("h") % 8 == 0)
        .unionByName(b.filter(F.col("h") % 4 == 0).filter(F.col("h") % 8 == 0))
    )
    direct = vals.filter(F.col("h") % 8 == 0)
    assert {r.doc_id for r in merged.collect()} == {r.doc_id for r in direct.collect()}
    # (b) error bound: with n <= K the sample is exact (abs_error 0);
    # otherwise rank error ~ q(1-q)/sqrt(K) — assert the emitted audit
    # column against a generous 4/sqrt(K) rank envelope translated
    # through the empirical value spread
    rows = kll_quantile_sketch(spark, sf_dir).collect()
    assert rows, "sketch emitted no rows"
    for r in rows:
        if r.n <= KLL_K:
            assert r.level == 0 and r.abs_error == 0.0, r
    import math

    vmin, vmax = docs.agg(F.min("n_chars"), F.max("n_chars")).first()
    envelope = 4.0 / math.sqrt(KLL_K) * (vmax - vmin)
    bad = [r for r in rows if r.abs_error > envelope]
    assert not bad, bad[:3]


def test_hivf_medoids_partition_and_quality(spark, tmp_path):
    """The sampled medoid is a real partition release: every vector is
    assigned exactly once (sum of pops = N), candidate counts respect
    min(pop, M), and on clustered data the sampled medoid's tightness
    matches the exact medoid's (the hash-least candidates of a tight
    cluster are all near-equivalent centers)."""
    from capstone_etl_spark.operators.similarity import (
        MEDOID_CANDIDATES,
        hivf_cell_medoids,
    )

    sf = _clustered_corpus(spark, tmp_path)
    rows = hivf_cell_medoids(spark, sf).collect()
    n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert sum(r.pop for r in rows) == n
    for r in rows:
        assert 1 <= r.n_cand <= min(r.pop, MEDOID_CANDIDATES), r
        assert r.mean_d2 >= 0.0
    # estimator quality: per cell, the sampled medoid's exact total
    # distance is within a small factor of the TRUE medoid's (computed
    # brute-force here — deterministic fixture, stable factor). Cells
    # can legitimately be diffuse (a cluster whose hash draw yielded no
    # seed lands in a neighbor's cell), so the bound is relative, not
    # absolute.
    import numpy as np

    from capstone_etl_spark.operators.similarity import hier_assign, quantize_fp

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    assign = hier_assign(emb.select("vec_id", quantize_fp().alias("vq"))).collect()
    by_cell: dict[int, list] = {}
    for a in assign:
        by_cell.setdefault(a.cell, []).append((a.vec_id, np.array(a.vq, dtype=np.float64)))
    got = {r.cell: r for r in rows}
    for cell, members in by_cell.items():
        mat = np.stack([v for _, v in members])
        totals = ((mat[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2).sum(axis=1)
        exact_best = totals.min()
        sampled = got[cell]
        sampled_tot = sampled.mean_d2 * sampled.pop
        assert sampled_tot <= 2.0 * exact_best + 1e-6, (cell, sampled_tot, exact_best)


def test_bitext_mining_recovers_alignment(spark, tmp_path):
    """On a constructed bilingual space — vec 2i (side A) and 2i+1
    (side B) are tiny perturbations of the same point, distinct points
    per i — the margin miner recovers the ground-truth alignment: each
    mined pair is a true (2i, 2i+1) match, every id appears at most
    once (mutual-best), and margins exceed 1 (the pair is closer than
    either endpoint's neighborhood average)."""
    from capstone_etl_spark.operators.similarity import DIM, bitext_mining

    rows = []
    for i in range(150):
        center = [math.sin(0.37 * i * (d + 3)) for d in range(DIM)]
        for side in (0, 1):
            noise = [((i * 131 + d * 17 + side * 7) % 101) / 101.0 * 0.004 - 0.002 for d in range(DIM)]
            rows.append((2 * i + side, [float(c + x) for c, x in zip(center, noise)], "x"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    mined = bitext_mining(spark, str(tmp_path)).collect()
    assert len(mined) >= 100, len(mined)
    srcs = [r.src_id for r in mined]
    tgts = [r.tgt_id for r in mined]
    assert len(set(srcs)) == len(srcs) and len(set(tgts)) == len(tgts)
    true_hits = sum(1 for r in mined if r.tgt_id == r.src_id + 1)
    assert true_hits >= 0.95 * len(mined), f"{true_hits}/{len(mined)}"
    assert all(r.margin >= 1.0 for r in mined)


def test_pq_hier_distortion_close_to_flat(spark, sf_dir):
    """The per-subspace two-level encode trades assignment cost for a
    bounded distortion increase: each subspace's hier MSE stays within
    a small factor of the flat exact-argmin MSE (the routed branches'
    codewords include the true nearest codeword except at branch
    boundaries)."""
    from capstone_etl_spark.operators.similarity import (
        pq_distortion_audit,
        pq_hier_distortion_audit,
    )
    from capstone_etl_spark.session import release_caches

    try:
        flat = {r.m: r.mse for r in pq_distortion_audit(spark, sf_dir).collect()}
        hier = {r.m: r.mse for r in pq_hier_distortion_audit(spark, sf_dir).collect()}
    finally:
        release_caches()
    assert set(hier) == set(flat)
    for m, mse in hier.items():
        assert mse <= 1.5 * flat[m] + 1e-9, (m, mse, flat[m])


def test_kll_shard_merge_equals_monolithic(spark, sf_dir):
    """Sketch maintenance pinned equal to the rebuild: the shard-wise
    build (per-shard levels, metadata-only union level, re-filter +
    union merge) must release exactly the monolithic sketch — the
    nested-sample law makes the merged sample THE sample."""
    from capstone_etl_spark.operators.sketches import (
        kll_quantile_sketch,
        kll_sketch_merge,
    )
    from capstone_etl_spark.session import release_caches

    try:
        mono = {(r.source, r.q): tuple(r) for r in kll_quantile_sketch(spark, sf_dir).collect()}
        merged = {(r.source, r.q): tuple(r) for r in kll_sketch_merge(spark, sf_dir).collect()}
    finally:
        release_caches()
    assert merged == mono
