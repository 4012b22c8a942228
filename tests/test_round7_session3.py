"""Invariant tests for the round-7 session-3 operators:
sorted-neighborhood dedup blocking, the cross-split leakage audit, and
code-vs-prose detection."""

from __future__ import annotations


def test_snm_candidate_set_is_exactly_the_window(spark, sf_dir):
    """Ranks are dense and unique, so the candidate relation must hold
    EXACTLY sum_{d=1..W-1} (N - d) pairs, every gap in [1, W-1], and no
    pair twice — the linear candidate bound that is the method's whole
    selling point."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.dedup import SNM_WINDOW, dedup_sorted_neighborhood
    from capstone_etl_spark.sources.tables import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    out = dedup_sorted_neighborhood(spark, sf_dir)
    expected = sum(max(0, n_docs - d) for d in range(1, SNM_WINDOW))
    assert out.count() == expected
    assert out.select("doc_a", "doc_b").distinct().count() == expected
    gaps = out.agg(F.min("rank_gap"), F.max("rank_gap")).first()
    assert gaps[0] >= 1 and gaps[1] <= SNM_WINDOW - 1


def test_snm_identical_text_pairs_verify_at_one(spark, sf_dir):
    """Any emitted pair whose two texts are byte-identical must verify
    at jaccard 1.0 / is_dup, and every jaccard stays in [0, 1]."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.dedup import dedup_sorted_neighborhood
    from capstone_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = dedup_sorted_neighborhood(spark, sf_dir)
    joined = (
        out.join(docs.withColumnsRenamed({"doc_id": "doc_a", "text": "ta"}), "doc_a")
        .join(docs.withColumnsRenamed({"doc_id": "doc_b", "text": "tb"}), "doc_b")
    )
    bad = joined.filter(
        (F.col("ta") == F.col("tb")) & ((F.col("jaccard") < 1.0) | ~F.col("is_dup"))
    ).count()
    assert bad == 0
    rng = out.agg(F.min("jaccard"), F.max("jaccard")).first()
    assert rng[0] >= 0.0 and rng[1] <= 1.0


def test_snm_jaccard_matches_direct_shingle_computation(spark, sf_dir):
    """Cross-check one emitted pair against a from-scratch shingle
    Jaccard computed outside the operator."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.dedup import dedup_sorted_neighborhood, shingles
    from capstone_etl_spark.sources.tables import load_table

    pair = (
        dedup_sorted_neighborhood(spark, sf_dir)
        .filter(F.col("n_inter") > 0)
        .orderBy("doc_a", "doc_b")
        .first()
    )
    assert pair is not None
    sh = shingles(load_table(spark, sf_dir, "documents"), max_df=None)
    a = {r.sh for r in sh.filter(F.col("doc_id") == pair.doc_a).collect()}
    b = {r.sh for r in sh.filter(F.col("doc_id") == pair.doc_b).collect()}
    assert pair.n_inter == len(a & b)
    # 5.1e-7: the emitted value is rounded to 6 places (HALF_UP)
    assert abs(pair.jaccard - len(a & b) / len(a | b)) < 5.1e-7


def test_split_leakage_rows_are_real_leaks(spark, sf_dir):
    """Every reported eval doc is genuinely val/test under the
    pipeline's own split assignment, meets the floor, and its shared-
    gram count reproduces from a direct recomputation."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.dedup import (
        LEAK_MIN_SHARED,
        LEAK_N,
        MAX_SHINGLE_DF,
        shingles,
        split_leakage_audit,
    )
    from capstone_etl_spark.operators.sampling import split_column
    from capstone_etl_spark.sources.tables import load_table

    rows = split_leakage_audit(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    splits = {
        r.doc_id: r.split
        for r in docs.select("doc_id", split_column(F.col("doc_id")).alias("split")).collect()
    }
    g = shingles(docs, n=LEAK_N, max_df=MAX_SHINGLE_DF)
    grams: dict[int, set] = {}
    for r in g.collect():
        grams.setdefault(r.doc_id, set()).add(r.sh)
    train_union = set()
    train_sets = {d: s for d, s in grams.items() if splits[d] == "train"}
    for s in train_sets.values():
        train_union |= s
    reported = {r.eval_doc for r in rows}
    for r in rows:
        assert splits[r.eval_doc] == r.split and r.split in ("val", "test")
        shared = grams.get(r.eval_doc, set()) & train_union
        assert r.n_shared_grams == len(shared) >= LEAK_MIN_SHARED
        assert r.n_train_partners == sum(
            1 for s in train_sets.values() if s & grams.get(r.eval_doc, set())
        )
    # completeness: no unreported eval doc clears the floor
    for d, s in grams.items():
        if splits[d] != "train" and len(s & train_union) >= LEAK_MIN_SHARED:
            assert d in reported


def test_code_detection_score_reproduces_from_counts(spark, sf_dir):
    """The emitted score/verdict must reproduce exactly from the
    emitted integer counts, and every ratio stays in range."""
    from decimal import ROUND_HALF_UP, Decimal

    from capstone_etl_spark.operators.quality import CODE_REP_WEIGHT, CODE_TAU, code_detection

    def round6(x: float) -> float:
        # Spark's F.round is HALF_UP; Python's round() is banker's —
        # on an exactly-representable .xxxxxx5 (e.g. 0.7265625) they
        # differ in the last digit, so mirror the engine's mode.
        return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    rows = code_detection(spark, sf_dir).collect()
    assert rows
    n_code = 0
    for r in rows:
        assert 0 <= r.kw_hits <= r.n_tokens
        assert 0 < r.distinct_tokens <= r.n_tokens or r.n_tokens == 0
        if r.n_tokens == 0:
            assert r.code_score == 0.0 and not r.is_code
            continue
        kw = r.kw_hits / r.n_tokens
        rep = 1.0 - r.distinct_tokens / r.n_tokens
        score = kw + CODE_REP_WEIGHT * rep
        assert abs(r.kw_ratio - round6(kw)) < 1e-12
        assert abs(r.rep_ratio - round6(rep)) < 1e-12
        assert abs(r.code_score - round6(score)) < 1e-12
        assert r.is_code == (score >= CODE_TAU)
        n_code += int(r.is_code)
    # the threshold splits the corpus instead of vacuously one-siding it
    assert 0 < n_code < len(rows)
