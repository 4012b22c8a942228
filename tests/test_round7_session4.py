"""Invariant tests for the round-7 session-4 operators: embedding-space
(semantic) decontamination, the curriculum/interleave training schedule,
and the ε-DP per-source histogram release."""

from __future__ import annotations

import math


SF_01 = "/root/testdata/sf0.01"


def test_semantic_decon_sides_and_bounds(spark, sf_dir):
    """Every flagged vector is on the train side of the cut, every
    argmax partner on the bench side; max_cos respects the threshold
    and the cosine range; hit counts are bounded by the bench set."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.similarity import (
        SEM_BENCH_MOD,
        SEM_DECON_THRESHOLD,
        semantic_decontamination,
    )
    from capstone_etl_spark.sources.tables import load_table

    out = semantic_decontamination(spark, SF_01)
    n_bench = (
        load_table(spark, SF_01, "embeddings")
        .filter(F.col("vec_id") % SEM_BENCH_MOD == 0)
        .count()
    )
    bad = out.filter(
        (F.col("train_vec") % SEM_BENCH_MOD == 0)
        | (F.col("worst_bench") % SEM_BENCH_MOD != 0)
        | (F.col("max_cos") < SEM_DECON_THRESHOLD)
        | (F.col("max_cos") > 1.000001)
        | (F.col("n_bench_hits") < 1)
        | (F.col("n_bench_hits") > n_bench)
    ).count()
    assert bad == 0
    assert out.count() > 0


def test_semantic_decon_argmax_matches_direct_cosine(spark):
    """For every flagged vector, recomputing the quantized cosine
    (the operator's r10 de-fragilized key) between train and
    worst_bench from the raw embeddings reproduces max_cos exactly
    (the argmax partner really is a maximizer)."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.similarity import (
        qcosine,
        semantic_decontamination,
    )
    from capstone_etl_spark.sources.tables import load_table

    out = semantic_decontamination(spark, SF_01)
    emb = load_table(spark, SF_01, "embeddings")
    joined = (
        out.join(
            emb.select(F.col("vec_id").alias("train_vec"), F.col("embedding").alias("qe")),
            "train_vec",
        )
        .join(
            emb.select(F.col("vec_id").alias("worst_bench"), F.col("embedding").alias("ne")),
            "worst_bench",
        )
        .withColumn("direct", F.round(qcosine("qe", "ne"), 6))
    )
    assert joined.filter(F.col("direct") != F.col("max_cos")).count() == 0


def test_curriculum_positions_are_a_permutation(spark, sf_dir):
    """curriculum_pos is a dense permutation of [0, N); interleave_pos
    is injective; within_rank is dense within each decile."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.quality import curriculum_schedule

    out = curriculum_schedule(spark, sf_dir).cache()
    n = out.count()
    stats = out.agg(
        F.countDistinct("curriculum_pos").alias("dc"),
        F.min("curriculum_pos").alias("mn"),
        F.max("curriculum_pos").alias("mx"),
        F.countDistinct("interleave_pos").alias("di"),
        F.countDistinct("doc_id").alias("dd"),
    ).first()
    assert (stats["dc"], stats["mn"], stats["mx"]) == (n, 0, n - 1)
    assert stats["di"] == n and stats["dd"] == n
    per_decile = (
        out.groupBy("decile")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("within_rank").alias("dw"),
            F.min("within_rank").alias("mn"),
            F.max("within_rank").alias("mx"),
        )
        .filter(
            (F.col("dw") != F.col("cnt"))
            | (F.col("mn") != 0)
            | (F.col("mx") != F.col("cnt") - 1)
        )
        .count()
    )
    assert per_decile == 0
    out.unpersist()


def test_curriculum_order_anneals_difficulty(spark, sf_dir):
    """Walking the schedule in curriculum_pos order, the decile never
    decreases (easy-first annealing); interleave_pos reconstructs
    within_rank*10 + decile."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from capstone_etl_spark.operators.quality import curriculum_schedule

    out = curriculum_schedule(spark, sf_dir)
    # test-only single-partition window: fixture-sized relation
    w = Window.orderBy("curriculum_pos")
    drops = (
        out.withColumn("prev", F.lag("decile").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("decile") < F.col("prev")))
        .count()
    )
    assert drops == 0
    mismatch = out.filter(
        F.col("interleave_pos") != F.col("within_rank") * 10 + F.col("decile")
    ).count()
    assert mismatch == 0


def test_dp_histogram_release_arithmetic(spark, sf_dir):
    """One row per source; the clamp holds (dp_count >= 0); the
    released count is round(n_docs + noise) up to the 6-dp rounding of
    the published noise column; the draw is deterministic across runs."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.privacy import dp_source_histogram
    from capstone_etl_spark.sources.tables import load_table

    out = dp_source_histogram(spark, sf_dir)
    rows = {r["source"]: r for r in out.collect()}
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    assert len(rows) == n_sources
    for r in rows.values():
        assert r["dp_count"] >= 0
        assert r["epsilon"] == 1.0
        reconstructed = max(0, round(r["n_docs"] + r["noise"]))
        # the published noise is rounded to 6 dp, so the integer can
        # only differ if the true value sat within 5e-7 of a .5 boundary
        assert abs(r["dp_count"] - reconstructed) <= 1
        assert math.isfinite(r["noise"])
    rows2 = {r["source"]: r for r in dp_source_histogram(spark, sf_dir).collect()}
    assert all(rows2[s]["noise"] == rows[s]["noise"] for s in rows)
