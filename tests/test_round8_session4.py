"""Round-8 session-4 operator tests: the CLIP-style pair admission
filter and the ingest-time Group-DRO mixer."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_caption_pairs_cover_image_third(spark, sf_dir):
    """Every image-typed doc (doc_id % 3 == 0 under the payload cycle)
    appears exactly once, and the keep flag is the AND of its parts."""
    from capstone_etl_spark.operators.multimodal import multimodal_caption_pairs
    from capstone_etl_spark.sources.tables import load_table

    rows = {r.doc_id: r for r in multimodal_caption_pairs(spark, sf_dir).collect()}
    image_ids = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
        if r.doc_id % 3 == 0
    }
    assert set(rows) == image_ids
    from capstone_etl_spark.operators.multimodal import (
        CAP_MAX_ASPECT,
        CAP_MAX_TOK,
        CAP_MIN_DIM,
        CAP_MIN_TOK,
    )

    for r in rows.values():
        assert r.keep == (r.keep_caption and r.keep_image)
        assert r.keep_caption == int(CAP_MIN_TOK <= r.n_caption_tokens <= CAP_MAX_TOK)
        assert r.keep_image == int(
            min(r.width, r.height) >= CAP_MIN_DIM
            and max(r.width, r.height) / min(r.width, r.height) <= CAP_MAX_ASPECT
        )
