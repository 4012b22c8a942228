"""Round-12 optimization pins.

Each r12 optimization restructured internals while keeping output
bit-identical; these tests pin the equivalences:

1. stream_ab_test / stream_conversion_survival moved from
   applyInPandasWithState to built-in streaming aggregations (the KM
   pending-set becomes per-(user, conversion-ts) state rows resolved
   against the drained final first-exposure). The subtle case — a
   conversion that precedes its exposure in arrival order, and a
   conversion at/before the FINAL first exposure in event time — must
   classify exactly as the batch form.
2. minhash_signatures' hoisted `sh % p` projection is bit-identical to
   the per-aggregate form.
3. load_table's fan-out repartition leaves results identical (it only
   changes partitioning) and never fires when the scan is already
   parallel enough.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


def test_stream_km_matches_batch_on_adversarial_corpus(spark):
    """Craft an events corpus hitting the KM edge cases — conversion
    BEFORE exposure in event time (must NOT count: strict >), a
    pre-exposure conversion plus a later qualifying one, users with no
    exposure, users with no conversion — staged across multiple files
    so the replay genuinely batches them apart, and require the
    streamed curve to equal the batch curve row for row."""
    from capstone_etl_spark.operators.events import conversion_survival
    from capstone_etl_spark.operators.streaming_queries import (
        QUERIES,
        stream_conversion_survival,
    )
    from capstone_etl_spark.operators.events import ab_test_analysis
    from capstone_etl_spark.session import release_caches

    work = tempfile.mkdtemp(prefix="km_edge_")
    try:
        rows = [
            # user 1: conversion at t=50 BEFORE exposure t=100 (event
            # time) — does not qualify; second conversion at 200 does
            (1, 1, "2024-01-01 00:00:50", "purchase"),
            (2, 1, "2024-01-01 00:01:40", "view"),
            (3, 1, "2024-01-01 00:03:20", "purchase"),
            # user 2: conversion exactly AT the exposure instant —
            # strict > excludes it; censored at last event
            (4, 2, "2024-01-01 00:01:00", "view"),
            (5, 2, "2024-01-01 00:01:00", "purchase"),
            (6, 2, "2024-01-01 00:10:00", "click"),
            # user 3: no exposure at all — excluded
            (7, 3, "2024-01-01 00:02:00", "purchase"),
            # user 4: exposure, never converts — censored
            (8, 4, "2024-01-01 00:00:10", "view"),
            (9, 4, "2024-01-01 00:30:00", "click"),
        ]
        df = spark.createDataFrame(
            [(i, u, ts, et, 1.0, "{}") for i, u, ts, et in rows],
            "event_id long, user_id long, ts string, event_type string, "
            "value double, props string",
        ).select(
            "event_id",
            "user_id",
            F.to_timestamp("ts").alias("ts"),
            "event_type",
            "value",
            "props",
        )
        # one file per event id bucket → the stream replays multi-batch
        # with conversions landing in different batches than exposures
        df.write.parquet(f"{work}/events.parquet")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            src = f"/root/testdata/sf0.001/{t}.parquet"
            if os.path.exists(src):
                shutil.copy(src, f"{work}/{t}.parquet")

        got = {
            r.dur_min: r.asDict()
            for r in stream_conversion_survival(spark, work).collect()
        }
        release_caches()
        want = {
            r.dur_min: r.asDict() for r in conversion_survival(spark, work).collect()
        }
        release_caches()
        assert got == want and len(want) > 0

        ab_got = [r.asDict() for r in QUERIES["stream_ab_test"](spark, work).collect()]
        release_caches()
        ab_want = [r.asDict() for r in ab_test_analysis(spark, work).collect()]
        release_caches()
        assert ab_got == ab_want
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_minhash_hoisted_mod_matches_per_aggregate_form(spark):
    from capstone_etl_spark.functions.hashing import MERSENNE_P
    from capstone_etl_spark.operators.dedup import (
        _MINHASH_AB,
        minhash_signatures,
        shingles,
    )
    from capstone_etl_spark.session import release_caches
    from capstone_etl_spark.sources.tables import load_table

    try:
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        sh = shingles(docs)
        new = minhash_signatures(docs, sh=sh)
        aggs = [
            F.min(((F.col("sh") % MERSENNE_P) * F.lit(a) + F.lit(b)) % MERSENNE_P).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(_MINHASH_AB)
        ]
        old = sh.groupBy("doc_id").agg(*aggs)
        cols = old.columns
        diff = new.exceptAll(old.select(*cols)).count() + old.select(*cols).exceptAll(
            new
        ).count()
        assert diff == 0
    finally:
        release_caches()


def test_fan_out_guard_noop_when_scan_parallel(spark):
    """The fan-out must be a no-op when the scan already has >= target
    partitions (the cluster-scale guard) and must never change row
    content when it fires."""
    from capstone_etl_spark.sources.tables import _fan_out_small_scan

    df = spark.range(0, 1000, 1, 32).select(F.col("id").alias("doc_id"))
    assert _fan_out_small_scan(spark, df, "mem://wide") is df

    narrow = spark.range(0, 1000, 1, 1).select(F.col("id").alias("doc_id"))
    out = _fan_out_small_scan(spark, narrow, "mem://narrow")
    target = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 16)
    assert (out is not narrow) == (target > 1)
    assert sorted(r.doc_id for r in out.collect()) == list(range(1000))


@pytest.mark.parametrize("raw", ["abc", "0", "2.5"])
def test_core_knobs_fail_safe(monkeypatch, raw):
    """SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE that are not an integer,
    or below 1, fall back to the defaults (32 cores, min(cores, 32)
    partitions) instead of making get_spark raise."""
    from capstone_etl_spark.session import _core_knobs

    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", raw)
    assert _core_knobs(None, None) == (32, 32)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert _core_knobs(None, None) == (4, 4)
    assert _core_knobs(8, 16) == (8, 16)
