"""Structured Streaming layer: multi-batch equivalence vs batch forms,
watermark late-drop semantics, the bottom-k state tracker (through
stream_reservoir_sample's twin)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from capstone_etl_spark.operators import events as batch_events
from capstone_etl_spark.operators.streaming_queries import BATCH_TWIN
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.streaming import (
    run_to_memory,
    stage_events,
    stream_click_purchase_join,
    stream_session_windows,
)

SF_DIR = "/root/testdata/sf0.001"
HORIZON = "400 days"


def _pdf(df) -> pd.DataFrame:
    return df.toPandas().sort_values(list(df.columns), ignore_index=True)


def _staged_stream(spark, tmp_path, files=4, per_trigger=1):
    staging = str(tmp_path / "staging")
    staged = stage_events(spark, SF_DIR, staging, n_files=files)
    return (
        spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(staging)
    )


def test_stream_tumbling_equals_batch(spark, tmp_path):
    """4 files × 1 per trigger = 4 micro-batches; incremental window
    state must converge to the batch answer."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        batch_events.tumbling(stream, watermark=HORIZON), str(tmp_path / "ckpt"), "complete"
    )
    want = batch_events.tumbling_windows(spark, SF_DIR)
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_stream_dedup_equals_batch(spark, tmp_path):
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        batch_events.dedup_counts(stream, watermark=HORIZON),
        str(tmp_path / "ckpt"),
        "complete",
    )
    want = batch_events.event_dedup(spark, SF_DIR)
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_stream_sessions_equal_batch_session_window(spark, tmp_path):
    """Streaming F.session_window == the same operator run in batch
    (session_window is batch-or-stream polymorphic)."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        stream_session_windows(stream, watermark=HORIZON), str(tmp_path / "ckpt"), "complete"
    )
    batch = spark.read.parquet(str(tmp_path / "staging"))
    want = stream_session_windows(batch)
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Stream-stream interval self-join (purchases × prior-hour clicks)
    across 4 micro-batches equals the same operator run in batch —
    pairs whose sides land in different micro-batches must still be
    emitted exactly once."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        stream_click_purchase_join(stream, watermark=HORIZON),
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = spark.read.parquet(str(tmp_path / "staging"))
    want = stream_click_purchase_join(batch)
    assert got.count() > 0
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_watermark_drops_late(spark, tmp_path):
    """A tight watermark on an out-of-order replay DROPS late rows —
    the state-bounding behavior the 400-day horizon deliberately
    disables for exact replay. Staged round-robin files each span the
    full time range, so batch 2+ is almost entirely 'late' under a
    30-minute watermark. NOTE: dropping applies in update/append modes;
    complete mode retains all state by definition."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        batch_events.tumbling(stream, watermark="30 minutes"), str(tmp_path / "ckpt"), "update"
    )
    # update mode emits revised window rows per batch; counts per window
    # are monotone — max per window = that window's final count
    n_stream = (
        got.groupBy("window_start", "event_type")
        .agg(F.max("n_events").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    n_batch = spark.read.parquet(str(tmp_path / "staging")).count()
    assert n_stream < n_batch


def test_stream_foreachbatch_incremental_upsert(spark, tmp_path):
    # Streaming incremental ETL: each micro-batch MERGEs into a keyed
    # snapshot via the S4 upsert sink (write-audit-swap) — last write
    # wins across batches, snapshots never rewritten in place.
    from capstone_etl_spark.sinks.writers import merge_upsert

    base = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(base)

    staging = tmp_path / "staging"
    staging.mkdir()
    spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string").coalesce(
        1
    ).write.parquet(str(staging / "f0"))
    spark.createDataFrame([(3, "c3"), (4, "d")], "id long, v string").coalesce(
        1
    ).write.parquet(str(staging / "f1"))

    snapshots = {"cur": base, "n": 0}

    def handle(batch_df, batch_id):
        snapshots["cur"] = merge_upsert(
            batch_df.sparkSession,
            snapshots["cur"],
            batch_df,
            keys=["id"],
            out_path=str(tmp_path / f"snap_{batch_id}"),
        )
        snapshots["n"] += 1

    stream = (
        spark.readStream.schema("id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    final = {r.id: r.v for r in spark.read.parquet(snapshots["cur"]).collect()}
    assert final == {1: "a", 2: "b2", 3: "c3", 4: "d"}
    assert snapshots["n"] >= 2  # genuinely incremental (multi-batch)
    # original snapshot untouched
    assert {r.id for r in spark.read.parquet(base).collect()} == {1, 2}


@pytest.mark.parametrize("raw", ["soon", "0", "1.5"])
def test_stream_timeout_knob_fails_safe(spark, monkeypatch, raw):
    """A malformed SPARK_GRAFT_STREAM_TIMEOUT_SEC (not an integer, or
    below 1 s) falls back to the default hang guard: the drain runs
    instead of raising ValueError or timing out at once."""
    from capstone_etl_spark.streaming import drain_staged

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TIMEOUT_SEC", raw)
    out = drain_staged(
        spark, SF_DIR, "events", lambda s, staged: s.groupBy("event_type").count(), "complete"
    )
    n = load_table(spark, SF_DIR, "events").count()
    assert sum(r["count"] for r in out.collect()) == n > 0


def test_drain_staged_cleans_up_and_equals_batch(spark, tmp_path, monkeypatch):
    """The one stream harness: the per-query work dir (staged files +
    checkpoint) exists during the drain and is gone afterwards, on the
    success path AND when the transform raises; the memory sink's temp
    view is dropped (the returned frame still holds the rows); a
    trivial per-type count drained through it equals its batch form."""
    import tempfile

    from capstone_etl_spark.streaming import drain_staged

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    seen = []

    def per_type(df):
        return df.groupBy("event_type").agg(F.count("*").alias("n"))

    def transform(stream, staged):
        seen.extend(tmp_path.glob("spark_stream_*"))
        return per_type(stream)

    got = drain_staged(spark, SF_DIR, "events", transform, "complete")
    assert len(seen) == 1  # the work dir really was under tmp_path
    assert list(tmp_path.iterdir()) == []
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_sink_")]
    want = per_type(load_table(spark, SF_DIR, "events"))
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))

    def failing(stream, staged):
        seen.extend(tmp_path.glob("spark_stream_*"))
        raise RuntimeError("transform failed")

    with pytest.raises(RuntimeError, match="transform failed"):
        drain_staged(spark, SF_DIR, "events", failing, "complete")
    assert len(seen) == 2
    assert list(tmp_path.iterdir()) == []


def test_sized_state_partitions():
    """The drain's state-store size: one instance per advisory partition
    size of staged input, at least 1, at most the ceiling."""
    from capstone_etl_spark.streaming.runner import STATE_PARTITIONS, sized_state_partitions

    adv = 64 << 20
    assert sized_state_partitions(0, adv, STATE_PARTITIONS) == 1
    assert sized_state_partitions(adv, adv, STATE_PARTITIONS) == 1
    assert sized_state_partitions(adv + 1, adv, STATE_PARTITIONS) == 2
    assert sized_state_partitions(10**15, adv, STATE_PARTITIONS) == STATE_PARTITIONS


@pytest.mark.parametrize(
    "stream_name",
    [
        "stream_ab_test",  # a Twin spec, min/max/flag state
        "stream_tumbling_windows",  # watermarked
        "stream_reservoir_sample",  # applyInPandasWithState
        "stream_rfm_segments",  # a Twin spec
    ],
)
def test_stream_result_is_state_partition_independent(spark, monkeypatch, stream_name):
    """A stream query drained with the sized state store (1 instance at
    this scale) returns the same full-row multiset as with the
    STATE_PARTITIONS ceiling pinned."""
    from collections import Counter

    from capstone_etl_spark.session import release_caches
    from capstone_etl_spark.streaming import runner

    used = []
    drain = runner.run_to_memory

    def spy(*args, **kwargs):
        used.append(kwargs["state_partitions"])
        return drain(*args, **kwargs)

    monkeypatch.setattr(runner, "run_to_memory", spy)
    query = entrymod.queries()[stream_name]
    try:
        sized = Counter(map(tuple, query(spark, SF_DIR).collect()))
        monkeypatch.setattr(
            runner, "sized_state_partitions", lambda *a: runner.STATE_PARTITIONS
        )
        pinned = Counter(map(tuple, query(spark, SF_DIR).collect()))
    finally:
        release_caches()
    assert used == [1, runner.STATE_PARTITIONS]
    assert sized == pinned and len(sized) > 0


@pytest.mark.parametrize("stream_name", sorted(BATCH_TWIN))
def test_stream_equals_batch(spark, stream_name):
    """Under multi-batch replay every stream query's drained output must
    equal its batch twin's (BATCH_TWIN) as a multiset of full rows:
    additive counts, min/max and bottom-K state merges, static index
    legs and the deterministic draws are all replay-order free."""
    from collections import Counter

    from capstone_etl_spark.session import release_caches

    qs = entrymod.queries()
    try:
        got = Counter(map(tuple, qs[stream_name](spark, SF_DIR).collect()))
        want = Counter(map(tuple, qs[BATCH_TWIN[stream_name]](spark, SF_DIR).collect()))
    finally:
        release_caches()
    assert got == want and len(got) > 0
    if stream_name == "stream_changelog_apply":
        # the delete semantics did something: some user's latest change
        # is a tombstone, so that user is absent from the snapshot
        n_users = load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
        assert len(want) < n_users


def _jobs(spark, tag: str, run) -> int:
    """Run `run()` under job tag `tag`; return how many jobs it ran."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        run()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return len(jsc.statusTracker().getJobIdsForTag(tag))


@pytest.mark.parametrize(
    "name,budget",
    [
        ("ab_test_analysis", 4),
        ("stream_ab_test", 7),
        ("kll_quantile_sketch", 20),
        ("stream_kll_sketch", 26),
    ],
)
def test_twin_job_budget(spark, name, budget):
    """Spark jobs per forced call of a batch query and its stream twin,
    after one warm call. The A/B pair's per-user state is one
    aggregation and its readout one global aggregation (before that
    form ab_test_analysis ran 14 jobs and stream_ab_test 13). The KLL
    twin drains the batch sketch's survivor step and releases through
    the batch `_kll_release` (28 jobs before, with per-source count
    ticks, a cached snapshot and an eager rank-cut checkpoint)."""
    import bench
    from capstone_etl_spark.session import release_caches

    query = entrymod.queries()[name]
    for i in range(2):  # the first call warms this query's code paths
        try:
            n = _jobs(spark, f"twin-budget-{name}-{i}", lambda: bench.force(query(spark, SF_DIR)))
        finally:
            release_caches()
    assert n <= budget, n


def test_twin_registry_invariants():
    """BATCH_TWIN pairs registered queries; each batch side has an
    oracle of its own, and no stream side does (the registry would
    silently overwrite it with the batch oracle)."""
    import importlib
    import pkgutil

    from capstone_etl_spark import operators

    own: dict[str, str] = {}
    for info in pkgutil.iter_modules(operators.__path__):
        own.update(getattr(importlib.import_module(f"{operators.__name__}.{info.name}"), "ORACLE_SQL", {}))
    names = entrymod.queries()
    for stream, batch in BATCH_TWIN.items():
        assert stream in names and batch in names, (stream, batch)
        assert batch in own, batch
        assert stream not in own, stream
