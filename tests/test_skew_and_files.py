"""Salted-join equivalence on skewed data; CSV/JSON source↔sink
round-trips; streaming checkpoint incremental restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from capstone_etl_spark.functions.skew import salt_column, salted_join
from capstone_etl_spark.sinks import write_csv, write_json
from capstone_etl_spark.sources.files import read_csv, read_json, read_orc


def _skewed_frames(spark):
    # 90% of fact rows share one hot key
    fact = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    return fact, dim


def test_salted_join_matches_plain_inner(spark):
    fact, dim = _skewed_frames(spark)
    plain = fact.join(dim, "k").select("k", "payload", "name")
    salted = salted_join(fact, dim, "k", n_salt=8).select("k", "payload", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_matches_plain_left(spark):
    fact, dim = _skewed_frames(spark)
    missing_dim = dim.filter(F.col("k") != 7)  # hot key has NO match
    plain = fact.join(missing_dim, "k", "left").select("k", "payload", "name")
    salted = salted_join(fact, missing_dim, "k", n_salt=8, how="left").select(
        "k", "payload", "name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_spreads_hot_key(spark):
    fact, _ = _skewed_frames(spark)
    buckets = (
        fact.filter(F.col("k") == 7)
        .withColumn("_salt", salt_column(8))
        .groupBy("_salt")
        .count()
        .collect()
    )
    assert len(buckets) == 8                       # hot key hits every bucket
    counts = [r["count"] for r in buckets]
    assert max(counts) < 2 * min(counts)           # roughly uniform


def test_salt_spreads_duplicate_rows(spark):
    # ADVICE r3 regression: a hot key whose rows are byte-identical must
    # still scatter — a content-derived salt collapses them into ONE
    # bucket and the skew survives.
    dup = spark.range(0, 8_000).select(F.lit(7).alias("k"), F.lit(42).alias("payload"))
    buckets = dup.withColumn("_salt", salt_column(8)).groupBy("_salt").count().collect()
    assert len(buckets) == 8
    counts = [r["count"] for r in buckets]
    assert max(counts) < 2 * min(counts)
    # and join semantics survive duplicate rows
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    plain = dup.join(dim, "k").select("k", "payload", "name")
    salted = salted_join(dup, dim, "k", n_salt=8).select("k", "payload", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_csv_roundtrip(spark, tmp_path):
    src = spark.range(0, 50).select(
        F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    path = str(tmp_path / "csv_out")
    write_csv(src, path)
    back = read_csv(spark, path, schema="id long, name string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_json_roundtrip_with_schema(spark, tmp_path):
    src = spark.range(0, 20).select(
        F.col("id"), F.array(F.col("id"), F.col("id") * 2).alias("arr")
    )
    path = str(tmp_path / "json_out")
    write_json(src, path)
    back = read_json(spark, path, schema="id long, arr array<long>")
    assert back.count() == 20
    row = back.filter(F.col("id") == 3).collect()[0]
    assert row.arr == [3, 6]




def test_orc_roundtrip_nested(spark, tmp_path):
    from capstone_etl_spark.sinks.writers import write_orc

    src = spark.range(0, 30).select(
        F.col("id"),
        F.array(F.col("id"), F.col("id") * 3).alias("arr"),
        F.concat(F.lit("s"), (F.col("id") % 4)).alias("source"),
    )
    path = str(tmp_path / "orc_out")
    write_orc(src, path, partition_by=["source"])
    back = read_orc(spark, path).select("id", "arr", "source")
    assert sorted(r.id for r in back.collect()) == list(range(30))
    row = back.filter(F.col("id") == 7).collect()[0]
    assert row.arr == [7, 21] and row.source == "s3"


def test_streaming_checkpoint_incremental_restart(spark, tmp_path):
    """Exactly-once file-source semantics: a second availableNow run
    against the SAME checkpoint processes only newly-arrived files."""
    from capstone_etl_spark.operators.events import tumbling
    from capstone_etl_spark.streaming import run_to_memory, stage_events

    sf = "/root/testdata/sf0.001"
    staging, ckpt = str(tmp_path / "staging"), str(tmp_path / "ckpt")
    staged = stage_events(spark, sf, staging, n_files=2)
    total_first = staged.count()

    def run():
        stream = (
            spark.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
        )
        return run_to_memory(tumbling(stream, watermark="400 days"), ckpt, "complete")

    first = run()
    n1 = first.agg(F.sum("n_events")).collect()[0][0]
    assert n1 == total_first

    # new data arrives: one more file in the monitored directory (via
    # load_table so ts is the normalized TIMESTAMP, same staged schema)
    from capstone_etl_spark.sources.tables import load_table

    extra = load_table(spark, sf, "events").limit(500)
    extra.coalesce(1).write.mode("append").parquet(staging)
    second = run()
    n2 = second.agg(F.sum("n_events")).collect()[0][0]
    # complete-mode state resumed from checkpoint: old events counted
    # once (not re-read), new events added exactly once
    assert n2 == total_first + 500


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    # Producers add columns over time; readers must see the union schema
    # with NULLs for files written before the column existed.
    root = tmp_path / "evolving"
    spark.createDataFrame([(1, "a")], "id long, a string").write.parquet(
        str(root / "v1")
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, a string, score double"
    ).write.parquet(str(root / "v2"))
    df = spark.read.option("mergeSchema", "true").parquet(str(root / "*"))
    assert set(df.columns) == {"id", "a", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_incremental_rollup_merge_equals_full(spark):
    # Incremental view maintenance: daily partials computed per ingest
    # slice then MERGED (sum of counts, sum of DECIMAL sums) must equal
    # the full recompute — the contract that lets a 100 TB rollup update
    # from deltas instead of rescanning history.
    from capstone_etl_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    slice_a = ev.filter(F.col("user_id") % 2 == 0)
    slice_b = ev.filter(F.col("user_id") % 2 == 1)

    def partial(df):
        return df.groupBy("day").agg(
            F.count("*").alias("n"), F.sum("v").alias("total")
        )

    merged = (
        partial(slice_a)
        .unionByName(partial(slice_b))
        .groupBy("day")
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    )
    full = partial(ev)
    sym_diff = merged.exceptAll(full).count() + full.exceptAll(merged).count()
    assert sym_diff == 0
