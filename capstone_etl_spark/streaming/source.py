"""The staged replay: the one way a stream enters the engine.

Structured Streaming's file source monitors a directory and processes
newly-listed files per micro-batch. `stage_events` writes a table
(events, or documents/embeddings, ts-normalized by `load_table`) into
a staging directory through the S4 parquet sink and returns the staged
batch frame; a stream attaches with `spark.readStream.schema(
staged.schema)` on that directory (runner.drain_staged does both for
every stream query), so no schema inference job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from capstone_etl_spark.sinks.writers import write_parquet
from capstone_etl_spark.sources.tables import load_table


def stage_events(
    spark: SparkSession,
    sf_dir: str,
    staging_dir: str,
    n_files: int = 4,
    table: str = "events",
) -> DataFrame:
    """Write `table` (events by default; documents and embeddings
    replay the same way) as n_files parquet files into staging_dir;
    returns the staged batch frame (schema donor for the stream), read
    back with the written frame's schema, so no inference job runs."""
    staged = load_table(spark, sf_dir, table).repartition(n_files)
    write_parquet(staged, staging_dir)
    return spark.read.schema(staged.schema).parquet(staging_dir)
