"""Run a streaming query to completion and hand back its result.

`Trigger.AvailableNow` processes everything currently in the source
(respecting maxFilesPerTrigger batching) and stops — the streaming
analogue of a batch run, with real incremental state underneath. The
memory sink holds the sink table in the driver; fine for test/driver
scales, swapped for a parquet/Kafka sink in production (the writers in
sinks/writers.py are the batch halves of that story).

`drain_staged` is the one harness every driver-facing stream query
(operators/streaming_queries.py) runs through:

- stage the table as STAGED_FILES parquet files in a fresh temp dir;
- size the state store from the staged bytes (`sized_state_partitions`:
  one instance per advisory partition size, STATE_PARTITIONS at most);
- attach a file stream reading FILES_PER_TRIGGER files per micro-batch,
  with the staged frame's schema (no second schema inference);
- drain `transform(stream, staged)` through `run_to_memory`;
- remove the temp dir in `finally`, whether the drain succeeded or not.

The staged batch frame is handed to `transform` for queries that fix a
deploy-time literal from the landed data — the replay watermark
(`_horizon_watermark`), the CUPED/PSI grids — so the min/max scan runs
only for the queries that ask for it. `staged` is valid only inside
`transform`: anything derived from it must be forced to literals there.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from capstone_etl_spark.session import env_int
from capstone_etl_spark.streaming.source import stage_events

_COUNTER = itertools.count()


# ceiling of the sized state-store instance count (drain_staged)
STATE_PARTITIONS = 8
STREAM_TIMEOUT_SEC = 300
# 4 staged files drained 2 per trigger: two micro-batches, so every
# stateful query merges state across batches, not within one
STAGED_FILES = 4
FILES_PER_TRIGGER = 2


def run_to_memory(
    sdf: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "complete",
    state_partitions: int | None = STATE_PARTITIONS,
) -> DataFrame:
    """Start sdf → memory sink, await termination, return the sink
    table. The sink's temp view is dropped on the way out, also on a
    timeout (the returned frame keeps the sink's rows; the catalog does
    not), so a session's drains leave no `mem_sink_N` views behind.
    output_mode: 'complete' for aggregations, 'append' for
    dedup/map-only streams. The trigger is availableNow: the staged
    replay is a BOUNDED source, drained and then stopped.

    state_partitions pins spark.sql.shuffle.partitions for THIS query's
    lifetime (the setting is frozen into the state store at the first
    checkpoint), so it is the query's state-store instance count. Every
    streaming state in this repo is bounded by design (≈K sketch rows,
    |sources|/|variants| cells, df-capped candidate pairs — see each
    query's docstring), and each instance pays a fixed open/commit/
    checksum cost per trigger, so the count should track state size,
    not the session's batch parallelism. The default, STATE_PARTITIONS,
    is the ceiling `drain_staged` sizes down from. Results are
    partition-independent (tests/test_streaming.py runs stream queries
    at both counts). The session value is restored afterwards so batch
    plans keep their configured parallelism; None keeps the session's
    value."""
    spark: SparkSession = sdf.sparkSession
    # a per-query hang guard sized for the sf<=0.1 test tables, not a
    # semantic limit — scale-point runs (sf1/sf10,
    # tools/profile_queries.py) raise it via the environment so a
    # legitimately-bigger drain isn't misread as a hang
    timeout_sec = env_int("SPARK_GRAFT_STREAM_TIMEOUT_SEC", STREAM_TIMEOUT_SEC, 1)
    qname = f"mem_sink_{next(_COUNTER)}"
    writer = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
        try:
            if not q.awaitTermination(timeout_sec):
                raise TimeoutError(f"streaming query {qname} exceeded {timeout_sec}s")
            return spark.table(qname)
        finally:
            if q.isActive:
                q.stop()
            spark.catalog.dropTempView(qname)
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def sized_state_partitions(staged_bytes: int, advisory: int, ceiling: int) -> int:
    """State-store instances for a drain of `staged_bytes`: one per
    `advisory` bytes (AQE's target partition size), between 1 and
    `ceiling`. AQE coalesces batch shuffles to that size but cannot
    touch a stateful shuffle, whose partition count is frozen into the
    checkpoint, so the drain coalesces up front from the input size. A
    drained state never holds more rows than it was fed, so the input
    bytes bound it from above."""
    return max(1, min(ceiling, math.ceil(staged_bytes / advisory)))


def _staged_bytes(path: str) -> int:
    """Bytes of the data files under a local staging dir (no checksums
    or _SUCCESS markers): a driver-side listing, no Spark job."""
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    )


def drain_staged(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    transform: Callable[[DataFrame, DataFrame], DataFrame],
    output_mode: str,
    state_partitions: int | None = STATE_PARTITIONS,
) -> DataFrame:
    """Replay `table` as a multi-batch file stream, drain
    `transform(stream, staged)` into the memory sink and return the
    sink table (see the module docstring). `state_partitions` is the
    ceiling of the state-store size, which follows the staged bytes
    (`sized_state_partitions`); None keeps the session's shuffle
    parallelism. `stage_events` and `run_to_memory` are called through
    their module-level names so a tracer can swap them for recording
    wrappers."""
    work = tempfile.mkdtemp(prefix="spark_stream_")
    try:
        staging = f"{work}/staging"
        staged = stage_events(spark, sf_dir, staging, n_files=STAGED_FILES, table=table)
        if state_partitions:
            advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            )
            state_partitions = sized_state_partitions(
                _staged_bytes(staging), advisory, state_partitions
            )
        stream = (
            spark.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
            .parquet(staging)
        )
        return run_to_memory(
            transform(stream, staged),
            f"{work}/checkpoint",
            output_mode=output_mode,
            state_partitions=state_partitions,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
