"""Batch document sinks (SURVEY.md §2.1 S4).

The reference's entire output side is three bulk `InsertMany` calls into
MongoDB collections — `tokens` (main.go:164), `wikibooks` (main.go:174),
`token_vector` (main.go:238). Here every sink is a `df.write` job:
columnar parquet as the primary format (splittable, predicate-pushdown
friendly on read-back), JSON lines as the document-store-shaped export
(the closest open analogue of the Mongo collections).

Scale design (100 TB):
- a `df.write` is executed by every task in parallel — there is no
  driver-side collect/iterate anywhere on the output path.
- `max_records_per_file` bounds file sizes so downstream scans can
  split; `partition_by` lays out hive-style directories for partition
  pruning on read-back.
- `sort_within_partitions` clusters rows (e.g. by doc_id) inside each
  file for run-length/dictionary encoding wins without a global sort.
- mode defaults to "overwrite" for idempotent re-runs (the reference's
  InsertMany into a fresh collection has the same effective contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _configure(
    df: DataFrame,
    mode: str,
    partition_by: list[str] | None,
    max_records_per_file: int | None,
    sort_within_partitions: list[str] | None,
):
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    return w


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    sort_within_partitions: list[str] | None = None,
) -> None:
    """Columnar sink — the primary format for every output relation."""
    _configure(df, mode, partition_by, max_records_per_file, sort_within_partitions).parquet(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """JSON-lines sink — one document per row, nested arrays/maps/structs
    serialize natively (the document-store shape of main.go:164/174/238)."""
    _configure(df, mode, partition_by, max_records_per_file, None).json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
) -> None:
    """CSV sink for flat (scalar-only) relations."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    sort_within_partitions: list[str] | None = None,
) -> None:
    """ORC sink — same columnar contract as parquet (splittable,
    predicate pushdown, nested types) for ORC-standardized lakes."""
    _configure(df, mode, partition_by, max_records_per_file, sort_within_partitions).orc(path)


def read_back(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Scan a sink's output (round-trip surface for tests/consumers)."""
    return spark.read.format(fmt).load(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 32,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows are hash-partitioned into n_buckets
    files per partition BY THE JOIN KEY at write time, so later joins
    and aggregations on that key need NO exchange — the shuffle is paid
    once at ingest instead of per query. The 100 TB co-location tool
    for repeatedly-joined fact tables (lineitem ⋈ orders on orderkey);
    both sides must bucket on the same key with the same count.
    Requires saveAsTable (bucket metadata lives in the catalog)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


# The reference's three keyed MongoDB collections (main.go:92-94): each
# §1.4 output relation with its upsert key — the contract a document
# store needs to replace-on-key instead of blind-append (InsertMany into
# a fresh collection ≙ overwrite; incremental maintenance ≙ upsert on
# `_id`, which is what mongo-spark's idFieldList would receive).
COLLECTION_KEYS: dict[str, list[str]] = {
    "wikibooks": ["doc_id"],      # the page id (main.go:174 `_id`)
    "tokens": ["_id"],            # dense vocab id (main.go:164)
    "token_vector": ["_id"],      # dense doc id (main.go:238)
}


def write_collection(
    df: DataFrame,
    path: str,
    fmt: str = "json",
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """Connector-shaped document sink: a `write.format(fmt)` passthrough
    so the same call targets the JSON-lines fallback (default — the
    open document-store shape), parquet/ORC lakes, or a real connector
    ('mongodb', 'org.elasticsearch.spark.sql', …) with its options
    passed verbatim (e.g. {'connection.uri': ..., 'collection': ...}).
    The engine never depends on a connector jar; formats resolve at
    runtime through Spark's DataSource registry."""
    w = df.write.format(fmt).mode(mode)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.save(path)


def upsert_collection(
    spark: SparkSession,
    base_path: str,
    delta: DataFrame,
    keys: list[str],
    fmt: str = "parquet",
    out_path: str | None = None,
    options: dict[str, str] | None = None,
) -> str:
    """Keyed upsert (last-write-wins merge) behind the same format
    passthrough, for stores without transactional MERGE: survivors =
    current rows LEFT-ANTI-joined on the delta's keys, unioned with all
    delta rows, written to a NEW snapshot directory (write-audit-swap —
    the caller repoints readers after validating; never rewrite a
    dataset in place, a failed overwrite of the live path loses data).
    Returns the snapshot path. Schema-carrying formats (parquet/ORC)
    read back as-is; schemaless ones (JSON/CSV) read back with the
    delta's schema — a collection's schema is fixed (§1.4), so the
    delta is the contract.

    Scale shape: one anti-join shuffling on the merge key (broadcast
    when the delta is small — typical for incremental loads; AQE picks
    that up from the delta's actual size) + one fully-parallel write.
    This is the open-format equivalent of MERGE INTO; a transactional
    format (Delta/Iceberg) or a connector with native upsert (mongo
    replaceDocument on COLLECTION_KEYS) slots into the same seam for
    concurrent writers."""
    reader = spark.read.format(fmt)
    if fmt not in ("parquet", "orc"):
        reader = reader.schema(delta.schema)
    current = reader.load(base_path)
    survivors = current.join(delta.select(*keys).distinct(), keys, "left_anti")
    merged = survivors.unionByName(delta)
    target = out_path or base_path.rstrip("/") + ".next"
    write_collection(merged, target, fmt=fmt, options=options)
    return target


def merge_upsert(
    spark: SparkSession,
    base_path: str,
    delta: DataFrame,
    keys: list[str],
    out_path: str | None = None,
) -> str:
    """Parquet upsert — upsert_collection pinned to the primary
    columnar format (the incremental-ETL path used by the streaming
    foreachBatch test)."""
    return upsert_collection(spark, base_path, delta, keys, fmt="parquet", out_path=out_path)


def write_outputs(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """The reference's three-collection output pass (S4 ×3): compose the
    §1.4 relations and write each as parquet + JSON lines. Each
    `*_output` is cached, so the parquet write composes it once and the
    JSON write reads the cache back; the caches stay registered until
    the caller's session.release_caches(). Returns
    {relation: parquet_path}."""
    from capstone_etl_spark.operators import outputs as out_ops

    rels = {
        "wikibooks": out_ops.wikibooks_output(spark, sf_dir),
        "tokens": out_ops.tokens_output(spark, sf_dir),
        "token_vector": out_ops.token_vector_output(spark, sf_dir),
    }
    paths: dict[str, str] = {}
    for name, df in rels.items():
        pq = f"{out_dir}/{name}.parquet"
        write_parquet(df, pq, sort_within_partitions=[df.columns[0]])
        # the document-store seam: same relations, connector-shaped sink
        write_collection(df, f"{out_dir}/{name}.json", fmt="json")
        paths[name] = pq
    return paths
