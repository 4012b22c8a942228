"""Driver-facing queries that run the REAL Structured Streaming engine
end-to-end (file stream → stateful operator → availableNow → memory
sink) and return the final table — so even the streaming layer is
DuckDB-oracle-checked, not just rows-counted.

Every query runs through ONE harness, `streaming.runner.drain_staged`:
the input table (events, documents or embeddings) is staged as 4
parquet files in a temp dir, a file stream drains them 2 files per
trigger (two micro-batches, so incremental state is genuinely merged
across batches), and the temp dir is removed in `finally`. A query
supplies only `transform(stream, staged)`, its static legs (built from
sf_dir before the drain) and its batch tail over the returned memory
sink table. The replay watermark is measured from `staged` only by
the five queries whose operators use one (`_horizon_watermark`).

A batch-equivalent stream query whose state is a mergeable aggregate
is a `Twin` spec, not a hand-written function: (stream name, batch
name, table, accumulate, release, output_mode). `accumulate` is written
once and runs on the batch frame and on the file stream alike; the
batch query in its own module is `release(accumulate(load_table(...)))`
and the stream query is generated from the spec as
`release(drain_staged(..., accumulate))`, its drained snapshot's plan
cut (lazily) so the release may read it more than once. A twin stays
hand-written when its stream form needs more than the drain: static
index legs, a deploy-time literal from `staged`, a watermark, or state
that is not the batch accumulation. That exemption covers the wiring
only: a hand-written twin calls its batch query's own accumulation and
release helpers (the KLL survivor step and release, the label-noise
tally and verdict, the coverage cells and release, the shift release,
the CUPED users and PSI cells over a literal, the KM curve, the
mixing-weight aggregates and weights) and restates none of them.

The IVF-family twins (serving, mining, admission, index balance) keep
their index as static legs and route, probe and rank through the IVF
steps in `similarity` that their batch forms call too: `hier_routed` /
`hier_cell_inrow` (in-row two-level routing), `probe_cells_inrow` (the
in-row form of the batch probe window), `ivf_candidates` (inverted-list
lookup), `sim_topk` / `adc_topk` (the ranked tails). A probe, route or
rank rule is therefore written once for batch and stream.

Every stream twin is checked against its batch oracle: `BATCH_TWIN`
(derived from the specs plus the hand-written twins) maps it to the
batch query by name. `ORACLE_SQL` holds only the stream queries with
an oracle of their own.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60
from capstone_etl_spark.functions.text import tokenize, tokenize_sql
from capstone_etl_spark.functions.vectors import dot_long, quantized_cosine
from capstone_etl_spark.operators import dedup, events, privacy, quality, textstats
from capstone_etl_spark.operators.corpus import (
    MIN_CHARS,
    N_SHARDS,
    kept_flagged_shingles,
    mixing_per_source,
    mixing_release,
    mixing_weights_sql,
)
from capstone_etl_spark.operators.similarity import (
    N_QUERIES,
    PQ_SUBDIM,
    SEMDEDUP_THRESHOLD,
    _bitext_capped_pairs,
    _bitext_verdicts,
    _d2_fold,
    _hier_cand_seed,
    _pq_hier_codes,
    _pq_split,
    adc_topk,
    hier_assign,
    hier_branch_cells_row,
    hier_cell_inrow,
    hier_routed,
    ivf_candidates,
    ivf_seed_d2,
    nearest_cell,
    probe_cells_inrow,
    qcosine,
    quantize_fp,
    quantizer_seeds,
    sim_topk,
)
from capstone_etl_spark.session import cached, checkpoint_truncate
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.streaming import (
    drain_staged,
    stream_click_purchase_join,
    stream_session_windows,
)
from capstone_etl_spark.streaming.windows import (
    ATTRIBUTION_WINDOW_SEC,
    stream_enrich_user_tier,
)
from capstone_etl_spark.streaming.stateful import bottom_k

SESSION_GAP_SEC = 30 * 60


def _stream_static(df: DataFrame) -> DataFrame:
    """Materialize a STATIC relation consumed inside a streaming query
    (index artifacts, broadcast rows) and cut its plan to a LogicalRDD.

    `cached()` is not enough here: Spark matches a cache BY PLAN, and
    IncrementalExecution re-plans the query every micro-batch, so deep
    static lineages were partially RE-EXECUTED per trigger (measured on
    stream_training_manifest: 1211 -> 808 tasks and -6 MB shuffle write
    after switching to truncation, output hash identical). The blocks
    are tracked and freed by release_caches() like every cache."""
    return checkpoint_truncate(df)


def _horizon_watermark(staged: DataFrame) -> str:
    """Replaying a historical table: files arrive in arbitrary event-time
    order, so batch-exact results need a watermark beyond the replay
    disorder — the staged data's FULL time span, measured, not guessed
    (a fixed constant silently under-covers a longer corpus and drops
    rows; ADVICE r3). One min/max over the ts column of the staging
    copy: a full-scan job, not a footer lookup — Spark's v1 parquet
    reader has no aggregate pushdown, and the `cast("long")` would
    block it anyway. Called only from the transforms whose operators
    take a watermark, so the scan is paid only there.
    See the watermark note at operators/events.py's WATERMARK."""
    lo, hi = staged.agg(
        F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
    ).first()
    days = math.ceil(((hi or 0) - (lo or 0)) / 86400) + 1
    return f"{days} days"


def _replay(spark: SparkSession, sf_dir: str, operator) -> DataFrame:
    """Drain a watermarked batch-or-stream event operator (complete
    mode) with the replay-horizon watermark."""
    return drain_staged(
        spark,
        sf_dir,
        "events",
        lambda s, staged: operator(s, watermark=_horizon_watermark(staged)),
        "complete",
    )


def stream_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling windows: events.tumbling drained, equal to
    event_tumbling_windows."""
    return _replay(spark, sf_dir, events.tumbling)


def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows: events.sliding drained, equal to
    event_sliding_windows — overlapping-window state is the piece
    tumbling doesn't exercise."""
    return _replay(spark, sf_dir, events.sliding)


def stream_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark → per-type counts:
    events.dedup_counts drained, equal to event_dedup."""
    return _replay(spark, sf_dir, events.dedup_counts)


def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window) on the stream."""
    return _replay(spark, sf_dir, stream_session_windows)


# Session-window semantics (pinned against Spark at sf0.1, where an
# exact-gap pair exists): a session EXTENDS while the next event is <=
# gap after the previous one — a touching boundary (gap exactly equal)
# still merges, i.e. a new session starts only on STRICTLY greater
# gaps; end = last event + gap. Matches the lag+cumsum batch
# sessionize's strict `>` close.
STREAM_USER_SESSIONS_SQL = f"""
WITH ev AS (
  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS ts_sec FROM events
), with_gap AS (
  SELECT user_id, ts_sec,
         CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec)
                   > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), with_id AS (
  SELECT user_id, ts_sec,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM with_gap
)
SELECT user_id,
       MIN(ts_sec) AS session_start,
       MAX(ts_sec) + {SESSION_GAP_SEC} AS session_end,
       COUNT(*) AS n_events
FROM with_id GROUP BY user_id, session_seq
"""


def stream_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count / value sum / last-seen second, kept
    across micro-batches as a built-in complete-mode aggregation: the
    state is three cells per user, O(users), and the value sum is the
    oracle's own exact DECIMAL(18,2) sum, so the drained table is
    replay-order independent and equals STREAM_USER_ACTIVITY_SQL."""
    return drain_staged(
        spark,
        sf_dir,
        "events",
        lambda s, staged: s.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.max(F.col("ts").cast("long")).alias("last_seen_sec"),
        ),
        "complete",
    )


STREAM_USER_ACTIVITY_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MAX(FLOOR(epoch(ts))::BIGINT) AS last_seen_sec
FROM events GROUP BY user_id
"""


def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join end-to-end: purchases × same-user clicks
    within the preceding hour, joined incrementally across micro-
    batches (pairs whose two sides arrive in different batches are
    emitted when the second side lands), then rolled up per purchase.
    The rollup runs on the memory-sink table (batch) — chaining a
    second stateful aggregation after a stream-stream join is
    restricted territory; the join itself is the streaming operator
    under test. Inner join ⇒ only purchases with ≥1 prior click
    appear (documented, mirrored by the oracle)."""
    got = drain_staged(
        spark,
        sf_dir,
        "events",
        lambda s, staged: stream_click_purchase_join(
            s, watermark=_horizon_watermark(staged)
        ),
        "append",
    )
    return (
        got.groupBy("purchase_id", "user_id", "purchase_sec")
        .agg(
            F.count("*").alias("n_clicks_prior_hour"),
            F.max("click_sec").alias("last_click_sec"),
        )
    )


STREAM_CLICK_ATTRIBUTION_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ts_sec FROM events
)
SELECT p.event_id AS purchase_id, p.user_id, p.ts_sec AS purchase_sec,
       COUNT(*) AS n_clicks_prior_hour,
       MAX(c.ts_sec) AS last_click_sec
FROM ev p
JOIN ev c ON c.user_id = p.user_id
         AND c.ts_sec BETWEEN p.ts_sec - {ATTRIBUTION_WINDOW_SEC} AND p.ts_sec
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.event_id, p.user_id, p.ts_sec
"""


TIER_HIGH = 800.0
TIER_MID = 500.0


def _user_tiers(spark: SparkSession, sf_dir: str):
    """Batch-computed static dimension: per-user lifetime purchase
    value bucketed into fixed tiers (fixed thresholds, DECIMAL-exact
    sums — deterministic on both engines)."""

    ev = load_table(spark, sf_dir, "events")
    total = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("ltv"))
    )
    return total.select(
        "user_id",
        F.when(F.col("ltv") >= TIER_HIGH, "high")
        .when(F.col("ltv") >= TIER_MID, "mid")
        .otherwise("low")
        .alias("tier"),
    )


def stream_tier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join end-to-end: the event stream enriched per
    micro-batch with a batch-computed user-tier dimension (broadcast
    lookup, no stream state), then aggregated per (tier, type). The
    third streaming join class after windowed aggs and stream-stream —
    dimension enrichment at ingest."""
    tiers = _user_tiers(spark, sf_dir)
    return drain_staged(
        spark,
        sf_dir,
        "events",
        lambda s, staged: stream_enrich_user_tier(s, tiers),
        "complete",
    )


STREAM_TIER_ROLLUP_SQL = f"""
WITH tiers AS (
  SELECT user_id,
         CASE WHEN ltv >= {TIER_HIGH} THEN 'high'
              WHEN ltv >= {TIER_MID} THEN 'mid' ELSE 'low' END AS tier
  FROM (
    SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ltv
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
  ) t
)
SELECT COALESCE(tier, 'unknown') AS tier, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events LEFT JOIN tiers USING (user_id)
GROUP BY COALESCE(tier, 'unknown'), event_type
"""


def stream_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch as a STREAMING stateful operator — sketches are
    the streaming-native cardinality tool precisely because their merge
    is tiny and associative: per-source state is the bottom-k hash list
    (`bottom_k`, k int64s, bounded forever), each micro-batch unions its
    shingle hashes into it, and the k-th minimum yields the same
    deterministic estimate the batch operator computes. After draining,
    the final state MUST equal the batch sketch exactly (bottom-k of a
    union is order-free) — so the query shares the batch hash stream
    and estimator and is oracle-checked value-for-value. The final
    state is read off all emissions in one pass: the bottom-k only
    grows to K, and its K-th hash only falls, so kp = max(rnk) and
    hk = min(h at rnk = K)."""
    from capstone_etl_spark.operators.sketches import KMV_K, kmv_estimate, shingle_hashes

    got = drain_staged(
        spark,
        sf_dir,
        "documents",
        lambda s, staged: bottom_k(shingle_hashes(s), KMV_K),
        "update",
    )
    sk = got.groupBy("source").agg(
        F.max("rnk").alias("kp"),
        F.min(F.when(F.col("rnk") == KMV_K, F.col("h"))).alias("hk"),
    )
    return sk.select("source", "kp", "hk", F.round(kmv_estimate("kp"), 6).alias("kmv_estimate"))


def _stream_kmv_sketch_sql() -> str:
    from capstone_etl_spark.operators.sketches import KMV_EST_SQL, KMV_HASHED_SQL, KMV_K

    return f"""{KMV_HASHED_SQL}, ranked AS (
  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rnk FROM hashed
), sk AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS kp,
         MAX(CASE WHEN rnk = {KMV_K} THEN h END) AS hk
  FROM ranked WHERE rnk <= {KMV_K} GROUP BY source
)
SELECT source, kp, hk,
       ROUND(CASE WHEN kp < {KMV_K} THEN CAST(kp AS DOUBLE)
                  ELSE {KMV_EST_SQL}hk END, 6) AS kmv_estimate
FROM sk
"""


def stream_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic reservoir sample as a STREAMING stateful
    operator: per-source state is the K smallest (salted-hash, doc_id)
    pairs — bounded forever, merged per micro-batch by the same
    `bottom_k` tracker as the KMV sketch. Because bottom-K of a union
    is order-free, the drained state equals the BATCH reservoir_sample
    row-for-row (same salt, same hash), so the streaming query shares
    the batch oracle verbatim — the streaming form of 'the sample is
    stable under reruns' becomes 'the sample is independent of
    micro-batching'. The final snapshot per source is the emission
    with the highest update counter."""
    from capstone_etl_spark.operators.sampling import RESERVOIR_K, RESERVOIR_SALT

    def transform(stream, staged):
        h = md5_hash60(F.concat(F.lit(RESERVOIR_SALT), F.col("doc_id").cast("string")))
        return bottom_k(stream.select("source", h.alias("h"), "doc_id", "lang"), RESERVOIR_K)

    got = drain_staged(spark, sf_dir, "documents", transform, "update")
    mx = got.groupBy(F.col("source").alias("msrc")).agg(F.max("upd").alias("mupd"))
    return (
        got.join(
            F.broadcast(mx),
            (got["source"] == F.col("msrc")) & (got["upd"] == F.col("mupd")),
        )
        .select("source", "doc_id", "lang", "rnk")
    )


def stream_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixing-weight accounting as a STREAMING job: per-source doc
    count, token mass and char mass accumulate incrementally over the
    documents file stream (corpus.mixing_per_source as a complete-mode
    agg, no event time → no watermark), and the √-temperature weight
    normalization (corpus.mixing_release) runs in batch on the final
    snapshot — exactly how a live ingest keeps the training-blend
    dashboard current while shards land. The streaming aggregation
    state is |sources|-bounded. countDistinct (the batch dup_rate
    input) is not streamable, so the streaming form carries the
    additive aggregates only, and its oracle is the batch oracle's
    composition without the dup-rate column."""
    snap = drain_staged(
        spark, sf_dir, "documents", lambda s, staged: mixing_per_source(s), "complete"
    )
    return mixing_release(snap)


STREAM_MIXING_WEIGHTS_SQL = mixing_weights_sql()


def stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min counter table built INCREMENTALLY over the
    documents stream — the sketch is streaming-native by construction:
    state is exactly D×W integer cells (bounded forever), each
    micro-batch adds its token counts cell-wise, and cell-wise
    addition is associative — so the drained counter table equals the
    batch sketch EXACTLY and shares its oracle arithmetic. Complete-
    mode aggregation on (d, bucket): |state| = CM_D·CM_W keys no
    matter how many shards stream in."""
    from capstone_etl_spark.operators.sketches import cm_cells

    def transform(stream, staged):
        tok = stream.select(F.explode(tokenize("text")).alias("token"))
        cells = tok.select(F.explode(cm_cells()).alias("b")).select("b.d", "b.bucket")
        return cells.groupBy("d", "bucket").agg(F.count("*").cast("long").alias("c"))

    return drain_staged(spark, sf_dir, "documents", transform, "complete")


def _stream_count_min_sql() -> str:
    from capstone_etl_spark.operators.sketches import CM_D, _cm_bucket_sql

    per_d = " UNION ALL ".join(
        f"SELECT {d} AS d, {_cm_bucket_sql(d)} AS bucket FROM tok" for d in range(CM_D)
    )
    return f"""
WITH tok AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), cells AS ({per_d})
SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c
FROM cells GROUP BY d, bucket
"""


def stream_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at INGEST — the thirteenth streaming query and
    the deployment shape every training pipeline actually wants: the
    benchmark shingle index is a STATIC relation (built batch, cached —
    in production a precomputed artifact), training documents stream
    in, their shingles stream-static join the index, and the
    per-(train, bench) overlap aggregates in complete mode. Flags use
    the IDENTICAL Jaccard/containment thresholds as the batch pass, so
    the oracle is the batch DECONTAMINATION_SQL verbatim.

    Mechanics of exactness: the df-cap and the allowed-shingle set are
    corpus-global, so they live on the static side (shingles() over the
    full corpus — exactly the batch relation). The train doc's
    post-cap shingle count (sz_c) is recovered from the SAME pair-grain
    aggregation via a per-shingle first-posting marker: the static side
    ranks each shingle's bench postings (pos), shingles without bench
    postings carry one NULL-bench row with pos=1, and Σ n_first over a
    train doc's groups = its matched allowed-shingle count. One
    streaming aggregation, state bounded by cross-cut candidate pairs
    (+ one NULL-bench row per train doc)."""
    from capstone_etl_spark.operators.dedup import (
        BENCH_MOD,
        contamination_flags,
        shingle_set,
        shingles,
    )

    sh = shingles(load_table(spark, sf_dir, "documents"))
    bench = sh.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        "sh", F.col("doc_id").alias("bench_doc")
    )
    sz_b = bench.groupBy("bench_doc").agg(F.count("*").alias("sz_b"))
    pw = Window.partitionBy("sh").orderBy("bench_doc")
    posts = bench.withColumn("pos", F.row_number().over(pw))
    static = _stream_static(
        sh.select("sh")
        .distinct()
        .join(posts, "sh", "left")
        .select("sh", "bench_doc", F.coalesce("pos", F.lit(1)).alias("pos"))
    )

    def transform(stream, staged):
        toks = stream.filter(F.col("doc_id") % BENCH_MOD != 0).select(
            F.col("doc_id").alias("train_doc"), tokenize("text").alias("toks")
        )
        stream_sh = toks.select("train_doc", F.explode(shingle_set()).alias("sh"))
        return (
            stream_sh.join(static, "sh")
            .groupBy("train_doc", "bench_doc")
            .agg(
                F.count("*").alias("n_inter"),
                F.sum((F.col("pos") == 1).cast("long")).alias("n_first"),
            )
        )

    got = drain_staged(spark, sf_dir, "documents", transform, "complete")
    # sz_c via a per-train window over the drained pair table (its
    # input is bounded by a doc's candidate-pair count) — a sink
    # self-join would carry conflicting references
    with_sz = got.withColumn(
        "sz_c", F.sum("n_first").over(Window.partitionBy("train_doc"))
    )
    return contamination_flags(
        with_sz.filter(F.col("bench_doc").isNotNull()).join(sz_b, "bench_doc")
    )


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup ADMISSION at INGEST — dedup.dedup_incremental's
    delta-vs-base verdicts as a stream, the shape a 100 TB pipeline
    actually consumes that operator in: the df-capped corpus shingle
    index is a STATIC relation (in production a published artifact of
    the accepted corpus), arriving delta documents stream in, their
    shingles stream-static join the index under the batch pass's exact
    partner rule (partner is base, or an earlier delta id), and the
    per-(arrival, partner) overlap aggregates in complete mode. The
    drained pair table goes through the IDENTICAL Jaccard-threshold /
    min-struct verdict assembly as the batch operator, so the oracle
    is DEDUP_INCREMENTAL_SQL verbatim.

    Cap consistency: the stream side explodes the arriving doc's RAW
    distinct shingles and the static side carries only post-cap
    postings, so the joined intersection is capped∩capped — exactly
    batch n_inter; both partner sizes come from the static size table
    at verdict time. State is bounded by cross-delta candidate pairs
    (df-capped), never |base|²."""
    from capstone_etl_spark.operators.dedup import (
        _is_delta,
        admission_verdicts,
        shingle_set,
        shingle_sizes,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = _stream_static(shingles(docs))
    sizes = shingle_sizes(sh)
    index = sh.select("sh", F.col("doc_id").alias("doc_b"))

    def transform(stream, staged):
        arriving = stream.filter(_is_delta(F.col("doc_id"))).select(
            F.col("doc_id").alias("doc_a"), tokenize("text").alias("toks")
        )
        stream_sh = arriving.select("doc_a", F.explode(shingle_set()).alias("sh"))
        partner_ok = (~_is_delta(F.col("doc_b"))) | (F.col("doc_b") < F.col("doc_a"))
        return (
            stream_sh.join(index, "sh")
            .filter((F.col("doc_b") != F.col("doc_a")) & partner_ok)
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )

    pairs_raw = drain_staged(spark, sf_dir, "documents", transform, "complete")
    return admission_verdicts(docs, sizes, pairs_raw)


def _stream_cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    assign: DataFrame,
    route: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The cosine SERVING twin of an IVF index: query vectors stream in,
    `route` attaches each arriving row's candidate cell array `cand`
    and the seed count, the row probes in-row (probe_cells_inrow),
    joins the static inverted lists `assign` (vec_id, cell) and reranks
    by exact cosine through append-mode stream-static joins — no state.
    The TOP_K ranking runs on the drained candidate table (bounded by
    queries × probed cells' population)."""
    quant = quantize_fp()
    neigh = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )

    def transform(stream, staged):
        arriving = stream.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            quant.alias("vq"),
        )
        probes = probe_cells_inrow(route(arriving), "query_id", "qe")
        return (
            ivf_candidates(probes, assign, "qe")
            .join(neigh, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(qcosine("qe", "ne"), 6).alias("sim"),
            )
        )

    return sim_topk(drain_staged(spark, sf_dir, "embeddings", transform, "append"))


def _hier_probe_row(emb_q: DataFrame) -> DataFrame:
    """hier_branch_cells_row with the seed count `n_cells` (the probe
    count's input) — the serving twins' static 1-row artifact."""
    n_cells = quantizer_seeds(emb_q).agg(F.count("*").alias("n_cells"))
    return _stream_static(
        hier_branch_cells_row(emb_q).join(F.broadcast(n_cells), F.lit(True))
    )


def stream_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING at ingest — the batch/stream twin for the IVF index
    (similarity.ann_ivf_topk): the quantizer seeds, the cell-assigned
    corpus, and the raw embeddings are STATIC relations (in production
    the published index artifacts); each arriving query probes the
    ≈√N seed list (one 1-row broadcast: every seed is a candidate
    cell) and reranks its probed cells by exact cosine — the lookup
    path an online retrieval tier runs against the batch-built index
    (_stream_cosine_topk). Oracle: the batch ANN_IVF_TOPK_SQL
    verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    seeds = quantizer_seeds(emb_q)
    assign = _stream_static(nearest_cell(ivf_seed_d2(emb_q, seeds)))
    seed_row = _stream_static(
        seeds.agg(
            F.collect_list(F.struct("cell", "sq")).alias("cand"),
            F.count("*").alias("n_cells"),
        )
    )
    return _stream_cosine_topk(
        spark, sf_dir, emb, assign, lambda a: a.join(F.broadcast(seed_row), F.lit(True))
    )


def stream_ann_hivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING on the two-level index — stream_ann_topk's shape over
    the round-9 hierarchical quantizer: the corpus assignment
    (hier_assign) and a 1-row branch→cells broadcast (each branch
    carries its second-level seeds as a nested array) are the static
    published artifacts; each arriving query routes to its
    BRANCH_PROBES nearest branches (hier_routed) and probes ONLY those
    branches' ≈B·N^(1/4) seeds, all in-row. The per-query routing work
    drops from the flat serving twin's ≈√N seed folds to ≈N^(1/4) +
    B·N^(1/4) — the same asymptotic win the batch index measured
    (SCALE.md). Oracle: ANN_HIVF_TOPK_SQL verbatim (the drained
    serving results equal the batch index lookups)."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    assign = _stream_static(hier_assign(emb_q).select("vec_id", "cell"))
    brow = _hier_probe_row(emb_q)
    return _stream_cosine_topk(spark, sf_dir, emb, assign, lambda a: hier_routed(a, brow))


def stream_ann_hivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING at INGEST over the COMPRESSED index — similarity.
    ann_hivf_pq_topk's query path as a stream: the hier cell
    assignment, the per-subspace hier PQ codes and the (m, codeword)
    subvector table are STATIC relations (the published index
    artifacts — at 100 TB the codes ARE the corpus the serving tier
    holds); arriving queries route and probe in-row exactly as
    stream_ann_hivf_topk does, and the stream-static joins emit one
    EXACT integer per-(query, neighbor, subspace) ADC term into the
    append sink — no state at all. The drained term table goes
    through the batch operator's ADC ranking (adc_topk), so the oracle
    is ANN_HIVF_PQ_TOPK_SQL verbatim.

    Scale: per-arrival work is one branch fold pass (≈N^(1/4) + the
    routed branches' seeds) plus M code-term lookups per candidate
    (probed cells' members) — the serving cost the batch operator
    measured (decade-2 exponent 0.95 vs the flat 1.24, SCALE.md); the
    sink holds candidate×M bounded rows, and re-delivery cannot
    corrupt anything because nothing aggregates in-stream."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    assign = _stream_static(hier_assign(emb_q).select("vec_id", "cell"))
    # static code relation joined to its codeword subvectors ONCE:
    # (neighbor_id, m, ssub) is the compressed corpus the serving
    # tier actually stores
    seed_sub = quantizer_seeds(emb_q).select(
        F.col("cell").alias("cw"), _pq_split("sq").alias("m", "ssub")
    )
    code_sub = _stream_static(
        _pq_hier_codes(emb_q)
        .select(F.col("vec_id").alias("neighbor_id"), "m", F.col("cell").alias("cw"))
        .join(seed_sub, ["m", "cw"])
    )
    brow = _hier_probe_row(emb_q)

    def transform(stream, staged):
        arriving = stream.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), quant.alias("vq")
        )
        probes = probe_cells_inrow(hier_routed(arriving, brow), "query_id", "vq")
        qsub = F.slice("vq", F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM)
        return (
            ivf_candidates(probes, assign, "vq")
            .join(code_sub, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                "m",
                _d2_fold(qsub, F.col("ssub")).alias("qd2"),
            )
        )

    # stateless: the state-store sizing buys nothing here and would run
    # the per-trigger stream-static joins and the drained tail on one
    # partition — at sf1 (4-core VM, 8 interleaved pairs) the sized
    # count read 16.2 -> 17.2 s median, trigger 1.46 -> 1.97 s — so
    # keep the session's shuffle parallelism (state_partitions=None)
    return adc_topk(
        drain_staged(
            spark, sf_dir, "embeddings", transform, "append", state_partitions=None
        )
    )


def stream_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based pair MINING at ingest — bitext_mining's shape as
    source-side vectors arrive: the committed target-side index
    (hier_assign cells + raw vectors, static) is the published
    artifact; each arriving source vector routes to its cell in-row
    (hier_cell_inrow — zero state) and emits exact-cosine candidate
    pairs against its cell's target members through an append-mode
    stream-static join. The drained pair table IS the batch candidate
    relation (cell-bounded AND per-source top-C capped — the source
    side drives, ≤BITEXT_C rows per arrival), so the margin/
    mutual-argmax verdict assembly runs the batch code on it and the
    mined set equals the batch miner row-for-row. Oracle:
    BITEXT_MINING_SQL verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    assign = _stream_static(hier_assign(emb_q).select("vec_id", "cell"))
    tgt = assign.filter(F.col("vec_id") % 2 == 1).join(
        emb.select("vec_id", "embedding"), "vec_id"
    ).select(
        F.col("vec_id").alias("tgt_id"), "cell", F.col("embedding").alias("ne")
    )
    brow = _stream_static(hier_branch_cells_row(emb_q))

    def transform(stream, staged):
        arriving = stream.filter(F.col("vec_id") % 2 == 0).select(
            F.col("vec_id").alias("src_id"),
            F.col("embedding").alias("qe"),
            quant.alias("vq"),
        )
        # r11: each arriving source emits only its top-BITEXT_C
        # within-cell cosines (_bitext_capped_pairs — in-row scoring
        # against the static per-cell target arrays), so the memory
        # sink drains N·C rows. The r10 uncapped stream drained the
        # FULL within-cell pair relation (≈N^1.5 rows) and measured
        # decade-2 exponent 1.41 at sf10 — the sink volume, not the
        # mining, was the scale wall.
        return _bitext_capped_pairs(hier_cell_inrow(arriving, brow, "src_id", "qe"), tgt)

    # truncate the sink lineage: the assembly joins the pair table
    # with its own per-endpoint aggregates (the sink-self-join
    # conflicting-reference class)
    return _bitext_verdicts(
        checkpoint_truncate(drain_staged(spark, sf_dir, "embeddings", transform, "append"))
    )


def stream_semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup ADMISSION at ingest on the two-level index:
    each arriving vector routes to its cell in-row (hier_cell_inrow —
    zero streaming state) and checks itself against the committed
    corpus's LOWER-id cell members by exact cosine through an
    append-mode stream-static join — the SemDeDup keep-one rule
    evaluated as vectors land. The drained dup relation left-joins the
    static assignment into the batch output shape, so the admitted set
    equals the batch semantic_dedup_hier row-for-row (same oracle).
    This is stream_dedup_incremental's embedding-space sibling — the
    admission gate an embedding-deduped 100 TB corpus runs at its
    front door. Pairs are scored as the batch form scores them: the
    quantized cosine over each side's `vq` and squared norm (the
    members carry theirs; an arriving row quantizes once, for routing,
    and folds its norm), one integer fold per pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    withv = _stream_static(hier_assign(emb_q).withColumn("qn2", dot_long("vq", "vq")))
    assign = withv.select("vec_id", "cell")
    members = withv.select(
        F.col("vec_id").alias("vec_a"), "cell",
        F.col("vq").alias("qa"), F.col("qn2").alias("na2"),
    )
    brow = _stream_static(hier_branch_cells_row(emb_q))

    def transform(stream, staged):
        arriving = stream.select(F.col("vec_id").alias("vec_b"), quant.alias("vq"))
        return (
            hier_cell_inrow(arriving, brow, "vec_b", F.col("vq").alias("qb"))
            .withColumn("nb2", dot_long("qb", "qb"))
            .join(members, "cell")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .filter(quantized_cosine("qa", "qb", "na2", "nb2") >= SEMDEDUP_THRESHOLD)
            .select("vec_b", "vec_a")
        )

    # stateless, and its per-trigger work is the within-cell cosine join,
    # which the sized state store (1 partition) runs on one task: at sf1
    # (4-core VM, 8 interleaved pairs) the sized count read 263.8 s vs
    # 158.5 s median (trigger 247.8 vs 144.6 s, slower in 8/8 pairs), so
    # keep the session's shuffle parallelism (state_partitions=None)
    got = drain_staged(
        spark, sf_dir, "embeddings", transform, "append", state_partitions=None
    )
    dup = got.groupBy("vec_b").agg(F.min("vec_a").alias("dup_of"))
    return assign.join(dup, assign.vec_id == dup.vec_b, "left").select(
        "vec_id", "cell", F.col("dup_of").isNull().alias("keep"), "dup_of"
    )


def stream_hivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX MAINTENANCE on the two-level quantizer — stream_ivf_assign's
    round-9 sibling: vectors arrive, each routes to its cell entirely
    in-row (hier_cell_inrow: branch array → routed seeds → argmin;
    ≈N^(1/4)+B·N^(1/4) folds per vector instead of the flat twin's
    ≈√N), and the complete-mode per-cell population table is the live
    balance dashboard for the hierarchical index. Per-cell populations
    merge by addition, so drained it equals the batch
    hivf_cell_balance exactly (shared _cell_balance_tail + shared
    oracle) — the share/cap audit a 100 TB deployment watches while
    shards of vectors land."""
    from capstone_etl_spark.operators.scaleaudit import _cell_balance_tail

    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    brow = _stream_static(hier_branch_cells_row(emb.select("vec_id", quant.alias("vq"))))

    def transform(stream, staged):
        assigned = hier_cell_inrow(stream.select(quant.alias("vq")), brow)
        return assigned.groupBy("cell").agg(F.count("*").cast("long").alias("pop"))

    snap = drain_staged(spark, sf_dir, "embeddings", transform, "complete")
    return _cell_balance_tail(snap)


def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX MAINTENANCE at ingest — the corpus-side twin of
    stream_ann_topk (which streams the QUERY side against a static
    index): vectors arrive as a stream, each one picks its Voronoi
    cell against the static quantizer seeds, and the complete-mode
    per-cell population table is the live index balance dashboard —
    drained, it must equal the batch ivf_cell_balance (same oracle,
    ANN_IVF's cell semantics).

    Streaming shape: the argmin is PER-ROW column math (no window, no
    state beyond the cell counters): the ≈√N seed table rides in as a
    1-row collect_list broadcast, each arriving vector folds one
    integer distance per seed, and array_min over (d2, cell) structs
    reproduces the batch argmin's exact tiebreak order-independently
    (collect_list order is nondeterministic — array_min doesn't
    care). The share/cap columns attach in the final batch projection
    over the drained ≈√N-row table."""
    from capstone_etl_spark.operators.scaleaudit import _cell_balance_tail

    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    seeds = quantizer_seeds(emb.select("vec_id", quant.alias("vq")))
    # cached: the stream-static join re-evaluates the static side
    # EVERY micro-batch — without this the full embeddings scan +
    # hash + collect_list subtree runs once per trigger
    # (stream_ann_topk's discipline)
    seed_row = _stream_static(
        seeds.agg(F.collect_list(F.struct("cell", "sq")).alias("seedlist"))
    )

    def transform(stream, staged):
        d2_structs = F.transform(
            F.col("seedlist"),
            lambda s: F.struct(
                _d2_fold(F.col("vq"), s["sq"]).alias("d2"),
                s["cell"].alias("cell"),
            ),
        )
        assigned = (
            stream.select(quant.alias("vq"))
            .join(F.broadcast(seed_row), F.lit(True))
            .select(F.array_min(d2_structs)["cell"].alias("cell"))
        )
        return assigned.groupBy("cell").agg(F.count("*").cast("long").alias("pop"))

    snap = drain_staged(spark, sf_dir, "embeddings", transform, "complete")
    return _cell_balance_tail(snap)


def stream_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register file built AT INGEST — the sketch family's
    cleanest streaming twin because HLL insertion is IDEMPOTENT (a
    duplicate token re-proposes the same rank to the same register's
    max), so the stream needs NO dropDuplicates and no custom state:
    one complete-mode groupBy-MAX over (source, bucket) is the whole
    operator, and re-delivered rows cannot corrupt it. Drained, the
    register file equals the batch sketch's exactly; the shared
    hll_finalize tail (estimator arithmetic) and the static exact
    counts produce the identical audit row — batch oracle verbatim."""
    from capstone_etl_spark.operators.sketches import hll_finalize, hll_rho_rows

    docs = load_table(spark, sf_dir, "documents")

    def transform(stream, staged):
        toks = stream.select("source", F.explode(tokenize("text")).alias("token"))
        return hll_rho_rows(toks).groupBy("source", "bucket").agg(
            F.max("rho").alias("reg")
        )

    snap = drain_staged(spark, sf_dir, "documents", transform, "complete")
    exact = (
        docs.select("source", F.explode(tokenize("text")).alias("token"))
        .distinct()
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_exact"))
    )
    return hll_finalize(snap, exact)


# fixed equi-width grid for the streaming quantile sketch: streaming
# state can't wait for a min/max pass, so the grid is a POLICY constant
# (value domain is bounded by the event schema's value semantics);
# out-of-range values clamp into the edge bins.
SQH_W = 5.0
SQH_BINS = 100
SQH_QS = ((50, 0.5), (95, 0.95), (99, 0.99))


def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, pct, target_rank, est) — per-type streaming
    quantile estimates (p50/p95/p99 of value) from a fixed-grid
    equi-width histogram maintained DURING ingest: a complete-mode
    (event_type, bin) counting aggregation — ≤ |types|·SQH_BINS rows
    of state, merged by addition across micro-batches — and the
    rank-interpolation tail runs on the drained bounded snapshot, so
    any micro-batch could publish fresh quantiles without rescanning
    landed data. The answer is within one bin width of truth a
    priori (the histogram_quantiles bound, kept current online).
    Oracle: the identical grid + interpolation computed from the raw
    events in SQL — sketch and oracle agree exactly because both
    sides interpolate the same exact integer cell counts."""
    bin_col = F.least(
        F.lit(SQH_BINS - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / SQH_W)),
    ).cast("long")

    def transform(stream, staged):
        return stream.groupBy(
            "event_type", bin_col.alias("bin")
        ).agg(F.count("*").alias("nb"))

    snap = drain_staged(spark, sf_dir, "events", transform, "complete")
    # cumulative + per-type total in ONE window pass over the bounded
    # snapshot (no self-join back to the drained table), then every
    # cell row expands into the 3-quantile grid and the one bracketing
    # cell per (type, quantile) survives the filter.
    w = Window.partitionBy("event_type").orderBy("bin")
    wt = Window.partitionBy("event_type")
    cum = snap.select(
        "event_type",
        "bin",
        "nb",
        F.sum("nb").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.coalesce(
            F.sum("nb").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("cum_prev"),
        F.sum("nb").over(wt).alias("n"),
    )
    expanded = cum.select(
        "event_type",
        "bin",
        "nb",
        "cum",
        "cum_prev",
        "n",
        F.explode(
            F.array(*[F.struct(F.lit(p).alias("pct"), F.lit(q).alias("q")) for p, q in SQH_QS])
        ).alias("g"),
    ).select(
        "event_type",
        "bin",
        "nb",
        "cum",
        "cum_prev",
        F.col("g.pct").alias("pct"),
        (F.col("g.q") * F.col("n")).alias("target"),
    )
    return expanded.filter(
        (F.col("cum_prev") < F.col("target")) & (F.col("target") <= F.col("cum"))
    ).select(
        "event_type",
        "pct",
        F.round(F.col("target"), 6).alias("target_rank"),
        F.round(
            F.col("bin") * SQH_W
            + (F.col("target") - F.col("cum_prev")) / F.col("nb") * F.lit(SQH_W),
            6,
        ).alias("est"),
    )


def _stream_quantile_sketch_sql() -> str:
    qs_rows = ", ".join(f"({p}, {q})" for p, q in SQH_QS)
    return f"""
WITH cells AS (
  SELECT event_type,
         CAST(LEAST({SQH_BINS - 1}, GREATEST(0, FLOOR(value / {SQH_W}))) AS BIGINT) AS bin,
         COUNT(*) AS nb
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, nb,
         SUM(nb) OVER (PARTITION BY event_type ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         COALESCE(SUM(nb) OVER (PARTITION BY event_type ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM cells
), totals AS (
  SELECT event_type, CAST(SUM(nb) AS BIGINT) AS n FROM cells GROUP BY 1
), grid AS (
  SELECT t.event_type, g.pct, g.q * t.n AS target
  FROM totals t, (SELECT * FROM (VALUES {qs_rows}) v(pct, q)) g
)
SELECT c.event_type, g.pct,
       ROUND(g.target, 6) AS target_rank,
       ROUND(c.bin * {SQH_W} + (g.target - c.cum_prev) / c.nb * {SQH_W}, 6) AS est
FROM grid g JOIN cum c USING (event_type)
WHERE c.cum_prev < g.target AND g.target <= c.cum
"""


def stream_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUPED experiment readout kept current DURING ingest: the
    pre/post midpoint is fixed at deploy time from the landed staging
    data (stream_psi_drift's convention — the literal equals the
    batch plan's in-plan expression over the same rows), per-user
    (pre-spend, post-spend) decimal sums accumulate as complete-mode
    state merged order-free by addition, and the shared θ/variance
    tail (events.cuped_release) runs on the drained snapshot. Oracle:
    the batch CUPED SQL verbatim.

    The drained snapshot is cut lazily: the tail references the
    per-user relation twice (pooled moments + per-variant rollup)."""

    def transform(stream, staged):
        return events.cuped_users(stream, F.lit(staged.agg(events.ts_midpoint()).first()[0]))

    snap = drain_staged(spark, sf_dir, "events", transform, "complete")
    return events.cuped_release(checkpoint_truncate(snap, eager=False))


def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI drift monitor kept current DURING ingest: the reference
    window's (t_mid, v_lo, v_hi) grid is fixed at deploy time from the
    landed reference data (two column-stats scans of the staging copy
    — the watermark-derivation discipline), the (type, half, bin)
    cell counts accumulate in a complete-mode streaming aggregation
    (≤ |types|·2·bins state, merged by addition), and the shared PSI
    tail (events.psi_release) runs on the drained snapshot — every
    micro-batch could publish a fresh drift table without rescanning
    landed events. Oracle: the batch PSI SQL verbatim (the grid
    literals are computed by the same expressions the batch plan
    evaluates, so the releases agree exactly)."""

    def transform(stream, staged):
        t_mid = staged.agg(events.ts_midpoint()).first()[0]
        v_lo, v_hi = staged.filter(F.unix_micros("ts") <= t_mid).agg(
            F.min("value"), F.max("value")
        ).first()
        is_ref = (F.unix_micros("ts") <= F.lit(t_mid)).alias("is_ref")
        return events.psi_cells(stream, is_ref, F.lit(v_lo), F.lit(v_hi))

    return events.psi_release(drain_staged(spark, sf_dir, "events", transform, "complete"))


def stream_conversion_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kaplan-Meier time-to-conversion curve computed DURING
    ingest: per-user (first-exposure, last-event) state plus the
    per-(user, conversion-ts) qualifying set evolved across
    micro-batches as ONE built-in streaming aggregation (the
    training-manifest union trick: two row kinds, one agg), then the
    SAME shared KM tail as the batch query (events.km_curve) over the
    drained state — the curve is a bounded complete-mode relation (one
    row per observed minute bucket). Oracle: the batch KM SQL verbatim
    — the streaming and batch survival curves agree row-for-row.

    r12 (guide §4.1): this replaced an applyInPandasWithState tracker
    whose cost was one pandas group invocation + one 1-row DataFrame
    per user per micro-batch — the single most expensive stream query
    in the bench (driver 8c: 25.7 s). The subtle piece the Python
    state solved with a pending set — `cand` = min{conversion ts
    STRICTLY AFTER first exposure}, where first-exposure only
    DECREASES as replayed batches land — is solved relationally
    instead: conversions keep their own (user, ts) state rows ('c'
    kind, exact integers, order-free), and the qualifying minimum is
    taken over the DRAINED state where fv is final. Merges are min/max
    on exact integers, so the drained table is replay-order-independent
    like the Python form.

    State bound: O(rows), with no watermark eviction. One 'm' row per
    user plus one 'c' row per distinct (user, conversion ts); no
    watermark is set, so no row is ever evicted and the 'c' rows grow
    with the conversions a stream has seen. Bounded for the replay,
    unbounded on a long-lived stream — the same declared class as
    stream_training_manifest's one state row per admitted doc."""

    def transform(stream, staged):
        ev = stream.select(
            "user_id",
            F.col("event_type"),
            F.unix_micros("ts").alias("ts_us"),
        )
        m_rows = ev.select(
            F.lit("m").alias("kind"),
            "user_id",
            F.lit(0).cast("long").alias("k2"),
            F.when(F.col("event_type") == events.AB_EXPOSE_TYPE, F.col("ts_us")).alias("ex"),
            F.col("ts_us").alias("ts"),
        )
        c_rows = ev.filter(F.col("event_type") == events.AB_CONVERT_TYPE).select(
            F.lit("c").alias("kind"),
            "user_id",
            F.col("ts_us").alias("k2"),
            F.lit(None).cast("long").alias("ex"),
            F.lit(None).cast("long").alias("ts"),
        )
        return (
            m_rows.unionByName(c_rows)
            .groupBy("kind", "user_id", "k2")
            .agg(F.min("ex").alias("fv"), F.max("ts").alias("last"))
        )

    # truncate (lazily), not cache: m and convs below both descend
    # from the drained sink, and a memory-sink self-join carries
    # conflicting references — the LogicalRDD form joins cleanly
    got = checkpoint_truncate(
        drain_staged(spark, sf_dir, "events", transform, "update"), eager=False
    )
    # per-user finals from the 'm' rows: update-mode emissions are
    # cumulative (fv never rises, last never falls), so min/max over
    # emissions IS the drained state
    m = (
        got.filter(F.col("kind") == "m")
        .groupBy("user_id")
        .agg(F.min("fv").alias("fv"), F.max("last").alias("last_us"))
        .filter(F.col("fv").isNotNull())  # exposed users only
    )
    convs = (
        got.filter(F.col("kind") == "c")
        .select("user_id", F.col("k2").alias("cts"))
        .distinct()
    )
    return events.km_curve(
        m.join(convs, "user_id", "left")
        .groupBy("user_id", "fv", "last_us")
        .agg(F.min(F.when(F.col("cts") > F.col("fv"), F.col("cts"))).alias("conv_us"))
    )


def stream_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition AT INGEST — the full admission chain
    (quality gate → near-dup screen vs the static corpus index →
    benchmark decontamination screen → shard/split assignment → token
    accounting) as ONE streaming query over arriving documents, drained
    result equal to the batch corpus.training_manifest and sharing its
    oracle verbatim. Composes the proven pieces (stream_quality_funnel's
    gate, stream_dedup_incremental's capped pair state,
    stream_decontamination's n_first trick) into the query a 100 TB
    ingest tier actually runs while shards land.

    Mechanics: the df-capped shingle indexes are STATIC relations (the
    published artifacts of the committed corpus — the kept-scoped cap
    feeds the dedup leg, the full-corpus cap the decontamination leg,
    exactly the batch pass's two cap domains). Each arriving document
    fans into three row kinds that share ONE streaming aggregation
    (structured streaming allows a single agg per query — the union
    trick keeps the composition one query):

      ("doc", doc_id, shard_id, n_tokens, kept, split) — the stateless
        admission facts: quality flag, hash shard, salted split, exact
        token count (one state row per kept non-bench doc — the
        manifest store's own working set);
      ("dd", arriving, partner, 1, 0) — capped near-dup candidate
        pairs vs the static kept index, partner > arriving so each
        unordered pair counts exactly once; count = batch n_inter
        (raw∩capped = capped∩capped — a shingle the cap removed is in
        neither side of the join);
      ("dc", train, bench, 1, 0) — decontamination overlaps vs the
        static BENCH postings only (1/BENCH_MOD of the index crosses
        the stream join); both pair sizes (sz_c, sz_b) come from the
        static full-corpus capped sizes at verdict time, exactly as
        the batch operator reads them.

    The drained table then runs the IDENTICAL batch verdict assembly:
    Jaccard-threshold pairs → connected components (bounded by the
    drained candidate edges) → keep-one (doc_id = component min; a
    bench doc CAN be the keep-one, taking its cluster with it) →
    contamination anti-join → per-(split, shard) rollup. State is
    bounded by df-capped candidate pairs + cross-cut overlap pairs +
    one row per admitted doc.

    Cost shape: the self-contained query form rebuilds the static
    shingle indexes from the corpus (~40% of its bench time — the same
    documented trade as dedup_clusters_incremental's self-contained
    rebuild); the production deployment reads them as published
    artifacts and pays only the streaming legs + the drained
    assembly."""
    from capstone_etl_spark.operators.dedup import (
        BENCH_MOD,
        CONTAINMENT_THRESHOLD,
        JACCARD_THRESHOLD,
        _both_ways,
        connected_components,
        shingle_df_cap,
        shingle_set,
        shingle_sizes,
    )
    from capstone_etl_spark.operators.sampling import split_column

    # static index legs go through checkpoint_truncate, not cached()
    # (r12, guide §1.2/§5): a cache is matched BY PLAN, and the
    # per-micro-batch IncrementalExecution re-derives the stream
    # plan each trigger, so parts of the deep static lineage were
    # re-executed per batch (measured: 1211 -> 808 tasks, 43 -> 37
    # MB shuffle write, wall roughly halved on quiet pairs, hash
    # identical). A LogicalRDD is position-matched — every batch
    # reads the materialized blocks, full stop. Same trade the
    # production deployment makes by reading published artifacts.
    _static = _stream_static
    docs = load_table(spark, sf_dir, "documents")
    # static index artifacts — ONE tokenize pass, two cap domains
    # (the batch operator's exact sharing shape, corpus.py)
    uncapped = _static(
        kept_flagged_shingles(docs.select("doc_id", "n_chars", tokenize("text").alias("toks")))
    )
    kept_sh = _static(
        shingle_df_cap(uncapped.filter(F.col("kept")).select("doc_id", "sh"))
    )
    full_sh = _static(shingle_df_cap(uncapped.select("doc_id", "sh")))
    kept_sizes = shingle_sizes(kept_sh)
    dd_index = kept_sh.select("sh", F.col("doc_id").alias("partner"))
    bench = full_sh.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        "sh", F.col("doc_id").alias("bench_doc")
    )
    full_sizes = shingle_sizes(full_sh, "szf")
    sz_b = bench.groupBy("bench_doc").agg(F.count("*").alias("sz_b"))

    def transform(stream, staged):
        stoks = stream.select(
            "doc_id",
            (F.col("n_chars") >= MIN_CHARS).alias("kept"),
            tokenize("text").alias("toks"),
        )
        raw_sh = stoks.select("doc_id", "kept", F.explode(shingle_set()).alias("sh"))
        doc_rows = (
            stoks.filter(F.col("kept") & (F.col("doc_id") % BENCH_MOD != 0))
            .select(
                F.lit("doc").alias("kind"),
                F.col("doc_id").alias("a"),
                (
                    md5_hash60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
                    % N_SHARDS
                ).cast("long").alias("b"),
                F.size("toks").cast("long").alias("v1"),
                F.lit(1).cast("long").alias("v2"),
                split_column(F.col("doc_id")).alias("split"),
            )
        )
        # pair sizes ride in BEFORE the aggregation (stream-static joins
        # are legal pre-agg; joins are NOT legal post-agg), functional
        # on the pair key so the state grain is unchanged — which lets
        # the Jaccard/containment verdicts run IN-STREAM after the
        # aggregation (filter post-agg is legal in complete mode), so
        # the memory sink receives only verdict-relevant rows instead
        # of re-emitting the full ~|candidate-pair| state every trigger
        # (measured >1M rows/trigger at sf0.1 before this).
        sz_a_s = kept_sizes.select(F.col("doc_id").alias("a2"), F.col("sz").alias("za"))
        sz_b_s = kept_sizes.select(F.col("doc_id").alias("b2"), F.col("sz").alias("zb"))
        dd_rows = (
            raw_sh.filter("kept")
            .join(dd_index, "sh")
            .filter(F.col("partner") > F.col("doc_id"))
            .join(F.broadcast(sz_a_s), F.col("doc_id") == F.col("a2"))
            .join(F.broadcast(sz_b_s), F.col("partner") == F.col("b2"))
            .select(
                F.lit("dd").alias("kind"),
                F.col("doc_id").alias("a"),
                F.col("partner").alias("b"),
                "za",
                "zb",
                F.lit(None).cast("string").alias("split"),
                F.lit(0).cast("long").alias("v1"),
                F.lit(0).cast("long").alias("v2"),
            )
        )
        szc_s = full_sizes.select(F.col("doc_id").alias("a2"), F.col("szf").alias("za"))
        szb2_s = sz_b.select(F.col("bench_doc").alias("b2"), F.col("sz_b").alias("zb"))
        dc_rows = (
            raw_sh.filter(F.col("doc_id") % BENCH_MOD != 0)
            .join(F.broadcast(bench), "sh")
            .join(F.broadcast(szc_s), F.col("doc_id") == F.col("a2"))
            .join(F.broadcast(szb2_s), F.col("bench_doc") == F.col("b2"))
            .select(
                F.lit("dc").alias("kind"),
                F.col("doc_id").alias("a"),
                F.col("bench_doc").alias("b"),
                "za",
                "zb",
                F.lit(None).cast("string").alias("split"),
                F.lit(0).cast("long").alias("v1"),
                F.lit(0).cast("long").alias("v2"),
            )
        )
        doc_rows2 = doc_rows.select(
            "kind", "a", "b",
            F.lit(0).cast("long").alias("za"),
            F.lit(0).cast("long").alias("zb"),
            "split", "v1", "v2",
        )
        jac_s = F.col("cnt") / (F.col("za") + F.col("zb") - F.col("cnt"))
        cont_s = F.col("cnt") / F.col("zb")
        return (
            doc_rows2.unionByName(dd_rows)
            .unionByName(dc_rows)
            .groupBy("kind", "a", "b", "za", "zb", "split")
            .agg(F.count("*").alias("cnt"), F.sum("v1").alias("s1"), F.sum("v2").alias("s2"))
            .filter(
                (F.col("kind") == "doc")
                | ((F.col("kind") == "dd") & (jac_s >= JACCARD_THRESHOLD))
                | (
                    (F.col("kind") == "dc")
                    & ((jac_s >= JACCARD_THRESHOLD) | (cont_s >= CONTAINMENT_THRESHOLD))
                )
            )
        )

    # corpus-scale shingle joins run per trigger here — throughput
    # work, not bounded-state overhead — so keep the session's full
    # shuffle parallelism (state_partitions=None)
    got = cached(
        drain_staged(
            spark, sf_dir, "documents", transform, "complete", state_partitions=None
        )
    )

    # batch verdict assembly over the drained (already-thresholded)
    # state table
    pairs = got.filter(F.col("kind") == "dd").select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )
    labels = connected_components(_both_ways(pairs))
    contaminated = (
        got.filter(F.col("kind") == "dc")
        .select(F.col("a").alias("doc_id"))
        .distinct()
    )
    admitted = (
        got.filter(F.col("kind") == "doc")
        .select(
            F.col("a").alias("doc_id"),
            F.col("b").alias("shard_id"),
            F.col("s1").alias("n_tokens"),
            "split",
        )
        .join(labels, "doc_id", "left")
        .filter(F.col("doc_id") == F.coalesce("label", "doc_id"))
        .join(contaminated, "doc_id", "left_anti")
    )
    return admitted.groupBy("split", "shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


def stream_kll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable quantile sketch AT INGEST — sketches.
    kll_quantile_sketch's level-subsample maintained over a live
    document stream: the per-source (n, L, w) stats (a deploy-time
    artifact of the committed corpus, the stream_psi_drift
    deploy-literal convention) ride in as a static broadcast, and each
    arriving document that survives (h mod 2^L = 0) counts into its
    per-(source, value) cell through the batch sketch's own
    `_kll_sample` — state bounded by ≈K survivors per source. The
    drained cells go through the batch `_kll_release` (cumulative
    sample weight → ⌈q·n⌉ rank cut → max-value fallback → exact audit
    from the corpus), so the streamed release equals the batch sketch
    row-for-row and shares its oracle verbatim. The nested-sample
    property (level L+1 ⊆ level L) is what makes this THE 100 TB shape:
    shards sketched at different corpus epochs merge by re-filter +
    union, never by resampling."""
    from capstone_etl_spark.operators.sketches import (
        _kll_release,
        _kll_sample,
        _kll_stats,
        _kll_vals,
    )

    vals = _kll_vals(load_table(spark, sf_dir, "documents"))
    stats = _stream_static(_kll_stats(vals))
    drained = drain_staged(
        spark,
        sf_dir,
        "documents",
        lambda s, staged: _kll_sample(_kll_vals(s), stats),
        "complete",
    )
    # the release reads the drained sink three times: cut lazily
    return _kll_release(vals, stats, checkpoint_truncate(drained, eager=False))


def stream_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-QUALITY screening at INGEST — valuation.
    label_noise_incremental's delta-vs-base verdicts as a stream: the
    base-built TWO-LEVEL hier index (hier_branch_cells_row — one
    broadcastable row carrying every branch with its second-level seed
    list) and the cell-assigned base members are STATIC relations (the
    published index artifacts); delta vectors arrive as a stream, each
    one routes to its base cell with PER-ROW column math
    (hier_cell_inrow — the BRANCH_PROBES nearest branches in-row, then
    an integer argmin over the routed branches' cell lists), and the
    stream-static cell join
    emits (arrival, base-member) vote candidates keyed by the EXACT
    integer squared-L2 distance in APPEND mode — no state at all, no
    float anywhere in the rank path (the family's r11 discipline).
    The drained candidate table goes through the batch operator's own
    vote and verdict steps (valuation._noise_tally / _noise_release),
    so the oracle is LABEL_NOISE_INCREMENTAL_SQL verbatim.

    Scale: per-arrival work is the hier route (≈N^(1/4) branch folds +
    BRANCH_PROBES·N^(1/4) seed folds — vs the flat router's √N) plus
    one cell's members (quantizer law ≈√N_base); nothing aggregates
    in-stream, so re-delivery cannot corrupt state (there is none) and
    the sink is verdict-relevant rows only."""
    from capstone_etl_spark.operators.dedup import _is_delta
    from capstone_etl_spark.operators.valuation import _noise_release, _noise_tally

    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    base_q = emb_q.filter(~_is_delta(F.col("vec_id")))
    # truncated, not cached: the stream-static join re-plans the
    # static side EVERY micro-batch and a deep cached lineage was
    # partially re-executed per trigger (_stream_static docstring)
    index_row = _stream_static(hier_branch_cells_row(base_q))
    members = _stream_static(
        hier_assign(base_q)
        .join(emb.select("vec_id", "label"), "vec_id")
        .select(
            F.col("vec_id").alias("vec_b"),
            "cell",
            F.col("vq").alias("qb"),
            F.col("label").alias("lb"),
        )
    )

    def transform(stream, staged):
        arriving = stream.filter(_is_delta(F.col("vec_id"))).select(
            F.col("vec_id").alias("vec_a"),
            F.col("label").alias("la"),
            quant.alias("vq"),
        )
        routed = hier_cell_inrow(arriving, index_row, "vec_a", F.col("vq").alias("qa"), "la")
        return routed.join(members, "cell").select(
            "vec_a",
            "vec_b",
            _d2_fold("qa", F.col("qb")).alias("d2p"),
            (F.col("la") == F.col("lb")).cast("int").alias("match"),
        )

    # stateless, like stream_ann_hivf_pq_topk: the sized state store
    # (1 partition) read 17.5 -> 18.7 s median at sf1 (4-core VM, 8
    # interleaved pairs), so keep the session's shuffle parallelism
    drained = drain_staged(
        spark, sf_dir, "embeddings", transform, "append", state_partitions=None
    )

    # delta rows with their routed cells, recomputed batch-side for
    # the left join (cheap: |delta| rows against the hier index)
    delta_rows = nearest_cell(
        _hier_cand_seed(emb_q.filter(_is_delta(F.col("vec_id"))), index_q=base_q)
    ).join(emb.select("vec_id", "label"), "vec_id")
    return _noise_release(delta_rows, _noise_tally(drained))


def stream_embedding_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODER-DRIFT screening at INGEST — valuation.
    embedding_shift_audit's delta side as a stream: the base corpus's
    per-dimension stats (count, decimal sum, decimal sum-of-squares)
    are a STATIC 64-row relation; arriving delta vectors explode per
    dimension (valuation.dim_values) and aggregate per-dim decimal sums
    in complete mode — the state store is exactly DIM rows, the
    smallest bounded state in the streaming layer. The drained delta
    stats join the static base stats and go through the batch
    operator's own tail (valuation.shift_release), so the oracle is
    EMBEDDING_SHIFT_AUDIT_SQL verbatim. Decimal sums are
    order-free, so micro-batch arrival order cannot change a digit."""
    from capstone_etl_spark.operators.dedup import _is_delta
    from capstone_etl_spark.operators.valuation import _dec, dim_values, shift_release

    emb = load_table(spark, sf_dir, "embeddings")
    base = _stream_static(
        dim_values(emb.filter(~_is_delta(F.col("vec_id"))))
        .groupBy("d")
        .agg(
            F.count("*").cast("long").alias("n_base"),
            F.sum(_dec(F.col("x"))).alias("sum_b"),
            F.sum(_dec(F.col("x") * F.col("x"))).alias("ssq_b"),
        )
    )

    def transform(stream, staged):
        return (
            dim_values(stream.filter(_is_delta(F.col("vec_id"))))
            .groupBy("d")
            .agg(
                F.count("*").cast("long").alias("n_delta"),
                F.sum(_dec(F.col("x"))).alias("sum_d"),
            )
        )

    drained = drain_staged(spark, sf_dir, "embeddings", transform, "complete")
    return shift_release(
        base.join(drained, "d", "left").select(
            "d",
            "n_base",
            F.coalesce(F.col("n_delta"), F.lit(0).cast("long")).alias("n_delta"),
            "sum_b",
            "sum_d",
            "ssq_b",
        )
    )


def stream_coreset_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORESET-HEALTH dashboard at INGEST — valuation.
    coreset_coverage_audit as a stream: the KCENTER_K selected centers
    (with norms) are a STATIC relation riding in as a 1-row
    collect_list broadcast; every arriving vector picks its nearest
    center with per-row column math (one quantized cosine per center,
    array_min over (d, center_id) structs — stream_ivf_assign's trick
    with the cosine distance), and the batch per-center aggregate
    (valuation.coverage_cells) runs in complete mode: the state store
    is exactly KCENTER_K rows. The drained cells go through the batch
    valuation.coverage_release (total = sum of drained pops — the
    stream saw the whole corpus), so the oracle is
    CORESET_COVERAGE_AUDIT_SQL verbatim."""
    from capstone_etl_spark.operators.valuation import (
        _kcenter_select,
        coverage_cells,
        coverage_release,
    )

    _, acc = _kcenter_select(spark, sf_dir)
    # centers ride as fixed-point lists + exact squared norms —
    # the quantized-cosine rank-key discipline (valuation.py module
    # docstring): distance per arriving row is an exact BIGINT
    # fold, then sqrt/mul/div on bit-identical doubles
    center_row = _stream_static(
        acc.agg(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("center_id"),
                    F.col("vq").alias("sq"),
                    F.col("qn2").alias("sn2"),
                )
            ).alias("centers")
        )
    )

    def transform(stream, staged):
        d_structs = F.transform(
            F.col("centers"),
            lambda s: F.struct(
                (F.lit(1.0) - quantized_cosine("vq", s["sq"], "na2", s["sn2"])).alias("d"),
                s["center_id"].alias("center_id"),
            ),
        )
        assigned = (
            stream.select(quantize_fp().alias("vq"))
            .withColumn("na2", dot_long("vq", "vq"))
            .join(F.broadcast(center_row), F.lit(True))
            .select(F.array_min(d_structs).alias("m"))
            .select(F.col("m.center_id").alias("center_id"), F.col("m.d").alias("d"))
        )
        return coverage_cells(assigned)

    # the release reads the drained sink twice: cut lazily
    drained = checkpoint_truncate(
        drain_staged(spark, sf_dir, "embeddings", transform, "complete"), eager=False
    )
    return coverage_release(drained, drained.agg(F.sum("pop").alias("total")))


class Twin(NamedTuple):
    """A batch query and its stream twin, written once. `accumulate`
    maps the input `table` to mergeable aggregate state and runs
    unchanged on a batch frame or a file stream; `release(acc,
    source)` turns that state into the answer, where `source()`
    returns the input table for the releases that read it. The batch
    query (a named function in its own module) is `release(
    accumulate(load_table(table)), ...)`; the stream query is
    generated: `release(drain_staged(table, accumulate), ...)`."""

    stream: str
    batch: str
    table: str
    accumulate: Callable[[DataFrame], DataFrame]
    release: Callable[[DataFrame, Callable[[], DataFrame]], DataFrame]
    output_mode: str


def _twin_stream(twin: Twin) -> Callable[[SparkSession, str], DataFrame]:
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        drained = drain_staged(
            spark, sf_dir, twin.table, lambda s, staged: twin.accumulate(s), twin.output_mode
        )
        # a release that reads the drained memory-sink table more than
        # once would self-join it (conflicting references); the lazy
        # truncation cuts the plan without a job of its own
        return twin.release(
            checkpoint_truncate(drained, eager=False),
            lambda: load_table(spark, sf_dir, twin.table),
        )

    query.__name__ = query.__qualname__ = twin.stream
    query.__doc__ = (
        f"`{twin.batch}` kept current during ingest: its accumulation is "
        f"{twin.output_mode}-mode state over a `{twin.table}` file stream, "
        "released from the drained snapshot (`Twin`)."
    )
    return query


TWINS = (
    Twin(
        "stream_quality_funnel", "quality_filter_funnel", "documents",
        quality.funnel_counts, lambda acc, docs: quality.funnel_unpack(acc), "complete",
    ),
    Twin(
        "stream_pii_scan", "pii_scan", "documents",
        privacy.pii_counts, lambda acc, docs: acc, "complete",
    ),
    Twin(
        "stream_template_extraction", "template_extraction", "documents",
        dedup.template_census, lambda acc, docs: dedup.template_release(acc), "complete",
    ),
    Twin(
        "stream_changelog_apply", "event_changelog_apply", "events",
        events.changelog_state, lambda acc, ev: events.changelog_snapshot(acc), "complete",
    ),
    Twin(
        "stream_dp_histogram", "dp_source_histogram", "documents",
        privacy.dp_counts, lambda acc, docs: privacy.dp_release(acc), "complete",
    ),
    Twin(
        "stream_group_dro", "group_dro_weights", "documents",
        quality.dro_tf, lambda acc, docs: quality.dro_release(acc), "complete",
    ),
    Twin(
        "stream_ks_drift", "ks_source_drift", "documents",
        textstats.ks_counts, lambda acc, docs: textstats.ks_release(acc), "complete",
    ),
    Twin(
        "stream_rfm_segments", "rfm_segments", "events",
        events.rfm_users, lambda acc, ev: events.rfm_release(acc), "complete",
    ),
    Twin(
        "stream_naive_bayes", "naive_bayes_source_model", "documents",
        textstats.nb_cells, lambda acc, docs: textstats.nb_release(acc, docs()), "complete",
    ),
    Twin(
        "stream_pareto_frontier", "pareto_frontier_docs", "documents",
        quality.pareto_maxima, lambda acc, docs: quality.pareto_release(acc, docs()),
        "complete",
    ),
    Twin(
        "stream_ab_test", "ab_test_analysis", "events",
        events.ab_users, lambda acc, ev: events.ab_release(acc), "complete",
    ),
)

QUERIES = {
    "stream_tumbling_windows": stream_tumbling_windows,
    "stream_sliding_windows": stream_sliding_windows,
    "stream_event_dedup": stream_event_dedup,
    "stream_user_sessions": stream_user_sessions,
    "stream_user_activity": stream_user_activity,
    "stream_click_attribution": stream_click_attribution,
    "stream_tier_rollup": stream_tier_rollup,
    "stream_kmv_sketch": stream_kmv_sketch,
    "stream_reservoir_sample": stream_reservoir_sample,
    "stream_mixing_weights": stream_mixing_weights,
    "stream_count_min": stream_count_min,
    "stream_decontamination": stream_decontamination,
    "stream_dedup_incremental": stream_dedup_incremental,
    "stream_ann_topk": stream_ann_topk,
    "stream_ivf_assign": stream_ivf_assign,
    "stream_hll_sketch": stream_hll_sketch,
    "stream_conversion_survival": stream_conversion_survival,
    "stream_quantile_sketch": stream_quantile_sketch,
    "stream_psi_drift": stream_psi_drift,
    "stream_cuped": stream_cuped,
    "stream_training_manifest": stream_training_manifest,
    "stream_kll_sketch": stream_kll_sketch,
    "stream_ann_hivf_topk": stream_ann_hivf_topk,
    "stream_ann_hivf_pq_topk": stream_ann_hivf_pq_topk,
    "stream_bitext_mining": stream_bitext_mining,
    "stream_semantic_dedup_hier": stream_semantic_dedup_hier,
    "stream_hivf_cell_balance": stream_hivf_cell_balance,
    "stream_label_noise": stream_label_noise,
    "stream_embedding_shift": stream_embedding_shift,
    "stream_coreset_coverage": stream_coreset_coverage,
} | {t.stream: _twin_stream(t) for t in TWINS}

ORACLE_SQL = {
    "stream_user_sessions": STREAM_USER_SESSIONS_SQL,
    "stream_user_activity": STREAM_USER_ACTIVITY_SQL,
    "stream_click_attribution": STREAM_CLICK_ATTRIBUTION_SQL,
    "stream_tier_rollup": STREAM_TIER_ROLLUP_SQL,
    "stream_kmv_sketch": _stream_kmv_sketch_sql(),
    "stream_mixing_weights": STREAM_MIXING_WEIGHTS_SQL,
    "stream_count_min": _stream_count_min_sql(),
    "stream_quantile_sketch": _stream_quantile_sketch_sql(),
}

# stream query -> the batch query whose oracle it shares verbatim: the
# specs, plus the hand-written twins whose stream and batch forms
# differ in more than the drain
BATCH_TWIN: dict[str, str] = {t.stream: t.batch for t in TWINS} | {
    "stream_tumbling_windows": "event_tumbling_windows",
    "stream_sliding_windows": "event_sliding_windows",
    "stream_event_dedup": "event_dedup",
    "stream_reservoir_sample": "reservoir_sample",
    "stream_decontamination": "decontamination",
    "stream_dedup_incremental": "dedup_incremental",
    "stream_ann_topk": "ann_ivf_topk",
    "stream_ivf_assign": "ivf_cell_balance",
    "stream_hll_sketch": "hll_distinct_sketch",
    "stream_conversion_survival": "conversion_survival",
    "stream_psi_drift": "event_psi_drift",
    "stream_cuped": "event_cuped_adjustment",
    "stream_training_manifest": "training_manifest",
    "stream_kll_sketch": "kll_quantile_sketch",
    "stream_ann_hivf_topk": "ann_hivf_topk",
    "stream_ann_hivf_pq_topk": "ann_hivf_pq_topk",
    "stream_bitext_mining": "bitext_mining",
    "stream_semantic_dedup_hier": "semantic_dedup_hier",
    "stream_hivf_cell_balance": "hivf_cell_balance",
    "stream_label_noise": "label_noise_incremental",
    "stream_embedding_shift": "embedding_shift_audit",
    "stream_coreset_coverage": "coreset_coverage_audit",
}
