"""Event-stream analytics in batch mode (SURVEY.md §2.8 extension).

The reference has no streaming surface; the driver's `events` table
(ts, user_id, event_type, value, props JSON) is the designated
extension target. Every query here is the *batch-equivalent* of a
Structured Streaming operator, which keeps the DuckDB oracle valid.
An operator shared with a stream twin (`tumbling`, `sliding`,
`dedup_counts`, the Twin accumulations) is written once, here, over a
batch-or-stream frame: the batch query applies it to the events table,
the twin (operators/streaming_queries.py) drains it with a watermark.

Timestamp discipline for cross-engine hashing: window starts are
emitted as epoch-second BIGINTs (floor-truncated), never raw
timestamps — Spark and DuckDB serialize timestamps differently but
agree on integers. value sums go through DECIMAL (value has 2 dp).

Scale notes: all aggregations key on (bucket, type) or user_id —
high-cardinality, unskewed; sessionization is a window over user_id
partitions (distributes on user hash; no global window anywhere).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60, md5_hash60_sql
from capstone_etl_spark.functions.windows import bounded_window_key
from capstone_etl_spark.operators.vocab import with_dense_ids
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached, cached_batch

SESSION_GAP_SEC = 30 * 60


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _dsum(col: Column) -> Column:
    return F.sum(col.cast("decimal(18,2)")).cast("double")


# The watermark bounds the event-time DISORDER a stream operator
# tolerates before dropping late rows and evicting state. In production
# (near-ordered arrival) minutes are right. A REPLAYED historical table
# arrives in arbitrary event-time order, so batch-exact replay needs a
# watermark beyond the replay disorder, the full data horizon
# (streaming_queries._horizon_watermark passes one). The late-drop
# behaviour itself is pinned by
# tests/test_streaming.py::test_watermark_drops_late.
WATERMARK = "30 minutes"


def _watermarked(ev: DataFrame, watermark: str) -> DataFrame:
    """A stream watermarked on ts; a batch frame as it is (same plan)."""
    return ev.withWatermark("ts", watermark) if ev.isStreaming else ev


def tumbling(ev: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """10-minute tumbling window × event_type over a batch or streaming
    events frame: count + exact sum(value). Uses the native F.window
    operator (epoch-aligned); start emitted as epoch seconds."""
    return (
        _watermarked(ev, watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling(_events(spark, sf_dir))


TUMBLING_WINDOWS_SQL = """
SELECT (FLOOR(epoch(ts) / 600) * 600)::BIGINT AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def sliding(ev: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """10-minute windows sliding every 5 over a batch or streaming
    events frame — each event lands in exactly 2 windows (native
    F.window with slide); on a stream, every event enters two
    overlapping state-store windows."""
    return (
        _watermarked(ev, watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("long").alias("window_start"), "n_events")
    )


def sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding(_events(spark, sf_dir))


SLIDING_WINDOWS_SQL = """
WITH exploded AS (
  SELECT ((FLOOR(epoch(ts) / 300) - i) * 300)::BIGINT AS window_start
  FROM events CROSS JOIN (VALUES (0), (1)) offsets(i)
)
SELECT window_start, COUNT(*) AS n_events FROM exploded GROUP BY 1
"""


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (gap > 30 min closes a session): the
    classic lag + conditional-cumsum window pattern, partitioned by
    user (distributes cleanly; no global state). Second granularity."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.col("ts").cast("long").alias("ts_sec")
    )
    by_user = Window.partitionBy("user_id").orderBy("ts_sec", "event_type")
    with_gap = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts_sec") - F.lag("ts_sec").over(by_user)) > SESSION_GAP_SEC, 1
        ).otherwise(0),
    )
    with_id = with_gap.withColumn(
        "session_seq",
        F.sum("new_session").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts_sec").alias("session_start"),
            F.max("ts_sec").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .withColumn("duration_sec", F.col("session_end") - F.col("session_start"))
    )


SESSIONIZE_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ts_sec FROM events
), with_gap AS (
  SELECT user_id, event_type, ts_sec,
         CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_type) > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), with_id AS (
  SELECT user_id, ts_sec,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec, event_type
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM with_gap
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts_sec) AS session_start, MAX(ts_sec) AS session_end,
       COUNT(*) AS n_events,
       MAX(ts_sec) - MIN(ts_sec) AS duration_sec
FROM with_id GROUP BY user_id, session_seq
"""


def props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column (F.get_json_object — the
    schema-on-read path; from_json with an explicit schema is the
    scale-preferred variant, used in streaming/)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


PROPS_JSON_ROLLUP_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def user_activity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by activity, ranked.

    orderBy + limit plans as TakeOrderedAndProject — a distributed
    partial top-k (each partition keeps its local top 20, the driver
    merges 20·P candidates) — instead of a row_number window that would
    move the ENTIRE per-user aggregate (10⁷–10⁸ rows at 100 TB) to one
    task. The rank is assigned after the limit, over exactly 20 rows;
    the explicit bounded_window_key documents that bounded
    single-partition stage (asserted in tests/test_plans.py)."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), _dsum(F.col("value")).alias("total_value")
    )
    top = per_user.orderBy(F.desc("n_events"), "user_id").limit(20)
    # bound: ≤ 20 rows — the .limit(20) slice above is the window input
    w = Window.partitionBy(bounded_window_key("user_id")).orderBy(
        F.desc("n_events"), "user_id"
    )
    return top.select(
        "user_id", "n_events", "total_value", F.row_number().over(w).cast("long").alias("rnk")
    )


USER_ACTIVITY_RANK_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, total_value, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS rnk FROM per_user
) t WHERE rnk <= 20
"""


def dedup_counts(ev: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Exact event dedup on (user_id, event_type, ts) then per-type
    counts, over a batch or streaming events frame. Event time is
    truncated to whole seconds first, so the keys match the oracle's
    DISTINCT on floored seconds. A stream deduplicates with
    dropDuplicatesWithinWatermark (state evicted past the watermark,
    which carries through into the per-type aggregation); a batch
    frame, where that call is rejected, with dropDuplicates."""
    keys = ["user_id", "event_type", "ts"]
    sec = ev.select(
        "user_id", "event_type", F.timestamp_seconds(F.col("ts").cast("long")).alias("ts")
    )
    if ev.isStreaming:
        deduped = sec.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    else:
        deduped = sec.dropDuplicates(keys)
    return deduped.groupBy("event_type").agg(F.count("*").alias("n_distinct_events"))


def event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_counts(_events(spark, sf_dir))


EVENT_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_distinct_events FROM (
  SELECT DISTINCT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ts_sec FROM events
) t GROUP BY event_type
"""


def daily_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event-type count matrix (pivot as portable CASE aggs)."""
    ev = _events(spark, sf_dir).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

    def cnt(t: str) -> Column:
        return F.count(F.when(F.col("event_type") == t, F.lit(1)))

    return ev.groupBy("day").agg(
        cnt("click").alias("n_click"),
        cnt("view").alias("n_view"),
        cnt("purchase").alias("n_purchase"),
        cnt("signup").alias("n_signup"),
        cnt("error").alias("n_error"),
    )


DAILY_TYPE_MATRIX_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM events GROUP BY 1
"""


def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly score per event type: each (type, day)
    count z-scored against that type's own distribution across days —
    the monitoring table an alerting pass thresholds (|z| spikes =
    traffic anomalies, instrumentation breaks, bot bursts).

    Sample std from EXACT integer sums (counts are ints, so n, Σx, Σx²
    are exact bigints on both engines); mean/std/z run in doubles on
    those identical integers — deterministic with no decimal snapping
    needed. The per-type moments come from a second small aggregation
    broadcast-joined back (types × days rows), not a window over
    unbounded days."""
    daily = (
        _events(spark, sf_dir)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    nd = F.col("n_days").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    mean = sx / nd
    # sample variance needs >= 2 days; a type seen on ONE day has no
    # distribution to score against — std/z are NULL, not a 0/0 (ANSI
    # Spark raises DIVIDE_BY_ZERO where DuckDB's IEEE division glides
    # into NaN; caught by the degenerate-events sweep)
    var = F.when(nd > 1, (nd * sxx - sx * sx) / (nd * (nd - 1)))
    std = F.sqrt(var)
    z = F.when(std > 0, (F.col("n").cast("double") - mean) / std)
    return daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n",
        F.round(mean, 6).alias("mean_daily"),
        F.round(std, 6).alias("std_daily"),
        F.round(z, 6).alias("zscore"),
    )


EVENT_ANOMALY_ZSCORE_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type,
         COUNT(*) AS n_days,
         CAST(SUM(n) AS BIGINT) AS sx,
         CAST(SUM(n * n) AS BIGINT) AS sxx
  FROM daily GROUP BY 1
)
, mom AS (
  SELECT event_type,
         CAST(sx AS DOUBLE) / n_days AS mean,
         CASE WHEN n_days > 1
              THEN SQRT((CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        / (CAST(n_days AS DOUBLE) * (n_days - 1)))
         END AS std
  FROM stats
)
SELECT d.event_type, d.day, d.n,
       ROUND(m.mean, 6) AS mean_daily,
       ROUND(m.std, 6) AS std_daily,
       ROUND(CASE WHEN m.std > 0
                  THEN (CAST(d.n AS DOUBLE) - m.mean) / m.std
             END, 6) AS zscore
FROM daily d JOIN mom m USING (event_type)
"""


def asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for every purchase, the most recent view AT OR BEFORE
    it by the same user. Implemented as the scale-correct window form —
    ONE shuffle on user_id and a running `last(ignorenulls)` over the
    time-ordered union — instead of a range join (which explodes on
    |purchases|×|views| per user and skews on hot users). Ties at the
    same second resolve by event_id (deterministic in both engines)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_sec"))
    enriched = ev.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts_sec").alias("purchase_ts"),
            "last_view_ts",
            (F.col("ts_sec") - F.col("last_view_ts")).alias("gap_sec"),
        )
    )


ASOF_LAST_VIEW_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ts_sec FROM events
), enriched AS (
  SELECT user_id, event_type, ts_sec,
         LAST_VALUE(CASE WHEN event_type = 'view' THEN ts_sec END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
  FROM ev
)
SELECT user_id, ts_sec AS purchase_ts, last_view_ts,
       ts_sec - last_view_ts AS gap_sec
FROM enriched WHERE event_type = 'purchase'
"""


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot API form of daily_type_matrix: groupBy(day)
    .pivot(event_type, values).count(). Passing the value list
    explicitly keeps the plan single-pass (no extra distinct scan to
    discover pivot columns) — the scale rule for pivot."""
    ev = _events(spark, sf_dir).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    out = ev.groupBy("day").pivot("event_type", list(EVENT_TYPES)).count()
    renamed = out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES]
    )
    return renamed


DAILY_TYPE_PIVOT_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM events GROUP BY 1
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) of value per
    event type — F.percentile is the EXACT sort-based aggregate (both
    engines interpolate linearly between order statistics; rounded 6dp
    against last-ulp drift in the interpolation arithmetic). The
    approx_percentile sketch is the scale alternative when exactness
    isn't required — not used here because sketch implementations
    differ across engines."""
    ev = _events(spark, sf_dir)
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.round(F.col("p")[0], 6).alias("p50"),
            F.round(F.col("p")[1], 6).alias("p90"),
            F.round(F.col("p")[2], 6).alias("p99"),
        )
    )


VALUE_PERCENTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged conversion funnel per user: first view → first click at or
    after it → first purchase at or after that. Each stage is a
    conditional min-aggregate over the previous stage's anchor — three
    aggregations all shuffling on the SAME key (user_id), so AQE reuses
    one partitioning; no windows over raw events, no per-user state.
    All comparisons are exact epoch-second longs."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.col("ts").cast("long").alias("ts_sec")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_sec") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_sec") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t_purchase"))
    )
    stage = (
        F.lit(1)
        + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase", stage.alias("funnel_stage"))
    )


USER_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ts_sec FROM events
), v AS (
  SELECT user_id, MIN(ts_sec) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts_sec) AS t_click
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts_sec >= v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts_sec) AS t_purchase
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts_sec >= c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-gap statistics per event_type: lag() over
    (user, type) event-time order derives each gap, then exact median /
    p90 / max per type. The lag window and the aggregation shuffle on
    different keys — unavoidable (the gap is per-user, the stat is
    per-type) but both keys are high-cardinality/uniform. Gaps are
    exact second longs; percentiles interpolate identically (Spark
    percentile == DuckDB percentile_cont on the same sorted longs),
    rounded to 6 dp."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.col("ts").cast("long").alias("ts_sec"), "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_sec", "event_id")
    gaps = ev.withColumn("gap", F.col("ts_sec") - F.lag("ts_sec").over(w)).filter(
        F.col("gap").isNotNull()
    )
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 6).alias("median_gap"),
        F.round(F.expr("percentile(gap, 0.9)"), 6).alias("p90_gap"),
        F.max("gap").alias("max_gap"),
    )


EVENT_GAP_STATS_SQL = """
WITH ev AS (
  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ts_sec, event_id FROM events
), gaps AS (
  SELECT event_type,
         ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts_sec, event_id) AS gap
  FROM ev
)
SELECT event_type, COUNT(*) AS n_gaps,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap), 6) AS median_gap,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap), 6) AS p90_gap,
       MAX(gap) AS max_gap
FROM gaps WHERE gap IS NOT NULL
GROUP BY event_type
"""


def user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) cohorting of users by lifetime value — equal-count
    buckets over the per-user aggregate, ordered by the exact DECIMAL
    total with user_id tiebreak so bucket boundaries are a total order
    in both engines.

    NO global ntile window: the per-user relation is 10⁷–10⁸ rows at
    100 TB and an unpartitioned window would move all of it to one
    task. Instead: distributed global rank via `with_dense_ids`
    (range sort + partition-offset rank), the row count joined in as a
    1-row broadcast cross join, and the SQL-standard NTILE bucket
    derived arithmetically — with n rows and k buckets the first
    n mod k buckets hold floor(n/k)+1 rows, the rest floor(n/k)."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total")
    )
    ranked = with_dense_ids(per_user, [F.col("total").desc(), F.col("user_id")], "_rid")
    n = ranked.agg(F.count("*").alias("_n"))
    q = F.floor(F.col("_n") / 10)
    rem = F.col("_n") % 10
    cut = rem * (q + 1)
    decile = F.when(F.col("_rid") < cut, F.floor(F.col("_rid") / (q + 1))).otherwise(
        rem + F.floor((F.col("_rid") - cut) / F.greatest(q, F.lit(1)))
    ) + 1
    return ranked.crossJoin(F.broadcast(n)).select(
        "user_id",
        F.col("total").cast("double").alias("total_value"),
        decile.cast("long").alias("decile"),
    )


USER_VALUE_DECILES_SQL = """
WITH per_user AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(total AS DOUBLE) AS total_value,
       CAST(NTILE(10) OVER (ORDER BY total DESC, user_id) AS BIGINT) AS decile
FROM per_user
"""


def day_type_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE (day, event_type): all four grouping sets — cells,
    day subtotals, type subtotals, grand total — in one pass (Spark
    expands the sets before the hash agg, one shuffle; complements the
    ROLLUP in relational.order_priority_rollup). grouping_id separates
    subtotal rows from genuine NULL keys."""
    ev = _events(spark, sf_dir)
    return (
        ev.cube(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select("day", "event_type", "gid", "n_events", "total_value")
    )


DAY_TYPE_CUBE_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       CAST(GROUPING(strftime(ts, '%Y-%m-%d'), event_type) AS BIGINT) AS gid,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY CUBE (strftime(ts, '%Y-%m-%d'), event_type)
"""


def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUP BY GROUPING SETS ((day, type), (day), (type)) —
    the à-la-carte multi-grain aggregation CUBE/ROLLUP can't express
    (here: cells plus both one-dimensional subtotals, but NO grand
    total). Spark expands the sets before ONE hash aggregation (one
    shuffle for all three grains); grouping_id disambiguates subtotal
    rows from genuine NULL keys, same convention as day_type_cube."""
    ev = _events(spark, sf_dir)
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    return (
        ev.select(day, "event_type", "value")
        .groupingSets(
            [["day", "event_type"], ["day"], ["event_type"]], "day", "event_type"
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select("day", "event_type", "gid", "n_events", "total_value")
    )


GROUPING_SETS_REPORT_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       CAST(GROUPING(strftime(ts, '%Y-%m-%d'), event_type) AS BIGINT) AS gid,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY GROUPING SETS ((strftime(ts, '%Y-%m-%d'), event_type),
                        (strftime(ts, '%Y-%m-%d')), (event_type))
"""


TRAIL_SEC = 3600


def trailing_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1-hour activity per user via a RANGE window
    frame (rangeBetween on epoch seconds) — the value-based frame class
    the row-frame queries don't cover: the frame holds every event
    within the last hour of EVENT TIME, not the last N rows. One
    shuffle on user_id; the running sum accumulates in exact DECIMAL
    (a double running sum would drift between engines under DuckDB's
    segment-tree association)."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ts_sec"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-TRAIL_SEC, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.count("*").over(w).alias("n_trailing"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("trailing_value"),
    )


TRAILING_USER_VALUE_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, FLOOR(epoch(ts))::BIGINT AS ts_sec, value FROM events
)
SELECT event_id, user_id, ts_sec,
       COUNT(*) OVER w AS n_trailing,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_value
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
             RANGE BETWEEN {TRAIL_SEC} PRECEDING AND CURRENT ROW)
"""


EWMA_W = 7  # trailing observations in the smoothing frame


def ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily value per event
    type (α = 1/2, truncated to the trailing EWMA_W observations) —
    the trend-smoothing readout a monitoring pipeline layers over the
    daily aggregates, with exact cross-engine arithmetic.

    Exactness: the daily total is an exact DECIMAL sum converted to
    integer cents; the frame is unrolled into EWMA_W LAG columns with
    power-of-two integer weights (64, 32, …, 1), so numerator and
    denominator are exact int64 on both engines and the single final
    division is deterministic IEEE. A float running recurrence would
    drift between engines; a window-sum of weighted doubles would too.

    Scale: the window partitions on event_type — LOW cardinality, but
    it runs over the already-aggregated (day × type) relation, whose
    size is bounded by the calendar, not the corpus: at 100 TB the
    input to this window is still |days|·|types| rows. The heavy
    lifting (the daily aggregate) shuffles on the uniform (day, type)
    key."""
    ev = _events(spark, sf_dir)
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    daily = ev.groupBy(day, "event_type").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("dv")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    v_cents = (F.col("dv") * 100).cast("long")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    n_obs = F.lit(0).cast("long")
    for k in range(EWMA_W):
        lg = F.lag(v_cents, k).over(w)
        wt = 1 << (EWMA_W - 1 - k)
        num = num + F.coalesce(lg, F.lit(0)) * wt
        den = den + F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        n_obs = n_obs + F.when(lg.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    return daily.select(
        "event_type",
        "day",
        F.col("dv").cast("double").alias("daily_value"),
        n_obs.cast("long").alias("n_obs"),
        F.round(num / den / F.lit(100), 6).alias("ewma"),
    )


def _ewma_sql() -> str:
    num_terms, den_terms, obs_terms = [], [], []
    for k in range(EWMA_W):
        lg = f"LAG(v_cents, {k}) OVER w"
        wt = 1 << (EWMA_W - 1 - k)
        num_terms.append(f"COALESCE({lg}, 0) * {wt}")
        den_terms.append(f"CASE WHEN {lg} IS NOT NULL THEN {wt} ELSE 0 END")
        obs_terms.append(f"CASE WHEN {lg} IS NOT NULL THEN 1 ELSE 0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    obs = " + ".join(obs_terms)
    return f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
         SUM(CAST(value AS DECIMAL(18,2))) AS dv
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       CAST(dv AS DOUBLE) AS daily_value,
       CAST({obs} AS BIGINT) AS n_obs,
       ROUND(CAST({num} AS BIGINT) / CAST({den} AS BIGINT) / 100, 6) AS ewma
FROM (SELECT event_type, day, dv, CAST(dv * 100 AS BIGINT) AS v_cents FROM daily)
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


EWMA_DAILY_SQL = _ewma_sql()


def event_double_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing over the daily totals —
    ewma_daily's kernel applied twice, yielding a TREND estimate and a
    one-step forecast per (event_type, day): with e1 the first smooth
    and e2 the smooth of e1 (both α = 1/2, truncated to EWMA_W),
    level = 2·e1 − e2, trend = e1 − e2 (α/(1−α) = 1 at α = 1/2), and
    forecast_next = level + trend. The monitoring layer's "where is
    this heading tomorrow" readout on top of the existing smoother.

    Exactness: pass 1 is ewma_daily's exact integer kernel (one IEEE
    division, ROUND 6); its 6dp output converts to integer MICROS
    (floor(e1·1e6 + 0.5) — exact, the quantize_fp recipe; a decimal
    snap overflowed on 1e9-scale daily totals), so pass 2's unrolled
    lag·weight sum is exact int64 algebra with one division at the
    end; level/trend/forecast are identical IEEE expressions over the
    two ROUND(·,6) smooths. int64 headroom: |e1| ≲ 7e10 with the
    127-weight kernel. Scale: both windows run over the
    calendar-bounded (day × type) relation — ewma_daily's argument
    verbatim."""
    ev = _events(spark, sf_dir)
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    daily = ev.groupBy(day, "event_type").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("dv")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    v_cents = (F.col("dv") * 100).cast("long")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for k in range(EWMA_W):
        lg = F.lag(v_cents, k).over(w)
        wt = 1 << (EWMA_W - 1 - k)
        num = num + F.coalesce(lg, F.lit(0)) * wt
        den = den + F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    e1 = F.round(num / den / F.lit(100), 6)
    pass1 = daily.select(
        "event_type",
        "day",
        e1.alias("ewma1"),
        F.floor(e1 * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("e1_micro"),
    )
    num2 = F.lit(0).cast("long")
    den2 = F.lit(0).cast("long")
    for k in range(EWMA_W):
        lg = F.lag("e1_micro", k).over(w)
        wt = 1 << (EWMA_W - 1 - k)
        num2 = num2 + F.coalesce(lg, F.lit(0)) * wt
        den2 = den2 + F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    pass2 = pass1.select(
        "event_type", "day", "ewma1", num2.alias("num2"), den2.alias("den2")
    )
    both = pass2.select(
        "event_type",
        "day",
        "ewma1",
        F.round(F.col("num2") / F.col("den2") / F.lit(1000000.0), 6).alias("ewma2"),
    )
    level = F.round(F.lit(2.0) * F.col("ewma1") - F.col("ewma2"), 6)
    trend = F.round(F.col("ewma1") - F.col("ewma2"), 6)
    return both.select(
        "event_type",
        "day",
        "ewma1",
        "ewma2",
        level.alias("level"),
        trend.alias("trend"),
        F.round(level + trend, 6).alias("forecast_next"),
    )


def _double_ewma_sql() -> str:
    num_terms, den_terms = [], []
    n2_terms, d2_terms = [], []
    for k in range(EWMA_W):
        lg = f"LAG(v_cents, {k}) OVER w"
        wt = 1 << (EWMA_W - 1 - k)
        num_terms.append(f"COALESCE({lg}, 0) * {wt}")
        den_terms.append(f"CASE WHEN {lg} IS NOT NULL THEN {wt} ELSE 0 END")
        lg2 = f"LAG(e1_micro, {k}) OVER w2"
        n2_terms.append(f"COALESCE({lg2}, 0) * {wt}")
        d2_terms.append(f"CASE WHEN {lg2} IS NOT NULL THEN {wt} ELSE 0 END")
    num, den = " + ".join(num_terms), " + ".join(den_terms)
    n2, d2 = " + ".join(n2_terms), " + ".join(d2_terms)
    return f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
         SUM(CAST(value AS DECIMAL(18,2))) AS dv
  FROM events GROUP BY 1, 2
), cents AS (
  SELECT event_type, day, CAST(dv * 100 AS BIGINT) AS v_cents FROM daily
), pass1 AS (
  SELECT event_type, day,
         ROUND(CAST({num} AS BIGINT) / CAST({den} AS BIGINT) / 100, 6) AS ewma1,
         CAST(floor(ROUND(CAST({num} AS BIGINT) / CAST({den} AS BIGINT) / 100, 6)
              * 1000000.0 + 0.5) AS BIGINT) AS e1_micro
  FROM cents
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
), pass2 AS (
  SELECT event_type, day, ewma1,
         CAST({n2} AS BIGINT) AS num2,
         CAST({d2} AS BIGINT) AS den2
  FROM pass1
  WINDOW w2 AS (PARTITION BY event_type ORDER BY day)
), smooths AS (
  SELECT event_type, day, ewma1,
         ROUND(num2 / den2 / 1000000.0, 6) AS ewma2
  FROM pass2
)
SELECT event_type, day, ewma1, ewma2,
       ROUND(2.0 * ewma1 - ewma2, 6) AS level,
       ROUND(ewma1 - ewma2, 6) AS trend,
       ROUND(ROUND(2.0 * ewma1 - ewma2, 6) + ROUND(ewma1 - ewma2, 6), 6) AS forecast_next
FROM smooths
"""


EVENT_DOUBLE_EWMA_SQL = _double_ewma_sql()


def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: regularize each user's
    event stream onto a dense daily grid (observability/feature-store
    staple the raw queries don't cover — downstream models need one
    row per (user, day) even for silent days).

    Three stages, all distributed: (1) daily aggregate per user —
    one shuffle on (user_id, day); (2) per-user date spine generated
    EXECUTOR-SIDE with `sequence(min_day, max_day)` + explode off the
    per-user bounds aggregate — no driver-side calendar loop, and the
    spine length is bounded by each user's own active span, not the
    global range; (3) forward fill = `last(value, ignorenulls)` over a
    per-user ordered window. The daily relation is consumed twice
    (bounds + the spine join), so it's cached. At 100 TB the spine
    join shuffles on (user_id, day) with uniform keys; the window
    shuffles on user_id — both AQE-coalescible."""
    daily = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") < 10)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(_dsum(F.col("value")).alias("day_value"))
        .transform(cached)
    )
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("filled_value", F.last("day_value", ignorenulls=True).over(w))
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "day_value",
            "filled_value",
            F.col("day_value").isNull().cast("int").alias("is_gap"),
        )
        .orderBy("user_id", "day")
    )


GAP_FILL_DAILY_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
  FROM events WHERE user_id < 10 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), spine AS (
  SELECT user_id, CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day, d.day_value,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       CAST(d.day_value IS NULL AS INT) AS is_gap
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
ORDER BY s.user_id, s.day
"""


def props_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing — the PII-redaction operator shape a training
    pipeline runs before anything else: mask every digit run in the
    raw payload, count what was masked (the audit column compliance
    wants), and emit a stable hash of the redacted form for
    dedup-after-redaction. Pure per-row column math (regexp_replace /
    regexp_extract_all stay in whole-stage codegen, no UDF, no
    shuffle); the regex is kept to the Java∩RE2 common subset so the
    DuckDB oracle masks identically."""
    ev = _events(spark, sf_dir)
    redacted = F.regexp_replace(F.col("props"), "[0-9]+", "<num>")
    return ev.select(
        "event_id",
        redacted.alias("props_redacted"),
        F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), 0)).cast("long").alias("n_masked"),
        F.md5(redacted).alias("redacted_hash"),
    )


PROPS_REDACTION_SQL = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '<num>', 'g') AS props_redacted,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked,
       md5(regexp_replace(props, '[0-9]+', '<num>', 'g')) AS redacted_hash
FROM events
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users cohorted by FIRST-PURCHASE week, counted
    per subsequent activity week (the product-analytics staple the
    other event queries don't cover; purchase-based cohorts, since in
    this corpus every user is *seen* from week 1).

    Two aggregations, no self-join: (1) per-user first-purchase week
    via min over a per-user agg (one user_id shuffle; users who never
    purchase drop out via the inner join — documented); (2) distinct
    (user, activity-week) joined to the cohort label and counted. The
    cohort relation is per-user (small, broadcastable at any scale
    where users ≪ events); retention_pct divides two exact counts, so
    the doubles agree bit-for-bit.

    Weeks are ABSOLUTE (Monday-truncated dates via date_trunc), not
    weekofyear ordinals: ordinals wrap at year boundaries, so a
    Dec-cohorted user active in Jan would land in week 1 < cohort
    week 52 and corrupt weeks_since (ADVICE r3). Both engines
    truncate to Monday, and weeks_since = day-diff / 7 is exact
    because both endpoints are week-starts."""
    raw = _events(spark, sf_dir)
    week = F.date_trunc("week", F.col("ts")).cast("date")
    ev = raw.select("user_id", week.alias("week"))
    first_week = (
        raw.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(week).alias("cohort_week"))
    )
    active = ev.distinct()
    cohort_sizes = first_week.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        active.join(F.broadcast(first_week), "user_id")
        .groupBy("cohort_week", F.col("week").alias("active_week"))
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "active_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("weeks_since"),
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias("retention_pct"),
        )
        .orderBy("cohort_week", "active_week")
    )


RETENTION_COHORTS_SQL = """
WITH ev AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
), first_week AS (
  SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), cohort_sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM first_week GROUP BY cohort_week
), act AS (
  SELECT f.cohort_week, e.week AS active_week, COUNT(*) AS n_active
  FROM ev e JOIN first_week f USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, active_week,
       CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT) AS weeks_since,
       n_active, cohort_size,
       CAST(n_active AS DOUBLE) / cohort_size AS retention_pct
FROM act JOIN cohort_sizes USING (cohort_week)
ORDER BY cohort_week, active_week
"""


HIST_BIN_WIDTH = 50.0
HIST_N_BINS = 10


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (10 × 50-unit bins, last
    bin open-ended): binning is pure floor arithmetic — a per-row
    expression that pushes work map-side, one tiny shuffle on the bin
    id. The bin edges are exact halves/integers, so float boundary
    cases bin identically across engines."""
    ev = _events(spark, sf_dir)
    bin_id = F.least(
        F.greatest(F.floor(F.col("value") / HIST_BIN_WIDTH), F.lit(0)), F.lit(HIST_N_BINS - 1)
    ).cast("long")
    return (
        ev.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count("*").alias("n_events"),
            _dsum(F.col("value")).alias("bin_value_sum"),
        )
        .select(
            "bin_id",
            (F.col("bin_id") * HIST_BIN_WIDTH).alias("bin_lo"),
            "n_events",
            "bin_value_sum",
        )
        .orderBy("bin_id")
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT bin_id, bin_id * {HIST_BIN_WIDTH} AS bin_lo, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bin_value_sum
FROM (
  SELECT CAST(least(greatest(floor(value / {HIST_BIN_WIDTH}), 0), {HIST_N_BINS - 1}) AS BIGINT) AS bin_id,
         value
  FROM events
) t
GROUP BY bin_id
ORDER BY bin_id
"""


def user_value_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window flavors in one query: each user's
    lifetime value with percent_rank, cume_dist, and the global
    median-position value — all DISTRIBUTED. The order keys
    (total, user_id) are unique, so rank == row_number and the window
    functions reduce to arithmetic over a distributed dense rank:
    percent_rank = rid/(n-1), cume_dist = (rid+1)/n. The median's
    value is the row at 1-based position floor((n+1)/2), selected with
    the count relation and joined back — two 1-row broadcast cross
    joins, no unpartitioned window over the per-user relation
    (10⁷–10⁸ rows at 100 TB). Ratios divide exact longs —
    deterministic doubles on both engines."""
    ev = _events(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total")
    )
    ranked = with_dense_ids(totals, [F.col("total"), F.col("user_id")], "_rid")
    n = ranked.agg(F.count("*").alias("_n"))
    median = (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.col("_rid") == F.floor((F.col("_n") + 1) / 2) - 1)
        .select(F.col("total").cast("double").alias("p50ish_value"))
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(median))
        .select(
            "user_id",
            F.col("total").cast("double").alias("total_value"),
            # n == 1 guard: _rid/(n-1) is 0/0 → NULL, but PERCENT_RANK
            # is DEFINED as 0.0 for a single row (ADVICE r3).
            F.round(
                F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
                    F.col("_rid") / (F.col("_n") - 1)
                ),
                6,
            ).alias("pct_rank"),
            F.round((F.col("_rid") + 1) / F.col("_n"), 6).alias("cume"),
            "p50ish_value",
        )
        .orderBy("user_id")
    )


USER_VALUE_RANK_PROFILE_SQL = """
WITH totals AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total
  FROM events GROUP BY user_id
),
cnt AS (SELECT COUNT(*) AS n FROM totals),
ranked AS (
  SELECT user_id, total,
         ROW_NUMBER() OVER (ORDER BY total, user_id) AS rid
  FROM totals
),
median AS (
  SELECT CAST(total AS DOUBLE) AS p50ish_value
  FROM ranked CROSS JOIN cnt WHERE rid = (n + 1) // 2
)
SELECT user_id, CAST(total AS DOUBLE) AS total_value,
       ROUND(PERCENT_RANK() OVER (ORDER BY total, user_id), 6) AS pct_rank,
       ROUND(CUME_DIST() OVER (ORDER BY total, user_id), 6) AS cume,
       p50ish_value
FROM totals CROSS JOIN median
ORDER BY user_id
"""


def daily_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT — reshaping's other half: the wide daily matrix melted
    back to long (day, event_type, n) via the native unpivot operator
    (Spark plans it as a single Expand node — one pass, rows × k
    output, no self-union of scans). Round-trips daily_type_pivot:
    pivot ∘ unpivot = identity modulo zero rows, which the oracle's
    UNION-ALL melt mirrors. Zero-count cells are kept (explicit in
    both engines) so the long form is dense."""
    wide = daily_type_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            "day",
            [f"n_{t}" for t in EVENT_TYPES],
            "event_type",
            "n",
        )
        .withColumn("event_type", F.expr("substring(event_type, 3)"))
        .orderBy("day", "event_type")
    )


DAILY_TYPE_UNPIVOT_SQL = """
WITH wide AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
         COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
  FROM events GROUP BY 1
)
SELECT day, event_type, n FROM (
  SELECT day, 'click' AS event_type, n_click AS n FROM wide
  UNION ALL SELECT day, 'view', n_view FROM wide
  UNION ALL SELECT day, 'purchase', n_purchase FROM wide
  UNION ALL SELECT day, 'signup', n_signup FROM wide
  UNION ALL SELECT day, 'error', n_error FROM wide
) t
ORDER BY day, event_type
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: counts and conditional probabilities of type→type
    transitions (the sequence-analytics primitive behind funnels and
    journey maps). One lag window per user (ordered by event time with
    event_id tiebreak — simultaneous events get a deterministic
    order), one hash agg on the (from, to) pair, and the row-
    normalizing denominator is a windowed exact count — probability =
    exact-int division, bit-identical across engines."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("from_type")
    return (
        counts.select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.sum("n").over(wrow)).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
FROM pairs
ORDER BY from_type, to_type
"""


def scd_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the event stream:
    consecutive same-type runs per user collapse into validity
    intervals [valid_from, valid_to) with is_current on the open one —
    the standard warehouse shape for "what was this user's state at
    time T" (point-in-time joins read it with BETWEEN).

    Plan: gaps-and-islands — two row_numbers per user (their
    difference is constant within a run), one aggregate per island,
    one LEAD for the closing edge. All three windows partition on
    user_id (uniform key, bounded by a user's own history); nothing is
    corpus-global. Exactness: interval edges are the event timestamps
    themselves (cast to long seconds; no float anywhere)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.col("ts").cast("long").alias("ts_sec"), "event_id"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts_sec", "event_id")
    islands = ev.select(
        "user_id",
        "event_type",
        "ts_sec",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"),
    )
    runs = islands.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts_sec").alias("valid_from"),
        F.min("event_id").alias("eid0"),
        F.count("*").cast("long").alias("n_events"),
    )
    # two runs share valid_from when events of different types tie at
    # the same second — LEAD over that tie is order-nondeterministic,
    # so the run sequence tiebreaks on the run's first event_id (the
    # same total order the island row_numbers used; degenerate-events
    # sweep)
    w_run = Window.partitionBy("user_id").orderBy("valid_from", "eid0")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        F.lead("valid_from").over(w_run).isNull().alias("is_current"),
        "n_events",
    )


EVENT_SCD_INTERVALS_SQL = """
WITH ev AS (
  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ts_sec, event_id
  FROM events
), islands AS (
  SELECT user_id, event_type, ts_sec, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts_sec, event_id) AS grp
  FROM ev
), runs AS (
  SELECT user_id, event_type, MIN(ts_sec) AS valid_from,
         MIN(event_id) AS eid0,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM islands GROUP BY user_id, event_type, grp
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, eid0) AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, eid0) IS NULL AS is_current,
       n_events
FROM runs
"""


# CDC tombstone type: an 'error' event is read as a DELETE of the
# user's record; every other type is an UPSERT carrying `value`.
CDC_DELETE_TYPE = "error"


def changelog_state(ev: DataFrame) -> DataFrame:
    """The shared CDC aggregation over a raw events relation (batch
    table or stream): per-user max(struct) last-writer state + change
    counters — every aggregate is associative, so per-shard/per-
    micro-batch partials merge exactly (stream_changelog_apply keeps
    it as complete-mode state; complete mode never evicts, so it takes
    no watermark)."""
    ev = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("ts_sec"),
        "event_id",
        "event_type",
        "value",
    )
    return ev.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("ts_sec").alias("ts_sec"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("event_type"),
                F.col("value").alias("value"),
            )
        ).alias("w"),
        F.count("*").cast("long").alias("n_changes"),
        F.sum((F.col("event_type") == CDC_DELETE_TYPE).cast("long")).alias("n_deletes"),
    )


def changelog_snapshot(state: DataFrame) -> DataFrame:
    """Tombstone filter + projection over changelog_state's output —
    shared by the batch apply and the drained streaming snapshot so
    the two can never drift."""
    return state.filter(F.col("w.event_type") != CDC_DELETE_TYPE).select(
        "user_id",
        F.col("w.ts_sec").alias("last_ts"),
        F.col("w.event_id").alias("last_event_id"),
        F.col("w.event_type").alias("last_type"),
        F.col("w.value").alias("last_value"),
        "n_changes",
        "n_deletes",
    )


def changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse MERGE / CDC-apply semantics as a query: read the
    event stream as a changelog keyed by user_id (each event upserts
    the user's record; CDC_DELETE_TYPE is a tombstone) and materialize
    the last-writer-wins snapshot — one row per user whose LATEST
    change is not a delete, carrying that change's fields plus the
    change-history audit counts.

    The argmax is one max(struct(ts_sec, event_id, …)) per user — the
    keep-best discipline, no windows; (ts_sec, event_id) is a total
    order because event_id is unique, so both engines pick the same
    winner on timestamp ties (the degenerate-events fixture has
    same-second writes). 100 TB: a changelog apply is ONE shuffle on
    the record key regardless of history depth, and at scale the same
    aggregate runs incrementally (changelog_state's partial argmax
    merges by max — the structure is associative)."""
    return changelog_snapshot(changelog_state(_events(spark, sf_dir)))


CHANGELOG_APPLY_SQL = f"""
WITH ev AS (
  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS ts_sec, event_id, event_type, value
  FROM events
), ranked AS (
  SELECT user_id, ts_sec, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_sec DESC, event_id DESC) AS rn
  FROM ev
), counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_changes,
         CAST(SUM(CASE WHEN event_type = '{CDC_DELETE_TYPE}' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
  FROM ev GROUP BY 1
)
SELECT r.user_id, r.ts_sec AS last_ts, r.event_id AS last_event_id,
       r.event_type AS last_type, r.value AS last_value,
       c.n_changes, c.n_deletes
FROM ranked r JOIN counts c USING (user_id)
WHERE r.rn = 1 AND r.event_type <> '{CDC_DELETE_TYPE}'
"""


# ------------------------------------------------------ A/B experiment
#
# End-to-end experiment readout over the event stream. Assignment is
# how production experiment frameworks actually do it — a salted hash
# of the unit id (user), so it is stable across sessions, uniform
# across variants, and reproducible from the id alone (no assignment
# table to join). Exposure = the user's first 'view'; conversion = a
# 'purchase' strictly after that exposure (post-exposure discipline:
# pre-experiment purchases cannot count). The readout is the standard
# two-proportion z-test on conversion rates.
AB_SALT = "ab:v1:"
AB_VARIANTS = 2
AB_EXPOSE_TYPE = "view"
AB_CONVERT_TYPE = "purchase"


def ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, n_exposed, n_converted, conv_rate, abs_lift,
    rel_lift, z_score) — one row per variant; the three cross-variant
    columns (treatment minus/over control, pooled-variance z) repeat on
    both rows so the table is self-contained.

    Scale plan: one user-keyed aggregation (ab_users), then one global
    aggregation (ab_readout) — a single user-keyed shuffle regardless
    of event count, no join; stream_ab_test keeps the same per-user
    state during ingest (a `Twin`). Exactness: counts are exact int64;
    rates/z divide identical doubles and round once."""
    return ab_release(ab_users(_events(spark, sf_dir)))


def ab_users(ev: DataFrame) -> DataFrame:
    """(user_id, mn, mx, exposed) over a batch-or-stream events frame:
    first view and last purchase in exact microseconds, and whether the
    user has any view row (a view with a NULL ts still exposes, as the
    oracle's MIN(ts) … GROUP BY keeps the user). min/max merge
    order-free, so a purchase arriving batches before its view still
    classifies correctly."""
    is_view = F.col("event_type") == AB_EXPOSE_TYPE
    us = F.unix_micros("ts")
    return (
        ev.filter(F.col("event_type").isin(AB_EXPOSE_TYPE, AB_CONVERT_TYPE))
        .groupBy("user_id")
        .agg(
            F.min(F.when(is_view, us)).alias("mn"),
            F.max(F.when(~is_view, us)).alias("mx"),
            F.max(is_view).alias("exposed"),
        )
    )


def ab_release(users: DataFrame) -> DataFrame:
    """Exposed users → (variant, conv) → ab_readout. No purchase or no
    timed view makes mx > mn NULL: not converted."""
    return ab_readout(
        users.filter(F.col("exposed")).select(
            ab_variant_col().alias("variant"),
            F.coalesce((F.col("mx") > F.col("mn")).cast("long"), F.lit(0)).alias("conv"),
        )
    )


def ab_variant_col(user_col: str = "user_id") -> Column:
    """The deterministic experiment assignment — shared by the batch
    readout and the streaming twin so the two can never split users
    differently."""
    return (
        md5_hash60(F.concat(F.lit(AB_SALT), F.col(user_col).cast("string")))
        % AB_VARIANTS
    ).cast("long")


def ab_readout(per_user: DataFrame) -> DataFrame:
    """(variant, conv 0/1) exposed-user rows → the per-arm readout from
    ONE global aggregation: n{v}/c{v} per arm, the lift and z scalars
    on that row, the arm rows unpacked from it. An arm with no exposed
    users has NULL counts and no row, as under groupBy("variant")."""
    arms = range(AB_VARIANTS)
    tot = per_user.agg(
        *[F.sum(F.when(F.col("variant") == v, 1)).alias(f"n{v}") for v in arms],
        *[F.sum(F.when(F.col("variant") == v, F.col("conv"))).alias(f"c{v}") for v in arms],
    )
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    p0, p1 = c0 / n0, c1 / n1
    pooled = (c0 + c1) / (n0 + n1)
    se = F.sqrt(pooled * (1 - pooled) * (1 / n0 + 1 / n1))
    # guards: a zero-conversion control (p0 = 0) or an all-or-nothing
    # pooled rate (se = 0) yields NULL — Spark ANSI would throw on /0
    # and DuckDB would emit inf; NULL is the cross-engine agreement
    rows = F.array(
        *[
            F.struct(
                F.lit(v).cast("long").alias("variant"),
                F.col(f"n{v}").alias("n_exposed"),
                F.col(f"c{v}").alias("n_converted"),
            )
            for v in arms
        ]
    )
    return tot.select(
        F.inline(rows),
        F.round(p1 - p0, 6).alias("abs_lift"),
        F.when(p0 > 0, F.round((p1 - p0) / p0, 6)).alias("rel_lift"),
        F.when(se > 0, F.round((p1 - p0) / se, 6)).alias("z_score"),
    ).filter(F.col("n_exposed") > 0).select(
        "variant",
        "n_exposed",
        "n_converted",
        F.round(F.col("n_converted").cast("double") / F.col("n_exposed"), 6).alias("conv_rate"),
        "abs_lift",
        "rel_lift",
        "z_score",
    )


def _ab_test_sql() -> str:
    v = md5_hash60_sql(f"'{AB_SALT}' || CAST(user_id AS VARCHAR)")
    return f"""
WITH exposed AS (
  SELECT user_id, MIN(ts) AS first_view, ({v}) % {AB_VARIANTS} AS variant
  FROM events WHERE event_type = '{AB_EXPOSE_TYPE}' GROUP BY user_id
), converted AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN exposed x ON e.user_id = x.user_id
  WHERE e.event_type = '{AB_CONVERT_TYPE}' AND e.ts > x.first_view
), per_variant AS (
  SELECT x.variant,
         CAST(COUNT(*) AS BIGINT) AS n_exposed,
         CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
  FROM exposed x LEFT JOIN converted c ON x.user_id = c.user_id
  GROUP BY 1
), piv AS (
  SELECT CAST(SUM(CASE WHEN variant = 0 THEN n_exposed END) AS DOUBLE) AS n0,
         CAST(SUM(CASE WHEN variant = 0 THEN n_converted END) AS DOUBLE) AS c0,
         CAST(SUM(CASE WHEN variant = 1 THEN n_exposed END) AS DOUBLE) AS n1,
         CAST(SUM(CASE WHEN variant = 1 THEN n_converted END) AS DOUBLE) AS c1
  FROM per_variant
), stats AS (
  SELECT ROUND(c1 / n1 - c0 / n0, 6) AS abs_lift,
         CASE WHEN c0 / n0 > 0
              THEN ROUND((c1 / n1 - c0 / n0) / (c0 / n0), 6)
         END AS rel_lift,
         CASE WHEN sqrt(((c0 + c1) / (n0 + n1)) * (1 - (c0 + c1) / (n0 + n1)) * (1 / n0 + 1 / n1)) > 0
              THEN ROUND((c1 / n1 - c0 / n0)
                         / sqrt(((c0 + c1) / (n0 + n1)) * (1 - (c0 + c1) / (n0 + n1)) * (1 / n0 + 1 / n1)), 6)
         END AS z_score
  FROM piv
)
SELECT variant, n_exposed, n_converted,
       ROUND(CAST(n_converted AS DOUBLE) / n_exposed, 6) AS conv_rate,
       abs_lift, rel_lift, z_score
FROM per_variant CROSS JOIN stats
"""


AB_TEST_ANALYSIS_SQL = _ab_test_sql()


# ---------------------------------------------------- heavy-tail index
#
# Hill estimator of the value distribution's tail exponent: with the
# top-(k+1) order statistics x(1) ≥ … ≥ x(k+1),
#     ξ = (1/k) Σ_{i≤k} ln(x(i) / x(k+1)),   α = 1/ξ.
# α ≈ 1-2 means a catastrophically heavy tail (means barely exist —
# cap/winsorize before aggregating; the skew-join salting threshold
# cares too); α > 3 means near-Gaussian tails and plain aggregation is
# safe. The events.value column is the revenue-like quantity every
# pipeline eventually aggregates, so the tail audit belongs next to
# the percentile/histogram operators.
HILL_K = 100


def event_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (k_used, x_threshold, hill_xi, tail_alpha) — empty if
    fewer than 2 positive values exist.

    Scale plan: the only corpus-wide step is a distributed top-(k+1)
    (TakeOrderedAndProject — per-partition partial top-k, no global
    sort); the estimator is one aggregation over those ≤ k+1 rows with
    the threshold entering as a 1-row broadcast. Exactness: each
    ln(x) snaps to DECIMAL(28,12) before the order-independent sum;
    ties at the selection boundary are harmless because tied rows have
    equal value, so the top multiset is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    top = cached(
        ev.filter(F.col("value") > 0)
        .select("value", "event_id")
        .orderBy(F.desc("value"), "event_id")
        .limit(HILL_K + 1)
    )
    thresh = top.agg(F.min("value").alias("x_thresh"))
    terms = top.join(F.broadcast(thresh), F.lit(True)).select(
        (F.log(F.col("value")) - F.log(F.col("x_thresh")))
        .cast("decimal(28,12)")
        .alias("term"),
        "x_thresh",
    )
    agg = terms.groupBy("x_thresh").agg(
        F.count("*").alias("n"),
        F.sum("term").alias("s"),
    )
    xi = F.col("s").cast("double") / (F.col("n") - 1).cast("double")
    return (
        agg.filter(F.col("n") >= 2)
        .select(
            (F.col("n") - 1).cast("long").alias("k_used"),
            F.round(F.col("x_thresh"), 6).alias("x_threshold"),
            F.round(xi, 6).alias("hill_xi"),
            F.when(xi > 0, F.round(F.lit(1.0) / xi, 6)).alias("tail_alpha"),
        )
    )


EVENT_TAIL_INDEX_SQL = f"""
WITH top AS (
  SELECT value FROM events WHERE value > 0
  ORDER BY value DESC, event_id LIMIT {HILL_K + 1}
), thresh AS (
  SELECT MIN(value) AS x_thresh FROM top
), terms AS (
  SELECT CAST(ln(value) - ln(t.x_thresh) AS DECIMAL(28,12)) AS term, t.x_thresh
  FROM top CROSS JOIN thresh t
), agg AS (
  SELECT x_thresh, COUNT(*) AS n, SUM(term) AS s FROM terms GROUP BY 1
)
SELECT CAST(n - 1 AS BIGINT) AS k_used,
       ROUND(x_thresh, 6) AS x_threshold,
       ROUND(CAST(s AS DOUBLE) / (n - 1), 6) AS hill_xi,
       CASE WHEN CAST(s AS DOUBLE) / (n - 1) > 0
            THEN ROUND(1.0 / (CAST(s AS DOUBLE) / (n - 1)), 6)
       END AS tail_alpha
FROM agg WHERE n >= 2
"""


# ----------------------------------------------------- seasonality
#
# Hour-of-day activity profile per event type plus the chi-square
# uniformity statistic — the load-shape table a capacity planner (and
# the synthetic-data auditor: flat χ² ≈ 0 exposes a generator with no
# diurnal structure) reads before sizing ingestion. One groupBy to a
# ≤ |types|·24 relation; everything after is arithmetic on it.


def event_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour, n, share, chi2) — one row per (type, hour)
    with observed counts; chi2 (vs the uniform 24-bin expectation,
    computed over ALL 24 bins including empty ones) repeats on the
    type's rows.

    Scale plan: one map-side-combinable groupBy to ≤ |types|·24 rows;
    the per-type total and χ² ride a ≤ |types|-row broadcast back.
    χ² over all 24 bins from observed rows only: Σ(o−e)²/e over
    observed + e·(24−k) for the k-missing empty bins — exact identity,
    no bin spine needed. Each term snaps to DECIMAL(28,12)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = cached(
        ev.groupBy("event_type", F.hour("ts").cast("long").alias("hour")).agg(
            F.count("*").alias("n")
        )
    )
    e = F.col("n_type").cast("double") / 24.0
    term = (
        ((F.col("n") - e) * (F.col("n") - e) / e).cast("decimal(28,12)")
    )
    totals = hourly.groupBy(F.col("event_type").alias("_et")).agg(
        F.sum("n").alias("n_type"), F.count("*").alias("k_obs")
    )
    joined = hourly.join(F.broadcast(totals), F.col("event_type") == F.col("_et"))
    chi2_obs = joined.groupBy("event_type").agg(
        F.sum(term).alias("s_obs"),
        F.max("n_type").alias("n_type"),
        F.max("k_obs").alias("k_obs"),
    )
    # empty bins each contribute (0−e)²/e = e
    chi2 = (
        F.col("s_obs").cast("double")
        + (F.lit(24) - F.col("k_obs")) * (F.col("n_type").cast("double") / 24.0)
    )
    stats = chi2_obs.select(
        F.col("event_type").alias("_et2"),
        F.col("n_type").cast("long").alias("_nt"),
        F.round(chi2, 6).alias("_chi2"),
    )
    return hourly.join(F.broadcast(stats), F.col("event_type") == F.col("_et2")).select(
        "event_type",
        "hour",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.col("_nt"), 6).alias("share"),
        F.col("_chi2").alias("chi2"),
    )


EVENT_SEASONALITY_SQL = """
WITH hourly AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), totals AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type, COUNT(*) AS k_obs
  FROM hourly GROUP BY 1
), chi AS (
  SELECT h.event_type,
         SUM(CAST((h.n - t.n_type / 24.0) * (h.n - t.n_type / 24.0)
                  / (t.n_type / 24.0) AS DECIMAL(28,12))) AS s_obs,
         MAX(t.n_type) AS n_type, MAX(t.k_obs) AS k_obs
  FROM hourly h JOIN totals t USING (event_type)
  GROUP BY 1
)
SELECT h.event_type, h.hour, CAST(h.n AS BIGINT) AS n,
       ROUND(CAST(h.n AS DOUBLE) / c.n_type, 6) AS share,
       ROUND(CAST(c.s_obs AS DOUBLE) + (24 - c.k_obs) * (CAST(c.n_type AS DOUBLE) / 24.0), 6) AS chi2
FROM hourly h JOIN chi c USING (event_type)
"""


# --------------------------------------------- conversion survival
#
# Kaplan–Meier estimator of time-to-conversion: for each exposed user
# (first 'view'), the duration to the first post-exposure 'purchase',
# or right-censoring at the user's last observed event. S(t) steps
# down by (1 − d_i/n_i) at every duration with d_i conversions among
# n_i still-at-risk users — the curve a growth team reads to separate
# "converts eventually" from "converts in the first minute", censoring
# handled properly (a user who simply left early is not a zero).
# Durations bucket to whole minutes so the curve relation is bounded
# by the stream horizon in minutes at any user count.
KM_BUCKET_US = 60_000_000   # 1 minute


def conversion_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dur_min, n_risk, n_conv, n_censored, survival) — one row per
    distinct observed duration; survival includes this row's step.

    Scale plan: two user-keyed shuffles build the per-user
    (duration, converted) table (the ab_test_analysis discipline),
    one groupBy on the minute bucket collapses it to the bounded
    curve relation, and the KM product runs as exp(Σ ln(1−d/n)) with
    cumulative windows over that bounded relation only
    (bounded_window_key — never a corpus-sized single partition).
    Exactness: risk sets are exact int64 (total minus an exact
    cumulative count); each ln snaps to DECIMAL(28,12); the d=n
    absorbing state (survival exactly 0) rides a cumulative max flag
    so neither engine evaluates ln(0)."""
    ev = load_table(spark, sf_dir, "events")
    u = cached(
        ev.groupBy("user_id").agg(
            F.min(
                F.when(F.col("event_type") == AB_EXPOSE_TYPE, F.unix_micros("ts"))
            ).alias("fv"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        ).filter(F.col("fv").isNotNull())
    )
    conv = (
        ev.filter(F.col("event_type") == AB_CONVERT_TYPE)
        .select("user_id", F.unix_micros("ts").alias("ct"))
        .join(u.select("user_id", "fv"), "user_id")
        .filter(F.col("ct") > F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ct").alias("conv_us"))
    )
    return km_curve(u.join(conv, "user_id", "left"))


def km_curve(users: DataFrame) -> DataFrame:
    """The Kaplan-Meier tail shared by the batch and streaming
    conversion-survival queries: per exposed user (fv, last_us,
    conv_us) → each subject's (dur_min, is_conv), the minute bucket of
    the time to conversion or censoring → (dur_min, n_risk, n_conv,
    n_censored, survival). One groupBy collapses the subjects to the
    bounded per-bucket curve relation; everything after runs on that
    bounded relation only (see conversion_survival's scale/exactness
    notes)."""
    per_user = users.select(
        F.floor(
            (F.coalesce(F.col("conv_us"), F.col("last_us")) - F.col("fv")) / KM_BUCKET_US
        ).cast("long").alias("dur_min"),
        F.col("conv_us").isNotNull().cast("long").alias("is_conv"),
    )
    curve = cached(
        per_user.groupBy("dur_min").agg(
            F.sum("is_conv").cast("long").alias("n_conv"),
            F.sum(F.lit(1) - F.col("is_conv")).cast("long").alias("n_censored"),
        )
    )
    total = curve.agg(F.sum(F.col("n_conv") + F.col("n_censored")).alias("n_total"))
    # bounded: the curve has one row per observed minute bucket
    w_prior = (
        Window.partitionBy(bounded_window_key("dur_min"))
        .orderBy("dur_min")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_upto = (
        Window.partitionBy(bounded_window_key("dur_min"))
        .orderBy("dur_min")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_risk = curve.join(F.broadcast(total), F.lit(True)).select(
        "dur_min",
        "n_conv",
        "n_censored",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("n_conv") + F.col("n_censored")).over(w_prior), F.lit(0))
        ).cast("long").alias("n_risk"),
    )
    absorbed = F.max((F.col("n_conv") == F.col("n_risk")).cast("int")).over(w_upto)
    ln_term = F.when(
        (F.col("n_conv") > 0) & (F.col("n_conv") < F.col("n_risk")),
        F.log(F.lit(1.0) - F.col("n_conv").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    survival = F.when(absorbed == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(ln_term).over(w_upto).cast("double"))
    )
    return with_risk.select(
        "dur_min",
        "n_risk",
        "n_conv",
        "n_censored",
        F.round(survival, 6).alias("survival"),
    )


CONVERSION_SURVIVAL_SQL = f"""
WITH u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{AB_EXPOSE_TYPE}' THEN epoch_us(ts) END) AS fv,
         MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id
  HAVING MIN(CASE WHEN event_type = '{AB_EXPOSE_TYPE}' THEN epoch_us(ts) END) IS NOT NULL
), conv AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS conv_us
  FROM events e JOIN u ON e.user_id = u.user_id
  WHERE e.event_type = '{AB_CONVERT_TYPE}' AND epoch_us(e.ts) > u.fv
  GROUP BY e.user_id
), per_user AS (
  SELECT CAST(FLOOR((COALESCE(c.conv_us, u.last_us) - u.fv) / {KM_BUCKET_US}.0) AS BIGINT) AS dur_min,
         CASE WHEN c.conv_us IS NOT NULL THEN 1 ELSE 0 END AS is_conv
  FROM u LEFT JOIN conv c ON u.user_id = c.user_id
), curve AS (
  SELECT dur_min, CAST(SUM(is_conv) AS BIGINT) AS n_conv,
         CAST(SUM(1 - is_conv) AS BIGINT) AS n_censored
  FROM per_user GROUP BY dur_min
), with_risk AS (
  SELECT dur_min, n_conv, n_censored,
         CAST((SELECT SUM(n_conv + n_censored) FROM curve)
              - COALESCE(SUM(n_conv + n_censored) OVER
                  (ORDER BY dur_min ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM curve
), stepped AS (
  SELECT *,
         MAX(CASE WHEN n_conv = n_risk THEN 1 ELSE 0 END) OVER
           (ORDER BY dur_min ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS absorbed,
         SUM(CAST(CASE WHEN n_conv > 0 AND n_conv < n_risk
                  THEN ln(1.0 - CAST(n_conv AS DOUBLE) / n_risk) ELSE 0.0 END
              AS DECIMAL(28,12))) OVER
           (ORDER BY dur_min ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln_sum
  FROM with_risk
)
SELECT dur_min, n_risk, n_conv, n_censored,
       ROUND(CASE WHEN absorbed = 1 THEN 0.0 ELSE exp(CAST(ln_sum AS DOUBLE)) END, 6) AS survival
FROM stepped
"""


# ------------------------------------------------- distribution drift
#
# Population Stability Index — the monitoring metric a pipeline uses to
# decide whether a feature's distribution drifted enough to retrain or
# re-calibrate: split the stream at its time midpoint, bin the value
# distribution on a fixed grid derived from the REFERENCE half, and
# sum (p_cur − p_ref)·ln(p_cur/p_ref) per event type. Rule of thumb:
# < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
PSI_BINS = 10
PSI_ALPHA = 0.5   # add-α on bin counts: empty bins stay finite


def event_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_ref, n_cur, psi) — one row per event type.

    Scale plan: two corpus aggregations only — a 1-row (t_mid, v_lo,
    v_hi) broadcast from the reference half's min/max, then one
    groupBy (event_type, half, bin) with map-side combine to a
    ≤ |types|·2·(bins+2) relation; the PSI arithmetic runs on that
    tiny relation. Numeric discipline: bin ids are floor() of
    identical doubles; each PSI term snaps to DECIMAL(28,12) before
    the order-free sum; one final 6-dp round."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(ts_midpoint().alias("t_mid"))
    halves = ev.join(F.broadcast(bounds), F.lit(True)).select(
        "event_type",
        "value",
        (F.unix_micros("ts") <= F.col("t_mid")).alias("is_ref"),
    )
    vb = halves.filter(F.col("is_ref")).agg(
        F.min("value").alias("v_lo"), F.max("value").alias("v_hi")
    )
    binned = psi_cells(
        halves.join(F.broadcast(vb), F.lit(True)), "is_ref", F.col("v_lo"), F.col("v_hi")
    )
    return psi_release(binned)


def ts_midpoint() -> Column:
    """The pre/post split time as one aggregate expression: the midpoint
    of the events' unix_micros span (PSI's reference half, CUPED's
    pre-period)."""
    return (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2


def psi_cells(ev: DataFrame, is_ref: Column | str, v_lo: Column, v_hi: Column) -> DataFrame:
    """(event_type, is_ref, bin, n): the PSI cell counts. Values bin on
    the reference grid [v_lo, v_hi]; both halves clamp into
    [0, bins-1] so out-of-range current values land in the edge bins.
    The batch query passes its broadcast columns, the stream twin its
    deploy-time literals."""
    width = (v_hi - v_lo) / PSI_BINS
    bin_raw = F.floor((F.col("value") - v_lo) / width)
    bin_id = F.when(
        width > 0, F.greatest(F.lit(0), F.least(F.lit(PSI_BINS - 1), bin_raw))
    ).otherwise(F.lit(0))
    return ev.groupBy("event_type", is_ref, bin_id.cast("long").alias("bin")).agg(
        F.count("*").alias("n")
    )


def psi_release(binned: DataFrame) -> DataFrame:
    """The PSI tail shared by the batch and streaming drift monitors:
    (event_type, is_ref, bin, n) cell counts → the per-type PSI table.
    Runs entirely on the ≤ |types|·2·bins bounded relation (see
    event_psi_drift's scale/exactness notes)."""
    # cached: the bounded (type, bin) relation feeds BOTH the totals
    # broadcast and the final join — uncached, the corpus-wide binning
    # shuffle would execute once per consumer
    per_half = cached(
        binned.groupBy("event_type", "bin").agg(
            F.sum(F.when(F.col("is_ref"), F.col("n")).otherwise(0)).alias("n_ref_bin"),
            F.sum(F.when(~F.col("is_ref"), F.col("n")).otherwise(0)).alias("n_cur_bin"),
        )
    )
    totals = per_half.groupBy(F.col("event_type").alias("_et")).agg(
        F.sum("n_ref_bin").alias("n_ref"), F.sum("n_cur_bin").alias("n_cur")
    )
    a = F.lit(PSI_ALPHA)
    k = F.lit(float(PSI_BINS))
    p_ref = (F.col("n_ref_bin") + a) / (F.col("n_ref") + a * k)
    p_cur = (F.col("n_cur_bin") + a) / (F.col("n_cur") + a * k)
    term = ((p_cur - p_ref) * F.log(p_cur / p_ref)).cast("decimal(28,12)")
    return (
        per_half.join(F.broadcast(totals), F.col("event_type") == F.col("_et"))
        .groupBy("event_type")
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.round(F.sum(term).cast("double"), 6).alias("psi"),
        )
    )


EVENT_PSI_DRIFT_SQL = f"""
WITH bounds AS (
  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) / 2.0 AS t_mid FROM events
), halves AS (
  SELECT event_type, value, epoch_us(ts) <= b.t_mid AS is_ref
  FROM events CROSS JOIN bounds b
), vb AS (
  SELECT MIN(value) AS v_lo, MAX(value) AS v_hi FROM halves WHERE is_ref
), binned AS (
  SELECT event_type, is_ref,
         CAST(CASE WHEN (v.v_hi - v.v_lo) / {PSI_BINS} > 0
              THEN GREATEST(0, LEAST({PSI_BINS - 1},
                   FLOOR((value - v.v_lo) / ((v.v_hi - v.v_lo) / {PSI_BINS}))))
              ELSE 0 END AS BIGINT) AS bin,
         COUNT(*) AS n
  FROM halves CROSS JOIN vb v
  GROUP BY 1, 2, 3
), per_half AS (
  SELECT event_type, bin,
         SUM(CASE WHEN is_ref THEN n ELSE 0 END) AS n_ref_bin,
         SUM(CASE WHEN NOT is_ref THEN n ELSE 0 END) AS n_cur_bin
  FROM binned GROUP BY 1, 2
), totals AS (
  SELECT event_type, SUM(n_ref_bin) AS n_ref, SUM(n_cur_bin) AS n_cur
  FROM per_half GROUP BY 1
)
SELECT p.event_type,
       CAST(MAX(t.n_ref) AS BIGINT) AS n_ref,
       CAST(MAX(t.n_cur) AS BIGINT) AS n_cur,
       ROUND(CAST(SUM(CAST(
         ((p.n_cur_bin + {PSI_ALPHA}) / (t.n_cur + {PSI_ALPHA} * {float(PSI_BINS)})
          - (p.n_ref_bin + {PSI_ALPHA}) / (t.n_ref + {PSI_ALPHA} * {float(PSI_BINS)}))
         * ln(((p.n_cur_bin + {PSI_ALPHA}) / (t.n_cur + {PSI_ALPHA} * {float(PSI_BINS)}))
              / ((p.n_ref_bin + {PSI_ALPHA}) / (t.n_ref + {PSI_ALPHA} * {float(PSI_BINS)})))
       AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi
FROM per_half p JOIN totals t USING (event_type)
GROUP BY 1
"""


# ------------------------------------------- sequential pattern mining


def event_frequent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t1, t2, t3, n, n_users, share) — support counts for every
    length-3 consecutive event-type sequence (the PrefixSpan-lite
    sequential-pattern census behind journey mining; event_transitions
    is its first-order marginal).

    Scale plan: two LAGs on the per-user window (hash-distributed on
    user_id, no global window), one hash agg on the (t1,t2,t3) key —
    a ≤ |types|³-row relation; n_users rides the same agg as a
    count-distinct. The share denominator is a window total over that
    bounded relation (bounded_window_key — no corpus-sized partition,
    no cartesian)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull())
    counts = seq.groupBy("t1", "t2", "t3").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    wtot = Window.partitionBy(bounded_window_key("t1"))
    return counts.select(
        "t1",
        "t2",
        "t3",
        "n",
        "n_users",
        F.round(F.col("n").cast("double") / F.sum("n").over(wtot), 6).alias("share"),
    )


EVENT_FREQUENT_SEQUENCES_SQL = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
         LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
         event_type AS t3
  FROM events
), counts AS (
  SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM seq WHERE t1 IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT t1, t2, t3, n, n_users,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
FROM counts
"""


# ----------------------------------- next-event training examples

EXAMPLE_CONTEXT = 3  # context length for next-event prediction


def next_event_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_seq, ts_sec, context, target) — the
    supervised training examples a next-event model consumes: for
    every event with at least one predecessor in its session, the up
    to EXAMPLE_CONTEXT preceding event types joined oldest-first
    ('view>click>view') and the event to predict. Sessionization is
    the engine's standard strict->gap rule (a touching boundary
    merges), so examples never cross a session break — the leakage
    discipline sequence models need.

    Scale plan: everything is windows over the user_id hash
    partitioning (session flag cumsum, then LAGs keyed by the derived
    (user, session) pair) — two window passes, no shuffle beyond the
    user key, output ~ corpus rows. concat_ws drops NULL lags in both
    engines, so short contexts need no branches."""
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        sec.alias("ts_sec"),
        "event_type",
        F.when(
            sec - F.lag(sec).over(wu) > SESSION_GAP_SEC, F.lit(1)
        ).otherwise(F.lit(0)).alias("new_session"),
    )
    with_sid = flagged.select(
        "user_id",
        "event_id",
        "ts",
        "ts_sec",
        "event_type",
        F.sum("new_session").over(
            wu.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_seq"),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    return with_sid.select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        "ts_sec",
        F.concat_ws(
            ">",
            *[
                F.lag("event_type", lag).over(ws)
                for lag in range(EXAMPLE_CONTEXT, 0, -1)
            ],
        ).alias("context"),
        F.col("event_type").alias("target"),
    ).filter(F.col("context") != "")


NEXT_EVENT_EXAMPLES_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, FLOOR(epoch(ts))::BIGINT AS ts_sec, event_type,
         CASE WHEN FLOOR(epoch(ts))::BIGINT
                   - LAG(FLOOR(epoch(ts))::BIGINT) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_session
  FROM events
), with_sid AS (
  SELECT user_id, event_id, ts, ts_sec, event_type,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, ts_sec,
       concat_ws('>',
         {", ".join(f"LAG(event_type, {lag}) OVER w" for lag in range(EXAMPLE_CONTEXT, 0, -1))}) AS context,
       event_type AS target
FROM with_sid
WINDOW w AS (PARTITION BY user_id, session_seq ORDER BY ts, event_id)
QUALIFY context <> ''
"""


# --------------------------------- multi-touch attribution credit

ATTR_FIRST = 0.4   # U-shaped (position-based) credit split
ATTR_LAST = 0.4


def event_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_touches, credit) — U-shaped multi-touch
    attribution: for every converting user, the touches STRICTLY
    before the first purchase share the conversion credit 40% first /
    40% last / 20% split across the middle (100% and 50/50 for 1- and
    2-touch journeys), rolled up per channel (event_type). The
    credit model behind marketing-mix tables; stream_click_attribution
    is its last-touch special case.

    Scale plan: first-purchase and touch ranks are windows over the
    user_id hash partitioning (two passes); the rollup is one hash agg
    on |types| keys. Credit fractions are exact dyadic/short decimals
    combined in one fixed expression; each per-touch credit snaps to
    DECIMAL(28,12) so the per-channel sum is order-free."""
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id")
    conv = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.min(
            F.when(F.col("event_type") == AB_CONVERT_TYPE, F.unix_micros("ts"))
        ).over(wu).alias("conv_us"),
    ).filter(
        F.col("conv_us").isNotNull() & (F.unix_micros("ts") < F.col("conv_us"))
    )
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    touches = conv.select(
        "user_id",
        "event_type",
        F.row_number().over(wt).alias("pos"),
        F.count("*").over(wn).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when(F.col("pos") == 1, F.lit(ATTR_FIRST))
        .when(F.col("pos") == F.col("n"), F.lit(ATTR_LAST))
        .otherwise(
            (F.lit(1.0) - ATTR_FIRST - ATTR_LAST) / (F.col("n") - 2)
        )
    ).cast("decimal(28,12)")
    return touches.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.round(F.sum(credit).cast("double"), 6).alias("credit"),
    )


EVENT_ATTRIBUTION_CREDIT_SQL = f"""
WITH conv AS (
  SELECT user_id, event_id, ts, event_type,
         MIN(CASE WHEN event_type = '{AB_CONVERT_TYPE}' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id) AS conv_us
  FROM events
), touches AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM conv
  WHERE conv_us IS NOT NULL AND epoch_us(ts) < conv_us
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(CAST(SUM(CAST(
         CASE WHEN n = 1 THEN 1.0
              WHEN n = 2 THEN 0.5
              WHEN pos = 1 THEN {ATTR_FIRST}
              WHEN pos = n THEN {ATTR_LAST}
              ELSE (1.0 - {ATTR_FIRST} - {ATTR_LAST}) / (n - 2) END
         AS DECIMAL(28,12))) AS DOUBLE), 6) AS credit
FROM touches GROUP BY 1
"""


# ------------------------------------------- bot-traffic screening

BOT_MIN_EVENTS = 20
BOT_CV_MAX = 0.3   # metronome regularity: gap cv below this is bot-like


def event_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, mean_gap_sec, gap_cv, is_bot) — heuristic
    automated-traffic screening per user: a human's inter-event gaps
    are bursty (high coefficient of variation), a scripted client's
    are metronomic (cv → 0). Flag users with ≥ BOT_MIN_EVENTS events
    whose gap cv < BOT_CV_MAX — the traffic scrub an events-derived
    training corpus runs before any behavioral statistic is trusted.

    Scale plan: one LAG window per user (hash-partitioned), one
    user-keyed agg. Exactness: gaps are integer seconds; Σg and Σg²
    are exact int64 sums, so cv = √(n·Σg² − (Σg)²)/Σg runs identical
    IEEE ops on identical integers in both engines (population
    variance; n here counts gaps)."""
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    gaps = ev.select(
        "user_id",
        (sec - F.lag(sec).over(wu)).alias("g"),
    )
    agg = gaps.groupBy("user_id").agg(
        (F.count("*")).cast("long").alias("n_events"),
        F.count("g").cast("long").alias("ng"),
        F.sum("g").cast("long").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sg2"),
    )
    # ng > 0 with sg == 0 is the most metronomic client possible (every
    # gap exactly zero) — cv = 0, not NULL, so is_bot catches it
    # (ADVICE r8)
    cv = F.when(
        (F.col("ng") > 0) & (F.col("sg") > 0),
        F.sqrt((F.col("ng") * F.col("sg2") - F.col("sg") * F.col("sg")).cast("double"))
        / F.col("sg"),
    ).when((F.col("ng") > 0) & (F.col("sg") == 0), F.lit(0.0))
    return agg.select(
        "user_id",
        "n_events",
        F.when(F.col("ng") > 0, F.round(F.col("sg").cast("double") / F.col("ng"), 6)).alias(
            "mean_gap_sec"
        ),
        F.round(cv, 6).alias("gap_cv"),
        (
            (F.col("n_events") >= BOT_MIN_EVENTS)
            & cv.isNotNull()
            & (F.coalesce(cv, F.lit(1e18)) < BOT_CV_MAX)
        ).cast("int").alias("is_bot"),
    )


EVENT_BOT_SCORE_SQL = f"""
WITH gaps AS (
  SELECT user_id,
         FLOOR(epoch(ts))::BIGINT
           - LAG(FLOOR(epoch(ts))::BIGINT) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
), agg AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(g) AS BIGINT) AS ng,
         CAST(SUM(g) AS BIGINT) AS sg,
         CAST(SUM(g * g) AS BIGINT) AS sg2
  FROM gaps GROUP BY 1
)
SELECT user_id, n_events,
       CASE WHEN ng > 0 THEN ROUND(CAST(sg AS DOUBLE) / ng, 6) END AS mean_gap_sec,
       ROUND(CASE WHEN ng > 0 AND sg > 0
                  THEN SQRT(CAST(ng * sg2 - sg * sg AS DOUBLE)) / sg
                  WHEN ng > 0 AND sg = 0 THEN 0.0 END, 6) AS gap_cv,
       CAST(n_events >= {BOT_MIN_EVENTS}
            AND COALESCE(CASE WHEN ng > 0 AND sg > 0
                      THEN SQRT(CAST(ng * sg2 - sg * sg AS DOUBLE)) / sg
                      WHEN ng > 0 AND sg = 0 THEN 0.0 END, 1e18)
                < {BOT_CV_MAX}
            AS INT) AS is_bot
FROM agg
"""


# ------------------- logistic conversion model (unrolled GD)

LOGIT_LR = 1.0
LOGIT_ROUNDS = 15
_LOGIT_TERMS = ("bias", "ln_events", "ln_value", "n_types", "ln_span")


LOGIT_FAST_SEC = 24 * 3600  # fast-conversion label horizon


def _logit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, y, x1..x4): per-user behavioral features + the FAST-
    conversion label — y = 1 iff the first purchase lands within
    LOGIT_FAST_SEC of the user's first event ("ever purchased" is
    degenerate here: every user converts eventually, so the horizon
    is what carries the signal — median time-to-first-purchase sits
    near the 24 h mark, splitting the cohort roughly in half). All
    features derive from exact integer/decimal aggregates (value
    through the DECIMAL(18,2) cents sum), so both engines feed the GD
    identical doubles."""
    ev = _events(spark, sf_dir)
    sec = F.col("ts").cast("long")
    agg = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        _dsum(F.col("value")).alias("v"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        (F.max(sec) - F.min(sec)).alias("span"),
        F.min(F.when(F.col("event_type") == AB_CONVERT_TYPE, sec)).alias("fp"),
        F.min(sec).alias("fe"),
    )
    from capstone_etl_spark.operators.sampling import split_column

    return agg.select(
        "user_id",
        split_column(F.col("user_id")).alias("split"),
        F.when(
            F.col("fp").isNotNull() & (F.col("fp") - F.col("fe") < LOGIT_FAST_SEC),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("y"),
        F.log(F.lit(1.0) + F.col("n_events")).alias("x1"),
        F.log(F.lit(1.0) + F.col("v")).alias("x2"),
        F.col("n_types").cast("double").alias("x3"),
        F.log(F.lit(1.0) + F.col("span")).alias("x4"),
    )


def logistic_conversion_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, value) — a logistic conversion model TRAINED inside the
    engine: LOGIT_ROUNDS rounds of full-batch gradient descent on
    P(fast conversion — first purchase within LOGIT_FAST_SEC of first
    activity | ln events, ln value spend, type diversity, ln span),
    entirely as DataFrame aggregations — the fourth iterative
    algorithm family (after CC, PageRank, power iteration), this one
    supervised learning. Output: the five learned weights plus the
    final training log-loss, accuracy, and cohort size — the
    propensity model a growth pipeline ships.

    Scale plan: features are ONE user-keyed aggregation (cached);
    each GD round is one scalar (1-row) aggregate over it — the CC
    loop's per-round-driver-work discipline — with the 5 weights
    re-entering as literals, so lineage stays constant-depth and
    nothing per-round scales with users. Exactness: every gradient /
    loss term snaps to DECIMAL(28,12) before the order-free sum (the
    1e-12 quantization absorbs cross-engine exp/ln ulp drift — the
    repo-wide ln discipline), divisions and weight updates are
    identical IEEE expressions, so the oracle's chained per-round CTEs
    reproduce the exact weight trajectory. Features are z-scored
    in-engine first (one extra 1-row stats aggregate): full-batch GD
    at LOGIT_LR on the RAW ln-scale features diverges — standardized,
    the same 15 rounds converge — and the stats come from
    DECIMAL(28,12)-snapped Σx / Σx² sums, so both engines derive
    bit-identical means and stds."""
    feats, xs, w = _fit_logit(spark, sf_dir)
    z = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    # clamp the loss probabilities: a saturated p (exactly 0.0/1.0 in
    # double) would make the off-label term 0·ln(0) = NaN
    pc = F.least(F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    ll_term = (
        -(F.col("y") * F.log(pc) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - pc))
    ).cast("decimal(28,12)")
    fin = feats.agg(
        F.count("*").alias("n"),
        F.sum(ll_term).alias("lls"),
        F.sum(((p >= 0.5).cast("int") == F.col("y").cast("int")).cast("long")).alias("nc"),
    )
    rows = [F.struct(F.lit(t).alias("term"), F.round(F.lit(wj), 6).alias("value"))
            for t, wj in zip(_LOGIT_TERMS, w)]
    return fin.select(
        F.explode(
            F.array(
                *rows,
                F.struct(
                    F.lit("logloss").alias("term"),
                    F.round(F.col("lls").cast("double") / F.col("n"), 6).alias("value"),
                ),
                F.struct(
                    F.lit("accuracy").alias("term"),
                    F.round(F.col("nc").cast("double") / F.col("n"), 6).alias("value"),
                ),
                F.struct(
                    F.lit("n_users").alias("term"),
                    F.col("n").cast("double").alias("value"),
                ),
            )
        ).alias("r")
    ).select(F.col("r.term").alias("term"), F.col("r.value").alias("value"))


def _fit_logit(spark: SparkSession, sf_dir: str, train_only: bool = False):
    """Train the standardized logistic model; returns (cached feature
    relation, z-scored feature Column list [1, z1..z4], learned
    weights). Shared by logistic_conversion_model and the calibration
    readout so both tell one story about one model. With
    train_only=True the standardization stats AND the gradient
    aggregates see only the salted-hash train bucket (the conformal
    protocol's proper-training set); the returned feats relation is
    always the full cohort."""
    feats = cached(_logit_features(spark, sf_dir))
    fit_src = feats.filter(F.col("split") == "train") if train_only else feats
    st = fit_src.agg(
        F.count("*").alias("n"),
        *[
            a
            for j in range(1, 5)
            for a in (
                F.sum(F.col(f"x{j}").cast("decimal(28,12)")).alias(f"s{j}"),
                F.sum(
                    (F.col(f"x{j}") * F.col(f"x{j}")).cast("decimal(28,12)")
                ).alias(f"q{j}"),
            )
        ],
    ).first()
    n_st = st["n"]
    if n_st == 0:
        # empty (or train-only-empty) cohort: zero weights over raw
        # features — the downstream readouts release their documented
        # degenerate shapes instead of a driver ZeroDivisionError
        # (ADVICE r8)
        return feats, [F.lit(1.0)] + [F.col(f"x{j}") for j in range(1, 5)], [0.0] * 5
    means, stds = [], []
    for j in range(1, 5):
        mj = float(st[f"s{j}"]) / n_st
        var = float(st[f"q{j}"]) / n_st - (float(st[f"s{j}"]) / n_st) * (
            float(st[f"s{j}"]) / n_st
        )
        means.append(mj)
        stds.append(math.sqrt(var) if var > 0 else 1.0)
    w = [0.0] * 5
    xs = [F.lit(1.0)] + [
        (F.col(f"x{j}") - F.lit(means[j - 1])) / F.lit(stds[j - 1])
        for j in range(1, 5)
    ]
    for _ in range(LOGIT_ROUNDS):
        z = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        grads = fit_src.agg(
            F.count("*").alias("n"),
            *[
                F.sum(((p - F.col("y")) * xj).cast("decimal(28,12)")).alias(f"g{j}")
                for j, xj in enumerate(xs)
            ],
        ).first()
        n = grads["n"]
        w = [
            wj - LOGIT_LR * float(grads[f"g{j}"]) / n
            for j, wj in enumerate(w)
        ]
    return feats, xs, w


def _logit_feat_sql() -> str:
    """The per-user behavioral feature CTE — shared by the logistic
    trainer's oracle and the WoE binning oracle."""
    from capstone_etl_spark.operators.sampling import split_sql_case

    return f"""
feat AS MATERIALIZED (
  SELECT user_id, {split_sql_case('user_id')} AS split,
         CAST(CASE WHEN MIN(CASE WHEN event_type = '{AB_CONVERT_TYPE}'
                                 THEN FLOOR(epoch(ts))::BIGINT END)
                   - MIN(FLOOR(epoch(ts))::BIGINT) < {LOGIT_FAST_SEC}
              THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
         LN(1.0 + COUNT(*)) AS x1,
         LN(1.0 + CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) AS x2,
         CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS x3,
         LN(1.0 + (MAX(FLOOR(epoch(ts))::BIGINT) - MIN(FLOOR(epoch(ts))::BIGINT))) AS x4
  FROM events GROUP BY user_id
)"""


def _logit_chain_sql(train_only: bool = False) -> tuple[str, str]:
    """(WITH-prefix through w{LOGIT_ROUNDS}, the p(f, w) expression) —
    the trained-model chain shared by the logistic, calibration, and
    conformal oracles. train_only mirrors _fit_logit: stats and
    gradients see only the salted train bucket."""
    feat = _logit_feat_sql()
    fit_where = "WHERE split = 'train'" if train_only else ""
    fit_where_f = "WHERE f.split = 'train'" if train_only else ""
    stats = """
st AS MATERIALIZED (
  SELECT COUNT(*) AS n,
         """ + ",\n         ".join(
        f"SUM(CAST(x{j} AS DECIMAL(28,12))) AS s{j}, "
        f"SUM(CAST(x{j} * x{j} AS DECIMAL(28,12))) AS q{j}"
        for j in range(1, 5)
    ) + """
  FROM feat {fit_where}
)"""
    stats = stats.replace("{fit_where}", fit_where)

    def _std(j: int) -> str:
        mean = f"(CAST(st.s{j} AS DOUBLE) / st.n)"
        var = f"(CAST(st.q{j} AS DOUBLE) / st.n - {mean} * {mean})"
        return f"(CASE WHEN {var} > 0 THEN SQRT({var}) ELSE 1.0 END)"

    zfeat = (
        "zfeat AS MATERIALIZED (\n  SELECT f.user_id, f.split, f.y,\n         "
        + ",\n         ".join(
            f"(f.x{j} - (CAST(st.s{j} AS DOUBLE) / st.n)) / {_std(j)} AS x{j}"
            for j in range(1, 5)
        )
        + "\n  FROM feat f CROSS JOIN st\n)"
    )
    z = "(w.b0 * 1.0 + w.b1 * f.x1 + w.b2 * f.x2 + w.b3 * f.x3 + w.b4 * f.x4)"
    p = f"(1.0 / (1.0 + EXP(-{z})))"
    rounds = []
    for r in range(1, LOGIT_ROUNDS + 1):
        gsel = ", ".join(
            f"SUM(CAST(({p} - f.y) * {x} AS DECIMAL(28,12))) AS g{j}"
            for j, x in enumerate(("1.0", "f.x1", "f.x2", "f.x3", "f.x4"))
        )
        wsel = ", ".join(
            f"w.b{j} - {LOGIT_LR} * CAST(g.g{j} AS DOUBLE) / g.n AS b{j}"
            for j in range(5)
        )
        # MATERIALIZED is load-bearing: w{r} is referenced twice
        # downstream (g{r+1} and w{r+1}); DuckDB inlines plain CTEs,
        # which doubles the expression tree per round -> 2^ROUNDS
        # blow-up. Materializing pins each round to one 1-row scan.
        rounds.append(f"""
, g{r} AS MATERIALIZED (
  SELECT COUNT(*) AS n, {gsel} FROM zfeat f, w{r - 1} w {fit_where_f}
), w{r} AS MATERIALIZED (
  SELECT {wsel} FROM w{r - 1} w, g{r} g
)""")
    prefix = (
        "WITH "
        + feat.strip()
        + ", "
        + stats.strip()
        + ", "
        + zfeat.strip()
        + ", w0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3, 0.0 AS b4)"
        + "".join(rounds)
    )
    return prefix, p


def _logistic_sql() -> str:
    prefix, p = _logit_chain_sql()
    pf = f"LEAST(GREATEST({p}, 1e-12), 1.0 - 1e-12)"
    llt = f"CAST(-(f.y * LN({pf}) + (1.0 - f.y) * LN(1.0 - {pf})) AS DECIMAL(28,12))"
    return (
        prefix
        + f"""
, fin AS (
  SELECT COUNT(*) AS n,
         SUM({llt}) AS lls,
         SUM(CASE WHEN CAST({pf} >= 0.5 AS INT) = CAST(f.y AS INT) THEN 1 ELSE 0 END) AS nc
  FROM zfeat f, w{LOGIT_ROUNDS} w
)
SELECT 'bias' AS term, ROUND(b0, 6) AS value FROM w{LOGIT_ROUNDS}
UNION ALL SELECT 'ln_events', ROUND(b1, 6) FROM w{LOGIT_ROUNDS}
UNION ALL SELECT 'ln_value', ROUND(b2, 6) FROM w{LOGIT_ROUNDS}
UNION ALL SELECT 'n_types', ROUND(b3, 6) FROM w{LOGIT_ROUNDS}
UNION ALL SELECT 'ln_span', ROUND(b4, 6) FROM w{LOGIT_ROUNDS}
UNION ALL SELECT 'logloss', ROUND(CAST(lls AS DOUBLE) / n, 6) FROM fin
UNION ALL SELECT 'accuracy', ROUND(CAST(nc AS DOUBLE) / n, 6) FROM fin
UNION ALL SELECT 'n_users', CAST(n AS DOUBLE) FROM fin
"""
    )


# ------------- Poisson-bootstrap confidence interval

BOOT_B = 200          # bootstrap replicates
BOOT_SALT = "boot:v1"
BOOT_UM = 1 << 30     # uniform-draw modulus
# Poisson(1) inverse-CDF ladder: cumulative e^-1 * sum 1/k!; capped at 8.
_POIS_CUM = []
_acc, _term = 0.0, 2.718281828459045 ** -1
for _k in range(8):
    _acc += _term
    _POIS_CUM.append(_acc)
    _term /= _k + 1


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, point, lo95, hi95, n_replicates) — a 95 % Poisson-
    bootstrap confidence interval for the fast-conversion rate: each
    of BOOT_B replicates reweights every user by a deterministic
    Poisson(1) draw (inverse-CDF on a salted md5 uniform — the
    standard scale-out bootstrap: no resample shuffle, each row knows
    its own weight in every replicate). The error bar a metrics
    dashboard attaches to the headline rate.

    Scale plan: ONE user-keyed aggregation, a ×BOOT_B map-side explode
    (no shuffle — the replicate id is generated per row), one
    BOOT_B-key hash agg, and the percentile readout is a window over
    the BOOT_B-row replicate relation (bounded by construction).
    Exactness: draws come from identical md5 arithmetic, the ladder
    thresholds are identical literals, weighted sums are exact int64,
    and the 2.5 %/97.5 % cut is an integer rank — no interpolation."""
    users = _logit_features(spark, sf_dir).select("user_id", "y")
    rep = users.select(
        "user_id",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r"),
    )
    u = (
        md5_hash60(F.concat_ws(":", F.lit(BOOT_SALT), F.col("user_id"), F.col("r")))
        % BOOT_UM
    ).cast("double") / F.lit(float(BOOT_UM))
    w = F.lit(8)
    for k in range(7, -1, -1):
        w = F.when(u < F.lit(_POIS_CUM[k]), F.lit(k)).otherwise(w)
    stats = rep.select("r", "y", w.alias("w")).groupBy("r").agg(
        F.sum("w").cast("long").alias("nw"),
        F.sum(F.col("w") * F.col("y").cast("long")).cast("long").alias("cw"),
    )
    rate = F.when(
        F.col("nw") > 0, F.col("cw").cast("double") / F.col("nw")
    ).otherwise(F.lit(0.0))
    wq = Window.partitionBy(bounded_window_key("r")).orderBy(rate, "r")
    ranked = stats.select(
        rate.alias("rate"), F.row_number().over(wq).alias("rk")
    )
    lo_rk = int(0.025 * (BOOT_B - 1)) + 1
    hi_rk = int(0.975 * (BOOT_B - 1)) + 1
    point = users.agg(
        F.round(F.sum("y") / F.count("*"), 6).alias("point")
    )
    return (
        ranked.filter(F.col("rk").isin(lo_rk, hi_rk))
        .agg(
            F.round(F.min("rate"), 6).alias("lo95"),
            F.round(F.max("rate"), 6).alias("hi95"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            F.lit("fast_conversion_rate").alias("metric"),
            "point",
            "lo95",
            "hi95",
            F.lit(BOOT_B).cast("long").alias("n_replicates"),
        )
    )


def _bootstrap_sql() -> str:
    u = (
        "(CAST(" + md5_hash60_sql(f"'{BOOT_SALT}:' || user_id || ':' || r")
        + f" % {BOOT_UM} AS DOUBLE) / {BOOT_UM}.0)"
    )
    ladder = "CASE "
    for k in range(8):
        ladder += f"WHEN {u} < {_POIS_CUM[k]!r} THEN {k} "
    ladder += "ELSE 8 END"
    lo_rk = int(0.025 * (BOOT_B - 1)) + 1
    hi_rk = int(0.975 * (BOOT_B - 1)) + 1
    return f"""
WITH {_logit_feat_sql().strip()}
, rep AS (
  SELECT f.user_id, f.y, r.r, {ladder} AS w
  FROM feat f CROSS JOIN (SELECT unnest(range(0, {BOOT_B})) AS r) r
), stats AS (
  SELECT r, CAST(SUM(w) AS BIGINT) AS nw,
         CAST(SUM(w * CAST(y AS BIGINT)) AS BIGINT) AS cw
  FROM rep GROUP BY 1
), ranked AS (
  SELECT CASE WHEN nw > 0 THEN CAST(cw AS DOUBLE) / nw ELSE 0.0 END AS rate,
         ROW_NUMBER() OVER (ORDER BY CASE WHEN nw > 0 THEN CAST(cw AS DOUBLE) / nw
                                          ELSE 0.0 END, r) AS rk
  FROM stats
), point AS (
  SELECT ROUND(SUM(y) / COUNT(*), 6) AS point FROM feat
)
SELECT 'fast_conversion_rate' AS metric, point,
       ROUND(MIN(rate), 6) AS lo95, ROUND(MAX(rate), 6) AS hi95,
       CAST({BOOT_B} AS BIGINT) AS n_replicates
FROM ranked CROSS JOIN point
WHERE rk IN ({lo_rk}, {hi_rk})
GROUP BY 1, 2
"""


# ----------------------- RFM user segmentation

RFM_BUCKETS = 4


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, recency_sec, n_events, monetary, r_score, f_score,
    m_score, segment) — classic RFM cohorting: each user scored 1-4 on
    Recency (4 = most recent), Frequency, and Monetary (4 = highest),
    segment = the concatenated code ('444' = best customers). The
    growth-marketing segmentation table; user_value_deciles is its
    monetary-only cousin.

    Scale plan: ONE user-keyed aggregation, then three distributed
    global rankings via `with_dense_ids` (range-sort + per-partition
    rank — never an unpartitioned window; the per-user relation is
    10⁷-10⁸ rows at 100 TB), each score derived arithmetically as
    (rank·B) div n with the count entering as a 1-row broadcast, and
    three user-keyed equi-joins reassemble the row. Exact int ranks;
    ties broken by user_id."""
    return rfm_release(rfm_users(_events(spark, sf_dir)))


def rfm_users(ev: DataFrame) -> DataFrame:
    """(user_id, last_sec, n_events, monetary) — max / count / exact
    decimal sum merge order-free, so stream_rfm_segments keeps one
    bounded row per user as state. Cached on the batch side: the
    release reads it five times (three rankings, base row, totals)."""
    return cached_batch(
        ev.groupBy("user_id").agg(
            F.max(F.col("ts").cast("long")).alias("last_sec"),
            F.count("*").cast("long").alias("n_events"),
            _dsum(F.col("value")).alias("monetary"),
        )
    )


def rfm_release(users: DataFrame) -> DataFrame:
    """The RFM scoring tail over the per-user relation."""
    mx = users.agg(F.max("last_sec").alias("mx"))
    base = users.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (F.col("mx") - F.col("last_sec")).alias("recency_sec"),
        "n_events",
        "monetary",
    )
    n_rel = users.agg(F.count("*").alias("n_u"))

    def score(df, order_cols, asc_is_best: bool, name: str):
        ranked = with_dense_ids(df, order_cols, id_name="_rid")
        b = F.expr(f"(_rid * {RFM_BUCKETS}) div n_u")
        sc = (
            F.lit(RFM_BUCKETS) - b if asc_is_best else F.lit(1) + b
        )
        return ranked.crossJoin(F.broadcast(n_rel)).select(
            "user_id", sc.cast("int").alias(name)
        )

    r = score(
        base.select("user_id", "recency_sec"),
        [F.col("recency_sec"), F.col("user_id")],
        True,
        "r_score",
    )
    f = score(
        base.select("user_id", "n_events"),
        [F.col("n_events"), F.col("user_id")],
        False,
        "f_score",
    )
    m = score(
        base.select("user_id", "monetary"),
        [F.col("monetary"), F.col("user_id")],
        False,
        "m_score",
    )
    return (
        base.join(r, "user_id")
        .join(f, "user_id")
        .join(m, "user_id")
        .select(
            "user_id",
            "recency_sec",
            "n_events",
            F.col("monetary").cast("double").alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ).alias("segment"),
        )
    )


RFM_SEGMENTS_SQL = f"""
WITH users AS (
  SELECT user_id,
         MAX(FLOOR(epoch(ts))::BIGINT) AS last_sec,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS monetary
  FROM events GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_u, MAX(last_sec) AS mx FROM users
), base AS (
  SELECT u.user_id, n.mx - u.last_sec AS recency_sec, u.n_events, u.monetary,
         (ROW_NUMBER() OVER (ORDER BY n.mx - u.last_sec, u.user_id) - 1) AS r_rank,
         (ROW_NUMBER() OVER (ORDER BY u.n_events, u.user_id) - 1) AS f_rank,
         (ROW_NUMBER() OVER (ORDER BY u.monetary, u.user_id) - 1) AS m_rank,
         n.n_u
  FROM users u CROSS JOIN n
)
SELECT user_id, recency_sec, n_events, CAST(monetary AS DOUBLE) AS monetary,
       CAST({RFM_BUCKETS} - (r_rank * {RFM_BUCKETS}) // n_u AS INT) AS r_score,
       CAST(1 + (f_rank * {RFM_BUCKETS}) // n_u AS INT) AS f_score,
       CAST(1 + (m_rank * {RFM_BUCKETS}) // n_u AS INT) AS m_score,
       CAST({RFM_BUCKETS} - (r_rank * {RFM_BUCKETS}) // n_u AS VARCHAR)
         || CAST(1 + (f_rank * {RFM_BUCKETS}) // n_u AS VARCHAR)
         || CAST(1 + (m_rank * {RFM_BUCKETS}) // n_u AS VARCHAR) AS segment
FROM base
"""


# ---------------- CUPED variance-reduced experiment readout

def event_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, n_users, mean_y, mean_y_adj, var_y, var_y_adj,
    var_reduction) — CUPED (controlled-experiment using pre-experiment
    data): each user's post-period spend Y is adjusted by
    θ·(X − X̄) where X is their PRE-period spend and θ = cov(X,Y)/
    var(X) pooled across variants — the industry-standard variance
    reduction that lets the same experiment detect a smaller lift.
    Pre/post split at the corpus time midpoint (event_psi_drift's
    deploy-midpoint convention); variants are the shared salted
    assignment (ab_variant_col), so this composes with
    ab_test_analysis.

    Scale plan: ONE user-keyed aggregation (pre/post conditional
    decimal sums), a 1-row pooled-moment broadcast for θ, and a ≤
    AB_VARIANTS-row rollup. Exactness: X/Y are exact DECIMAL(18,2)
    sums cast once to double; every product moment snaps to
    DECIMAL(28,12) before its order-free sum; θ and the variance
    algebra are identical IEEE expressions on identical doubles."""
    ev = _events(spark, sf_dir)
    mid = ev.agg(ts_midpoint().alias("t_mid"))
    return cuped_release(cached(cuped_users(ev.crossJoin(F.broadcast(mid)), F.col("t_mid"))))


def cuped_users(ev: DataFrame, t_mid: Column) -> DataFrame:
    """(user_id, variant, x, y): each user's pre-period (ts ≤ t_mid)
    and post-period spend as exact DECIMAL(18,2) sums cast once to
    double. The batch query passes its broadcast midpoint column, the
    stream twin its deploy-time literal; the sums merge order-free."""
    dec = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(F.unix_micros("ts") <= t_mid, dec)), zero)
            .cast("double").alias("x"),
            F.coalesce(F.sum(F.when(F.unix_micros("ts") > t_mid, dec)), zero)
            .cast("double").alias("y"),
        )
        .select("user_id", ab_variant_col().alias("variant"), "x", "y")
    )


def cuped_release(per_user: DataFrame) -> DataFrame:
    """The CUPED tail over a (user_id, variant, x, y) relation —
    shared by the batch query above and stream_cuped (whose pre/post
    decimal sums merge order-free once the midpoint is fixed).

    Moments snap to DECIMAL(38,6), not the repo's usual (28,12): x·x
    at a 1e9 spend is 1e18, past (28,12)'s 16 integer digits. The
    wider quantum is still engine-exact — both engines form the SAME
    product double from the SAME exact-decimal x/y, so the per-row
    decimals are identical and the sum is order-free."""
    d28 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    pooled = per_user.agg(
        F.count("*").alias("n"),
        F.sum(d28(F.col("x"))).alias("sx"),
        F.sum(d28(F.col("y"))).alias("sy"),
        F.sum(d28(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(d28(F.col("x") * F.col("y"))).alias("sxy"),
    )
    sxx_c = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
    sxy_c = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    theta_rel = pooled.select(
        F.when(sxx_c > 0, sxy_c / sxx_c).otherwise(F.lit(0.0)).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("x_bar"),
    )
    per_v = per_user.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(d28(F.col("x"))).alias("sx"),
        F.sum(d28(F.col("y"))).alias("sy"),
        F.sum(d28(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(d28(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(d28(F.col("x") * F.col("y"))).alias("sxy"),
    )
    n = F.col("n_users")
    xb = F.col("sx").cast("double") / n
    yb = F.col("sy").cast("double") / n
    var_x = F.col("sxx").cast("double") / n - xb * xb
    var_y = F.col("syy").cast("double") / n - yb * yb
    cov = F.col("sxy").cast("double") / n - xb * yb
    th = F.col("theta")
    var_adj = var_y - 2 * th * cov + th * th * var_x
    # ROUND(tiny negative) lands on -0.0 in one engine and 0.0 in the
    # other; + 0.0 AFTER the round normalizes the sign (IEEE -0+0=+0)
    return per_v.crossJoin(F.broadcast(theta_rel)).select(
        "variant",
        "n_users",
        F.round(yb, 6).alias("mean_y"),
        F.round(yb - th * (xb - F.col("x_bar")), 6).alias("mean_y_adj"),
        (F.round(var_y, 6) + F.lit(0.0)).alias("var_y"),
        (F.round(var_adj, 6) + F.lit(0.0)).alias("var_y_adj"),
        F.when(var_y > 0, F.round((var_y - var_adj) / var_y, 6)).alias(
            "var_reduction"
        ),
    )


def _cuped_sql() -> str:
    v = md5_hash60_sql(f"'{AB_SALT}' || CAST(user_id AS VARCHAR)")
    return f"""
WITH mid AS (
  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) / 2.0 AS t_mid FROM events
), per_user AS MATERIALIZED (
  SELECT user_id, ({v}) % {AB_VARIANTS} AS variant,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) <= m.t_mid
                                THEN CAST(value AS DECIMAL(18,2)) END),
                       CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS x,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) > m.t_mid
                                THEN CAST(value AS DECIMAL(18,2)) END),
                       CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM events e CROSS JOIN mid m
  GROUP BY user_id, m.t_mid
), pooled AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,6))) AS sx,
         SUM(CAST(y AS DECIMAL(38,6))) AS sy,
         SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx,
         SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy
  FROM per_user
), theta AS (
  SELECT CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n > 0
              THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
              ELSE 0.0 END AS theta,
         CAST(sx AS DOUBLE) / n AS x_bar
  FROM pooled
), per_v AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(CAST(x AS DECIMAL(38,6))) AS sx,
         SUM(CAST(y AS DECIMAL(38,6))) AS sy,
         SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(38,6))) AS syy,
         SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy
  FROM per_user GROUP BY 1
)
SELECT variant, n_users,
       ROUND(CAST(sy AS DOUBLE) / n_users, 6) AS mean_y,
       ROUND(CAST(sy AS DOUBLE) / n_users
             - t.theta * (CAST(sx AS DOUBLE) / n_users - t.x_bar), 6) AS mean_y_adj,
       ROUND(CAST(syy AS DOUBLE) / n_users
             - (CAST(sy AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users), 6) + 0.0 AS var_y,
       ROUND((CAST(syy AS DOUBLE) / n_users
              - (CAST(sy AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users))
             - 2 * t.theta * (CAST(sxy AS DOUBLE) / n_users
                              - (CAST(sx AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users))
             + t.theta * t.theta * (CAST(sxx AS DOUBLE) / n_users
                                    - (CAST(sx AS DOUBLE) / n_users) * (CAST(sx AS DOUBLE) / n_users)), 6) + 0.0 AS var_y_adj,
       CASE WHEN CAST(syy AS DOUBLE) / n_users
                 - (CAST(sy AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users) > 0
            THEN ROUND(((CAST(syy AS DOUBLE) / n_users
                         - (CAST(sy AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users))
                        - ((CAST(syy AS DOUBLE) / n_users
                            - (CAST(sy AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users))
                           - 2 * t.theta * (CAST(sxy AS DOUBLE) / n_users
                                            - (CAST(sx AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users))
                           + t.theta * t.theta * (CAST(sxx AS DOUBLE) / n_users
                                                  - (CAST(sx AS DOUBLE) / n_users) * (CAST(sx AS DOUBLE) / n_users))))
                       / (CAST(syy AS DOUBLE) / n_users
                          - (CAST(sy AS DOUBLE) / n_users) * (CAST(sy AS DOUBLE) / n_users)), 6) END AS var_reduction
FROM per_v CROSS JOIN theta t
"""


# --------------- overdispersion audit of per-user event counts

VMR_THRESHOLD = 1.5  # variance/mean ratio above this = overdispersed


def event_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_users, mean_count, var_count, vmr,
    overdispersed) — the Poisson-assumption audit: per event type, the
    variance/mean ratio of per-user event counts. A Poisson arrival
    model implies VMR ≈ 1; heavy-tailed user activity (the usual
    reality) shows VMR ≫ 1, which changes every sample-size and
    anomaly threshold downstream — the check that decides whether
    count models need a negative-binomial (overdispersed) form.

    Scale plan: one (type, user) hash agg then one |types|-key
    rollup — map-side combine eats the skew. Exactness: counts are
    exact int64; Σc and Σc² are exact integer sums, so mean and the
    population variance n·Σc² − (Σc)² divide identical integers; the
    VMR flag compares identical doubles. Users who never emit a type
    contribute no row for it — the audit is over ACTIVE users per
    type, documented (zero-inflation is a separate question)."""
    ev = _events(spark, sf_dir)
    cu = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    agg = cu.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
    )
    n = F.col("n_users")
    mean = F.col("sc").cast("double") / n
    var = (n * F.col("sc2") - F.col("sc") * F.col("sc")).cast("double") / (n * n)
    vmr = F.when(F.col("sc") > 0, var / mean)
    return agg.select(
        "event_type",
        "n_users",
        F.round(mean, 6).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(vmr, 6).alias("vmr"),
        (F.coalesce(vmr, F.lit(0.0)) > VMR_THRESHOLD).alias("overdispersed"),
    )


EVENT_OVERDISPERSION_SQL = f"""
WITH cu AS (
  SELECT event_type, user_id, COUNT(*) AS c FROM events GROUP BY 1, 2
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c * c) AS BIGINT) AS sc2
  FROM cu GROUP BY 1
)
SELECT event_type, n_users,
       ROUND(CAST(sc AS DOUBLE) / n_users, 6) AS mean_count,
       ROUND(CAST(n_users * sc2 - sc * sc AS DOUBLE) / (n_users * n_users), 6) AS var_count,
       ROUND(CASE WHEN sc > 0
                  THEN (CAST(n_users * sc2 - sc * sc AS DOUBLE) / (n_users * n_users))
                       / (CAST(sc AS DOUBLE) / n_users) END, 6) AS vmr,
       COALESCE(CASE WHEN sc > 0
                     THEN (CAST(n_users * sc2 - sc * sc AS DOUBLE) / (n_users * n_users))
                          / (CAST(sc AS DOUBLE) / n_users) END, 0.0)
         > {VMR_THRESHOLD} AS overdispersed
FROM agg
"""


# ------------- split-conformal interval for the logistic model

CONF_ALPHA = 0.1  # target miscoverage


def conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(alpha, q, n_cal, n_test, coverage) — split-conformal
    prediction for the logistic model, run honestly: the model fits
    on the salted 'train' bucket ONLY (_fit_logit(train_only=True)),
    the nonconformity scores |y − p| on the untouched 'val' bucket set
    the quantile q at the finite-sample-corrected rank
    ⌈(1−α)(n_cal+1)⌉, and the 'test' bucket reports the achieved
    coverage of the interval [p−q, p+q] — the distribution-free
    guarantee (coverage ≥ 1−α in expectation) that turns a propensity
    score into a calibrated prediction SET.

    Scale plan: shares the trained chain; scores are one map over the
    cohort; the calibration order statistic rides with_dense_ids (no
    global window); q and n_cal re-enter as a 1-row broadcast over the
    test aggregation. Exactness: identical weights (snapped
    trajectory), identical |y − p| doubles, an integer rank cut, and
    one comparison per test row.

    Degenerate contract (ADVICE r8): an EMPTY 'val' calibration bucket
    yields ZERO rows (the rank cut least(n_cal−1, …) = −1 matches
    nothing), identically in both engines — downstream consumers must
    treat a missing release as "no calibration data", not as coverage
    achieved; observed at sf0.001 where the cohort is too small to
    populate all three salted buckets."""
    feats, xs, w = _fit_logit(spark, sf_dir, train_only=True)
    z = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    scored = feats.select(
        "user_id", "split", "y", F.abs(F.col("y") - p).alias("s")
    )
    cal = scored.filter(F.col("split") == "val").select("user_id", "s")
    n_rel = cal.agg(F.count("*").alias("n_cal"))
    ranked = with_dense_ids(cal, [F.col("s"), F.col("user_id")], id_name="_rid")
    q_rel = (
        ranked.crossJoin(F.broadcast(n_rel))
        .filter(
            F.col("_rid")
            == F.least(
                F.col("n_cal") - 1,
                F.ceil(F.lit(1.0 - CONF_ALPHA) * (F.col("n_cal") + 1)).cast("long")
                - 1,
            )
        )
        .select(F.col("s").alias("q"), "n_cal")
    )
    return (
        scored.filter(F.col("split") == "test")
        .crossJoin(F.broadcast(q_rel))
        .groupBy("q", "n_cal")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.round(F.avg((F.col("s") <= F.col("q")).cast("double")), 6).alias(
                "coverage"
            ),
        )
        .select(
            F.lit(CONF_ALPHA).alias("alpha"),
            F.round(F.col("q"), 6).alias("q"),
            "n_cal",
            "n_test",
            "coverage",
        )
    )


def _conformal_sql() -> str:
    prefix, p = _logit_chain_sql(train_only=True)
    return (
        prefix
        + f"""
, scored AS MATERIALIZED (
  SELECT f.user_id, f.split, f.y, ABS(f.y - {p}) AS s
  FROM zfeat f, w{LOGIT_ROUNDS} w
), cal AS (
  SELECT s, ROW_NUMBER() OVER (ORDER BY s, user_id) - 1 AS rid
  FROM scored WHERE split = 'val'
), nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal
), qv AS (
  SELECT c.s AS q, nc.n_cal
  FROM cal c CROSS JOIN nc
  WHERE c.rid = LEAST(nc.n_cal - 1,
                      CAST(CEIL({1.0 - CONF_ALPHA} * (nc.n_cal + 1)) AS BIGINT) - 1)
)
SELECT {CONF_ALPHA} AS alpha, ROUND(q.q, 6) AS q, q.n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(AVG(CASE WHEN t.s <= q.q THEN 1.0 ELSE 0.0 END), 6) AS coverage
FROM scored t CROSS JOIN qv q
WHERE t.split = 'test'
GROUP BY q.q, q.n_cal
"""
    )


# ---------- next-event Markov predictor with held-out accuracy

def markov_next_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, predicted, n_pairs, n_correct, accuracy) — the
    sequence-model baseline EVALUATED: a first-order Markov next-event
    predictor (argmax transition) is fit on each user's first half and
    scored on their second half — the top-1 accuracy floor any
    sequence model must beat before it earns a slot in the serving
    path. Eval pairs are the consecutive pairs whose SECOND event
    falls in the held-out half, so the boundary transition is scored
    too (prediction context may be a train event; the LABEL never is).

    Scale plan: one lag+rank window pass per user (hash-partitioned),
    one (from, to) hash agg for the train matrix, an argmax window
    bounded by |types| rows per key, and the eval join keys on
    from_type — a broadcast-sized |types|-row build side. Exact int
    counts; one division; argmax ties break lexicographically."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
        F.row_number().over(w).alias("r"),
        F.count("*").over(wn).alias("n"),
    ).filter(F.col("from_type").isNotNull())
    train = seq.filter(F.col("r") <= F.col("n") / 2)
    ev_pairs = seq.filter(F.col("r") > F.col("n") / 2)
    tm = train.groupBy("from_type", "to_type").agg(F.count("*").alias("c"))
    wa = Window.partitionBy("from_type").orderBy(
        F.col("c").desc(), F.col("to_type").asc()
    )  # ≤ |types| rows per key post-agg
    best = (
        tm.withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") == 1)
        .select("from_type", F.col("to_type").alias("predicted"))
    )
    return (
        ev_pairs.join(F.broadcast(best), "from_type")
        .groupBy("from_type", "predicted")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum((F.col("to_type") == F.col("predicted")).cast("long")).alias(
                "n_correct"
            ),
        )
        .select(
            "from_type",
            "predicted",
            "n_pairs",
            "n_correct",
            F.round(F.col("n_correct").cast("double") / F.col("n_pairs"), 6).alias(
                "accuracy"
            ),
        )
    )


MARKOV_NEXT_ACCURACY_SQL = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
), pairs AS (
  SELECT * FROM seq WHERE from_type IS NOT NULL
), tm AS (
  SELECT from_type, to_type, COUNT(*) AS c
  FROM pairs WHERE r <= n / 2 GROUP BY 1, 2
), best AS (
  SELECT from_type, to_type AS predicted
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY from_type
                                     ORDER BY c DESC, to_type ASC) AS rn
        FROM tm)
  WHERE rn = 1
)
SELECT p.from_type, b.predicted,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN p.to_type = b.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(CAST(SUM(CASE WHEN p.to_type = b.predicted THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS accuracy
FROM pairs p JOIN best b ON p.from_type = b.from_type
WHERE p.r > p.n / 2
GROUP BY 1, 2
"""


# ------------- calibration readout for the logistic model

CAL_BINS = 10  # reliability-diagram resolution


def conversion_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, n_users, n_conv, mean_p, frac_conv, gap) — the
    reliability table for the in-engine logistic model: users bucketed
    by predicted probability (equal-width CAL_BINS over [0,1]),
    per-bucket mean prediction vs observed conversion rate, and the
    calibration gap. The readout that decides whether the propensity
    scores can be consumed as probabilities or need recalibration.

    Scale plan: shares _fit_logit (one cached feature pass +
    LOGIT_ROUNDS scalar aggregates); the readout itself is ONE hash
    agg on ≤ CAL_BINS keys. Exactness: p is the same IEEE expression
    on the same snapped-trajectory weights in both engines, the bin
    index floors identically, and Σp snaps to DECIMAL(28,12)."""
    feats, xs, w = _fit_logit(spark, sf_dir)
    z = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    b = F.least(F.lit(CAL_BINS - 1), F.floor(p * CAL_BINS)).cast("long")
    return (
        feats.groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("y").cast("long").alias("n_conv"),
            F.sum(p.cast("decimal(28,12)")).alias("sp"),
        )
        .select(
            "bin",
            "n_users",
            "n_conv",
            F.round(F.col("sp").cast("double") / F.col("n_users"), 6).alias("mean_p"),
            F.round(F.col("n_conv").cast("double") / F.col("n_users"), 6).alias(
                "frac_conv"
            ),
            F.round(
                F.col("sp").cast("double") / F.col("n_users")
                - F.col("n_conv").cast("double") / F.col("n_users"),
                6,
            ).alias("gap"),
        )
    )


def _calibration_sql() -> str:
    prefix, p = _logit_chain_sql()
    pb = f"LEAST({CAL_BINS - 1}, FLOOR({p} * {CAL_BINS}))"
    return (
        prefix
        + f"""
, cal AS (
  SELECT CAST({pb} AS BIGINT) AS bin,
         COUNT(*) AS n, SUM(f.y) AS nc,
         SUM(CAST({p} AS DECIMAL(28,12))) AS sp
  FROM zfeat f, w{LOGIT_ROUNDS} w
  GROUP BY 1
)
SELECT bin, CAST(n AS BIGINT) AS n_users, CAST(nc AS BIGINT) AS n_conv,
       ROUND(CAST(sp AS DOUBLE) / n, 6) AS mean_p,
       ROUND(CAST(nc AS DOUBLE) / n, 6) AS frac_conv,
       ROUND(CAST(sp AS DOUBLE) / n - CAST(nc AS DOUBLE) / n, 6) AS gap
FROM cal
"""
    )


# ---------------- weight-of-evidence feature binning

WOE_BINS = 8  # equal-width bins over each feature's observed range


def woe_feature_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(feature, bin, n_users, n_pos, woe, iv) — weight-of-evidence
    binning of the four behavioral features against the conversion
    label: woe = ln(((pos+0.5)/POS)/((neg+0.5)/NEG)) per equal-width
    bin (+0.5 Laplace so empty-side bins stay finite), and IV — the
    feature-level information value Σ(pct_pos − pct_neg)·woe over the
    occupied bins — repeated per row. The feature-screening table a
    credit/propensity modeler reads BEFORE training; shares
    _logit_features with logistic_conversion_model, so the two tell
    one story.

    Scale plan: features are the same one user-keyed agg (cached);
    the unpivot is a 4× map; per-feature (lo, hi) is a 4-row
    broadcast equi-join; the bin rollup is one hash agg on ≤ 4·B keys;
    the POS/NEG totals enter as a 1-row broadcast; the IV window
    partitions by feature over ≤ B rows. Exactness: bin indices come
    from identical IEEE expressions on identical doubles; woe/iv
    terms snap to DECIMAL(28,12) before the order-free sums."""
    feats = cached(_logit_features(spark, sf_dir))
    long = feats.select(
        "user_id",
        "y",
        F.expr(
            "stack(4, 'ln_events', x1, 'ln_value', x2, 'n_types', x3, 'ln_span', x4)"
        ).alias("feature", "x"),
    )
    rng = long.groupBy("feature").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = long.join(F.broadcast(rng), "feature").select(
        "feature",
        "y",
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(WOE_BINS - 1),
                F.floor((F.col("x") - F.col("lo")) * WOE_BINS / (F.col("hi") - F.col("lo"))),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("bin"),
    )
    cells = binned.groupBy("feature", "bin").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    tot = feats.agg(
        F.sum("y").cast("long").alias("pos_t"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg_t"),
    )
    pp = (F.col("n_pos") + 0.5) / F.col("pos_t")
    pn = (F.col("n_users") - F.col("n_pos") + 0.5) / F.col("neg_t")
    woe = F.log(pp / pn)
    wf = Window.partitionBy("feature")  # ≤ WOE_BINS rows per key post-agg
    return (
        cells.crossJoin(F.broadcast(tot))
        .withColumn("_iv_term", ((pp - pn) * woe).cast("decimal(28,12)"))
        .select(
            "feature",
            "bin",
            "n_users",
            "n_pos",
            F.round(woe, 6).alias("woe"),
            F.round(F.sum("_iv_term").over(wf).cast("double"), 6).alias("iv"),
        )
    )


def _woe_sql() -> str:
    b = WOE_BINS
    return f"""
WITH {_logit_feat_sql().strip()}
, long AS (
  SELECT user_id, y, 'ln_events' AS feature, x1 AS x FROM feat
  UNION ALL SELECT user_id, y, 'ln_value', x2 FROM feat
  UNION ALL SELECT user_id, y, 'n_types', x3 FROM feat
  UNION ALL SELECT user_id, y, 'ln_span', x4 FROM feat
), rng AS (
  SELECT feature, MIN(x) AS lo, MAX(x) AS hi FROM long GROUP BY 1
), binned AS (
  SELECT l.feature, l.y,
         CAST(CASE WHEN r.hi > r.lo
                   THEN LEAST({b - 1}, FLOOR((l.x - r.lo) * {b} / (r.hi - r.lo)))
                   ELSE 0 END AS BIGINT) AS bin
  FROM long l JOIN rng r ON l.feature = r.feature
), cells AS (
  SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM binned GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(y) AS BIGINT) AS pos_t,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_t
  FROM feat
)
SELECT feature, bin, n_users, n_pos,
       ROUND(LN(((n_pos + 0.5) / pos_t) / ((n_users - n_pos + 0.5) / neg_t)), 6) AS woe,
       ROUND(CAST(SUM(CAST((((n_pos + 0.5) / pos_t) - ((n_users - n_pos + 0.5) / neg_t))
                           * LN(((n_pos + 0.5) / pos_t) / ((n_users - n_pos + 0.5) / neg_t))
                      AS DECIMAL(28,12))) OVER (PARTITION BY feature) AS DOUBLE), 6) AS iv
FROM cells CROSS JOIN tot
"""


QUERIES = {
    "event_ewma_daily": ewma_daily,
    "event_double_ewma": event_double_ewma,
    "event_scd_intervals": scd_intervals,
    "event_changelog_apply": changelog_apply,
    "event_tumbling_windows": tumbling_windows,
    "event_sliding_windows": sliding_windows,
    "event_sessions": sessionize,
    "event_props_json": props_json_rollup,
    "event_user_rank": user_activity_rank,
    "event_dedup": event_dedup,
    "event_daily_matrix": daily_type_matrix,
    "event_anomaly_zscore": event_anomaly_zscore,
    "event_asof_last_view": asof_last_view,
    "event_value_percentiles": value_percentiles,
    "event_daily_pivot": daily_type_pivot,
    "event_user_funnel": user_funnel,
    "event_trailing_value": trailing_user_value,
    "event_day_type_cube": day_type_cube,
    "event_grouping_sets": grouping_sets_report,
    "event_gap_stats": event_gap_stats,
    "event_user_deciles": user_value_deciles,
    "event_gap_fill": gap_fill_daily,
    "event_props_redaction": props_redaction,
    "event_retention_cohorts": retention_cohorts,
    "event_value_histogram": value_histogram,
    "event_user_rank_profile": user_value_rank_profile,
    "event_daily_unpivot": daily_type_unpivot,
    "event_transitions": event_transitions,
    "ab_test_analysis": ab_test_analysis,
    "event_tail_index": event_tail_index,
    "event_psi_drift": event_psi_drift,
    "conversion_survival": conversion_survival,
    "event_seasonality": event_seasonality,
    "event_frequent_sequences": event_frequent_sequences,
    "next_event_examples": next_event_examples,
    "event_attribution_credit": event_attribution_credit,
    "event_bot_score": event_bot_score,
    "logistic_conversion_model": logistic_conversion_model,
    "woe_feature_bins": woe_feature_bins,
    "conversion_model_calibration": conversion_model_calibration,
    "markov_next_accuracy": markov_next_accuracy,
    "rfm_segments": rfm_segments,
    "bootstrap_ci": bootstrap_ci,
    "conformal_coverage": conformal_coverage,
    "event_cuped_adjustment": event_cuped_adjustment,
    "event_overdispersion": event_overdispersion,
}

ORACLE_SQL = {
    "event_ewma_daily": EWMA_DAILY_SQL,
    "event_double_ewma": EVENT_DOUBLE_EWMA_SQL,
    "event_scd_intervals": EVENT_SCD_INTERVALS_SQL,
    "event_changelog_apply": CHANGELOG_APPLY_SQL,
    "event_tumbling_windows": TUMBLING_WINDOWS_SQL,
    "event_sliding_windows": SLIDING_WINDOWS_SQL,
    "event_sessions": SESSIONIZE_SQL,
    "event_props_json": PROPS_JSON_ROLLUP_SQL,
    "event_user_rank": USER_ACTIVITY_RANK_SQL,
    "event_dedup": EVENT_DEDUP_SQL,
    "event_daily_matrix": DAILY_TYPE_MATRIX_SQL,
    "event_anomaly_zscore": EVENT_ANOMALY_ZSCORE_SQL,
    "event_asof_last_view": ASOF_LAST_VIEW_SQL,
    "event_value_percentiles": VALUE_PERCENTILES_SQL,
    "event_daily_pivot": DAILY_TYPE_PIVOT_SQL,
    "event_user_funnel": USER_FUNNEL_SQL,
    "event_trailing_value": TRAILING_USER_VALUE_SQL,
    "event_day_type_cube": DAY_TYPE_CUBE_SQL,
    "event_grouping_sets": GROUPING_SETS_REPORT_SQL,
    "event_gap_stats": EVENT_GAP_STATS_SQL,
    "event_user_deciles": USER_VALUE_DECILES_SQL,
    "event_gap_fill": GAP_FILL_DAILY_SQL,
    "event_props_redaction": PROPS_REDACTION_SQL,
    "event_retention_cohorts": RETENTION_COHORTS_SQL,
    "event_value_histogram": VALUE_HISTOGRAM_SQL,
    "event_user_rank_profile": USER_VALUE_RANK_PROFILE_SQL,
    "event_daily_unpivot": DAILY_TYPE_UNPIVOT_SQL,
    "event_transitions": EVENT_TRANSITIONS_SQL,
    "ab_test_analysis": AB_TEST_ANALYSIS_SQL,
    "event_tail_index": EVENT_TAIL_INDEX_SQL,
    "event_psi_drift": EVENT_PSI_DRIFT_SQL,
    "conversion_survival": CONVERSION_SURVIVAL_SQL,
    "event_seasonality": EVENT_SEASONALITY_SQL,
    "event_frequent_sequences": EVENT_FREQUENT_SEQUENCES_SQL,
    "next_event_examples": NEXT_EVENT_EXAMPLES_SQL,
    "event_attribution_credit": EVENT_ATTRIBUTION_CREDIT_SQL,
    "event_bot_score": EVENT_BOT_SCORE_SQL,
    "logistic_conversion_model": _logistic_sql(),
    "woe_feature_bins": _woe_sql(),
    "conversion_model_calibration": _calibration_sql(),
    "markov_next_accuracy": MARKOV_NEXT_ACCURACY_SQL,
    "rfm_segments": RFM_SEGMENTS_SQL,
    "bootstrap_ci": _bootstrap_sql(),
    "conformal_coverage": _conformal_sql(),
    "event_cuped_adjustment": _cuped_sql(),
    "event_overdispersion": EVENT_OVERDISPERSION_SQL,
}
