"""Stream-only event operators (batch-or-stream polymorphic).

Each function takes an events DataFrame — streaming or batch — and
returns the transformed frame. On a stream, watermarks bound state:
late events beyond the watermark are dropped and closed windows or
join buffers are evicted from the state store (unbounded state is the
streaming analogue of an unbounded shuffle). On a batch frame the same
code yields the batch answer (no watermark is applied), which is what
the equivalence tests and DuckDB oracles check.

The event operators whose batch query is the same transformation —
tumbling and sliding windows, event dedup — are written once in
operators/events.py (`tumbling`, `sliding`, `dedup_counts`, with the
watermark note); the ones here have no batch query of the same shape.
Output schemas mirror operators/events.py (epoch-second times,
DECIMAL-exact value sums) so results hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capstone_etl_spark.operators.events import WATERMARK, _dsum, _watermarked

SESSION_GAP = "30 minutes"


def stream_session_windows(
    events: DataFrame, gap: str = SESSION_GAP, watermark: str = WATERMARK
) -> DataFrame:
    """Native session windows per user (F.session_window): a session
    extends while successive events arrive within `gap` INCLUSIVE — a
    touching boundary (next event exactly gap after the previous)
    still merges, so a new session starts only on strictly greater
    gaps, matching the lag+cumsum batch sessionize's strict `>` close
    (pinned against the sf0.1 corpus, which contains an exact-gap
    pair). The window end is last_event + gap. Event time is truncated
    to whole seconds BEFORE sessionization so gap decisions match the
    second-granularity oracle (raw micros would move boundary cases)."""
    ev = events.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
    return (
        _watermarked(ev, watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
        )
    )


def stream_enrich_user_tier(events: DataFrame, user_tiers: DataFrame) -> DataFrame:
    """STREAM-STATIC enrichment join: each streaming event joined to a
    batch-computed per-user dimension (tier), then aggregated per
    (tier, type). The static side needs no watermark — Spark plans it
    as a broadcast (or shuffle) lookup against an immutable relation,
    re-resolved per micro-batch; this is THE pattern for dimension
    enrichment at ingest (users ≪ events, so the dim broadcasts).
    Left join: events from users outside the dim survive with a
    literal 'unknown' tier rather than silently dropping."""
    enriched = events.join(F.broadcast(user_tiers), "user_id", "left").withColumn(
        "tier", F.coalesce("tier", F.lit("unknown"))
    )
    return enriched.groupBy("tier", "event_type").agg(
        F.count("*").alias("n_events"),
        _dsum(F.col("value")).alias("total_value"),
    )


ATTRIBUTION_WINDOW_SEC = 3600


def stream_click_purchase_join(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """STREAM-STREAM interval self-join: every purchase paired with the
    same user's clicks from the preceding hour (click attribution).

    Both join inputs derive from ONE watermarked stream (filter twice +
    alias — a supported streaming self-join), so each side carries the
    watermark the state store needs: a buffered click can be evicted
    once the watermark passes click_ts + 1 h (no purchase can match it
    anymore), which is exactly how a stream-stream join stays bounded
    at 100 TB/day — state is watermark-horizon-sized, never
    stream-sized. The time-range predicate (c_ts BETWEEN p_ts - 1 h
    AND p_ts) is what makes eviction derivable; an unconstrained
    equi-join on user_id alone would be rejected by Spark in append
    mode for exactly that reason. Event times are truncated to whole
    seconds first so pair decisions match the second-granularity
    oracle. Inner join ⇒ append output mode (pairs emit as soon as
    both sides have arrived, possibly in different micro-batches)."""
    ev = _watermarked(
        events.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long"))), watermark
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_SEC} SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("long").alias("purchase_sec"),
        F.col("c_ts").cast("long").alias("click_sec"),
    )
