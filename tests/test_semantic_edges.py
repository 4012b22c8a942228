"""Regression tests for the ADVICE r3 semantic edges: year-wrapping
cohort weeks, unknown-language sampling drops and guessed watermark
horizons. Each test pins the FIXED behavior on a fixture that the
sf0.01 gate data can't exercise (30 days of events, 5 known languages).
The DECIMAL(18,2) tie rounding of stream_user_activity's value sum is
checked against DuckDB on test_degenerate_events' fixture."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from capstone_etl_spark.operators.events import RETENTION_COHORTS_SQL, retention_cohorts
from capstone_etl_spark.operators.sampling import (
    DEFAULT_STRATUM_PCT,
    doc_sample_stratified,
)
from capstone_etl_spark.operators.streaming_queries import _horizon_watermark


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.parquet(f"{path}/events.parquet")


def test_retention_cohorts_survive_year_wrap(spark, tmp_path):
    # User 1: first purchase Mon 2023-12-25 (ISO week 52), active again
    # 2024-01-08 (ISO week 2). weekofyear ordinals would yield
    # weeks_since = 2 - 52 = -50; absolute weeks give 2.
    ts = lambda s: dt.datetime.fromisoformat(s)
    _write_events(
        spark,
        str(tmp_path),
        [
            (1, ts("2023-12-25 10:00:00"), 1, "purchase", 10.0, "{}"),
            (2, ts("2024-01-08 11:00:00"), 1, "click", 0.0, "{}"),
            (3, ts("2023-12-26 09:00:00"), 2, "purchase", 5.0, "{}"),
            (4, ts("2024-01-02 09:00:00"), 2, "view", 0.0, "{}"),
        ],
    )
    got = retention_cohorts(spark, str(tmp_path)).collect()
    assert all(r["weeks_since"] >= 0 for r in got)
    jan = {
        (r["cohort_week"], r["active_week"]): r["weeks_since"]
        for r in got
    }
    assert jan[(dt.date(2023, 12, 25), dt.date(2024, 1, 8))] == 2
    assert jan[(dt.date(2023, 12, 25), dt.date(2024, 1, 1))] == 1  # user 2 cohorted Mon 12-25

    # both engines agree on the wrapped fixture, not just at sf0.01
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    oracle = sorted(map(tuple, con.execute(RETENTION_COHORTS_SQL).fetchall()))
    assert sorted(map(tuple, got)) == oracle


def test_stratified_sample_keeps_unknown_language(spark, tmp_path):
    # ADVICE r3: a language outside STRATUM_PCT used to hash-compare a
    # NULL rate and silently drop EVERY row. It must keep at the
    # explicit default rate instead.
    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.lit("t").alias("text"),
        F.lit("xx").alias("lang"),
        F.lit("s").alias("source"),
        F.lit(1).cast("long").alias("n_chars"),
    )
    docs.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    kept = doc_sample_stratified(spark, str(tmp_path)).count()
    assert kept > 0
    # hash buckets are uniform: expect ~DEFAULT_STRATUM_PCT% ± wide slack
    assert abs(kept / 400 - DEFAULT_STRATUM_PCT / 100) < 0.15


def test_horizon_watermark_covers_staged_span(spark):
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(base,), (base + dt.timedelta(days=3, hours=2),)], "ts timestamp"
    )
    wm = _horizon_watermark(df)
    days = int(wm.split()[0])
    assert wm.endswith("days")
    assert days * 86400 > dt.timedelta(days=3, hours=2).total_seconds()
