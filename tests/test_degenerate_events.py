"""Degenerate-EVENTS cross-engine sweep — the events-table counterpart
of test_degenerate_corpus: every event-family query runs Spark-vs-
DuckDB on a pathological stream. Stresses the classes of bug the
document sweep cannot reach: timestamp TIES (same user, same second,
same type — every window tiebreak), exact session-gap and window-
boundary timestamps, a single-event user, value extremes (0, negative,
exact binary halves like 0.125 that sit on the decimal-rounding knife
edge, 1e9), same-type runs (SCD islands), and a cross-week span
(cohort/week arithmetic)."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import compare

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)          # midnight: every window aligns
GAP = 30 * 60                                   # events.SESSION_GAP_SEC

ROWS = [
    # user 1: ties — two clicks at the SAME second, a view at the same
    # second, then an event at EXACTLY the session gap (boundary), then
    # one past it (strictly greater → new session)
    (0, T0, 1, "click", 1.0, '{"k": 1}'),
    (1, T0, 1, "click", 2.0, '{"k": 2}'),
    (2, T0, 1, "view", 0.0, "{}"),
    (3, T0 + dt.timedelta(seconds=GAP), 1, "view", 0.125, '{"k": 3}'),
    (4, T0 + dt.timedelta(seconds=2 * GAP + 1), 1, "purchase", 1e9, '{"k": 4}'),
    # user 2: a single event ever (n==1 percentile/rank edges)
    (5, T0 + dt.timedelta(days=3), 2, "purchase", -5.5, '{"k": 5}'),
    # user 3: a same-type run at 1-second spacing (one SCD island),
    # then a type flip and back (three islands total)
    (6, T0 + dt.timedelta(seconds=1), 3, "click", 0.01, '{"k": 6}'),
    (7, T0 + dt.timedelta(seconds=2), 3, "click", 0.01, '{"k": 7}'),
    (8, T0 + dt.timedelta(seconds=3), 3, "click", 0.01, '{"k": 8}'),
    (9, T0 + dt.timedelta(seconds=4), 3, "view", 2.5, '{"k": 9}'),
    (10, T0 + dt.timedelta(seconds=5), 3, "click", 2.5, '{"k": 10}'),
    # user 4: activity spanning a year boundary (week/cohort ordinals)
    (11, dt.datetime(2023, 12, 31, 23, 59, 59), 4, "signup", 10.0, '{"k": 11}'),
    (12, dt.datetime(2024, 1, 1, 0, 0, 1), 4, "purchase", 10.0, '{"k": 12}'),
    (13, dt.datetime(2024, 1, 8, 12, 0, 0), 4, "error", 490.02, '{"k": 13}'),
]

# Every registered batch event-family query (stream_* excluded:
# job-per-call; they share these operators' oracles anyway).
NAMES = sorted(
    n
    for n in entrymod.queries()
    if n.startswith("event_") and not n.startswith("event_stream")
)
# events-shaped sketch audit: the click/view sides here are tiny and
# collision-free, so the CMS inner product must equal the exact join
# size (overestimate 0) in both engines
NAMES.append("cms_join_size")
# round-7 session 5: 4 users → a variant can have ZERO exposed users;
# the NULL-propagating lift/z columns must agree engine-for-engine,
# and the post-exposure rule must exclude user 2 (purchase, never
# exposed) and user 4 (purchase before any view)
NAMES.append("ab_test_analysis")
# KM edges on the tiny fixture: a user whose only event IS the view
# (censored at duration 0), the last at-risk user converting (n_conv =
# n_risk → the absorbing survival-0 state), pre-exposure purchases
NAMES.append("conversion_survival")


@pytest.fixture(scope="module")
def degen_events_sf(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("degen_events")
    pdf = pd.DataFrame(
        ROWS, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"event_id": "int64", "user_id": "int64", "value": "float64"})
    pdf.to_parquet(str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck(degen_events_sf):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{degen_events_sf}/events.parquet'"
    )
    return con


@pytest.mark.parametrize("name", NAMES)
def test_degenerate_events_match_oracle(spark, degen_events_sf, duck, name):
    from capstone_etl_spark.session import release_caches

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    try:
        spark_pdf = qs[name](spark, degen_events_sf).toPandas()
    finally:
        release_caches()
    duck_pdf = duck.execute(oracles[name]).df()
    assert compare(name, spark_pdf, duck_pdf) == []


# The streaming queries on the SAME pathological stream whose
# semantics are subtlest under ties and boundaries — session windows
# (the exact-gap event must MERGE, a strictly-greater gap must split),
# watermarked dedup, the stream-stream interval join (clicks and the
# in-window purchase can land in different micro-batch files), CDC
# apply and the running activity sums. Job-per-call, so only these
# are pinned; the full 217-query
# degenerate-events sweep runs ad hoc via tools/check_correctness.py.
STREAM_NAMES = [
    "stream_user_sessions",
    "stream_event_dedup",
    "stream_click_attribution",
    # CDC apply: the same-second writes (users 1 and 3) force the
    # (ts, event_id) argmax tiebreak through the streaming max(struct)
    # state, and user 4's final 'error' write must tombstone the user
    # out of the drained snapshot
    "stream_changelog_apply",
    # running activity: the 0.125 / 0.01 / 490.02 values put the value
    # sum's DECIMAL(18,2) tie rounding through the streaming aggregation
    "stream_user_activity",
]


@pytest.mark.parametrize("name", STREAM_NAMES)
def test_degenerate_events_streaming_match_oracle(spark, degen_events_sf, duck, name):
    from capstone_etl_spark.session import release_caches

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    try:
        spark_pdf = qs[name](spark, degen_events_sf).toPandas()
    finally:
        release_caches()
    duck_pdf = duck.execute(oracles[name]).df()
    assert compare(name, spark_pdf, duck_pdf) == []


# A/B exposure edges, in a fixture of their own (ROWS feeds every event
# query): user 20's only view has a NULL ts, so the user is exposed with
# no first-view time and cannot convert; user 21 views then buys; user
# 22 buys before the only view. The oracle's MIN(ts) ... GROUP BY keeps
# user 20 in n_exposed, so batch and stream must too.
AB_EDGE_ROWS = [
    (0, None, 20, "view", 0.0, "{}"),
    (1, T0 + dt.timedelta(seconds=5), 20, "purchase", 3.0, "{}"),
    (2, T0, 21, "view", 0.0, "{}"),
    (3, T0 + dt.timedelta(seconds=1), 21, "purchase", 4.0, "{}"),
    (4, T0, 22, "purchase", 5.0, "{}"),
    (5, T0 + dt.timedelta(seconds=1), 22, "view", 0.0, "{}"),
]


def test_ab_null_ts_view_is_exposed(spark, tmp_path):
    from collections import Counter

    import pandas as pd

    from capstone_etl_spark.session import release_caches

    pdf = pd.DataFrame(
        AB_EDGE_ROWS, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"event_id": "int64", "user_id": "int64", "value": "float64"})
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    sf, qs, oracles = str(tmp_path), entrymod.queries(), entrymod.oracle_sql()
    try:
        batch = qs["ab_test_analysis"](spark, sf)
        batch_pdf, batch_rows = batch.toPandas(), Counter(map(tuple, batch.collect()))
        stream_rows = Counter(map(tuple, qs["stream_ab_test"](spark, sf).collect()))
    finally:
        release_caches()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    duck_pdf = con.execute(oracles["ab_test_analysis"]).df()
    assert compare("ab_test_analysis", batch_pdf, duck_pdf) == []
    assert batch_pdf["n_exposed"].sum() == 3 and batch_pdf["n_converted"].sum() == 1
    assert stream_rows == batch_rows
