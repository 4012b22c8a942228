"""Custom stateful streaming operators via applyInPandasWithState.

The escape hatch for operators Spark's built-in streaming aggregations
can't express (SURVEY.md §2.8): arbitrary per-key state evolved across
micro-batches in Arrow-batched pandas. Three trackers use it:

- running_user_activity: per-user running activity (event count +
  value sum + last-seen epoch);
- kmv_bottom_k / reservoir_bottom_k: per-source bottom-k of a hash
  stream (the KMV sketch and the reservoir sample). Spark has no
  bottom-k aggregate — its hll/kll/theta sketches give different
  outputs than the exact oracle — so these stay in Python.

A tracker whose state is only min/max/sum cells belongs in a built-in
streaming aggregation instead (stream_ab_test and
stream_conversion_survival run that way).

Scale notes: state lives in the executor state store partitioned by
the grouping key (user_id or source); each
micro-batch touches only keys present in that batch. Arrow transfer
batches rows per key-group — never row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value double, last_seen_sec long"
)
STATE_SCHEMA = "n long, cents long, last_sec long"
CENT = Decimal("0.01")


def _to_cents(values: pd.Series) -> int:
    """Sum of per-row integer cents under the SAME rule both engines
    apply when casting double → DECIMAL(18,2): round the double's
    SHORTEST decimal representation (Java Double.toString / Python
    repr) HALF_UP. pandas `.round()` is banker's (half-to-even) and
    diverges on ties (ADVICE r3); a naive floor(|v|*100 + 0.5) double-
    rounds (2.675*100 == 267.5 exactly in binary, yet the engines see
    "2.675" → 2.68 while 1.005*100 == 100.4999… yet they see 1.01).

    Vectorized fast path for the overwhelming non-tie majority; rows
    whose scaled fraction lands near .5 take the exact Decimal(repr)
    slow path — the only rows where the two procedures can differ."""
    v = values.to_numpy(dtype="float64")
    scaled = np.abs(v) * 100.0
    out = (np.sign(v) * np.floor(scaled + 0.5)).astype("int64")
    frac = scaled - np.floor(scaled)
    near_tie = np.abs(frac - 0.5) < 1e-6 * np.maximum(scaled, 1.0)
    for i in np.flatnonzero(near_tie):
        exact = Decimal(repr(float(v[i]))).quantize(CENT, rounding=ROUND_HALF_UP)
        out[i] = int(exact.scaleb(2))
    return int(out.sum())


def _accumulate(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # State accumulates EXACT integer cents (per-row HALF_UP rounding),
    # never a running float — float accumulation is micro-batch-order
    # dependent, which would make the final state irreproducible across
    # replays and impossible to oracle. cents/100.0 at emit time is one
    # correctly-rounded IEEE division, identical to a DECIMAL(18,2) sum
    # cast to double.
    n, cents, last = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += int(len(pdf))
        if len(pdf):
            cents += _to_cents(pdf["value"])
            last = max(last, int(pdf["ts_sec"].max()))
    state.update((n, cents, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "last_seen_sec": [last],
        }
    )


def running_user_activity(events: DataFrame) -> DataFrame:
    """Per-user running (count, value sum, last-seen) evolved across
    micro-batches; emits the updated row for every user seen in each
    batch (update output mode)."""
    prepared = events.select(
        "user_id",
        F.col("value").cast("double").alias("value"),
        F.col("ts").cast("long").alias("ts_sec"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _accumulate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_OUTPUT_SCHEMA = "source string, upd long, kp long, hk long, kmv_estimate double"
KMV_STATE_SCHEMA = "upd long, mins array<long>"
_KMV_K = 256
_HASH_SPACE = float(2**60)


def _kmv_accumulate(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # State = bottom-k of every hash seen for this source. The KMV
    # merge is a set-union + re-take-k: exact integers, order-free, so
    # the drained state equals the batch sketch regardless of how files
    # were batched — which is what makes the estimate oracle-checkable.
    upd, mins = state.get if state.exists else (0, [])
    seen = set(int(m) for m in mins)
    for pdf in pdfs:
        if len(pdf):
            seen.update(int(h) for h in pdf["h"].to_numpy())
    mins = sorted(seen)[:_KMV_K]
    upd += 1
    state.update((upd, mins))
    kp = len(mins)
    hk = mins[-1] if kp == _KMV_K else None
    # RAW estimate — rounding happens Spark-side at the final select
    # (Python round() is banker's; the engines round HALF_UP)
    est = float(kp) if kp < _KMV_K else float(_KMV_K - 1) * _HASH_SPACE / hk
    yield pd.DataFrame(
        {
            "source": [key[0]],
            "upd": [upd],
            "kp": [kp],
            "hk": pd.array([hk], dtype="Int64"),
            "kmv_estimate": [est],
        }
    )


def kmv_bottom_k(hashes: DataFrame) -> DataFrame:
    """Per-source streaming KMV sketch over a (source, h) hash stream:
    bounded bottom-k state per key, update-mode emissions tagged with a
    per-key update counter for final-row selection."""
    return hashes.groupBy("source").applyInPandasWithState(
        _kmv_accumulate,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RESERVOIR_OUTPUT_SCHEMA = "source string, upd long, doc_id long, lang string, rnk long"
RESERVOIR_STATE_SCHEMA = "upd long, hs array<long>, ids array<long>, langs array<string>"
_RESERVOIR_K = 50  # == operators.sampling.RESERVOIR_K (pinned by test)


def _reservoir_accumulate(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # State = the K smallest (salted-hash, doc_id) pairs seen for this
    # source — the same bounded bottom-K shape as the KMV sketch, so
    # the drained state is the BATCH reservoir_sample exactly (bottom-K
    # of a union is order-free), whatever the micro-batching was.
    upd, hs, ids, langs = state.get if state.exists else (0, [], [], [])
    entries: dict[tuple[int, int], Any] = {
        (int(h), int(i)): l for h, i, l in zip(hs, ids, langs)
    }
    for pdf in pdfs:
        for h, i, l in zip(pdf["h"], pdf["doc_id"], pdf["lang"]):
            entries[(int(h), int(i))] = None if l is None else str(l)
    best = sorted(entries)[:_RESERVOIR_K]
    upd += 1
    state.update(
        (
            upd,
            [h for h, _ in best],
            [i for _, i in best],
            [entries[k] for k in best],
        )
    )
    yield pd.DataFrame(
        {
            "source": [key[0]] * len(best),
            "upd": [upd] * len(best),
            "doc_id": [i for _, i in best],
            "lang": [entries[k] for k in best],
            "rnk": list(range(1, len(best) + 1)),
        }
    )


def reservoir_bottom_k(rows: DataFrame) -> DataFrame:
    """Per-source streaming reservoir sample over a
    (source, doc_id, lang, h) stream: bounded bottom-K-by-hash state
    per key; after draining, the final emission per source equals the
    batch reservoir_sample row-for-row."""
    return rows.groupBy("source").applyInPandasWithState(
        _reservoir_accumulate,
        outputStructType=RESERVOIR_OUTPUT_SCHEMA,
        stateStructType=RESERVOIR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
