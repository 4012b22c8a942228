"""Custom stateful streaming state via applyInPandasWithState.

The escape hatch for state Spark's built-in streaming aggregations
can't express (SURVEY.md §2.8). One tracker uses it, `bottom_k`: the
per-source bottom-k of a hash stream, which is both the KMV sketch
(stream_kmv_sketch) and the reservoir sample (stream_reservoir_sample).
Spark has no bottom-k aggregate — its hll/kll/theta sketches give
different outputs than the exact oracle — so the merge stays in Python.

Rule: a state made only of count/sum/min/max cells is a built-in
streaming aggregation, not a tracker here (stream_user_activity,
stream_ab_test and stream_conversion_survival run that way; an exact
DECIMAL sum is then Spark's own cast, not a Python copy of it).

Scale: the state is O(k · sources), in the executor state store keyed
by source; each micro-batch touches only the sources present in it,
and Arrow hands the rows over per key group, never one at a time.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType


def bottom_k(rows: DataFrame, k: int) -> DataFrame:
    """Per-`source` bottom-k of the distinct non-key tuples of `rows`
    (hash column first, so the order is the hash order and the later
    columns only break ties). The merge is a set union + re-take-k:
    order-free, so the drained state equals the batch bottom-k however
    the files were batched. Update mode: each touched source emits its
    whole bottom-k as `(source, upd, <columns>, rnk)` rows, `upd`
    counting that source's emissions and `rnk` the 1-based position.
    Across emissions the bottom-k only grows (to k) and its k-th value
    only falls, so max(rnk) and min(h at rnk = k) over every emission
    are the final state's. State and output schemas follow `rows`."""
    cols = [f for f in rows.schema.fields if f.name != "source"]
    names = [f.name for f in cols]
    upd = StructField("upd", LongType())
    state_schema = StructType(
        [upd] + [StructField(f.name, ArrayType(f.dataType)) for f in cols]
    )
    out_schema = StructType(
        [rows.schema["source"], upd] + cols + [StructField("rnk", LongType())]
    )

    def merge(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, *lists = state.get if state.exists else (0, *([] for _ in names))
        seen = set(zip(*lists))
        for pdf in pdfs:
            seen.update(zip(*(pdf[c].tolist() for c in names)))
        best = sorted(seen)[:k]
        state.update((n + 1, *(list(c) for c in zip(*best))))
        out = pd.DataFrame(best, columns=names)
        out.insert(0, "source", key[0])
        out.insert(1, "upd", n + 1)
        out["rnk"] = range(1, len(best) + 1)
        yield out

    return rows.groupBy("source").applyInPandasWithState(
        merge,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
