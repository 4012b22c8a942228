"""The benchmark's workloads: which generated tables each reads, in what
file layout, and which engine calls one pass makes.

Every query is timed the way the engine's own bench forces a result:
count plus a sum of xxhash64 over every column cast to string, so all
columns are materialised. The calls per workload are few, so that a
pass takes about three seconds on a 4-core host and the runner's
whole series of runs fits its time limit; see perfbench/README.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    # generated table -> number of parquet files it is written as
    tables: dict[str, int]
    queries: tuple[str, ...]
    # composed relations (operators.outputs.<rel>_output) a pass ends by
    # writing through the sinks, as sinks.write_outputs writes them
    sink: tuple[str, ...] = ()


# Written relation -> the registered query whose DuckDB oracle checks it
# (the query is the relation with its arrays rendered as strings, so
# the relation's scalar columns are compared directly).
SINK_ORACLES = {"wikibooks": "wikibooks_docs"}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "reference_etl",
            tables={"documents": 16},
            queries=(),
            sink=("wikibooks",),
        ),
        Workload(
            "event_stream_replay",
            tables={"events": 1},
            queries=("stream_ab_test",),
        ),
    )
}

ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)
