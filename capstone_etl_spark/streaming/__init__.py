"""Structured Streaming layer (SURVEY.md §2.8 extension).

The reference is a one-shot batch program; streaming is this engine's
extension, entered one way, the staged replay: `stage_events`
(source.py) writes a table as parquet files and `drain_staged`
(runner.py) attaches a file stream with the staged schema and drains it
through `run_to_memory` (availableNow). Every stream_* query, bench's
warm-up and the benchmark's stream workload drain this way.

An operator takes a frame that may be a stream or a batch frame; the
same transformation plans incrementally or as a batch. One shared with
a batch query is written once in the batch module (operators/events.py
`tumbling`, `sliding`, `dedup_counts`, the Twin accumulations);
windows.py holds the stream-only ones, stateful.py the one
applyInPandasWithState tracker (`bottom_k`, for state no built-in
aggregation can hold). tests/test_streaming.py checks
multi-batch replay against the batch forms; the stream_* queries
hash-compare against DuckDB (their batch twin's oracle in BATCH_TWIN).
"""

from capstone_etl_spark.streaming.source import stage_events  # noqa: F401
from capstone_etl_spark.streaming.runner import drain_staged, run_to_memory  # noqa: F401
from capstone_etl_spark.streaming.windows import (  # noqa: F401
    stream_click_purchase_join,
    stream_session_windows,
)
