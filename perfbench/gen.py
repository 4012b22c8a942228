"""Seeded input tables for the benchmark workloads.

The generator reproduces the shape of the engine's sf0.01 test tables
(same schemas, row counts and value distributions) without reading
them: every value is drawn from a NumPy generator keyed on
(seed, table), so

- the same seed gives byte-identical parquet files;
- two seeds give the same row counts, schemas and statistics but
  different content.

Shapes, as measured on the sf0.01 tables:

- documents: 500 rows. Text is 10-100 tokens drawn uniformly from a
  30-word vocabulary. About 5% of documents are an earlier document's
  text plus the token "dup" (the near-duplicates the dedup and
  connected-components operators find). 20 sources in equal shares.
  Languages en/zh/es/fr/de at 41/15/15/15/14%.
- events: 10,000 rows over 30 days from 2024-01-01, 150 users, five
  event types in equal shares, exponential values (mean 50, rounded to
  cents), props '{"k": 0..99}'; event_id follows ts order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value vector "
    "window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_FRACTION = 0.05
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_TABLE_KEYS = {"documents": 1, "events": 2}


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, _TABLE_KEYS[table]])


def documents(seed: int, n: int = 500) -> pa.Table:
    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    n_dup = round(n * DUP_FRACTION)
    dup_ids = rng.choice(np.arange(1, n), size=n_dup, replace=False)
    for i in sorted(dup_ids):
        base = int(rng.integers(0, n))
        while base == i or texts[base].endswith(" dup"):
            base = int(rng.integers(0, n))
        texts[i] = texts[base] + " dup"
    sources = np.repeat(np.arange(N_SOURCES), -(-n // N_SOURCES))[:n]
    rng.shuffle(sources)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{s}" for s in sources],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def events(seed: int, n: int = 10_000, users: int = 150) -> pa.Table:
    rng = _rng(seed, "events")
    ts = np.sort(EVENT_START_US + rng.integers(0, EVENT_SPAN_US, size=n))
    kinds = rng.integers(0, len(EVENT_TYPES), size=n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, users, size=n).astype(np.int64),
            "event_type": [EVENT_TYPES[k] for k in kinds],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        },
        schema=EVENTS_SCHEMA,
    )


GENERATORS = {"documents": documents, "events": events}


def write_table(table: pa.Table, path: str, files: int) -> None:
    """Write `table` as one parquet file at `path`, or, with files > 1,
    as a directory `path` of `files` row-contiguous part files (the
    layout a multi-file corpus has)."""
    if files <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def generate(seed: int, out_dir: str, tables: dict[str, int]) -> dict[str, int]:
    """Write each table in `tables` ({name: parquet file count}) to
    `out_dir/<name>.parquet`; returns {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, files in tables.items():
        table = GENERATORS[name](seed)
        write_table(table, os.path.join(out_dir, f"{name}.parquet"), files)
        rows[name] = table.num_rows
    return rows
