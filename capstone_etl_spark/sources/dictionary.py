"""Text-file side-input source (SURVEY.md §2.1 S2).

The reference loads a 235,886-word newline-delimited wordlist into a
process-global membership set at startup (loadDictionary,
main.go:108-118: scan → lowercase → set insert). Spark-first form:
`spark.read.text` (a distributed file scan — at scale the wordlist can
itself be partitioned/compressed) → lower/trim normalize → distinct →
the consumer broadcasts it into a left_semi join (P2/J2). The set never
lives on the driver; the broadcast ships the deduplicated relation to
executors once.

The shipped fixture (tools/gen_wordlist.py) stands in for the
reference's `en` file: resources/wordlist_en_full.txt matches its
EXACT line count (235,886, ~2.3 MB) so the scan→distinct→broadcast
path runs at reference size. Its shape: one word per line, mixed
case, duplicates, whitespace padding.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_RES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "resources"
)
DEFAULT_WORDLIST = os.path.join(_RES, "wordlist_en_full.txt")


def load_dictionary(spark: SparkSession, path: str | None = None) -> DataFrame:
    """One-column ('word') relation of distinct lowercased words from a
    newline-delimited file — the S2 scan→set operator."""
    src = spark.read.text(path or DEFAULT_WORDLIST)
    return (
        src.select(F.lower(F.trim(F.col("value"))).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )


def dictionary_sql_cte(path: str | None = None) -> str:
    """DuckDB mirror of load_dictionary (a CTE body named `dict`)."""
    p = path or DEFAULT_WORDLIST
    return f"""
  SELECT DISTINCT lower(trim(word)) AS word
  FROM read_csv('{p}', header=false, delim='\\t', columns={{'word': 'VARCHAR'}})
  WHERE lower(trim(word)) <> ''
"""
