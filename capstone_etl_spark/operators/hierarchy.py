"""URL-path parent/child hierarchy (SURVEY.md §2 F2, F3, J1, A3).

The reference derives `page_loc` (URL minus wiki prefix) and
`parent_path` (page_loc minus last segment), then hash-probes the
incrementally-built by-path map — a LEFT OUTER self equi-join that only
works because `ORDER BY url` guarantees parents arrive before children
(main.go:194-204, :130). The Spark join is order-independent: same
result on well-formed data, robust otherwise (SURVEY.md §7.6.6).

Both steps are keyed by path, as the reference's map is: a page finds
its parent at its `parent_path` (`link_hierarchy`) and its children
under its own `page_loc` (`child_aggregates` groups the pages by
`parent_path`), so neither needs the other's output.

Divergence ledger: no-parent is NULL, not the 0-sentinel (§7.6.3).

Scale: a self equi-join on page path — both sides shuffle on the path
key unless one side is broadcastable. Paths are near-unique (join key
cardinality ≈ row count, no skew); AQE handles residual imbalance. The
child aggregate has one row per parent path, so its consumers
broadcast it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capstone_etl_spark.functions.text import page_loc, parent_path


def derive_paths(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Add page_loc + parent_path columns (F2, F3)."""
    with_loc = pages.withColumn("page_loc", page_loc(url_col))
    return with_loc.withColumn("parent_path", parent_path("page_loc"))


def link_hierarchy(pages: DataFrame, id_col: str = "page_id") -> DataFrame:
    """LEFT OUTER self-join child.parent_path = parent.page_loc (J1).

    Input needs (id_col, page_loc, parent_path). Output: child rows +
    parent_page (NULL when none).
    """
    parents = pages.select(
        F.col("page_loc").alias("_parent_loc"), F.col(id_col).alias("parent_page")
    )
    return pages.join(
        parents, pages["parent_path"] == parents["_parent_loc"], "left"
    ).drop("_parent_loc")


def child_aggregates(pages: DataFrame, id_col: str = "page_id") -> DataFrame:
    """Per-path child list + count (A3, main.go:200-202), the
    reference's by-path map: pages grouped by `parent_path`, keyed by
    that path as `page_loc`, so a parent page joins its children on its
    own page_loc. A path no page sits at (an orphan's parent) matches
    nothing. Input needs (id_col, parent_path); sorted collect_list for
    determinism."""
    return pages.groupBy(F.col("parent_path").alias("page_loc")).agg(
        F.count("*").alias("count_children"),
        F.sort_array(F.collect_list(F.col(id_col))).alias("child_pages"),
    )


WIKI_PREFIX = "https://en.wikibooks.org/wiki/"


def synthetic_doc_urls(docs: DataFrame, fanout: int = 50, alt_every: int = 97) -> DataFrame:
    """URL-shaped variant of synthetic_doc_paths: full wiki URLs so the
    F2 prefix strip (page_loc, main.go:194) runs on real input. Docs
    with doc_id % alt_every == 3 get an off-wiki URL — those yield NULL
    page_loc (the reference would panic, divergence §7.6.5)."""
    is_root = F.col("doc_id") < fanout
    path = F.when(is_root, F.concat(F.lit("b"), F.col("doc_id"))).otherwise(
        F.concat(F.lit("b"), F.col("doc_id") % fanout, F.lit("/p"), F.col("doc_id"))
    )
    url = F.when(
        F.col("doc_id") % alt_every == 3, F.concat(F.lit("https://example.org/ext/"), path)
    ).otherwise(F.concat(F.lit(WIKI_PREFIX), path))
    return docs.select("doc_id", url.alias("url"))


def synthetic_doc_paths(docs: DataFrame, fanout: int = 50) -> DataFrame:
    """Deterministic path tree over the driver's `documents` table (which
    has no URL column): docs with doc_id < fanout are roots at
    'b<doc_id>'; every other doc is a child at 'b<doc_id % fanout>/p<doc_id>'.
    Exercises F3/J1/A3 with a real multi-level key derivation. Keeps the
    input's columns, so per-document scalars ride on the page rows."""
    is_root = F.col("doc_id") < fanout
    loc = F.when(is_root, F.concat(F.lit("b"), F.col("doc_id"))).otherwise(
        F.concat(F.lit("b"), F.col("doc_id") % fanout, F.lit("/p"), F.col("doc_id"))
    )
    with_loc = docs.withColumn("page_loc", loc)
    return with_loc.withColumn("parent_path", parent_path("page_loc"))
