"""Composed §1.4 output relations — the engine's "public" documents.

The reference emits three collections (SURVEY.md §1.4):

1. `wikibooks` (main.go:174; struct main.go:46-64): one document per
   page carrying hierarchy + counts + tokens + L2 norm together.
2. `tokens` (main.go:164; struct main.go:65-69): the inverted index —
   dense token `_id`, token, posting list of (doc, qty).
3. `token_vector` (main.go:232-238): per-doc sparse TF vector keyed by
   stringified vocabulary index, plus the sorted index array.

Each relation is composed once, by a private builder (`_wikibooks`,
`_tokens`, `_token_vector`), and exists in two forms:
- `*_output`: the typed DataFrame (arrays/maps/structs) that the S4
  sinks write (sinks/writers.py `write_outputs`);
- a canonicalized queries() projection (arrays/maps flattened to sorted
  'k:v,...' strings) so the DuckDB oracle can hash-compare it
  (SURVEY.md §7.7 — nested types serialize differently across engines).

Plan shape / scale notes:
- `*_output` is cached (registered with session.release_caches):
  write_outputs writes each relation twice, as parquet and then as JSON
  lines, so the first write fills the cache and the second reads it
  back in one job instead of recomposing the relation. The projections
  are consumed once, so they build from the uncached builder and pay no
  cache fill. Callers of `*_output` release it after writing.
- wikibooks is composed from one page relation: the per-document
  scalar (count_external_links) rides on the page rows, the parent is
  found at the page's parent_path and the children come from one
  path-keyed aggregate broadcast on page_loc (hierarchy.py). No read of
  documents joins another on doc_id, and the hierarchy is built once.
- building a `*_output` runs no Spark job: `documents` is read with a
  declared schema (sources/tables.py), so there is no inference scan.
- wikibooks groups TF by doc_id ONCE: the stats columns
  (tokenize.doc_stats_columns) and the sorted token array
  (index.doc_token_array_column) come out of one aggregate, so one
  shuffle and one join instead of two of each.
- tokens and token_vector each read TF twice (postings or sparse
  vectors, plus the vocabulary), so their TF relation is cached — the
  corpus tokenizes once per composed relation.
- every join is doc_id-, path- or token-keyed (uniform,
  high-cardinality); the child-aggregate and vocabulary sides are
  small → broadcast.
- F1 (substring-occurrence count) runs here as `count_external_links`:
  the reference counts 'href=\"h' in body_html (main.go:192); the test
  corpus has no HTML column, so the needle is the marker token below —
  same operator, configurable needle.
- dense ids (`_id`) use the distributed partition-offset assignment
  (operators/vocab.py with_dense_ids) — no single-partition stage on
  the document-scale relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.functions.text import count_substring
from capstone_etl_spark.operators import hierarchy as hier_ops
from capstone_etl_spark.operators import index as index_ops
from capstone_etl_spark.operators.text_pipeline import _TF_CTE
from capstone_etl_spark.operators.tokenize import doc_stats_columns, term_frequencies
from capstone_etl_spark.operators.vocab import vocabulary, with_dense_ids
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached

# F1 needle (stands in for the reference's 'href="h' over body_html).
EXTERNAL_LINK_MARKER = "scan"

# Synthetic page tree CTE of the token_vector oracle (mirrors
# hierarchy.synthetic_doc_paths — the corpus has no URL column).
_PAGES_CTE = """
pages AS (
  SELECT doc_id,
         CASE WHEN doc_id < 50 THEN 'b' || doc_id
              ELSE 'b' || (doc_id % 50) || '/p' || doc_id END AS page_loc
  FROM documents
), withp AS (
  SELECT doc_id, page_loc,
         CASE WHEN strpos(page_loc, '/') = 0 THEN ''
              ELSE regexp_replace(page_loc, '/[^/]*$', '') END AS parent_path
  FROM pages
), linked AS (
  SELECT c.doc_id, c.page_loc, p.doc_id AS parent_page
  FROM withp c LEFT JOIN withp p ON c.parent_path = p.page_loc
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ------------------------------------------------------------ wikibooks

def _wikibooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed per-page document (typed): hierarchy + counts +
    tokens array + norm in ONE relation (struct main.go:46-64), one row
    per scanned page (main.go:174; a page whose parent id repeats gets
    one row per parent row). The per-document scalar rides on the page
    rows, parent and children are found by path (main.go:194-204), and
    the TF stats join on doc_id. A NULL doc_id has no page."""
    docs = _docs(spark, sf_dir)
    tf = term_frequencies(docs)

    pages = hier_ops.synthetic_doc_paths(
        docs.filter(F.col("doc_id").isNotNull()).select(
            "doc_id",
            count_substring("text", EXTERNAL_LINK_MARKER)
            .cast("long")
            .alias("count_external_links"),
        )
    )
    children = hier_ops.child_aggregates(pages, id_col="doc_id")
    per_doc = tf.groupBy("doc_id").agg(*doc_stats_columns(), index_ops.doc_token_array_column())

    return (
        hier_ops.link_hierarchy(pages, id_col="doc_id")
        .join(F.broadcast(children), "page_loc", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "page_loc",
            "parent_page",
            F.coalesce("count_children", F.lit(0)).alias("count_children"),
            F.coalesce("child_pages", F.array().cast("array<bigint>")).alias("child_pages"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_unique", F.lit(0)).alias("count_unique_words"),
            F.coalesce("euclidian_norm", F.lit(0.0)).alias("euclidian_norm"),
            "count_external_links",
            F.coalesce("tokens", F.array().cast("array<struct<token:string,qty:bigint>>")).alias(
                "tokens"
            ),
        )
    )


def wikibooks_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wikibooks collection as the sinks write it: _wikibooks,
    cached (write_outputs writes it twice)."""
    return _wikibooks(spark, sf_dir).transform(cached)


def wikibooks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle projection of wikibooks_output: arrays canonicalized to
    sorted comma-joined strings."""
    out = _wikibooks(spark, sf_dir)
    return out.select(
        "doc_id",
        "page_loc",
        "parent_page",
        "count_children",
        F.array_join(F.transform("child_pages", lambda i: i.cast("string")), ",").alias(
            "child_pages"
        ),
        "n_tokens",
        "count_unique_words",
        "euclidian_norm",
        "count_external_links",
        F.array_join(
            F.transform("tokens", lambda r: F.concat_ws(":", r.token, r.qty)), ","
        ).alias("tokens"),
    )


# The page relation carries count_external_links, so no documents read
# joins another on doc_id; children are keyed by path, as in _wikibooks.
WIKIBOOKS_DOCS_SQL = _TF_CTE + f"""
, pages AS (
  SELECT doc_id,
         CASE WHEN doc_id < 50 THEN 'b' || doc_id
              ELSE 'b' || (doc_id % 50) || '/p' || doc_id END AS page_loc,
         CAST((length(text) - length(replace(text, '{EXTERNAL_LINK_MARKER}', '')))
              / {len(EXTERNAL_LINK_MARKER)} AS BIGINT) AS count_external_links
  FROM documents WHERE doc_id IS NOT NULL
), withp AS (
  SELECT doc_id, page_loc, count_external_links,
         CASE WHEN strpos(page_loc, '/') = 0 THEN ''
              ELSE regexp_replace(page_loc, '/[^/]*$', '') END AS parent_path
  FROM pages
), children AS (
  SELECT parent_path AS page_loc, COUNT(*) AS count_children,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS child_pages
  FROM withp GROUP BY parent_path
), stats AS (
  SELECT doc_id,
         CAST(SUM(qty) AS BIGINT) AS n_tokens,
         COUNT(*) AS count_unique_words,
         SQRT(CAST(SUM(qty * qty) AS DOUBLE)) AS euclidian_norm
  FROM tf GROUP BY doc_id
), tokarr AS (
  SELECT doc_id, string_agg(token || ':' || qty, ',' ORDER BY token) AS tokens
  FROM tf GROUP BY doc_id
)
SELECT w.doc_id,
       w.page_loc,
       p.doc_id AS parent_page,
       COALESCE(c.count_children, 0) AS count_children,
       COALESCE(c.child_pages, '') AS child_pages,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.count_unique_words, 0) AS count_unique_words,
       COALESCE(s.euclidian_norm, 0.0) AS euclidian_norm,
       w.count_external_links,
       COALESCE(t.tokens, '') AS tokens
FROM withp w
LEFT JOIN withp p ON w.parent_path = p.page_loc
LEFT JOIN children c ON c.page_loc = w.page_loc
LEFT JOIN stats s ON s.doc_id = w.doc_id
LEFT JOIN tokarr t ON t.doc_id = w.doc_id
"""


# --------------------------------------------------------------- tokens

def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted-index collection (typed): dense `_id` (O4), token,
    posting list array<struct<doc_id,qty>> (A6/J5, main.go:151-163)."""
    tf = term_frequencies(_docs(spark, sf_dir)).transform(cached)
    idx = index_ops.inverted_index(tf)
    vocab = vocabulary(tf)
    return (
        idx.join(F.broadcast(vocab), "token")
        .select(F.col("token_id").alias("_id"), "token", "references")
    )


def tokens_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokens collection as the sinks write it: _tokens, cached."""
    return _tokens(spark, sf_dir).transform(cached)


def tokens_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle projection of tokens_output (posting list → 'doc:qty,...'
    sorted by doc id). A NULL-doc posting renders NULL and array_join
    drops it, as `||` and string_agg do in the oracle; a list of only
    such postings is NULL, not ''."""
    out = _tokens(spark, sf_dir)
    postings = F.array_join(
        F.transform(
            F.sort_array("references"),
            lambda r: F.concat(r.doc_id.cast("string"), F.lit(":"), r.qty.cast("string")),
        ),
        ",",
    )
    return out.select("_id", "token", F.nullif(postings, F.lit("")).alias("references"))


TOKENS_COLLECTION_SQL = _TF_CTE + """
, vocab AS (
  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS _id
  FROM (SELECT DISTINCT token FROM tf) t
)
SELECT v._id, tf.token,
       string_agg(tf.doc_id || ':' || tf.qty, ',' ORDER BY tf.doc_id) AS "references"
FROM tf JOIN vocab v USING (token)
GROUP BY v._id, tf.token
"""


# --------------------------------------------------------- token_vector

def _token_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparse-vector collection (typed): `_id` = dense doc id in
    page_loc order (O2, main.go:137-141), the BSON-style
    map<string,long> `compressed_token_vector` (A8/F8, main.go:222-235)
    and the trimmed sorted index array `tokenrefs` (A9 — trailing-zero
    divergence §7.6.2)."""
    docs = _docs(spark, sf_dir)
    tf = term_frequencies(docs).transform(cached)
    sv = index_ops.sparse_vectors(tf, vocabulary(tf))
    dense = with_dense_ids(
        hier_ops.synthetic_doc_paths(docs).select("doc_id", "page_loc"),
        F.col("page_loc").asc_nulls_last(),
        id_name="_id",
    ).select("doc_id", "_id")
    return dense.join(sv, "doc_id").select(
        "_id", "doc_id", "compressed_token_vector", "tokenrefs", "values"
    )


def token_vector_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token_vector collection as the sinks write it: _token_vector,
    cached."""
    return _token_vector(spark, sf_dir).transform(cached)


def token_vector_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle projection of token_vector_output (map/arrays → sorted
    'idx:qty,...' / 'i,j,k' strings)."""
    out = _token_vector(spark, sf_dir)
    return out.select(
        "_id",
        "doc_id",
        F.array_join(
            F.transform(
                F.map_entries("compressed_token_vector"),
                lambda e: F.concat_ws(":", e.key, e.value),
            ),
            ",",
        ).alias("vector"),
        F.array_join(F.transform("tokenrefs", lambda i: i.cast("string")), ",").alias(
            "tokenrefs"
        ),
    )


TOKEN_VECTOR_COLLECTION_SQL = _TF_CTE + f"""
, {_PAGES_CTE.strip().lstrip()}
, dense AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY page_loc) - 1 AS BIGINT) AS _id
  FROM pages
), vocab AS (
  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT token FROM tf) t
), ids AS (
  SELECT doc_id, token_id, qty FROM tf JOIN vocab USING (token)
)
SELECT d._id, i.doc_id,
       string_agg(i.token_id || ':' || i.qty, ',' ORDER BY i.token_id) AS vector,
       string_agg(CAST(i.token_id AS VARCHAR), ',' ORDER BY i.token_id) AS tokenrefs
FROM ids i JOIN dense d USING (doc_id)
GROUP BY d._id, i.doc_id
"""


QUERIES = {
    "wikibooks_docs": wikibooks_docs,
    "tokens_collection": tokens_collection,
    "token_vector_collection": token_vector_collection,
}

ORACLE_SQL = {
    "wikibooks_docs": WIKIBOOKS_DOCS_SQL,
    "tokens_collection": TOKENS_COLLECTION_SQL,
    "token_vector_collection": TOKEN_VECTOR_COLLECTION_SQL,
}
