"""Driver-facing text-pipeline queries (the reference-parity core).

Each function takes (spark, sf_dir) → DataFrame and has a DuckDB oracle
SQL string built from the same literal stopword/dictionary data, so both
engines compute identical relations (SURVEY.md §7.4).

Array/map outputs are canonicalized to strings ('k:v,k:v' sorted) for
the oracle hash — nested types serialize differently across engines;
strings don't (SURVEY.md §7.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.functions.stopwords import (
    STOPWORDS,
    full_stopwords,
    stopwords_sql_in_list,
)
from capstone_etl_spark.functions.text import ngram_window_sql, split_sql, tokenize
from capstone_etl_spark.operators import index as index_ops
from capstone_etl_spark.operators import hierarchy as hier_ops
from capstone_etl_spark.operators.tokenize import doc_stats as _doc_stats
from capstone_etl_spark.operators.tokenize import doc_tokens, term_frequencies
from capstone_etl_spark.operators.vocab import vocabulary, with_dense_ids
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached

# Literal dictionary side-input (SURVEY.md S2/P2/J2): the mechanism is a
# broadcast semi-join against a wordlist; contents are config data. This
# default list deliberately excludes a few live tokens ('spark',
# 'vector', 'dup') so the gate provably filters.
DICTIONARY: tuple[str, ...] = (
    "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "stream", "table",
    "value", "window",
)

_STOPLIST_SQL = stopwords_sql_in_list(STOPWORDS)
_DICT_SQL = ", ".join(f"'{w}'" for w in DICTIONARY)

# Shared oracle CTE: clean → lower → split → stopword gate → TF.
# DuckDB regexp_replace needs the 'g' flag (Spark's is global by default).
_TF_CTE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({split_sql()}) AS token
  FROM documents
), kept AS (
  SELECT doc_id, token FROM toks WHERE token NOT IN ({_STOPLIST_SQL})
), tf AS (
  SELECT doc_id, token, COUNT(*) AS qty FROM kept GROUP BY doc_id, token
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_frequencies(_docs(spark, sf_dir))


def _pairs_string(pairs_col, key, val) -> F.Column:
    """Canonical 'k:v,k:v' string of an array<struct> sorted by key."""
    return F.array_join(
        F.transform(F.sort_array(pairs_col), lambda r: F.concat_ws(":", r[key], r[val])), ","
    )


# ------------------------------------------------------------- tf / stats

def tf_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: (doc_id, token, qty) term frequencies after the stopword gate."""
    return _tf(spark, sf_dir)


TF_PER_DOC_SQL = _TF_CTE + "SELECT doc_id, token, qty FROM tf"


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A4: per-doc token totals, distinct count, L2 norm."""
    return _doc_stats(_tf(spark, sf_dir))


DOC_STATS_SQL = _TF_CTE + """
SELECT doc_id,
       CAST(SUM(qty) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_unique,
       SQRT(CAST(SUM(qty * qty) AS DOUBLE)) AS euclidian_norm
FROM tf GROUP BY doc_id
"""


def stopword_full_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/P3 at REFERENCE CARDINALITY (ADVICE r10 #7): doc_stats under
    the 667-entry stopword fixture (functions/stopwords.full_stopwords
    — the reference compiles a same-size table, main.go:301-969; the
    fixture is synthesized, wordlist-precedent style, never copied).
    Same plan shape as doc_stats: the literal gate compiles into the
    scan-side filter ahead of the TF shuffle, so the only thing this
    query varies is the gate WIDTH — proving the anti-join mechanism
    holds at the reference's full configuration size."""
    tf = term_frequencies(_docs(spark, sf_dir), stopwords=full_stopwords())
    return _doc_stats(tf)


_FULL_STOPLIST_SQL = stopwords_sql_in_list(full_stopwords())

STOPWORD_FULL_GATE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({split_sql()}) AS token
  FROM documents
), kept AS (
  SELECT doc_id, token FROM toks WHERE token NOT IN ({_FULL_STOPLIST_SQL})
), tf AS (
  SELECT doc_id, token, COUNT(*) AS qty FROM kept GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(SUM(qty) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_unique,
       SQRT(CAST(SUM(qty * qty) AS DOUBLE)) AS euclidian_norm
FROM tf GROUP BY doc_id
"""


def dictionary_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/J2: TF restricted to dictionary words via broadcast semi-join."""
    docs = _docs(spark, sf_dir)
    dict_df = spark.createDataFrame([(w,) for w in DICTIONARY], "word string")
    return (
        doc_tokens(docs, dictionary=dict_df)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("qty"))
    )


DICTIONARY_GATE_SQL = _TF_CTE + f"""
SELECT doc_id, token, qty FROM tf WHERE token IN ({_DICT_SQL})
"""


def dictionary_file_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end: the wordlist FILE scan (read.text → lower/trim →
    distinct, sources/dictionary.py) broadcast-semi-joined into the
    token stream — the reference's loadDictionary + gate
    (main.go:108-118, :251) as a distributed plan."""
    from capstone_etl_spark.sources.dictionary import load_dictionary

    docs = _docs(spark, sf_dir)
    return (
        doc_tokens(docs, dictionary=load_dictionary(spark))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("qty"))
    )


def _dictionary_file_gate_sql() -> str:
    from capstone_etl_spark.sources.dictionary import dictionary_sql_cte

    return (
        _TF_CTE
        + f", dict AS ({dictionary_sql_cte()})\n"
        + "SELECT doc_id, token, qty FROM tf WHERE token IN (SELECT word FROM dict)"
    )


# ------------------------------------------------------- vocabulary / index

def vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+O3+O4: distinct vocabulary with 0-based dense ids in
    lexicographic order."""
    return vocabulary(_tf(spark, sf_dir))


VOCAB_IDS_SQL = _TF_CTE + """
SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
FROM (SELECT DISTINCT token FROM tf) t
"""


def posting_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 scalar projection: document frequency + total qty per token."""
    return index_ops.posting_stats(_tf(spark, sf_dir))


POSTING_STATS_SQL = _TF_CTE + """
SELECT token, COUNT(*) AS df, CAST(SUM(qty) AS BIGINT) AS total_qty
FROM tf GROUP BY token
"""


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: posting lists, canonicalized to 'doc:qty,...' strings sorted
    by doc id for the cross-engine hash."""
    idx = index_ops.inverted_index(_tf(spark, sf_dir))
    return idx.select(
        "token", _pairs_string(F.col("references"), "doc_id", "qty").alias("postings")
    )


INVERTED_INDEX_SQL = _TF_CTE + """
SELECT token, string_agg(doc_id || ':' || qty, ',' ORDER BY doc_id) AS postings
FROM tf GROUP BY token
"""


def positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index: postings carry the ordered WORD
    OFFSETS of every occurrence — the structure phrase and proximity
    search need, extending A6's (doc, qty) postings. Positions are
    0-based offsets in the RAW token stream (no stopword gate — gating
    would shift offsets and break adjacency queries). Same plan shape
    as inverted_index: posexplode, one shuffle on (token, doc), one on
    token; canonicalized to 'doc:p1|p2,...' strings for the
    cross-engine hash."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "token")
    )
    per_doc = toks.groupBy("token", "doc_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("pos")), lambda p: p.cast("string")),
            "|",
        ).alias("posstr")
    )
    return per_doc.groupBy("token").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("doc_id", "posstr"))),
                lambda s: F.concat_ws(":", s.doc_id.cast("string"), s.posstr),
            ),
            ",",
        ).alias("postings")
    )


POSITIONAL_INDEX_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
), pos AS (
  SELECT doc_id, t[i] AS token, i - 1 AS pos
  FROM {ngram_window_sql(1)}
), per_doc AS (
  SELECT token, doc_id, string_agg(pos, '|' ORDER BY pos) AS posstr
  FROM pos WHERE token <> '' GROUP BY token, doc_id
)
SELECT token, string_agg(doc_id || ':' || posstr, ',' ORDER BY doc_id) AS postings
FROM per_doc GROUP BY token
"""


def sparse_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+A8 exploded form: (doc_id, token_id, qty) — the O(NNZ)
    replacement for the reference's O(D×V) probe loop. tf is cached:
    both the vocabulary subtree and the consuming join read it, and the
    cache makes tokenization (the expensive stage) run once."""
    tf = _tf(spark, sf_dir).transform(cached)
    return index_ops.tf_with_token_ids(tf, vocabulary(tf))


SPARSE_VECTORS_SQL = _TF_CTE + """
, vocab AS (
  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT token FROM tf) t
)
SELECT doc_id, token_id, qty FROM tf JOIN vocab USING (token)
"""


def sparse_vector_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8+A9 per-doc shapes canonicalized: the compressed map as
    'idx:qty,...' and tokenrefs as 'i,j,k' (trimmed — divergence
    SURVEY.md §7.6.2). tf cached — one tokenize pass (see sparse_vectors)."""
    tf = _tf(spark, sf_dir).transform(cached)
    sv = index_ops.sparse_vectors(tf, vocabulary(tf))
    return sv.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.map_entries("compressed_token_vector"),
                lambda e: F.concat_ws(":", e.key, e.value),
            ),
            ",",
        ).alias("vector"),
        F.array_join(F.transform("tokenrefs", lambda i: i.cast("string")), ",").alias("tokenrefs"),
    )


SPARSE_VECTOR_STRINGS_SQL = _TF_CTE + """
, vocab AS (
  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT token FROM tf) t
), ids AS (
  SELECT doc_id, token_id, qty FROM tf JOIN vocab USING (token)
)
SELECT doc_id,
       string_agg(token_id || ':' || qty, ',' ORDER BY token_id) AS vector,
       string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY token_id) AS tokenrefs
FROM ids GROUP BY doc_id
"""


def doc_token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-doc (token,qty) array, canonicalized sorted-by-token."""
    arr = index_ops.doc_token_arrays(_tf(spark, sf_dir))
    return arr.select("doc_id", _pairs_string(F.col("tokens"), "token", "qty").alias("tokens"))


DOC_TOKEN_ARRAYS_SQL = _TF_CTE + """
SELECT doc_id, string_agg(token || ':' || qty, ',' ORDER BY token) AS tokens
FROM tf GROUP BY doc_id
"""


def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (SURVEY.md §7.8): TF-IDF weights; rounded to 6 dp so the
    transcendental ln() agrees across engines' libm. Fully lazy — N is a
    broadcast 1-row relation inside the plan (no driver-side .count()),
    and tf is cached so its three consumers share one tokenize pass."""
    tf = _tf(spark, sf_dir).transform(cached)
    out = index_ops.tf_idf(tf)
    return out.select("doc_id", "token", "qty", F.round("tfidf", 6).alias("tfidf"))


TF_IDF_SQL = _TF_CTE + """
, dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
  n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf)
SELECT doc_id, token, qty,
       ROUND(qty * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
FROM tf JOIN dfreq USING (token) CROSS JOIN n
"""


def substring_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: raw substring-occurrence counts (the reference's external-link
    counter strings.Count(body_html, 'href=\"h'), main.go:192) — two
    needles over documents.text: a whole token and a cross-word bigram
    fragment (substring semantics, not token match)."""
    from capstone_etl_spark.functions.text import count_substring

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        count_substring("text", "scan").cast("long").alias("n_scan"),
        count_substring("text", "ta").cast("long").alias("n_ta"),
    )


SUBSTRING_COUNTS_SQL = """
SELECT doc_id,
       CAST((length(text) - length(replace(text, 'scan', ''))) / 4 AS BIGINT) AS n_scan,
       CAST((length(text) - length(replace(text, 'ta', ''))) / 2 AS BIGINT) AS n_ta
FROM documents
"""


def doc_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: dense 0-based document ids over the page_loc sort order
    (reference: id++ per row in url order, main.go:137-141). Uses the
    distributed partition-offset implementation — no single-partition
    window, no RDD — so the same code is the 100 TB path. A NULL
    page_loc (NULL doc_id) sorts last, as in the oracle's ORDER BY."""
    pages = hier_ops.synthetic_doc_paths(_docs(spark, sf_dir)).select("doc_id", "page_loc")
    return with_dense_ids(
        pages, F.col("page_loc").asc_nulls_last(), id_name="dense_id"
    ).select("doc_id", "page_loc", "dense_id")


DOC_DENSE_IDS_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         {hier_ops.SYNTHETIC_PAGE_LOC_SQL} AS page_loc
  FROM documents
)
SELECT doc_id, page_loc,
       CAST(ROW_NUMBER() OVER (ORDER BY page_loc) - 1 AS BIGINT) AS dense_id
FROM pages
"""


# ------------------------------------------------------------- hierarchy

def _url_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, page_loc, parent_path) of the synthetic wiki URLs —
    _URL_PAGES_CTE's Spark side."""
    urls = hier_ops.synthetic_doc_urls(_docs(spark, sf_dir))
    return hier_ops.derive_paths(urls, url_col="url").select("doc_id", "page_loc", "parent_path")


def parent_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F3+J1 on URL-shaped input: synthetic wiki URLs → page_loc via
    prefix strip (main.go:194 — off-prefix URLs yield NULL instead of
    the reference's panic, §7.6.5) → parent_path → LEFT OUTER self-join;
    NULL parent for roots/off-wiki docs (divergence §7.6.3)."""
    pages = _url_pages(spark, sf_dir)
    linked = hier_ops.link_hierarchy(pages, id_col="doc_id")
    return linked.select(
        pages["doc_id"].alias("doc_id"), "page_loc", "parent_path", "parent_page"
    )


# Mirrors synthetic_doc_urls + page_loc/parent_path derivations.
_URL_PAGES_CTE = f"""
paths AS (
  SELECT doc_id,
         {hier_ops.SYNTHETIC_PAGE_LOC_SQL} AS path
  FROM documents
), urls AS (
  SELECT doc_id,
         CASE WHEN doc_id % {hier_ops.OFF_WIKI_EVERY} = 3 THEN 'https://example.org/ext/' || path
              ELSE '{hier_ops.WIKI_PREFIX}' || path END AS url
  FROM paths
), pages AS (
  SELECT doc_id,
         CASE WHEN starts_with(url, '{hier_ops.WIKI_PREFIX}')
              THEN substr(url, length('{hier_ops.WIKI_PREFIX}') + 1)
              END AS page_loc
  FROM urls
), withp AS (
  SELECT doc_id, page_loc,
         {hier_ops.PARENT_PATH_SQL} AS parent_path
  FROM pages
)
"""

PARENT_CHILD_SQL = f"""
WITH {_URL_PAGES_CTE.strip()}
SELECT c.doc_id AS doc_id, c.page_loc, c.parent_path, p.doc_id AS parent_page
FROM withp c LEFT JOIN withp p ON c.parent_path = p.page_loc
"""


def parent_child_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-parent child count + canonical sorted child list (over
    the URL-derived hierarchy — F2 path): the path-keyed child
    aggregate joined to the pages at that path. A parent id with k
    rows at its path counts each child k times, as the oracle's
    child × parent-row join does, so its rows are summed."""
    pages = _url_pages(spark, sf_dir)
    agg = (
        pages.select(F.col("doc_id").alias("parent_page"), "page_loc")
        .join(F.broadcast(hier_ops.child_aggregates(pages, id_col="doc_id")), "page_loc")
        .groupBy("parent_page")
        .agg(
            F.sum("count_children").alias("count_children"),
            F.sort_array(F.flatten(F.collect_list("child_pages"))).alias("child_pages"),
        )
    )
    return agg.select(
        "parent_page",
        "count_children",
        F.array_join(F.transform("child_pages", lambda i: i.cast("string")), ",").alias("child_pages"),
    )


PARENT_CHILD_AGG_SQL = f"""
WITH {_URL_PAGES_CTE.strip()}
, linked AS (
  SELECT c.doc_id AS doc_id, p.doc_id AS parent_page
  FROM withp c JOIN withp p ON c.parent_path = p.page_loc
)
SELECT parent_page, COUNT(*) AS count_children,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS child_pages
FROM linked GROUP BY parent_page
"""


PR_SCALE = 1_000_000_000_000   # 10^12 fixed-point rank units
PR_ITERS = 5
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100   # d = 0.85 as exact integers


def hierarchy_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the URL-derived page hierarchy — the repo's second
    iterative distributed graph algorithm (dedup_clusters' connected
    components being the first). Rank flows parent→child for PR_ITERS
    rounds with damping 0.85; dangling mass is dropped (documented
    variant — redistribution adds a global scalar join per round for no
    extra operator coverage).

    Exactness: ranks are int64 fixed-point (PR_SCALE units); every
    divide is integer `div`, every transfer `(rank div outdeg)`, every
    damp `(85·x) div 100` — both engines floor identically, and integer
    sums are order-free, so after 5 rounds the ranks agree to the unit.
    The oracle unrolls the loop as chained CTEs built by the same
    Python constants.

    Scale: per round = one edge join on src + one sum shuffle on dst +
    a left join back to nodes — the textbook BSP step. Node count
    enters as a 1-row broadcast (no driver .count()). Five fixed rounds
    keep lineage linear; an open-ended variant would checkpoint like
    the CC loop (dedup.py)."""
    pages = _url_pages(spark, sf_dir)
    linked = hier_ops.link_hierarchy(pages, id_col="doc_id")
    edges = (
        linked.select(F.col("parent_page").alias("src"), pages["doc_id"].alias("dst"))
        .filter(F.col("src").isNotNull())
        .transform(cached)
    )
    nodes = pages.select("doc_id")
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    n_rel = nodes.agg(F.count("*").alias("n_nodes"))
    base = F.expr(f"(({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} div n_nodes)) div {PR_DAMP_DEN})")
    ranks = nodes.crossJoin(F.broadcast(n_rel)).select(
        "doc_id", "n_nodes", F.expr(f"{PR_SCALE} div n_nodes").alias("rank")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(outdeg, "src")
            .join(ranks.select(F.col("doc_id").alias("src"), "rank"), "src")
            .select("dst", F.expr("rank div od").alias("c"))
        )
        incoming = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
        ranks = (
            nodes.crossJoin(F.broadcast(n_rel))
            .join(incoming, nodes["doc_id"] == incoming["dst"], "left")
            .select(
                "doc_id",
                "n_nodes",
                (
                    base
                    + F.expr(f"({PR_DAMP_NUM} * coalesce(inc, 0)) div {PR_DAMP_DEN}")
                ).alias("rank"),
            )
        )
    return ranks.select("doc_id", "rank")


def _pagerank_sql() -> str:
    base = f"(({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} // t.n_nodes)) // {PR_DAMP_DEN})"
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
r{i} AS (
  SELECT n.doc_id, t.n_nodes,
         {base} + ({PR_DAMP_NUM} * COALESCE(inc.s, 0)) // {PR_DAMP_DEN} AS rank
  FROM nodes n CROSS JOIN total t
  LEFT JOIN (
    SELECT e.dst AS doc_id, CAST(SUM(r.rank // o.od) AS BIGINT) AS s
    FROM edges e JOIN outdeg o ON o.src = e.src JOIN {prev} r ON r.doc_id = e.src
    GROUP BY e.dst
  ) inc ON inc.doc_id = n.doc_id
)""")
        prev = f"r{i}"
    return f"""
WITH {_URL_PAGES_CTE.strip()}
, edges AS (
  SELECT p.doc_id AS src, c.doc_id AS dst
  FROM withp c JOIN withp p ON c.parent_path = p.page_loc
), nodes AS (SELECT doc_id FROM withp),
outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
total AS (SELECT COUNT(*) AS n_nodes FROM nodes),
r0 AS (
  SELECT n.doc_id, t.n_nodes, {PR_SCALE} // t.n_nodes AS rank
  FROM nodes n CROSS JOIN total t
),{",".join(iters)}
SELECT doc_id, rank FROM {prev}
"""


# --- hierarchy_rollup: subtree aggregation by pointer doubling -------------
#
# The K-ary tree is deterministic over doc_id (parent = (id-1) div K,
# root = 0) so the DuckDB oracle can mirror it with WITH RECURSIVE —
# the repo's first recursive-CTE oracle. ROLLUP_ROUNDS doubling rounds
# cover any tree of depth < 2**ROLLUP_ROUNDS = 32; a K-ary corpus needs
# depth ~ log_K(N), so 32 covers N up to 7**31 — far past 100 TB.
ROLLUP_ARITY = 7
ROLLUP_ROUNDS = 5


def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over the synthetic K-ary doc tree: for every node,
    its depth, descendant count (incl. self) and total descendant chars
    — the "hypertable rollup" shape (aggregate a measure up a hierarchy)
    the reference's flat parent/child join (main.go:197-204) cannot
    express beyond one level.

    Distributed design: ancestor pairs built by POINTER DOUBLING, not
    per-level walking — round r extends every node's ancestor set
    through its 2^r-distance jump pointer, so a depth-d tree closes in
    ceil(log2 d) rounds of uniform-key equi-joins (same O(log) discipline
    as dedup_clusters' connected components). The pair relation is the
    honest output size (sum of node depths ~ N·log_K N); each round is
    cached so lineage stays linear. No windows, no driver actions.

    Oracle: WITH RECURSIVE ancestor walk + the same two aggregations."""
    nodes = cached(_docs(spark, sf_dir).select("doc_id", "n_chars"))
    jump = nodes.filter(F.col("doc_id") >= 1).select(
        "doc_id", F.expr(f"(doc_id - 1) div {ROLLUP_ARITY}").alias("j")
    )
    return subtree_rollup(nodes, jump)


def subtree_rollup(
    nodes: DataFrame, parents: DataFrame, rounds: int = ROLLUP_ROUNDS
) -> DataFrame:
    """Pointer-doubling subtree rollup over an arbitrary forest.

    nodes: (doc_id, n_chars); parents: (doc_id, j) — j the parent id,
    roots absent. `rounds` doubling rounds cover any tree of depth
    < 2**rounds; callers with deeper trees raise it (cost is two
    uniform-key joins per extra round)."""
    jump = cached(parents)
    # pairs: (node, anc) for every ancestor at distance < 2^r (self at 0)
    pairs = nodes.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("anc"))
    for _ in range(rounds):
        ext = (
            jump.join(pairs, jump["j"] == pairs["node"])
            .select(jump["doc_id"].alias("node"), pairs["anc"].alias("anc"))
        )
        pairs = cached(pairs.unionByName(ext))
        jmp2 = (
            jump.alias("a")
            .join(jump.alias("b"), F.col("a.j") == F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_id"), F.col("b.j").alias("j"))
        )
        jump = cached(jmp2)
    sub = (
        pairs.join(nodes.select(F.col("doc_id").alias("node"), "n_chars"), "node")
        .groupBy("anc")
        .agg(
            F.count("*").alias("subtree_docs"),
            F.sum("n_chars").cast("long").alias("subtree_chars"),
        )
    )
    dep = pairs.groupBy("node").agg((F.count("*") - F.lit(1)).cast("long").alias("depth"))
    return (
        nodes.select("doc_id")
        .join(dep.withColumnRenamed("node", "doc_id"), "doc_id")
        .join(sub.withColumnRenamed("anc", "doc_id"), "doc_id")
        .select("doc_id", "depth", "subtree_docs", "subtree_chars")
    )


HIERARCHY_ROLLUP_SQL = f"""
WITH RECURSIVE anc AS (
  SELECT doc_id AS node, doc_id AS anc FROM documents
  UNION ALL
  SELECT node, (anc - 1) // {ROLLUP_ARITY} FROM anc WHERE anc >= 1
),
nodes AS (SELECT doc_id, n_chars FROM documents),
sub AS (
  SELECT a.anc AS doc_id, COUNT(*) AS subtree_docs,
         CAST(SUM(n.n_chars) AS BIGINT) AS subtree_chars
  FROM anc a JOIN nodes n ON n.doc_id = a.node GROUP BY a.anc
),
dep AS (SELECT node AS doc_id, CAST(COUNT(*) - 1 AS BIGINT) AS depth FROM anc GROUP BY node)
SELECT n.doc_id, dep.depth, sub.subtree_docs, sub.subtree_chars
FROM nodes n JOIN dep USING (doc_id) JOIN sub USING (doc_id)
"""


QUERIES = {
    "tf_per_doc": tf_per_doc,
    "doc_stats": doc_stats,
    "stopword_full_gate": stopword_full_gate,
    "dictionary_gate": dictionary_gate,
    "dictionary_file_gate": dictionary_file_gate,
    "vocab_ids": vocab_ids,
    "posting_stats": posting_stats,
    "inverted_index": inverted_index,
    "positional_index": positional_index,
    "sparse_vectors": sparse_vectors,
    "sparse_vector_strings": sparse_vector_strings,
    "doc_token_arrays": doc_token_arrays,
    "tf_idf": tf_idf,
    "substring_counts": substring_counts,
    "doc_dense_ids": doc_dense_ids,
    "parent_child": parent_child,
    "parent_child_agg": parent_child_agg,
    "hierarchy_pagerank": hierarchy_pagerank,
    "hierarchy_rollup": hierarchy_rollup,
}

ORACLE_SQL = {
    "tf_per_doc": TF_PER_DOC_SQL,
    "doc_stats": DOC_STATS_SQL,
    "stopword_full_gate": STOPWORD_FULL_GATE_SQL,
    "dictionary_gate": DICTIONARY_GATE_SQL,
    "dictionary_file_gate": _dictionary_file_gate_sql(),
    "vocab_ids": VOCAB_IDS_SQL,
    "posting_stats": POSTING_STATS_SQL,
    "inverted_index": INVERTED_INDEX_SQL,
    "positional_index": POSITIONAL_INDEX_SQL,
    "sparse_vectors": SPARSE_VECTORS_SQL,
    "sparse_vector_strings": SPARSE_VECTOR_STRINGS_SQL,
    "doc_token_arrays": DOC_TOKEN_ARRAYS_SQL,
    "tf_idf": TF_IDF_SQL,
    "substring_counts": SUBSTRING_COUNTS_SQL,
    "doc_dense_ids": DOC_DENSE_IDS_SQL,
    "parent_child": PARENT_CHILD_SQL,
    "parent_child_agg": PARENT_CHILD_AGG_SQL,
    "hierarchy_pagerank": _pagerank_sql(),
    "hierarchy_rollup": HIERARCHY_ROLLUP_SQL,
}
