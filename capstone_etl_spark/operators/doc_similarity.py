"""Sparse document-to-document cosine similarity over TF vectors.

The reference computes per-doc `EuclidianNorm` "for use later with
similarities" (main.go:62, :272-281) but never finishes the job — this
operator completes the intent: cosine over the SPARSE term-frequency
vectors, computed relationally through the inverted index, never
through dense vectors.

Plan shape (the classic sparse-similarity join):
    tf(doc, token, qty)  — cached, one tokenize pass
    dot(a,b)  = Σ_token qty_a · qty_b   via self-join on token
    ‖doc‖²    = Σ qty²                  (the reference's norm, exact)
    cos(a,b)  = dot / (‖a‖·‖b‖)
    top-k     = row_number over each query doc's scored neighbors

Exactness: qty are integers, so dot and norm² are EXACT int64 sums —
order-independent, hash-identical across engines; the only floats are
two sqrts and one divide at the end (IEEE-deterministic), rounded 6dp.

Scale design (100 TB):
- the token self-join is the inverted-index join: cost Σ_token df² —
  bounded by capping document frequency (drop tokens in > max_df docs;
  they carry no discrimination). The stopword gate already removed the
  Zipf head; max_df is the long-tail guard. The cap is OFF at driver
  test scale (29-token synthetic vocab — every token is hot) and the
  knob is part of the operator contract.
- shuffle keys: token (join), then (doc_a, doc_b) (agg), then doc_a
  (rank) — all high-cardinality, unskewed after the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.text import ngram_window_sql, split_sql
from capstone_etl_spark.operators.tokenize import term_frequencies
from capstone_etl_spark.operators.text_pipeline import _TF_CTE
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached

TOP_K = 5


def doc_cosine_pairs(tf: DataFrame, max_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, cos) for doc_a < doc_b over shared tokens."""
    if max_df is not None:
        keep = tf.groupBy("token").agg(F.count("*").alias("df")).filter(
            F.col("df") <= max_df
        )
        tf = tf.join(keep.select("token"), "token", "left_semi")
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("qty") * F.col("qty")).alias("n2"))
    a = tf.select(F.col("doc_id").alias("doc_a"), "token", F.col("qty").alias("qa"))
    b = tf.select(F.col("doc_id").alias("doc_b"), "token", F.col("qty").alias("qb"))
    dots = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2_b"))
    cos = F.col("dot") / (
        F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double"))
    )
    return (
        dots.join(na, "doc_a").join(nb, "doc_b").select(
            "doc_a", "doc_b", F.round(cos, 6).alias("cos")
        )
    )


def doc_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most TF-cosine-similar documents per document."""
    tf = term_frequencies(load_table(spark, sf_dir, "documents")).transform(cached)
    pairs = doc_cosine_pairs(tf)
    directed = pairs.select(
        F.col("doc_a").alias("query_doc"), F.col("doc_b").alias("neighbor_doc"), "cos"
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("query_doc"), F.col("doc_a").alias("neighbor_doc"), "cos"
        )
    )
    w = Window.partitionBy("query_doc").orderBy(F.desc("cos"), F.asc("neighbor_doc"))
    return (
        directed.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_doc", "neighbor_doc", "cos", "rnk")
    )


DOC_SIMILARITY_TOPK_SQL = _TF_CTE + f"""
, norms AS (
  SELECT doc_id, CAST(SUM(qty * qty) AS BIGINT) AS n2 FROM tf GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.qty * b.qty) AS BIGINT) AS dot
  FROM tf a JOIN tf b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b,
         ROUND(dot / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos
  FROM dots
  JOIN norms na ON na.doc_id = doc_a
  JOIN norms nb ON nb.doc_id = doc_b
), directed AS (
  SELECT doc_a AS query_doc, doc_b AS neighbor_doc, cos FROM pairs
  UNION ALL
  SELECT doc_b AS query_doc, doc_a AS neighbor_doc, cos FROM pairs
)
SELECT query_doc, neighbor_doc, cos, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc ORDER BY cos DESC, neighbor_doc) AS rnk
  FROM directed
) t WHERE rnk <= {TOP_K}
"""


# --- BM25 retrieval ---------------------------------------------------------
#
# Okapi BM25 (Robertson/Spärck Jones) over the same TF relation: the
# classic keyword-retrieval scorer the reference's inverted index exists
# to serve but never does. Query set is a fixed literal table (the same
# eval-set convention as ann_*'s N_QUERIES).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("table", "join", "key")),
    (1, ("window", "sort")),
    (2, ("customer", "order", "value")),
    (3, ("stream", "batch", "spark")),
    (4, ("hash", "merge", "scan")),
)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents per query under Okapi BM25 with k1=1.2, b=0.75.

    Plan: the candidate set is the tf relation semi-joined to the query
    terms — at ANY corpus size only the postings of the query's terms
    move, never the corpus (the whole point of an inverted index). The
    per-term document frequencies are a |query-vocab|-row broadcast;
    corpus doc count and mean doc length ride as a 1-row broadcast. The
    per-query ranking window's input is the candidate posting union —
    bounded by the query terms' document frequencies, not the corpus.

    Exactness: every per-(query,doc,term) BM25 contribution is one
    fixed IEEE expression over exact ints + two broadcast doubles,
    snapped to DECIMAL(28,12) so the per-doc sum is order-free; the
    final score rounds to 6 dp and ranking orders by (rounded score,
    doc_id) — engine-identical."""
    tf = cached(term_frequencies(load_table(spark, sf_dir, "documents")))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id long, token string",
    )
    dl = tf.groupBy("doc_id").agg(F.sum("qty").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfq = (
        tf.join(F.broadcast(qterms.select("token").distinct()), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("df"))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    num = F.col("qty") * (1.0 + BM25_K1)
    den = F.col("qty") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term = (idf * num / den).cast("decimal(28,12)")
    scores = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(dfq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", term.alias("term"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scores.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("query_id", "doc_id", "bm25", "rnk")
    )


_BM25_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, ts in BM25_QUERIES for t in ts
)

BM25_TOPK_SQL = _TF_CTE + f"""
, q(query_id, token) AS (VALUES {_BM25_VALUES}),
dl AS (SELECT doc_id, CAST(SUM(qty) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
  WHERE token IN (SELECT token FROM q) GROUP BY 1
),
terms AS (
  SELECT q.query_id, t.doc_id,
         CAST(LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
              * (t.qty * (1.0 + {BM25_K1}))
              / (t.qty + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
              AS DECIMAL(28,12)) AS term
  FROM tf t
  JOIN q ON q.token = t.token
  JOIN dfq d ON d.token = t.token
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, doc_id, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS bm25
  FROM terms GROUP BY 1, 2
)
SELECT query_id, doc_id, bm25, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rnk
  FROM scores
) z WHERE rnk <= {BM25_TOP_K}
"""


# --- hybrid retrieval (RRF) -------------------------------------------------
#
# Reciprocal-rank fusion (Cormack et al. 2009): the standard production
# recipe for combining a lexical ranking (BM25) with a vector ranking
# (here the PQ-ADC list) without score calibration — fuse on RANKS,
# score = Σ 1/(K + rank). Query alignment: BM25 query q fuses with the
# ANN ranking of query vector vec_id = q (the fixture's embeddings are
# keyed like documents; a production deployment would embed the query
# text — the fusion mechanics are identical).
RRF_K = 60
RRF_TOP_K = 10


def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per query under reciprocal-rank fusion of bm25_topk and
    ann_pq_topk. Pure rank arithmetic over the two top-k lists (a
    full outer join on (query, doc) — each input is already tiny), so
    at any corpus size the fusion itself is free; the cost lives in the
    two retrievers, each audited separately. Exactness: the score is a
    fixed two-term IEEE expression of integer ranks, rounded 6 dp, with
    the doc-id tiebreak."""
    from capstone_etl_spark.operators.similarity import ann_pq_topk

    n_q = len(BM25_QUERIES)
    lex = bm25_topk(spark, sf_dir).select(
        "query_id", F.col("doc_id").alias("doc"), F.col("rnk").alias("r_lex")
    )
    vec = (
        ann_pq_topk(spark, sf_dir)
        .filter(F.col("query_id") < n_q)
        .select("query_id", F.col("neighbor_id").alias("doc"), F.col("rnk").alias("r_vec"))
    )
    score = F.round(
        F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0)),
        6,
    )
    fused = lex.join(vec, ["query_id", "doc"], "full").select(
        "query_id", "doc", "r_lex", "r_vec", score.alias("rrf")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc"))
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= RRF_TOP_K)
        .select("query_id", "doc", "r_lex", "r_vec", "rrf", "rnk")
    )


def _hybrid_retrieval_rrf_sql() -> str:
    from capstone_etl_spark.operators.similarity import ANN_PQ_TOPK_SQL

    n_q = len(BM25_QUERIES)
    return f"""
WITH lex AS (SELECT query_id, doc_id AS doc, rnk AS r_lex FROM ({BM25_TOPK_SQL}) b),
vec AS (SELECT query_id, neighbor_id AS doc, rnk AS r_vec
        FROM ({ANN_PQ_TOPK_SQL}) a WHERE query_id < {n_q}),
fused AS (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         COALESCE(l.doc, v.doc) AS doc,
         l.r_lex, v.r_vec,
         ROUND(COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
               + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0), 6) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.query_id = v.query_id AND l.doc = v.doc
)
SELECT query_id, doc, r_lex, r_vec, rrf, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc) AS rnk
  FROM fused
) t WHERE rnk <= {RRF_TOP_K}
"""


# --- retrieval quality eval (MRR / hits@k) ---------------------------------
#
# The eval half of the retrieval stack: relevance is term containment
# (a document is relevant to a query iff it contains EVERY query term),
# the deterministic stand-in for human judgments that every retrieval
# pipeline needs before it has labeled data. MRR is the first-relevant
# reciprocal rank; hits@k counts relevant docs inside the BM25 top-k.


def retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_rel, hits_at_k, first_rel_rank, rr) — one row per
    BM25 eval query; first_rel_rank is 0 when no relevant doc reaches
    the top-k (rr 0.0 likewise).

    Plan: the relevance set is the tf relation semi-joined to the query
    terms (only the query terms' postings move) aggregated to docs
    containing all terms; the metric join is top-k-list sized (queries
    × k rows) against that set — both sides bounded by query-term
    document frequencies, never the corpus."""
    tf = cached(term_frequencies(load_table(spark, sf_dir, "documents")))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id long, token string",
    )
    n_terms = qterms.groupBy("query_id").agg(
        F.countDistinct("token").alias("n_terms")
    )
    rel = (
        tf.join(F.broadcast(qterms), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("token").alias("nh"))
        .join(F.broadcast(n_terms), "query_id")
        .filter(F.col("nh") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    n_rel = rel.groupBy("query_id").agg(F.count("*").cast("long").alias("n_rel"))
    topk = bm25_topk(spark, sf_dir)
    hit = rel.withColumn("is_rel", F.lit(1))
    agg = (
        topk.join(hit, ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("is_rel"), F.lit(0))).cast("long").alias("hits_at_k"),
            F.coalesce(
                F.min(F.when(F.col("is_rel") == 1, F.col("rnk"))), F.lit(0)
            ).cast("long").alias("first_rel_rank"),
        )
    )
    rr = F.round(
        F.when(F.col("first_rel_rank") > 0, 1.0 / F.col("first_rel_rank")).otherwise(
            0.0
        ),
        6,
    )
    return (
        agg.join(F.broadcast(n_rel), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0).cast("long")).alias("n_rel"),
            "hits_at_k",
            "first_rel_rank",
            rr.alias("rr"),
        )
    )


RETRIEVAL_MRR_SQL = _TF_CTE + f"""
, q(query_id, token) AS (VALUES {_BM25_VALUES}),
nt AS (SELECT query_id, COUNT(DISTINCT token) AS n_terms FROM q GROUP BY 1),
rel AS (
  SELECT r.query_id, r.doc_id FROM (
    SELECT q.query_id, t.doc_id, COUNT(DISTINCT t.token) AS nh
    FROM tf t JOIN q ON q.token = t.token GROUP BY 1, 2
  ) r JOIN nt ON nt.query_id = r.query_id WHERE r.nh = nt.n_terms
),
nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
topk AS (SELECT * FROM ({{BM25}}) b),
agg AS (
  SELECT t.query_id,
         CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
         CAST(COALESCE(MIN(CASE WHEN r.doc_id IS NOT NULL THEN t.rnk END), 0) AS BIGINT) AS first_rel_rank
  FROM topk t LEFT JOIN rel r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
  GROUP BY 1
)
SELECT a.query_id, COALESCE(n.n_rel, 0) AS n_rel, a.hits_at_k, a.first_rel_rank,
       ROUND(CASE WHEN a.first_rel_rank > 0 THEN 1.0 / a.first_rel_rank ELSE 0.0 END, 6) AS rr
FROM agg a LEFT JOIN nrel n ON n.query_id = a.query_id
""".replace("{BM25}", BM25_TOPK_SQL)


# --- NDCG@k ------------------------------------------------------------------
#
# The position-weighted cousin of retrieval_mrr: hits near the top of
# the ranking count more (gain 1/log2(rank+1)), normalized by the best
# achievable ordering (IDCG) so scores compare across queries with
# different relevant-set sizes. Binary relevance reuses the MRR
# convention (doc contains ALL query terms).
#
# Numeric discipline: log2 is NOT bit-guaranteed across engines, so
# the per-rank gains are PRECOMPUTED 12-dp literals (the same decimal
# strings embedded in the Spark plan and the DuckDB SQL), summed as
# exact DECIMAL — order-free; the ideal prefix sums are likewise
# Python-computed literals of those same decimals. Only the final
# DCG/IDCG ratio runs in double, floor-snapped to 6 dp.
import math as _math
from decimal import Decimal as _Dec

_NDCG_GAINS: tuple[str, ...] = tuple(
    str(round(1.0 / _math.log2(i + 1), 12)) for i in range(1, BM25_TOP_K + 1)
)
_NDCG_PREFIX: tuple[str, ...] = tuple(
    str(sum(_Dec(g) for g in _NDCG_GAINS[: m + 1])) for m in range(BM25_TOP_K)
)

_GAIN_CASE = " ".join(
    f"WHEN rnk = {i + 1} THEN CAST({g} AS DECIMAL(18,12))"
    for i, g in enumerate(_NDCG_GAINS)
)
_IDEAL_CASE = " ".join(
    f"WHEN m = {i + 1} THEN CAST({p} AS DECIMAL(18,12))"
    for i, p in enumerate(_NDCG_PREFIX)
)


def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_rel, hits_at_k, dcg, ndcg) — one row per BM25 eval
    query; ndcg 0.0 when no doc is relevant.

    Plan shape: identical to retrieval_mrr (relevance set bounded by
    the query terms' postings; metric join is top-k-list sized); the
    gain lookup is a per-row CASE on rnk, no extra relation."""
    tf = cached(term_frequencies(load_table(spark, sf_dir, "documents")))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id long, token string",
    )
    n_terms = qterms.groupBy("query_id").agg(F.countDistinct("token").alias("n_terms"))
    rel = (
        tf.join(F.broadcast(qterms), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("token").alias("nh"))
        .join(F.broadcast(n_terms), "query_id")
        .filter(F.col("nh") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    n_rel = rel.groupBy("query_id").agg(F.count("*").cast("long").alias("n_rel"))
    topk = bm25_topk(spark, sf_dir)
    gain = F.expr(f"CASE {_GAIN_CASE} END")
    agg = (
        topk.join(rel.withColumn("is_rel", F.lit(1)), ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("is_rel"), F.lit(0))).cast("long").alias("hits_at_k"),
            F.sum(
                F.when(F.col("is_rel") == 1, gain).otherwise(
                    F.expr("CAST(0 AS DECIMAL(18,12))")
                )
            ).alias("dcg_dec"),
        )
    )
    joined = agg.join(F.broadcast(n_rel), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_rel"), F.lit(0).cast("long")).alias("n_rel"),
        "hits_at_k",
        "dcg_dec",
        F.least(F.coalesce(F.col("n_rel"), F.lit(0)), F.lit(BM25_TOP_K)).alias("m"),
    )
    idcg = F.expr(f"CASE {_IDEAL_CASE} END")
    dcg_d = F.col("dcg_dec").cast("double")
    ndcg_raw = F.when(F.col("m") >= 1, dcg_d / idcg.cast("double")).otherwise(F.lit(0.0))
    snap6 = lambda c: F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0) + F.lit(0.0)  # noqa: E731
    return joined.select(
        "query_id",
        "n_rel",
        "hits_at_k",
        snap6(dcg_d).alias("dcg"),
        snap6(ndcg_raw).alias("ndcg"),
    )


RETRIEVAL_NDCG_SQL = _TF_CTE + f"""
, q(query_id, token) AS (VALUES {_BM25_VALUES}),
nt AS (SELECT query_id, COUNT(DISTINCT token) AS n_terms FROM q GROUP BY 1),
rel AS (
  SELECT r.query_id, r.doc_id FROM (
    SELECT q.query_id, t.doc_id, COUNT(DISTINCT t.token) AS nh
    FROM tf t JOIN q ON q.token = t.token GROUP BY 1, 2
  ) r JOIN nt ON nt.query_id = r.query_id WHERE r.nh = nt.n_terms
),
nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
topk AS ({{BM25}}),
agg AS (
  SELECT t.query_id,
         CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
         SUM(CASE WHEN r.doc_id IS NOT NULL THEN (CASE {_GAIN_CASE} END)
                  ELSE CAST(0 AS DECIMAL(18,12)) END) AS dcg_dec
  FROM topk t LEFT JOIN rel r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
  GROUP BY 1
),
meas AS (
  SELECT a.query_id,
         COALESCE(n.n_rel, 0) AS n_rel,
         a.hits_at_k,
         CAST(a.dcg_dec AS DOUBLE) AS dcg_d,
         LEAST(COALESCE(n.n_rel, 0), {BM25_TOP_K}) AS m
  FROM agg a LEFT JOIN nrel n ON n.query_id = a.query_id
)
SELECT query_id, n_rel, hits_at_k,
       floor(dcg_d * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS dcg,
       floor((CASE WHEN m >= 1
                   THEN dcg_d / CAST((CASE {_IDEAL_CASE} END) AS DOUBLE)
                   ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS ndcg
FROM meas
""".replace("{BM25}", BM25_TOPK_SQL)


# -------------------------------- chunk-level retrieval (RAG shape)

RAG_TOP_K = 10


def rag_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, chunk_id, bm25, rnk) — BM25 retrieval at
    PASSAGE granularity: the corpus is the fixed-size token chunks a
    context window actually receives (doc_chunks' 50-token units), so
    a long document with one relevant passage ranks by that passage,
    not its diluted whole-document statistics — the retrieval shape a
    RAG pipeline serves. Same Okapi scoring and exact-decimal
    discipline as bm25_topk; the retrieval UNIT key is
    (doc_id, chunk_id) and document frequency counts chunks.

    Scale plan: identical to bm25_topk's — only the query terms'
    chunk postings move (semi-join against the query vocabulary), df
    and corpus stats are 1-row/|query-vocab|-row broadcasts, and the
    per-query ranking window sees the candidate postings only. Chunk
    boundaries are pure offset arithmetic (doc_chunks' plan)."""
    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.corpus import CHUNK_TOKENS

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(tokenize("text")).alias("pos", "token"))
    tf = cached(
        toks.withColumn("chunk_id", F.floor(F.col("pos") / CHUNK_TOKENS))
        .groupBy("doc_id", "chunk_id", "token")
        .agg(F.count("*").alias("qty"))
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id long, token string",
    )
    dl = tf.groupBy("doc_id", "chunk_id").agg(F.sum("qty").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_chunks"), F.avg("dl").alias("avgdl")
    )
    dfq = (
        tf.join(F.broadcast(qterms.select("token").distinct()), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("df"))
    )
    idf = F.log((F.col("n_chunks") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    num = F.col("qty") * (1.0 + BM25_K1)
    den = F.col("qty") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term = (idf * num / den).cast("decimal(28,12)")
    scores = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(dfq), "token")
        .join(dl, ["doc_id", "chunk_id"])
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "chunk_id", term.alias("term"))
        .groupBy("query_id", "doc_id", "chunk_id")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id"), F.asc("chunk_id")
    )
    return (
        scores.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= RAG_TOP_K)
        .select("query_id", "doc_id", "chunk_id", "bm25", "rnk")
    )


def _rag_chunk_retrieval_sql() -> str:
    from capstone_etl_spark.operators.corpus import CHUNK_TOKENS

    return f"""
WITH ctoks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
), pos AS (
  SELECT doc_id, t[i] AS token, i - 1 AS pos
  FROM {ngram_window_sql(1, "ctoks")}
), tf AS (
  SELECT doc_id, pos // {CHUNK_TOKENS} AS chunk_id, token, COUNT(*) AS qty
  FROM pos WHERE token <> ''
  GROUP BY 1, 2, 3
), q(query_id, token) AS (VALUES {_BM25_VALUES}),
dl AS (SELECT doc_id, chunk_id, CAST(SUM(qty) AS BIGINT) AS dl FROM tf GROUP BY 1, 2),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_chunks, AVG(dl) AS avgdl FROM dl),
dfq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
  WHERE token IN (SELECT token FROM q) GROUP BY 1
),
terms AS (
  SELECT q.query_id, t.doc_id, t.chunk_id,
         CAST(LN((s.n_chunks - d.df + 0.5) / (d.df + 0.5) + 1.0)
              * (t.qty * (1.0 + {BM25_K1}))
              / (t.qty + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
              AS DECIMAL(28,12)) AS term
  FROM tf t
  JOIN q ON q.token = t.token
  JOIN dfq d ON d.token = t.token
  JOIN dl ON dl.doc_id = t.doc_id AND dl.chunk_id = t.chunk_id
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, doc_id, chunk_id,
         ROUND(CAST(SUM(term) AS DOUBLE), 6) AS bm25
  FROM terms GROUP BY 1, 2, 3
)
SELECT query_id, doc_id, chunk_id, bm25, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY bm25 DESC, doc_id, chunk_id) AS BIGINT) AS rnk
  FROM scores
) z WHERE rnk <= {RAG_TOP_K}
"""


QUERIES = {
    "doc_similarity_topk": doc_similarity_topk,
    "bm25_topk": bm25_topk,
    "hybrid_retrieval_rrf": hybrid_retrieval_rrf,
    "retrieval_mrr": retrieval_mrr,
    "retrieval_ndcg": retrieval_ndcg,
    "rag_chunk_retrieval": rag_chunk_retrieval,
}
ORACLE_SQL = {
    "doc_similarity_topk": DOC_SIMILARITY_TOPK_SQL,
    "bm25_topk": BM25_TOPK_SQL,
    "hybrid_retrieval_rrf": _hybrid_retrieval_rrf_sql(),
    "retrieval_mrr": RETRIEVAL_MRR_SQL,
    "retrieval_ndcg": RETRIEVAL_NDCG_SQL,
    "rag_chunk_retrieval": _rag_chunk_retrieval_sql(),
}
