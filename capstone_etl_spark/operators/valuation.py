"""Training-data valuation and curation over embeddings (§7.8 ext).

The reference stops at L2 norms "for use later with similarities"
(main.go:272-281); the similarity module completed retrieval, and this
module completes the CURATION loop a 100 TB training pipeline runs on
top of it — which examples are worth keeping, which labels look wrong,
which subset covers the space, and how to diversify what a retriever
returns:

- knn_shapley_values — exact closed-form KNN-Shapley data valuation
  (Jia et al., VLDB 2019): the Shapley value of every training point
  under a K-NN surrogate classifier, computed in O(Q·N log N) via the
  sorted-suffix recurrence instead of O(2^N) subset enumeration.
- label_noise_audit — confident-learning-style mislabel screen: each
  vector's K nearest WITHIN-CELL neighbors (the SemDeDup quantizer
  blocks the corpus, so the pair stage never goes N×N) vote on its
  label; low agreement flags a suspect row.
- kcenter_coreset — greedy k-center coreset selection (Gonzalez 1985;
  the "diverse subset" selector behind coreset-based data pruning):
  K rounds of farthest-point picks, each round one bounded broadcast
  of the ≤K selected centers and a 1-row argmax.
- mmr_diversified_topk — Maximal Marginal Relevance (Carbonell &
  Goldstein 1998) reranking of the retriever's candidate list:
  iteratively trade relevance against redundancy with the already-
  selected set; candidate lists are bounded (top-C per query), so
  every per-round stage is per-query-bounded.

Determinism/oracle strategy (the module contract shared with the ANN
family): similarities rank on the QUANTIZED-INTEGER cosine with id
tiebreaks — exact BIGINT dot/norm folds on the fixed-point grid
(order-free under ANY engine's summation order, unlike a chained
double fold, which the r9 driver proved host-dependent), then one
sqrt/mul/div on bit-identical inputs; every order-sensitive float
accumulation snaps its terms to DECIMAL(p,12) before the (exact,
order-free) sum, and iterative rounds unroll to the same fixed round
count in both engines — so DuckDB reproduces ranks, picks and values
bit-for-bit. The snap precision is 20, not the
family's usual 28: Spark's decimal ADD result must fit precision 38
or allowPrecisionLoss silently drops the scale to 11 (sum(20,12) →
(30,12); (30,12)+(20,12) → (31,12) ✓ — whereas (38,12)+(28,12) →
(38,11), which cost the 12th digit and broke oracle parity in
development).

Scale notes (100 TB):
- knn_shapley is O(Q·N) scoring + per-test sort: Q (the validation
  set) is the small bounded side — the standard valuation setup scores
  the whole corpus against a fixed eval set; the suffix recurrence is
  one window pass, no iteration.
- label_noise_audit inherits semantic_dedup's blocking law: ≈√N cells
  of expected population ≈√N, pair work per cell bounded, shuffle on
  cell only.
- kcenter_coreset is O(K·N) dot products with K fixed — each round is
  map-side against a ≤K-row broadcast, then a 1-row TakeOrdered.
- mmr rounds touch only the C-candidate lists (C=20/query), never the
  corpus after the initial retrieve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.vectors import dot_long, quantized_cosine
from capstone_etl_spark.operators.similarity import (
    _HIER_ASSIGN_SQL,
    _d2_fold,
    _hier_assign_sql,
    _hier_cand_seed,
    DIM,
    N_QUERIES,
    QN_SQL,
    cosine_q_sql,
    d2_q_sql,
    hier_assign,
    quantize_fp,
    quantizer_seeds,
)
from capstone_etl_spark.session import cached, checkpoint_truncate
from capstone_etl_spark.sources.tables import load_table

SHAP_K = 5          # the K of the K-NN surrogate classifier
NOISE_K = 5         # neighbor votes per vector in the label screen
NOISE_MIN_VOTES = 3  # suspect flag needs at least this many voters
KCENTER_K = 8       # coreset size (greedy rounds)
MMR_K = 5           # diversified list length
MMR_CANDS = 20      # relevance candidates per query entering MMR
MMR_LAMBDA = 0.7    # relevance weight…
MMR_MU = 0.3        # …and the redundancy weight, kept as a separate
                    # literal (1 - 0.7 is NOT 0.3 in binary — both
                    # engines must multiply by the same double)


# ---------------------------------------------------------------------
# knn_shapley_values
# ---------------------------------------------------------------------

def knn_shapley_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN-Shapley value of every training vector (Jia et al.
    2019, Theorem 1): test set = vec_id < N_QUERIES (the family's
    bounded query-set convention), train = the rest. Per test point,
    train points sort by similarity (quantized cosine desc, id asc); with
    I_j = 1[label_j = label_test] the recurrence

        s_(N) = I_(N) / N
        s_(j) = s_(j+1) + (I_(j) - I_(j+1)) / K * min(K, j) / j

    is a suffix sum over the sorted order — computed as one window
    pass. Each suffix term snaps to DECIMAL(20,12) so the sum is exact
    and order-free; the per-train value is the mean over test points
    (exact decimal sum / Q). Scale: the broadcast test set × corpus
    scan is the eval-bounded brute pattern (ann_brute_topk's shape);
    the sort is per-test-point (Q parallel sorts of N, shuffled on
    test_id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # rank key = quantized-integer cosine (label_noise_audit's
    # de-fragilized key: exact BIGINT folds, order-free in any engine;
    # squared norms precomputed per SIDE so each scored pair evaluates
    # ONE integer fold — the norm-precompute discipline)
    emb_q = emb.select("vec_id", "label", quantize_fp().alias("vq")).withColumn(
        "qn2", dot_long("vq", "vq")
    )
    test = emb_q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("test_id"),
        F.col("vq").alias("qa"),
        F.col("qn2").alias("na2"),
        F.col("label").alias("tl"),
    )
    train = emb_q.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("train_id"),
        F.col("vq").alias("qb"),
        F.col("qn2").alias("nb2"),
        F.col("label").alias("nl"),
    )
    scored = (
        F.broadcast(test)
        .crossJoin(train)
        .select(
            "test_id",
            "train_id",
            F.col("nl").alias("label"),
            quantized_cosine("qa", "qb", "na2", "nb2").alias("sim"),
            (F.col("tl") == F.col("nl")).cast("int").alias("agree"),
        )
    )
    w = Window.partitionBy("test_id").orderBy(F.desc("sim"), F.asc("train_id"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = scored.select(
        "test_id",
        "train_id",
        "label",
        "agree",
        F.row_number().over(w).alias("rnk"),
        F.lead("agree").over(w).alias("agree_next"),
        F.count("*").over(Window.partitionBy("test_id")).alias("n"),
        F.last("agree").over(wfull).alias("agree_last"),
    )
    g = (
        (F.col("agree") - F.col("agree_next"))
        * F.least(F.lit(SHAP_K), F.col("rnk"))
        / (F.lit(SHAP_K) * F.col("rnk")).cast("double")
    )
    terms = ranked.select(
        "test_id",
        "train_id",
        "label",
        "rnk",
        F.coalesce(g, F.lit(0.0)).cast("decimal(20,12)").alias("g"),
        (F.col("agree_last").cast("double") / F.col("n"))
        .cast("decimal(20,12)")
        .alias("base"),
    )
    # Suffix sums computed as total - prefix + own term: Spark has NO
    # reverse-running frame — a [current, unbounded following] SUM
    # frame recomputes the aggregate per row, O(N²) per partition
    # (measured: scale exponent 1.54 at the 10× point before this
    # rewrite, 2 min at 20k vectors). The running-prefix and
    # whole-partition frames are both O(N); all terms are exact
    # decimals, so total - prefix + g is bit-identical to the direct
    # suffix sum the oracle computes.
    wo = Window.partitionBy("test_id").orderBy("rnk")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per_test = terms.select(
        "test_id",
        "train_id",
        "label",
        (
            F.sum("g").over(wall) - F.sum("g").over(wrun) + F.col("g") + F.col("base")
        ).alias("shap_tt"),
    )
    # No global value_rank column: ranking N corpus rows is a global
    # single-partition window — the consumer sorts or top-k's instead.
    # The mean is (exact decimal sum) cast to double, then ONE IEEE
    # division by the group's row count (= the ACTUAL number of test
    # points — the cross join emits one row per test, and vec_id <
    # N_QUERIES is a cap, not a guarantee) — both engines divide the
    # identical double by the identical integer, so no final rounding
    # step is needed (a ROUND at digit 12 would sit exactly on the
    # half boundary the /Q shift creates and the engines' half-rules
    # diverge).
    return per_test.groupBy("train_id", "label").agg(
        (F.sum("shap_tt").cast("double") / F.count("*")).alias("shap_value")
    ).select(F.col("train_id").alias("vec_id"), "label", "shap_value")


KNN_SHAPLEY_VALUES_SQL = f"""
WITH {QN_SQL}, test AS (
  SELECT vec_id AS test_id, q, n2, label AS tl
  FROM qn WHERE vec_id < {N_QUERIES}
), train AS (
  SELECT vec_id AS train_id, q, n2, label AS nl
  FROM qn WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT t.test_id, r.train_id, r.nl AS label,
         {cosine_q_sql('t', 'r')} AS sim,
         CASE WHEN t.tl = r.nl THEN 1 ELSE 0 END AS agree
  FROM test t CROSS JOIN train r
), ranked AS (
  SELECT test_id, train_id, label, agree,
         ROW_NUMBER() OVER w AS rnk,
         LEAD(agree) OVER w AS agree_next,
         COUNT(*) OVER (PARTITION BY test_id) AS n,
         LAST_VALUE(agree) OVER (PARTITION BY test_id ORDER BY sim DESC, train_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS agree_last
  FROM scored
  WINDOW w AS (PARTITION BY test_id ORDER BY sim DESC, train_id)
), terms AS (
  SELECT test_id, train_id, label, rnk,
         CAST(COALESCE((agree - agree_next) * LEAST({SHAP_K}, rnk)
                       / CAST({SHAP_K} * rnk AS DOUBLE), 0.0) AS DECIMAL(20,12)) AS g,
         CAST(CAST(agree_last AS DOUBLE) / n AS DECIMAL(20,12)) AS base
  FROM ranked
), per_test AS (
  SELECT test_id, train_id, label,
         SUM(g) OVER (PARTITION BY test_id ORDER BY rnk
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) + base AS shap_tt
  FROM terms
)
SELECT train_id AS vec_id, label,
       CAST(SUM(shap_tt) AS DOUBLE) / COUNT(*) AS shap_value
FROM per_test GROUP BY train_id, label
"""


# ---------------------------------------------------------------------
# label_noise_audit
# ---------------------------------------------------------------------

def _noise_verdict_cols() -> list:
    """The shared verdict tail of the label_noise family: coalesced
    integer counts, the EXACT agree_ratio, and nothing else.

    agree_ratio is computed entirely in integer arithmetic —
    micro = (n_agree·2·10⁶ + n_votes) div (2·n_votes), i.e. the ratio
    in micro-units rounded half-up — then divided ONCE by 10⁶ (a
    correctly-rounded IEEE op on identical integers in both engines).
    No ROUND-of-double remains anywhere in the family (ADVICE r10 #1a;
    the column stays DOUBLE rather than DECIMAL so its
    pandas/stringified form is the same float64 path every other green
    query rides). Unvoted rows (pre-coalesce NULL n_votes) keep a NULL
    ratio, never 0/0."""
    micro = F.expr("(n_agree * 2000000 + n_votes) div (2 * n_votes)")
    return [
        F.coalesce(F.col("n_votes"), F.lit(0)).cast("long").alias("n_votes"),
        F.coalesce(F.col("n_agree"), F.lit(0)).cast("long").alias("n_agree"),
        (micro.cast("double") / F.lit(1000000.0)).alias("agree_ratio"),
    ]


# The oracle twin of _noise_verdict_cols' verdict columns. n_agree is
# CAST to BIGINT explicitly: DuckDB's SUM(INTEGER) returns HUGEINT,
# which pandas renders as float64 — so the driver's stringified-value
# hash saw '2.0' vs Spark's '2' on every row with a vote. That dtype
# skew (invisible to a numeric comparison — the local gate's float
# branch compared equal) is what kept the trio red through two rounds
# of value-exactness fixes: a DESCRIBE scan of all 327 oracles showed
# the three label_noise queries were the ONLY ones emitting HUGEINT.
_NOISE_VERDICT_SQL = f"""
       COALESCE(CAST(v.n_votes AS BIGINT), 0) AS n_votes,
       COALESCE(CAST(v.n_agree AS BIGINT), 0) AS n_agree,
       CAST((v.n_agree * 2000000 + v.n_votes) // (2 * v.n_votes) AS DOUBLE)
         / 1000000.0 AS agree_ratio,
       COALESCE(v.n_votes, 0) >= {NOISE_MIN_VOTES}
         AND COALESCE(v.n_agree, 0) * 2 < COALESCE(v.n_votes, 0) AS suspect
"""


def _noise_votes(withv: DataFrame, voters: DataFrame | None = None) -> DataFrame:
    """(vec_a, n_votes, n_agree) — the within-cell K-NN label vote over
    an assigned relation (vec_id, vq, cell, label). `voters` (default:
    withv itself) is the relation the votes come FROM — the
    incremental form passes the base corpus here so delta arrivals are
    judged by committed members only. The vote RANK KEY is the exact
    integer squared L2 distance on the fixed-point grid (asc, id-asc
    tiebreak): after two rounds in which a float rank key was
    suspected for the driver reds (r9 raw-IEEE fold theory, r10
    quantized-cosine theory), the family now carries NO float anywhere
    in its rank path — every compared quantity is BIGINT by
    construction, so both engines rank identically on any host."""
    if voters is None:
        voters = withv
    a = withv.select(
        F.col("vec_id").alias("vec_a"), "cell",
        F.col("vq").alias("qa"), F.col("label").alias("la"),
    )
    b = voters.select(
        F.col("vec_id").alias("vec_b"), "cell",
        F.col("vq").alias("qb"), F.col("label").alias("lb"),
    )
    return _noise_tally(
        a.join(b, "cell")
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            _d2_fold("qa", F.col("qb")).alias("d2p"),
            (F.col("la") == F.col("lb")).cast("int").alias("match"),
        )
    )


def _noise_tally(cands: DataFrame) -> DataFrame:
    """(vec_a, n_votes, n_agree): each vector's NOISE_K nearest
    candidates (d2p asc, vec_b asc) vote with their `match` flag — the
    tally of the batch audits, the curation manifest's gate 2 and the
    drained stream_label_noise candidates."""
    wv = Window.partitionBy("vec_a").orderBy(F.asc("d2p"), F.asc("vec_b"))
    return (
        cands.withColumn("rnk", F.row_number().over(wv))
        .filter(F.col("rnk") <= NOISE_K)
        .groupBy("vec_a")
        .agg(
            F.count("*").alias("n_votes"),
            F.sum("match").alias("n_agree"),
        )
    )


def _noise_release(rows: DataFrame, votes: DataFrame) -> DataFrame:
    """The label_noise verdict over (vec_id, label, cell) rows and their
    `_noise_tally` votes: unvoted rows keep zero counts, and `suspect`
    fires when at least NOISE_MIN_VOTES voters disagree by majority."""
    out = rows.join(votes.withColumnRenamed("vec_a", "vec_id"), "vec_id", "left").select(
        "vec_id", "label", "cell", *_noise_verdict_cols()
    )
    return out.withColumn(
        "suspect",
        (F.col("n_votes") >= NOISE_MIN_VOTES)
        & (F.col("n_agree") * 2 < F.col("n_votes")),
    )


def _noise_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vq, cell, label) — the audit's blocked corpus: the
    TWO-LEVEL router assignment (similarity.hier_assign — ≈N^(1/4)
    branches route each vector to BRANCH_PROBES branches, assignment
    probes only those branches' second-level seeds). Re-blocking on
    the hier router (ADVICE r10 #2) pays down the family's measured
    flat-quantizer N^1.34: assignment drops from O(N·√N) to
    O(N·N^(1/4)) integer folds, exactly as semantic_dedup_hier did for
    SemDeDup; cells and within-cell pair work are unchanged (≈√N)."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    return (
        hier_assign(emb_q)
        .join(emb.select("vec_id", "label"), "vec_id")
        .transform(cached)
    )


def label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel screen by within-cell K-NN vote (the confident-learning
    recipe on the SemDeDup blocking): the two-level hierarchical
    quantizer assigns each vector a cell (exact-integer routing and
    argmin — the identical index ann_hivf_topk serves from); within
    each cell, every vector's NOISE_K nearest cell-mates (exact
    integer squared-L2 asc, id asc) vote, and agree_ratio = matching
    votes / votes (exact micro-unit integer arithmetic — see
    _noise_verdict_cols). `suspect` fires when at least
    NOISE_MIN_VOTES voters disagree by majority.

    Scale: pair work is per-cell (expected population ≈√N — the
    quantizer law asserted in test_quantizer_scaling); assignment is
    the O(N·N^(1/4)) hier router; the vote window runs per vector over
    its cell-bounded candidate list; one shuffle on cell.
    Singleton-cell vectors emit n_votes = 0, NULL ratio, suspect =
    false — the consumer can route them to a wider probe."""
    withv = _noise_assigned(spark, sf_dir)
    return _noise_release(withv.select("vec_id", "label", "cell"), _noise_votes(withv))


# The shared within-cell vote chain over the hier `assign` relation —
# spliced after _HIER_ASSIGN_SQL.
_NOISE_VOTES_SQL = f""", {QN_SQL}, pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {d2_q_sql('qa', 'qb')} AS d2p,
         CASE WHEN qa.label = qb.label THEN 1 ELSE 0 END AS match
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  JOIN qn qa ON qa.vec_id = a.vec_id
  JOIN qn qb ON qb.vec_id = b.vec_id
), votes AS (
  SELECT vec_a, COUNT(*) AS n_votes, SUM(match) AS n_agree
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a ORDER BY d2p, vec_b) AS rnk
    FROM pairs
  ) t WHERE rnk <= {NOISE_K}
  GROUP BY vec_a
)"""


LABEL_NOISE_AUDIT_SQL = (
    _HIER_ASSIGN_SQL
    + _NOISE_VOTES_SQL
    + f"""
SELECT s.vec_id, e.label, s.cell, {_NOISE_VERDICT_SQL}
FROM assign s
JOIN embeddings e ON e.vec_id = s.vec_id
LEFT JOIN votes v ON v.vec_a = s.vec_id
"""
)


# ---------------------------------------------------------------------
# label_noise_cells / label_noise_votes — staged driver diagnostics
# ---------------------------------------------------------------------

def label_noise_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED DIAGNOSTIC (ADVICE r10 #1b, registered at the head of the
    r11 driver window; remove in r12 once the trio is green): the
    audit's cell ASSIGNMENT alone — (vec_id, cell), both BIGINT. If
    the driver reds survive r11's fixes, this row localizes whether
    the divergence is already in the two-level integer routing."""
    return _noise_assigned(spark, sf_dir).select("vec_id", "cell").orderBy("vec_id")


LABEL_NOISE_CELLS_SQL = (
    _HIER_ASSIGN_SQL + "\nSELECT vec_id, cell FROM assign ORDER BY vec_id"
)


def label_noise_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED DIAGNOSTIC (ADVICE r10 #1b — see label_noise_cells): the
    audit's VOTE STAGE alone — (vec_id, n_votes, n_agree), all BIGINT,
    no ratio column. Green cells + red votes ⇒ the rank; green votes +
    red audit ⇒ the ratio/suspect tail."""
    withv = _noise_assigned(spark, sf_dir)
    votes = _noise_votes(withv)
    return (
        withv.select("vec_id")
        .join(votes.withColumnRenamed("vec_a", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_votes"), F.lit(0)).cast("long").alias("n_votes"),
            F.coalesce(F.col("n_agree"), F.lit(0)).cast("long").alias("n_agree"),
        )
        .orderBy("vec_id")
    )


LABEL_NOISE_VOTES_SQL = (
    _HIER_ASSIGN_SQL
    + _NOISE_VOTES_SQL
    + """
SELECT s.vec_id,
       COALESCE(CAST(v.n_votes AS BIGINT), 0) AS n_votes,
       COALESCE(CAST(v.n_agree AS BIGINT), 0) AS n_agree
FROM assign s LEFT JOIN votes v ON v.vec_a = s.vec_id
ORDER BY s.vec_id
"""
)


# ---------------------------------------------------------------------
# label_noise_incremental
# ---------------------------------------------------------------------

def label_noise_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_noise_audit's delta-vs-base form — the shape a production
    pipeline consumes the screen in: the quantizer index is built from
    the BASE corpus only (the published artifact; seeds hash-sampled
    from base ids, dedup's salted 10% bucket marks "today's arrivals"),
    every vector routes to a base cell, and each DELTA vector's
    NOISE_K nearest BASE cell-mates vote on its label. Output one row
    per delta vector — label_noise_audit's exact schema, so a consumer
    swaps rebuild for maintenance without changing shape.

    Scale: candidate work is |delta| × (base cell population) — the
    quantizer law bounds the cell side, the delta predicate is a pure
    vec_id expression (no join to tag rows), and the base assignment
    (here recomputed for self-containedness) is the committed index
    relation in the 100 TB shape. The index is the TWO-LEVEL hier
    router built from base ids only (ADVICE r10 #2) — both the base
    members and the delta arrivals route through it at O(N^(1/4))
    folds per vector."""
    from capstone_etl_spark.operators.dedup import _is_delta

    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    base_q = emb_q.filter(~_is_delta(F.col("vec_id")))
    assign = (
        _hier_cand_seed(emb_q, index_q=base_q)
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell", "vq")).alias("m"))
        .select("vec_id", F.col("m.vq").alias("vq"), F.col("m.cell").alias("cell"))
    )
    withv = assign.join(emb.select("vec_id", "label"), "vec_id").transform(cached)
    delta_v = withv.filter(_is_delta(F.col("vec_id")))
    base_v = withv.filter(~_is_delta(F.col("vec_id")))
    return _noise_release(
        delta_v.select("vec_id", "label", "cell"), _noise_votes(delta_v, base_v)
    )


def _label_noise_incremental_sql() -> str:
    from capstone_etl_spark.operators.dedup import _delta_pred_sql

    # the index (seeds, branches, thresholds) is built from the BASE
    # subset only, while routing and assignment cover every vector
    base = f"(SELECT vec_id FROM embeddings WHERE NOT {_delta_pred_sql('vec_id')})"
    return (
        _hier_assign_sql(base)
        + f""", {QN_SQL}, pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {d2_q_sql('qa', 'qb')} AS d2p,
         CASE WHEN qa.label = qb.label THEN 1 ELSE 0 END AS match
  FROM assign a JOIN assign b ON a.cell = b.cell
  JOIN qn qa ON qa.vec_id = a.vec_id
  JOIN qn qb ON qb.vec_id = b.vec_id
  WHERE {_delta_pred_sql("a.vec_id")} AND NOT {_delta_pred_sql("b.vec_id")}
), votes AS (
  SELECT vec_a, COUNT(*) AS n_votes, SUM(match) AS n_agree
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a ORDER BY d2p, vec_b) AS rnk
    FROM pairs
  ) t WHERE rnk <= {NOISE_K}
  GROUP BY vec_a
)
SELECT s.vec_id, e.label, s.cell, {_NOISE_VERDICT_SQL}
FROM assign s
JOIN embeddings e ON e.vec_id = s.vec_id
LEFT JOIN votes v ON v.vec_a = s.vec_id
WHERE {_delta_pred_sql("s.vec_id")}
"""
    )


LABEL_NOISE_INCREMENTAL_SQL = _label_noise_incremental_sql()


# ---------------------------------------------------------------------
# kcenter_coreset
# ---------------------------------------------------------------------

def _kcenter_select(spark: SparkSession, sf_dir: str):
    """The greedy selection chain shared by kcenter_coreset and
    coreset_coverage_audit: returns (emb, acc) where emb is the cached
    (vec_id, vq, qn2) fixed-point corpus and acc the KCENTER_K selected
    rows (vec_id, vq, qn2, rnd, radius). Distances rank on the
    quantized-integer cosine (label_noise_audit's de-fragilized key:
    exact BIGINT folds, order-free in any engine build)."""
    emb = cached(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", quantize_fp().alias("vq"))
        .withColumn("qn2", dot_long("vq", "vq"))
    )
    # every round's 1-row pick is checkpoint-truncated: round r's plan
    # embeds acc_{r-1} in BOTH the anti-join and the distance scan, so
    # an untruncated loop grows the printed/compiled tree exponentially
    # in K (the CC-loop discipline; observed 46k-line plans with
    # cache-only picks)
    acc = checkpoint_truncate(
        emb.orderBy("vec_id")
        .limit(1)
        .select(
            "vec_id",
            "vq",
            "qn2",
            F.lit(1).cast("int").alias("rnd"),
            F.lit(None).cast("double").alias("radius"),
        )
    )
    # squared norms ride as columns (one integer fold per pair — the
    # norm-precompute discipline); bit-identical doubles to the
    # oracle's sqrt-product quotient by construction
    pair_cos = quantized_cosine("vq", "sq", "qn2", "sn2")
    for r in range(2, KCENTER_K + 1):
        rem = emb.join(acc.select("vec_id"), "vec_id", "left_anti")
        scored = rem.join(
            F.broadcast(
                acc.select(F.col("vq").alias("sq"), F.col("qn2").alias("sn2"))
            ),
            F.lit(True),
        ).select(
            "vec_id",
            (F.lit(1.0) - pair_cos).alias("d"),
        )
        pick = checkpoint_truncate(
            scored.groupBy("vec_id")
            .agg(F.min("d").alias("mind"))
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .join(emb, "vec_id")
            .select(
                "vec_id",
                "vq",
                "qn2",
                F.lit(r).cast("int").alias("rnd"),
                F.round(F.col("mind"), 6).alias("radius"),
            )
        )
        acc = acc.unionByName(pick)
    return emb, acc


def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez's 2-approximation — the
    farthest-point selector behind coreset data pruning): seed with
    the minimum vec_id, then KCENTER_K-1 rounds of "the point whose
    distance to the selected set is largest" (d = 1 - qcos, the
    quantized-integer cosine;
    argmax tiebreaks on the smaller id). `radius` is the covering
    radius the pick closed — the selection-time max-min distance — and
    decreases (weakly) round over round.

    Plan per round: corpus ⟕anti selected (id equi-join), one
    map-side crossJoin against the ≤K-row selected broadcast, a
    groupBy-min per vector, and a 1-row TakeOrdered pick
    (checkpoint-truncated — each round's pick is one row, the CC-loop
    O(1)-driver-data discipline). K is fixed: the whole operator is K
    linear passes."""
    _, acc = _kcenter_select(spark, sf_dir)
    return acc.select("vec_id", "rnd", "radius")


def _kcenter_ctes() -> str:
    """The greedy-selection WITH-chain, shared by kcenter_coreset and
    coreset_coverage_audit; the final accumulated relation is
    a{KCENTER_K} (vec_id, q, n2, rnd, radius). Distances rank on the
    quantized-integer cosine (exact folds, order-free).

    Every per-round CTE is MATERIALIZED (r12): each a{r} is referenced
    three times downstream (the next round's cross join, its NOT IN
    subquery, and a{r+1}), so DuckDB's inliner otherwise triples the
    expression tree PER ROUND — 3^K growth that cost tens of MINUTES
    of planner CPU per oracle run even on a 3-row corpus (this was the
    test/gate wall-clock monster VERDICT r11 #1 traced; the repo-wide
    iterative-oracle lesson from the logistic chain, applied here).
    MATERIALIZED is an optimizer fence only — results are unchanged."""
    cos = cosine_q_sql("e", "a")
    parts = [
        f"WITH {QN_SQL}",
        "e AS MATERIALIZED (SELECT vec_id, q, n2 FROM qn)",
        "s1 AS (SELECT vec_id, q, n2, 1 AS rnd, CAST(NULL AS DOUBLE) AS radius"
        "  FROM e ORDER BY vec_id LIMIT 1)",
        "a1 AS MATERIALIZED (SELECT * FROM s1)",
    ]
    for r in range(2, KCENTER_K + 1):
        p = r - 1
        parts.append(
            f"d{r} AS (SELECT e.vec_id, MIN(1.0 - ({cos})) AS mind"
            f"  FROM e CROSS JOIN a{p} a"
            f"  WHERE e.vec_id NOT IN (SELECT vec_id FROM a{p})"
            f"  GROUP BY e.vec_id)"
        )
        parts.append(
            f"s{r} AS (SELECT d.vec_id, e2.q, e2.n2, {r} AS rnd, ROUND(d.mind, 6) AS radius"
            f"  FROM d{r} d JOIN e e2 ON e2.vec_id = d.vec_id"
            f"  ORDER BY d.mind DESC, d.vec_id LIMIT 1)"
        )
        parts.append(f"a{r} AS MATERIALIZED (SELECT * FROM a{p} UNION ALL SELECT * FROM s{r})")
    return parts[0] + ", " + ", ".join(parts[1:])


KCENTER_CORESET_SQL = f"{_kcenter_ctes()} SELECT vec_id, rnd, radius FROM a{KCENTER_K}"


def coreset_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coreset's operational health audit (ivf_cell_balance's role
    for the k-center index): assign EVERY vector to its nearest
    selected center (d = 1 - qcos, argmin tiebreak on
    center_id) and report per-center population, corpus share, mean
    and max assigned distance — max_d over all centers IS the in-use
    covering radius, the quantity greedy k-center 2-approximates.

    Plan: one map-side crossJoin of the corpus against the KCENTER_K-
    row center broadcast, a groupBy-min argmin per vector, and a
    K-group aggregate; mean_d sums DECIMAL(20,12)-snapped distances
    (exact, order-free) and divides once. The selection chain itself
    is kcenter_coreset's (self-contained query form — in production
    the centers are a committed table)."""
    emb, acc = _kcenter_select(spark, sf_dir)
    centers = acc.select(
        F.col("vec_id").alias("center_id"),
        F.col("vq").alias("sq"),
        F.col("qn2").alias("sn2"),
    )
    pair_cos = quantized_cosine("vq", "sq", "qn2", "sn2")
    assigned = (
        emb.join(F.broadcast(centers), F.lit(True))
        .select(
            "vec_id",
            "center_id",
            (F.lit(1.0) - pair_cos).alias("d"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d", "center_id")).alias("m"))
        .select("vec_id", F.col("m.center_id").alias("center_id"), F.col("m.d").alias("d"))
    )
    return coverage_release(coverage_cells(assigned), emb.agg(F.count("*").alias("total")))


def _dec(c):
    """A summed term snapped to DECIMAL(20,12): exact, order-free sums."""
    return c.cast("decimal(20,12)")


def coverage_cells(assigned: DataFrame) -> DataFrame:
    """(center_id, pop, sum_d, max_d) over (center_id, d) assignments:
    the per-center aggregate of the batch audit and the complete-mode
    state of stream_coreset_coverage. sum_d adds DECIMAL(20,12)-snapped
    distances, so it is exact and order-free."""
    return assigned.groupBy("center_id").agg(
        F.count("*").cast("long").alias("pop"),
        F.sum(_dec(F.col("d"))).alias("sum_d"),
        F.max("d").alias("max_d"),
    )


def coverage_release(cells: DataFrame, total: DataFrame) -> DataFrame:
    """The coverage table from `coverage_cells` and a 1-row `total`:
    corpus share and mean distance per center, one division each."""
    return cells.join(F.broadcast(total), F.lit(True)).select(
        "center_id",
        "pop",
        (F.col("pop") / F.col("total")).alias("share"),
        (F.col("sum_d").cast("double") / F.col("pop")).alias("mean_d"),
        "max_d",
    )


CORESET_COVERAGE_AUDIT_SQL = f"""{_kcenter_ctes()}, centers AS (
  SELECT vec_id AS center_id, q, n2 FROM a{KCENTER_K}
), scored AS (
  SELECT e.vec_id, c.center_id,
         1.0 - ({cosine_q_sql('e', 'c')}) AS d
  FROM e CROSS JOIN centers c
), assigned AS (
  SELECT vec_id, center_id, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, center_id) AS arnk
    FROM scored
  ) t WHERE arnk = 1
)
SELECT center_id, CAST(COUNT(*) AS BIGINT) AS pop,
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM e) AS share,
       CAST(SUM(CAST(d AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS mean_d,
       MAX(d) AS max_d
FROM assigned GROUP BY center_id
"""


# ---------------------------------------------------------------------
# embedding_curation_manifest
# ---------------------------------------------------------------------

def embedding_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The valuation family's composed flagship (training_manifest's
    role for the embeddings side): ONE admission verdict per vector
    from three gates —

    1. semantic keep-one (SemDeDup: dropped iff a lower-id cell-mate
       clears SEMDEDUP_THRESHOLD — semantic_dedup_HIER's exact rule:
       same verify threshold, hier-routed cells),
    2. label sanity (label_noise_audit's K-NN vote: suspect iff
       >= NOISE_MIN_VOTES voters and majority disagree — exact
       integer squared-L2 rank, the family's r11 key),
    3. value (knn_shapley_values: negative-Shapley training vectors
       are dropped; the test split and unvalued vectors pass).

    keep_final = sem keep AND NOT suspect AND shap >= 0 (where
    valued); `reason` names the FIRST failing gate in that order.

    The composition's shared subtree is the point: gates 1 and 2 both
    need the TWO-LEVEL quantizer cell assignment (hier_assign — the
    family's O(N·N^(1/4)) scale path, ADVICE r10 #2) — computed ONCE
    and cached, the pair stages reuse one (cell, vq, label) relation
    carrying BOTH pair keys (quantized cosine for the SemDeDup
    threshold, integer d2p for the vote rank), so the manifest costs
    one assignment pass + the two cell-bounded pair stages + the
    eval-bounded Shapley scan, not three index builds. Oracle mirrors
    with one shared assign CTE feeding both legs."""
    from capstone_etl_spark.operators.similarity import SEMDEDUP_THRESHOLD

    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    # both pair gates ride ONE cell assignment (hier) and one pair
    # relation; the SemDeDup threshold sees the bit-reproducible
    # quantized cosine, the vote rank sees the all-integer d2p
    withv = cached(
        hier_assign(emb_q)
        .join(emb.select("vec_id", "label"), "vec_id")
        .withColumn("qn2", dot_long("vq", "vq"))
    )
    a = withv.select(
        F.col("vec_id").alias("vec_a"), "cell",
        F.col("vq").alias("qa"), F.col("qn2").alias("na2"),
        F.col("label").alias("la"),
    )
    b = withv.select(
        F.col("vec_id").alias("vec_b"), "cell",
        F.col("vq").alias("qb"), F.col("qn2").alias("nb2"),
        F.col("label").alias("lb"),
    )
    pairs = cached(
        a.join(b, "cell")
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            quantized_cosine("qa", "qb", "na2", "nb2").alias("sim"),
            _d2_fold("qa", F.col("qb")).alias("d2p"),
            (F.col("la") == F.col("lb")).cast("int").alias("match"),
        )
    )
    # gate 1: SemDeDup keep-one over the SHARED pair relation
    dup = (
        pairs.filter((F.col("vec_b") < F.col("vec_a")) & (F.col("sim") >= SEMDEDUP_THRESHOLD))
        .groupBy("vec_a")
        .agg(F.min("vec_b").alias("dup_of"))
        .withColumnRenamed("vec_a", "vec_id")
    )
    # gate 2: K-NN label vote over the SHARED pair relation
    votes = _noise_tally(pairs).withColumnRenamed("vec_a", "vec_id")
    # gate 3: KNN-Shapley value (train split only)
    shap = knn_shapley_values(spark, sf_dir).select("vec_id", "shap_value")
    out = (
        withv.select("vec_id", "label", "cell")
        .join(dup, "vec_id", "left")
        .join(votes, "vec_id", "left")
        .join(shap, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cell",
            F.col("dup_of").isNull().alias("sem_keep"),
            "dup_of",
            (
                (F.coalesce(F.col("n_votes"), F.lit(0)) >= NOISE_MIN_VOTES)
                & (F.coalesce(F.col("n_agree"), F.lit(0)) * 2
                   < F.coalesce(F.col("n_votes"), F.lit(0)))
            ).alias("suspect"),
            "shap_value",
        )
    )
    keep = (
        F.col("sem_keep")
        & ~F.col("suspect")
        & (F.col("shap_value").isNull() | (F.col("shap_value") >= 0))
    )
    reason = (
        F.when(~F.col("sem_keep"), F.lit("near_duplicate"))
        .when(F.col("suspect"), F.lit("label_suspect"))
        .when(F.col("shap_value") < 0, F.lit("negative_value"))
        .otherwise(F.lit(None).cast("string"))
    )
    return out.select(
        "vec_id", "label", "cell", "sem_keep", "dup_of", "suspect",
        "shap_value", keep.alias("keep_final"), reason.alias("reason"),
    )


def _embedding_curation_manifest_sql() -> str:
    from capstone_etl_spark.operators.similarity import SEMDEDUP_THRESHOLD

    return (
        _HIER_ASSIGN_SQL
        + f""", {QN_SQL}, prs AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {cosine_q_sql('qa', 'qb')} AS sim,
         {d2_q_sql('qa', 'qb')} AS d2p,
         CASE WHEN qa.label = qb.label THEN 1 ELSE 0 END AS match
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  JOIN qn qa ON qa.vec_id = a.vec_id
  JOIN qn qb ON qb.vec_id = b.vec_id
), dup AS (
  SELECT vec_a AS vec_id, MIN(vec_b) AS dup_of
  FROM prs WHERE vec_b < vec_a AND sim >= {SEMDEDUP_THRESHOLD}
  GROUP BY vec_a
), votes AS (
  SELECT vec_a AS vec_id, COUNT(*) AS n_votes, SUM(match) AS n_agree
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_a ORDER BY d2p, vec_b) AS rnk
    FROM prs
  ) t WHERE rnk <= {NOISE_K}
  GROUP BY vec_a
), shap AS (
  SELECT vec_id, shap_value FROM ({KNN_SHAPLEY_VALUES_SQL}) k
), flags AS (
  SELECT s.vec_id, e.label, s.cell,
         d.dup_of IS NULL AS sem_keep, d.dup_of,
         COALESCE(v.n_votes, 0) >= {NOISE_MIN_VOTES}
           AND COALESCE(v.n_agree, 0) * 2 < COALESCE(v.n_votes, 0) AS suspect,
         sh.shap_value
  FROM assign s
  JOIN embeddings e ON e.vec_id = s.vec_id
  LEFT JOIN dup d ON d.vec_id = s.vec_id
  LEFT JOIN votes v ON v.vec_id = s.vec_id
  LEFT JOIN shap sh ON sh.vec_id = s.vec_id
)
SELECT vec_id, label, cell, sem_keep, dup_of, suspect, shap_value,
       sem_keep AND NOT suspect
         AND (shap_value IS NULL OR shap_value >= 0) AS keep_final,
       CASE WHEN NOT sem_keep THEN 'near_duplicate'
            WHEN suspect THEN 'label_suspect'
            WHEN shap_value < 0 THEN 'negative_value'
       END AS reason
FROM flags
"""
    )


EMBEDDING_CURATION_MANIFEST_SQL = _embedding_curation_manifest_sql()


# ---------------------------------------------------------------------
# embedding_shift_audit
# ---------------------------------------------------------------------

def embedding_shift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoder-drift screen: per-dimension distribution shift of the
    DELTA batch against the BASE corpus (dedup's salted arrival
    bucket). For every dimension d: base/delta counts and means, the
    raw mean shift, the base population sd, and the standardized
    shift ROUND(shift / sd, 6) — the dashboard that catches a swapped
    or fine-tuned encoder version before its vectors pollute the
    index (cells, PQ codebooks and calibrated thresholds all assume
    the base distribution).

    Determinism: per-dim sums and sums-of-squares snap each term to
    DECIMAL(20,12) (exact, order-free); means/variance/sd are then
    identical IEEE expression trees in both engines. Scale: one
    map-side posexplode and ONE aggregate with DIM groups — partial
    (map-side) combine collapses the per-partition volume to DIM rows
    before the shuffle, so the 64-group key skew is irrelevant."""
    from capstone_etl_spark.operators.dedup import _is_delta

    emb = load_table(spark, sf_dir, "embeddings")
    xs = dim_values(emb, is_delta=_is_delta(F.col("vec_id")))
    agg = xs.groupBy("d").agg(
        F.sum(F.when(~F.col("is_delta"), 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(F.col("is_delta"), 1).otherwise(0)).cast("long").alias("n_delta"),
        F.sum(F.when(~F.col("is_delta"), _dec(F.col("x"))).otherwise(F.lit(None))).alias("sum_b"),
        F.sum(F.when(F.col("is_delta"), _dec(F.col("x"))).otherwise(F.lit(None))).alias("sum_d"),
        F.sum(
            F.when(~F.col("is_delta"), _dec(F.col("x") * F.col("x"))).otherwise(F.lit(None))
        ).alias("ssq_b"),
    )
    return shift_release(agg)


def dim_values(rows: DataFrame, **keep) -> DataFrame:
    """(*keep, d, x): one row per embedding dimension, x as double.
    `keep` names the per-vector columns carried along (name → Column)."""
    return rows.select(
        *[c.alias(n) for n, c in keep.items()], F.posexplode("embedding").alias("d", "xf")
    ).select(*keep, "d", F.col("xf").cast("double").alias("x"))


def shift_release(stats: DataFrame) -> DataFrame:
    """The shift table from per-dim (d, n_base, n_delta, sum_b, sum_d,
    ssq_b) stats — the batch audit's aggregate or the stream twin's
    drained delta sums joined to the static base sums.

    Every derived column rounds to 6 decimals (token_entropy's
    per-dim-mean recipe): the exact decimal sums convert to double
    differently at the last ulp across engines (DuckDB scales the
    int128 by a binary-inexact 1e-12; Spark's BigDecimal conversion
    is correctly rounded), so raw quotients can differ by ~2e-15."""
    base_mean = F.round(F.col("sum_b").cast("double") / F.col("n_base"), 6)
    delta_mean = F.round(F.col("sum_d").cast("double") / F.col("n_delta"), 6)
    base_var = (
        F.col("ssq_b").cast("double") / F.col("n_base") - base_mean * base_mean
    )
    base_sd = F.round(F.sqrt(F.greatest(base_var, F.lit(0.0))), 6)
    shift = F.round(delta_mean - base_mean, 6)
    return stats.select(
        "d",
        "n_base",
        "n_delta",
        base_mean.alias("base_mean"),
        delta_mean.alias("delta_mean"),
        shift.alias("shift"),
        base_sd.alias("base_sd"),
        F.when(base_sd > 0, F.round(shift / base_sd, 6)).alias("std_shift"),
    )


def _embedding_shift_audit_sql() -> str:
    from capstone_etl_spark.operators.dedup import _delta_pred_sql

    delta = _delta_pred_sql("vec_id")
    return f"""
WITH xs AS (
  SELECT {delta} AS is_delta, d,
         CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dims
), agg AS (
  SELECT d,
         CAST(SUM(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         SUM(CASE WHEN NOT is_delta THEN CAST(x AS DECIMAL(20,12)) END) AS sum_b,
         SUM(CASE WHEN is_delta THEN CAST(x AS DECIMAL(20,12)) END) AS sum_d,
         SUM(CASE WHEN NOT is_delta THEN CAST(x * x AS DECIMAL(20,12)) END) AS ssq_b
  FROM xs GROUP BY d
)
, means AS (
  SELECT d, n_base, n_delta,
         ROUND(CAST(sum_b AS DOUBLE) / n_base, 6) AS base_mean,
         ROUND(CAST(sum_d AS DOUBLE) / n_delta, 6) AS delta_mean,
         CAST(ssq_b AS DOUBLE) / n_base AS msq_b
  FROM agg
), derived AS (
  SELECT d, n_base, n_delta, base_mean, delta_mean,
         ROUND(delta_mean - base_mean, 6) AS shift,
         ROUND(sqrt(GREATEST(msq_b - base_mean * base_mean, 0.0)), 6) AS base_sd
  FROM means
)
SELECT d, n_base, n_delta, base_mean, delta_mean, shift, base_sd,
       CASE WHEN base_sd > 0 THEN ROUND(shift / base_sd, 6) END AS std_shift
FROM derived
"""


EMBEDDING_SHIFT_AUDIT_SQL = _embedding_shift_audit_sql()


# ---------------------------------------------------------------------
# mmr_diversified_topk
# ---------------------------------------------------------------------

def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k: retrieve MMR_CANDS candidates per query
    by relevance (quantized cosine to the query), then MMR_K rounds of
      argmax  λ·rel(c) − μ·max_{s∈selected} sim(c, s)
    (λ=0.7, μ=0.3 — separate literals; 1-0.7 is not 0.3 in binary).
    Round 1's score is the bare relevance (the selected set is empty).

    Plan: the retrieve is the eval-bounded broadcast-queries pattern;
    the candidate-candidate sim matrix is (C²·Q) rows, computed once
    and cached; each round is an anti-join of the C-row-per-query
    candidate list against the selected rows, a bounded groupBy-max,
    and a per-query ROW_NUMBER pick. Nothing after the retrieve
    touches the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    # relevance and redundancy rank on the quantized-integer cosine
    # (label_noise_audit's de-fragilized key); squared norms ride as
    # columns through the candidate lists (one integer fold per scored
    # pair — the norm-precompute discipline)
    emb_q = emb.select("vec_id", quantize_fp().alias("vq")).withColumn(
        "qn2", dot_long("vq", "vq")
    )
    q = emb_q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vq").alias("qq"),
        F.col("qn2").alias("qn"),
    )
    corpus = emb_q.select(
        F.col("vec_id").alias("cid"),
        F.col("vq").alias("cq"),
        F.col("qn2").alias("cn"),
    )
    rel_cos = quantized_cosine("qq", "cq", "qn", "cn")
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cid"))
    cand = cached(
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("cid") != F.col("query_id"))
        .select("query_id", "cid", "cq", "cn", rel_cos.alias("rel"))
        .withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= MMR_CANDS)
        .drop("crk")
    )
    pa = cand.select(
        "query_id", F.col("cid").alias("ca"),
        F.col("cq").alias("qa"), F.col("cn").alias("na2"),
    )
    pb = cand.select(
        "query_id", F.col("cid").alias("cb"),
        F.col("cq").alias("qb"), F.col("cn").alias("nb2"),
    )
    ps = cached(
        pa.join(pb, "query_id")
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "query_id", "ca", "cb",
            quantized_cosine("qa", "qb", "na2", "nb2").alias("s"),
        )
    )
    # per-round picks are checkpoint-truncated (≤Q rows each): round
    # k's plan embeds acc_{k-1} twice (anti-join + selected-side join),
    # so cache-only picks grow the compiled tree exponentially in K
    acc = checkpoint_truncate(
        cand.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "cid",
            F.lit(1).cast("int").alias("rnd"),
            F.col("rel").alias("score"),
        )
    )
    for k in range(2, MMR_K + 1):
        rem = cand.select("query_id", "cid", "rel").join(
            acc.select("query_id", "cid"), ["query_id", "cid"], "left_anti"
        )
        ms = (
            rem.join(
                ps,
                (rem.query_id == ps.query_id) & (rem.cid == ps.ca),
            )
            .drop(ps.query_id)
            .join(
                acc.select(
                    F.col("query_id").alias("sqid"), F.col("cid").alias("scid")
                ),
                (F.col("query_id") == F.col("sqid")) & (F.col("cb") == F.col("scid")),
            )
            .groupBy("query_id", "cid", "rel")
            .agg(F.max("s").alias("msim"))
        )
        score = F.round(
            F.lit(MMR_LAMBDA) * F.col("rel") - F.lit(MMR_MU) * F.col("msim"), 6
        )
        wk = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cid"))
        pick = checkpoint_truncate(
            ms.select("query_id", "cid", score.alias("score"))
            .withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == 1)
            .select("query_id", "cid", F.lit(k).cast("int").alias("rnd"), "score")
        )
        acc = acc.unionByName(pick)
    return acc.select("query_id", "rnd", F.col("cid").alias("neighbor_id"), "score")


def _mmr_sql() -> str:
    cos_qc = cosine_q_sql("q", "e")
    cos_ab = cosine_q_sql("a", "b")
    parts = [
        f"WITH {QN_SQL}",
        f"q AS (SELECT vec_id AS query_id, q, n2 FROM qn"
        f"  WHERE vec_id < {N_QUERIES})",
        f"scored AS (SELECT q.query_id, e.vec_id AS cid, e.q, e.n2,"
        f"  {cos_qc} AS rel"
        f"  FROM q CROSS JOIN qn e WHERE e.vec_id <> q.query_id)",
        f"cand AS (SELECT query_id, cid, q, n2, rel FROM ("
        f"  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, cid) AS crk"
        f"  FROM scored) t WHERE crk <= {MMR_CANDS})",
        f"ps AS (SELECT a.query_id, a.cid AS ca, b.cid AS cb, {cos_ab} AS s"
        f"  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cid <> b.cid)",
        "sel1 AS (SELECT query_id, cid, 1 AS rnd, rel AS score FROM ("
        "  SELECT query_id, cid, rel,"
        "  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, cid) AS rk"
        "  FROM cand) t WHERE rk = 1)",
        "acc1 AS (SELECT * FROM sel1)",
    ]
    for k in range(2, MMR_K + 1):
        p = k - 1
        parts.append(
            f"ms{k} AS (SELECT c.query_id, c.cid, c.rel, MAX(p.s) AS msim"
            f"  FROM cand c"
            f"  JOIN ps p ON p.query_id = c.query_id AND p.ca = c.cid"
            f"  JOIN acc{p} a ON a.query_id = p.query_id AND a.cid = p.cb"
            f"  WHERE NOT EXISTS (SELECT 1 FROM acc{p} x"
            f"    WHERE x.query_id = c.query_id AND x.cid = c.cid)"
            f"  GROUP BY c.query_id, c.cid, c.rel)"
        )
        parts.append(
            f"sel{k} AS (SELECT query_id, cid, {k} AS rnd, score FROM ("
            f"  SELECT query_id, cid,"
            f"  ROUND(CAST({MMR_LAMBDA} AS DOUBLE) * rel - CAST({MMR_MU} AS DOUBLE) * msim, 6) AS score,"
            f"  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY"
            f"    ROUND(CAST({MMR_LAMBDA} AS DOUBLE) * rel - CAST({MMR_MU} AS DOUBLE) * msim, 6) DESC, cid) AS rk"
            f"  FROM ms{k}) t WHERE rk = 1)"
        )
        parts.append(f"acc{k} AS (SELECT * FROM acc{p} UNION ALL SELECT * FROM sel{k})")
    ctes = parts[0] + ", " + ", ".join(parts[1:])
    return (
        f"{ctes} SELECT query_id, rnd, cid AS neighbor_id, score FROM acc{MMR_K}"
    )


MMR_DIVERSIFIED_TOPK_SQL = _mmr_sql()


QUERIES = {
    "knn_shapley_values": knn_shapley_values,
    "label_noise_cells": label_noise_cells,
    "label_noise_votes": label_noise_votes,
    "label_noise_audit": label_noise_audit,
    "label_noise_incremental": label_noise_incremental,
    "kcenter_coreset": kcenter_coreset,
    "coreset_coverage_audit": coreset_coverage_audit,
    "embedding_shift_audit": embedding_shift_audit,
    "embedding_curation_manifest": embedding_curation_manifest,
    "mmr_diversified_topk": mmr_diversified_topk,
}

ORACLE_SQL = {
    "knn_shapley_values": KNN_SHAPLEY_VALUES_SQL,
    "label_noise_cells": LABEL_NOISE_CELLS_SQL,
    "label_noise_votes": LABEL_NOISE_VOTES_SQL,
    "label_noise_audit": LABEL_NOISE_AUDIT_SQL,
    "label_noise_incremental": LABEL_NOISE_INCREMENTAL_SQL,
    "kcenter_coreset": KCENTER_CORESET_SQL,
    "coreset_coverage_audit": CORESET_COVERAGE_AUDIT_SQL,
    "embedding_shift_audit": EMBEDDING_SHIFT_AUDIT_SQL,
    "embedding_curation_manifest": EMBEDDING_CURATION_MANIFEST_SQL,
    "mmr_diversified_topk": MMR_DIVERSIFIED_TOPK_SQL,
}
