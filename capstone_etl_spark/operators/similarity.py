"""Similarity search over embedding columns (SURVEY.md §7.8 extension).

The reference computes L2 norms "for use later with similarities"
(main.go:62) but never finishes the job; this module does, for dense
embeddings (array<float>):

- brute-force cosine top-k — the correctness baseline; a broadcast
  nested-loop join of the (small) query set against all vectors, all
  JVM-side higher-order functions.
- hyperplane-LSH bucketed ANN — the scale path: T tables × B random
  hyperplane sign bits → bucket equi-join prunes the candidate set,
  cosine computed only on candidates.

Determinism/oracle strategy: the "random" hyperplanes are ±1 sign
rows derived from md5 at build time and embedded as literal '0'/'1'
strings in both the Spark plan and the DuckDB oracle, so both engines
compute IDENTICAL signatures, buckets, candidates and ranks. All dot
products fold sequentially (Spark `aggregate`, DuckDB `list_sum`) —
verified bit-identical.

Scale notes (100 TB):
- brute force is O(Q·N·dim): fine for reranking / small Q, never the
  corpus×corpus path.
- LSH signature computation is embarrassingly parallel (per-row
  expressions); the bucket join shuffles on (table, bucket) — uniform
  by construction. At production scale the per-element expression dot
  products would move to a vectorized pandas UDF with a broadcast
  numpy hyperplane matrix (same semantics, ~10× batch speedup); kept
  expression-native here for exact oracle parity.
- candidate verification reuses the brute-force kernel on the pruned
  set (classic two-stage retrieve-rerank).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60, md5_hash60_sql
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached, checkpoint_truncate

DIM = 64
N_QUERIES = 10          # query set = vec_id < 10
TOP_K = 5
LSH_TABLES = 4
LSH_BITS = 8
PAIR_THRESHOLD = 0.45


def _hyperplane_bits(tables: int = LSH_TABLES, bits: int = LSH_BITS, dim: int = DIM) -> list[list[str]]:
    """[table][bit] → '0'/'1' string of length dim; bit d of hyperplane =
    parity of an md5-derived value (deterministic, engine-neutral)."""
    planes = []
    for t in range(tables):
        row = []
        for j in range(bits):
            s = "".join(
                str(int(hashlib.md5(f"{t}:{j}:{d}".encode()).hexdigest()[:15], 16) & 1)
                for d in range(dim)
            )
            row.append(s)
        planes.append(row)
    return planes


_PLANES = _hyperplane_bits()

# Pairs-mode banding: near-dup at moderate cosine (0.45 ⇒ bit-agreement
# prob ≈ 0.65) needs MANY SHORT bands for recall — 16 tables × 4 bits
# gives 1-(1-0.65⁴)¹⁶ ≈ 0.96 expected recall, vs ≈ 0.12 for the 4×8
# top-k banding. Bits/tables grow with corpus size at scale (bucket
# cardinality 2^bits controls the candidate-join fan-in); recall vs
# brute force is measured in test_similarity_vectors.
PAIR_LSH_TABLES = 16
PAIR_LSH_BITS = 4
_PAIR_PLANES = _hyperplane_bits(PAIR_LSH_TABLES, PAIR_LSH_BITS)


def _signed_dot_sql(vec_expr: str, bits: str) -> str:
    return (
        f"list_sum(list_transform(range({DIM}), d -> "
        f"CAST({vec_expr}[d + 1] AS DOUBLE) * "
        f"(CASE WHEN substring('{bits}', d + 1, 1) = '1' THEN 1.0 ELSE -1.0 END)))"
    )


def _bucket_udf_for(planes: list[list[str]]):
    """Arrow-batched signature pass — the ONE sanctioned Python hot
    path in the ANN family, with the §2.9 justification written down:
    the hyperplane signature computes tables×bits (=64) signed dot
    products per vector; as Catalyst higher-order folds those lambdas
    are interpreted (~0.45 µs per element step → the signature pass
    dominated every LSH query's runtime), while one numpy batch does
    the identical flops vectorized. EXACTNESS IS PRESERVED BIT-FOR-BIT:
    the accumulation loops over dimensions in ascending order with a
    float64 accumulator, so every row sees the same IEEE sequence
    (((0+p₀)+p₁)+…) as the previous Catalyst fold and the oracle's
    DuckDB list_sum — the sign comparison that picks the bucket cannot
    diverge. (A BLAS matmul would NOT guarantee this: pairwise
    summation can flip near-zero dots.)"""
    sign_rows = [
        [np.array([1.0 if c == "1" else -1.0 for c in bits]) for bits in row]
        for row in planes
    ]

    @F.pandas_udf("array<bigint>")
    def buckets_of(emb: pd.Series) -> pd.Series:
        v = np.array([np.asarray(e, dtype=np.float64) for e in emb], dtype=np.float64)
        if v.size == 0:
            return pd.Series([], dtype=object)
        out = np.zeros((v.shape[0], len(sign_rows)), dtype=np.int64)
        for t, row in enumerate(sign_rows):
            packed = np.zeros(v.shape[0], dtype=np.int64)
            for j, s in enumerate(row):
                acc = np.zeros(v.shape[0], dtype=np.float64)
                for d in range(v.shape[1]):  # ascending d = the fold order
                    acc = acc + v[:, d] * s[d]
                packed |= (acc > 0).astype(np.int64) << j
            out[:, t] = packed
        return pd.Series(list(out))

    return buckets_of


def lsh_buckets(
    emb: DataFrame, vec_col: str = "embedding", planes: list[list[str]] | None = None
) -> DataFrame:
    """(vec_id, table, bucket) — one packed sign-bit bucket per table.
    Signatures via the Arrow-batched pass above; the posexplode index
    IS the table id (plane rows are emitted in order)."""
    udf = _bucket_udf_for(planes if planes is not None else _PLANES)
    return emb.select("vec_id", F.posexplode(udf(vec_col)).alias("tbl", "bucket")).select(
        "vec_id", F.col("tbl").cast("int").alias("tbl"), "bucket"
    )


def _bucket_sql_one_table(t: int, row: list[str]) -> str:
    packed = " + ".join(
        f"(CASE WHEN {_signed_dot_sql('embedding', bits)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, bits in enumerate(row)
    )
    return f"SELECT vec_id, {t} AS tbl, CAST({packed} AS BIGINT) AS bucket FROM embeddings"


_BUCKETS_SQL = " UNION ALL ".join(_bucket_sql_one_table(t, row) for t, row in enumerate(_PLANES))
_PAIR_BUCKETS_SQL = " UNION ALL ".join(
    _bucket_sql_one_table(t, row) for t, row in enumerate(_PAIR_PLANES)
)

CENTROID_SCALE = 10_000  # fixed-point scale for exact accumulation


def quantize_fp(col: str = "embedding"):
    """floor(v·S + 0.5) over an embedding array — THE fixed-point grid
    every integer-exact distance in the ANN/k-means family derives
    from. One definition (8 call sites across similarity/scaleaudit/
    streaming) so the quantization rule cannot drift between the batch
    operators and their streaming twins."""
    return F.transform(
        col, lambda v: F.floor(v.cast("double") * CENTROID_SCALE + 0.5).cast("long")
    )


# Oracle mirror of quantize_fp + the precomputed squared norm, as a
# relation every quantized-cosine WITH-chain splices in: one row per
# vector with the fixed-point list `q` and its EXACT integer squared
# norm `n2`. list_sum over BIGINT is exact under any vectorization
# order — the whole point of ranking on the quantized cosine.
QN_SQL = f"""qlists AS (
  SELECT vec_id, label,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * {CENTROID_SCALE} + 0.5) AS BIGINT)) AS q
  FROM embeddings
), qn AS (
  SELECT vec_id, label, q,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
  FROM qlists
)"""


def cosine_q_sql(a: str, b: str) -> str:
    """Quantized-integer cosine between two `qn` rows aliased `a` and
    `b` — the DuckDB twin of vectors.quantized_cosine: exact HUGEINT
    dot (order-free), then sqrt/mul/div on bit-identical doubles. The
    expression tree mirrors the Spark column op-for-op so the final
    double is bit-identical across engines."""
    return (
        f"CASE WHEN {a}.n2 > 0 AND {b}.n2 > 0 THEN "
        f"CAST(list_sum(list_transform(range({DIM}), dd -> {a}.q[dd+1] * {b}.q[dd+1])) AS DOUBLE)"
        f" / (sqrt(CAST({a}.n2 AS DOUBLE)) * sqrt(CAST({b}.n2 AS DOUBLE))) END"
    )


def d2_q_sql(a: str, b: str) -> str:
    """Exact integer squared L2 distance between two `qn` rows aliased
    `a` and `b` — the DuckDB twin of _d2_fold on the fixed-point grid.
    Unlike the quantized cosine there is NO closing float op at all:
    every term and the fold are integer arithmetic, so the rank key it
    feeds is exact on any engine/host by construction (the label_noise
    family's r11 de-fragilization — the r9/r10 driver reds survived
    two cosine-key theories, so the family now carries no floats
    anywhere in its rank path)."""
    return (
        f"CAST(list_sum(list_transform(range({DIM}), dd ->"
        f" ({a}.q[dd+1] - {b}.q[dd+1]) * ({a}.q[dd+1] - {b}.q[dd+1]))) AS BIGINT)"
    )


def qcosine(a, b):
    """Quantized-integer cosine straight from two raw embedding
    columns (no precomputed norms — the drop-in replacement for the
    rerank stages' cosine(): same per-pair cost class, three integer
    folds instead of three double folds). The rank key is
    bit-reproducible in any engine build: every fold is exact BIGINT
    arithmetic, and the closing sqrt/mul/div are IEEE correctly-rounded
    ops on exact inputs. NULL on zero (all-quantized-to-0) vectors,
    like vectors.cosine."""
    from capstone_etl_spark.functions.vectors import dot_long

    qa, qb = quantize_fp(a), quantize_fp(b)
    n2a, n2b = dot_long(qa, qa), dot_long(qb, qb)
    return F.when(
        (n2a > 0) & (n2b > 0),
        dot_long(qa, qb).cast("double")
        / (F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))),
    ).otherwise(F.lit(None))


def _q_expr_sql(col: str) -> str:
    """quantize_fp's oracle mirror over an arbitrary list expression."""
    return (
        f"list_transform({col}, x ->"
        f" CAST(floor(CAST(x AS DOUBLE) * {CENTROID_SCALE} + 0.5) AS BIGINT))"
    )


def cosine_q_cols_sql(a: str, b: str, dim: int = DIM) -> str:
    """qcosine's DuckDB twin over two raw embedding column expressions
    (quantization inlined — correctness-side only; the Spark plan is
    what runs at scale)."""
    qa, qb = _q_expr_sql(a), _q_expr_sql(b)
    n2a = f"list_sum(list_transform({qa}, x -> x * x))"
    n2b = f"list_sum(list_transform({qb}, x -> x * x))"
    return (
        f"CASE WHEN {n2a} > 0 AND {n2b} > 0 THEN "
        f"CAST(list_sum(list_transform(range({dim}), dd -> ({qa})[dd+1] * ({qb})[dd+1])) AS DOUBLE)"
        f" / (sqrt(CAST({n2a} AS DOUBLE)) * sqrt(CAST({n2b} AS DOUBLE))) END"
    )



# ------------------------------------------------------------- queries

def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + dimension per vector (the vector-math smoke check).
    The squared norm is an exact DECIMAL(20,12)-snapped sum of the
    per-dimension squares (order-free — a chained double fold is only
    reproducible when every engine build sums in the same order), then
    ONE sqrt on the bit-identical double."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.transform(
        "embedding",
        lambda x: (x.cast("double") * x.cast("double")).cast("decimal(20,12)"),
    )
    n2 = F.aggregate(
        sq,
        F.lit(0).cast("decimal(30,12)"),
        lambda acc, x: (acc + x).cast("decimal(30,12)"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.sqrt(n2.cast("double")).alias("norm"),
        "label",
    )


EMBEDDING_NORMS_SQL = """
SELECT vec_id, len(embedding) AS dim,
       sqrt(CAST(list_sum(list_transform(embedding, x ->
         CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12)))) AS DOUBLE)) AS norm,
       label
FROM embeddings
"""


def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine neighbors for the query set — broadcast the queries,
    scan the corpus once, per-query heap via ranked window on the
    (tiny) scored relation. Ranking keys on the ROUNDED similarity so
    cross-engine last-ulp drift cannot reorder."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    scored = (
        F.broadcast(q)
        .crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(qcosine("qe", "ne"), 6).alias("sim"))
    )
    return sim_topk(scored)


# scored: the exact quantized cosine of every `cand` pair, 6 dp (the
# family's rank key) — cosine_rerank
_SCORED_SQL = f"""scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND({cosine_q_cols_sql('q.embedding', 'n.embedding')}, 6) AS sim
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
)"""

# each query's TOP_K scored rows by (sim desc, neighbor_id) — sim_topk
_SIM_TOPK_SQL = f"""
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
) t WHERE rnk <= {TOP_K}
"""


ANN_BRUTE_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(COALESCE({cosine_q_cols_sql('qe', 'e.embedding')}, 0.0), 6) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
){_SIM_TOPK_SQL}"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: LSH bucket equi-join prunes candidates, cosine
    reranks. Deterministic planes ⇒ the oracle reproduces the exact
    candidate set and ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = lsh_buckets(emb).transform(cached)
    qb = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    cand = (
        qb.join(buckets.withColumnRenamed("vec_id", "neighbor_id"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # filter BEFORE the broadcast hint: query_id is already bounded by
    # N_QUERIES upstream (join key restricts rows either way), but
    # broadcasting the unfiltered corpus-sized relation would OOM the
    # driver at scale (ADVICE r5 #1)
    return sim_topk(cosine_rerank(emb, cand))


ANN_LSH_TOPK_SQL = f"""
WITH buckets AS (
  {_BUCKETS_SQL}
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
  FROM buckets qb
  JOIN buckets nb ON qb.tbl = nb.tbl AND qb.bucket = nb.bucket AND qb.vec_id <> nb.vec_id
  WHERE qb.vec_id < {N_QUERIES}
), {_SCORED_SQL}{_SIM_TOPK_SQL}"""


def embedding_pairs_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ threshold by cross join — O(N²), kept ONLY as
    the recall cross-check for the LSH path (tests); never the
    production plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("qe"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("ne"))
    sim = qcosine("qe", "ne")
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(sim >= PAIR_THRESHOLD)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("sim"))
    )


def embedding_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH bucket equi-join generates
    candidates (docs sharing any (table, bucket)), cosine verifies ≥
    threshold — candidates-only, NO cartesian product in the plan. The
    deterministic hyperplanes make the oracle reproduce the exact same
    candidate set, so the result is hash-checkable; recall vs brute
    force is asserted in tests (test_similarity_vectors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = lsh_buckets(emb, planes=_PAIR_PLANES).transform(cached)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # squared norm is per-vector: compute once before the pair join
    # (the norm-precompute discipline), so each candidate evaluates one
    # integer fold; the verify threshold compares the quantized-integer
    # cosine — bit-reproducible in any engine build
    from capstone_etl_spark.functions.vectors import dot_long, quantized_cosine

    emb_q = emb.select("vec_id", quantize_fp().alias("vq")).withColumn(
        "qn2", dot_long("vq", "vq")
    )
    ea = emb_q.select(
        F.col("vec_id").alias("vec_a"), F.col("vq").alias("qa"),
        F.col("qn2").alias("na2"),
    )
    eb = emb_q.select(
        F.col("vec_id").alias("vec_b"), F.col("vq").alias("qb"),
        F.col("qn2").alias("nb2"),
    )
    sim = quantized_cosine("qa", "qb", "na2", "nb2")
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .filter(sim >= PAIR_THRESHOLD)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("sim"))
    )


EMBEDDING_PAIRS_THRESHOLD_SQL = f"""
WITH buckets AS (
  {_PAIR_BUCKETS_SQL}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       ROUND({cosine_q_cols_sql('ea.embedding', 'eb.embedding')}, 6) AS sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE {cosine_q_cols_sql('ea.embedding', 'eb.embedding')} >= {PAIR_THRESHOLD}
"""


def label_centroid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF building block: per-label centroid (coarse quantizer), then
    each vector's distance-to-own-centroid. (IVF probe = same pattern
    with argmin over centroids.)

    Exact-arithmetic design so the DuckDB oracle hash-matches: floats
    are fixed-pointed via floor(v·S + 0.5) → int64 (floor avoids
    round-half mode ambiguity across engines); the centroid numerator
    is an exact integer SUM (order-independent, unlike float avg);
    distances clear the 1/n denominator by scaling through n:
        dist² · (n·S)² = Σ_d (n·v_d·S − Σ_label v_d·S)²   — all int64.
    Magnitudes: |v|<0.6, S=1e4, n≤thousands per label ⇒ terms ≪ 2^63.
    One double sqrt + division at the very end, rounded to 6 dp."""
    emb = load_table(spark, sf_dir, "embeddings")
    by_dim = emb.select("label", "vec_id", F.posexplode("embedding").alias("d", "v"))
    scaled = by_dim.select(
        "label",
        "vec_id",
        "d",
        F.floor(F.col("v").cast("double") * CENTROID_SCALE + 0.5).cast("long").alias("vs"),
    )
    cent = scaled.groupBy("label", "d").agg(
        F.sum("vs").alias("csum"), F.count("*").alias("n")
    )
    joined = scaled.join(cent, ["label", "d"])
    diff = F.col("n") * F.col("vs") - F.col("csum")
    term = diff * diff  # long·long — exact integer, never a double
    return (
        joined.groupBy("label", "vec_id")
        .agg(
            F.round(
                F.sqrt(F.sum(term).cast("double"))
                / (F.max("n") * F.lit(float(CENTROID_SCALE))),
                6,
            ).alias("dist_to_centroid")
        )
    )


def label_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vecs, within_ss, between_ss, separability) — the
    Fisher-style class-scatter readout over the labeled embeddings:
    within-class sum of squares (members to their label centroid) vs
    between-class (label centroid to the global centroid, weighted by
    class size). High ratio = the encoder separates this label; the
    table an embedding-quality dashboard shows next to
    kmeans_silhouette (which scores UNSUPERVISED structure — this
    scores the labels).

    Exactness: vectors fixed-pointed once; both centroids are
    RE-QUANTIZED to the grid (floor(sum/n + 0.5) — kmeans_lloyd's
    argument: the int/int division is exact-rounded identically below
    2^53), so every scatter term is exact int64 and the single double
    division happens at the end. within_ss = 0 splits by meaning:
    between_ss = 0 too → 0.0 (fully degenerate — every vector
    identical, nothing separates), between_ss > 0 → NULL (UNBOUNDED
    separation: the class collapsed to a point away from the global
    centroid — the best case, which a 0-pin would rank WORST; NULL
    sorts apart from every finite ratio and both engines emit it
    identically). 100 TB: one posexplode scan, two (label,d)- and
    d-keyed aggs (K·dim and dim rows), one broadcast join back — the
    same shape as the Lloyd update step, no per-pair work anywhere."""
    scaled = cached(
        load_table(spark, sf_dir, "embeddings").select(
            "label",
            "vec_id",
            F.posexplode("embedding").alias("d", "v"),
        ).select(
            "label",
            "vec_id",
            "d",
            F.floor(F.col("v").cast("double") * CENTROID_SCALE + 0.5)
            .cast("long")
            .alias("vs"),
        )
    )
    requant = F.floor(F.col("s").cast("double") / F.col("n") + 0.5).cast("long")
    lcent = (
        scaled.groupBy("label", "d")
        .agg(F.sum("vs").alias("s"), F.count("*").alias("n"))
        .select("label", "d", requant.alias("qc"), F.col("n").alias("n_vecs"))
    )
    gcent = (
        scaled.groupBy("d")
        .agg(F.sum("vs").alias("s"), F.count("*").alias("n"))
        .select("d", requant.alias("gq"))
    )
    wdiff = F.col("vs") - F.col("qc")
    within = (
        scaled.join(F.broadcast(lcent.select("label", "d", "qc")), ["label", "d"])
        .groupBy("label")
        .agg(F.sum(wdiff * wdiff).cast("long").alias("within_ss"))
    )
    bdiff = F.col("qc") - F.col("gq")
    between = (
        lcent.join(F.broadcast(gcent), "d")
        .groupBy("label")
        .agg(
            F.max("n_vecs").cast("long").alias("n_vecs"),
            (F.max("n_vecs") * F.sum(bdiff * bdiff)).cast("long").alias("between_ss"),
        )
    )
    return within.join(between, "label").select(
        "label",
        "n_vecs",
        "within_ss",
        "between_ss",
        F.when(
            (F.col("within_ss") == 0) & (F.col("between_ss") == 0), F.lit(0.0)
        )
        .when(F.col("within_ss") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("between_ss").cast("double") / F.col("within_ss").cast("double"),
                6,
            )
        )
        .alias("separability"),
    )


LABEL_SEPARABILITY_SQL = f"""
WITH scaled AS (
  SELECT label, vec_id, d,
         CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * {CENTROID_SCALE} + 0.5) AS BIGINT) AS vs
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dims
), lcent AS (
  SELECT label, d,
         CAST(floor(CAST(SUM(vs) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS qc,
         COUNT(*) AS n_vecs
  FROM scaled GROUP BY 1, 2
), gcent AS (
  SELECT d, CAST(floor(CAST(SUM(vs) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS gq
  FROM scaled GROUP BY 1
), within AS (
  SELECT s.label, CAST(SUM((s.vs - c.qc) * (s.vs - c.qc)) AS BIGINT) AS within_ss
  FROM scaled s JOIN lcent c ON c.label = s.label AND c.d = s.d
  GROUP BY 1
), between_ AS (
  SELECT l.label,
         CAST(MAX(l.n_vecs) AS BIGINT) AS n_vecs,
         CAST(MAX(l.n_vecs) * SUM((l.qc - g.gq) * (l.qc - g.gq)) AS BIGINT) AS between_ss
  FROM lcent l JOIN gcent g USING (d)
  GROUP BY 1
)
SELECT w.label, b.n_vecs, w.within_ss, b.between_ss,
       CASE WHEN w.within_ss = 0 AND b.between_ss = 0 THEN 0.0
            WHEN w.within_ss = 0 THEN NULL
            ELSE ROUND(CAST(b.between_ss AS DOUBLE) / CAST(w.within_ss AS DOUBLE), 6)
       END AS separability
FROM within w JOIN between_ b USING (label)
"""


LABEL_CENTROIDS_SQL = f"""
WITH by_dim AS (
  SELECT label, vec_id, d,
         CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * {CENTROID_SCALE} + 0.5) AS BIGINT) AS vs
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dims
), cent AS (
  SELECT label, d, CAST(SUM(vs) AS BIGINT) AS csum, COUNT(*) AS n
  FROM by_dim GROUP BY label, d
)
SELECT b.label, b.vec_id,
       ROUND(sqrt(CAST(CAST(SUM((c.n * b.vs - c.csum) * (c.n * b.vs - c.csum)) AS BIGINT) AS DOUBLE))
             / (ANY_VALUE(c.n) * {CENTROID_SCALE}.0), 6) AS dist_to_centroid
FROM by_dim b JOIN cent c ON c.label = b.label AND c.d = b.d
GROUP BY b.label, b.vec_id
"""


# Minimum probe count; the effective count is derived in-plan as
# max(IVF_PROBES_MIN, ceil(√cells)) — the classic nprobe ≈ √nlist
# heuristic, so the scanned corpus fraction ≈ 1/√cells ≈ N^(-1/4)
# SHRINKS as the corpus grows instead of being pinned by a constant.
IVF_PROBES_MIN = 3

# Hash-sampled quantizer seeding (shared by ann_ivf_topk and
# semantic_dedup). A vector seeds a Voronoi cell iff its portable
# 60-bit hash falls below 2^60/√N, so the seed count — and therefore
# the cell count — is ≈√N and the EXPECTED cell population is ≈√N:
# the within-cell quadratic term stays bounded as the corpus grows
# (at 100× the data there are 10× the cells, not 100× the cell
# population). The corpus-minimum (h, vec_id) is always a seed, so the
# quantizer is total even when the hash draw is unlucky on a tiny
# corpus. Selection depends only on the vec_id hash — not on data
# order and not on a fixed constant. Engine-neutral: the same
# md5-derived hash, 2^60 and √N exact in double, identical floor.
HASH_SPACE_INT = 2**60


def quantizer_seeds(emb_q: DataFrame) -> DataFrame:
    """(cell, sq) — hash-sampled ≈√N seeds of a (vec_id, vq) relation;
    cell = seed vec_id. The corpus count and min-hash fallback enter
    the plan as a 1-row broadcast aggregate (no driver action)."""
    h = md5_hash60(F.col("vec_id").cast("string"))
    hashed = emb_q.select("vec_id", "vq", h.alias("h"))
    stats = hashed.agg(
        F.count("*").alias("n_vec"),
        F.min(F.struct("h", "vec_id")).alias("mh"),
    )
    thresh = F.floor(
        F.lit(float(HASH_SPACE_INT))
        / F.sqrt(F.greatest(F.col("n_vec"), F.lit(1)).cast("double"))
    ).cast("long")
    return (
        hashed.join(F.broadcast(stats), F.lit(True))
        .filter((F.col("h") < thresh) | (F.col("vec_id") == F.col("mh.vec_id")))
        .select(F.col("vec_id").alias("cell"), F.col("vq").alias("sq"))
    )


# by_dim: every vector on quantize_fp's grid, one (vec_id, d, vs) row
# per dimension — the oracles' quantized corpus
_BY_DIM_SQL = f"""by_dim AS (
  SELECT vec_id, d,
         CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * {CENTROID_SCALE} + 0.5) AS BIGINT) AS vs
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dims
)"""


def _seeds_sql(pop: str) -> str:
    """by_dim … seeds: every vector quantized (one row per dimension)
    and the quantizer_seeds of the population relation `pop`, as
    (cell, d, ss) rows; seed_ids keeps the seed count."""
    return f"""{_BY_DIM_SQL}, hseed AS (
  SELECT vec_id, {md5_hash60_sql("CAST(vec_id AS VARCHAR)")} AS h FROM {pop}
), seed_ids AS (
  SELECT vec_id FROM hseed
  WHERE h < CAST(floor(CAST({HASH_SPACE_INT} AS DOUBLE)
                 / sqrt(GREATEST((SELECT COUNT(*) FROM {pop}), 1))) AS BIGINT)
     OR vec_id = (SELECT vec_id FROM hseed ORDER BY h, vec_id LIMIT 1)
), seeds AS (
  SELECT b.vec_id AS cell, b.d, b.vs AS ss
  FROM by_dim b JOIN seed_ids si ON si.vec_id = b.vec_id
)"""


# ---------------------------------------------- shared IVF index steps
#
# Every IVF-family query, batch and stream, probes, looks up and ranks
# through the helpers below, so a probe, rank or prune rule is written
# once. A batch query probes with a row_number window over its
# (vec_id, cell, d2) distance relation (ivf_probes). A stream cannot
# window, so a stream twin probes IN-ROW instead (probe_cells_inrow):
# the candidate (cell, sq) list rides in as a 1-row broadcast array
# `cand`, each arriving row folds one integer distance per cell,
# array_sort over (d2, cell) structs reproduces the window's exact
# order, and slice(..., ivf_probe_k()) keeps the probe set — no state.
# The steps: ivf_probe_k (probe count), ivf_seed_d2 / nearest_cell
# (flat distances and assignment), ivf_probes / probe_cells_inrow
# (probe), ivf_candidates (inverted-list lookup), cosine_rerank /
# ivf_rerank (exact-cosine score), sim_topk / adc_topk (ranked tails).
# The two-level index adds in-row routing below: hier_routed (a row's
# routed candidate cells) and hier_cell_inrow (its cell).
#
# The DuckDB oracles build every index the same way, from WITH-chain
# fragments that each state one step once, next to the Spark helper
# they mirror: _BY_DIM_SQL + _seeds_sql(pop) (quantize_fp +
# quantizer_seeds), _FLAT_ASSIGN_SQL / _assign_sql (ivf_seed_d2 +
# nearest_cell), _probe_ranks_sql / _probes_sql (ivf_probe_ranks /
# ivf_probes), _IVF_CAND_SQL + _SCORED_SQL (ivf_candidates +
# cosine_rerank), _SIM_TOPK_SQL (sim_topk), _ADC_TOPK_SQL (adc_topk),
# _PQ_DISTS_SQL / _pq_best_sql (_pq_subspace_dists and its per-subspace
# argmin), _branches_sql(pop) + _HIER_ROUTE_SQL (hier_branches +
# hier_assign) and _PQ_HIER_CODES_SQL (_pq_hier_codes). The seed and
# branch fragments take the index population as their one argument,
# as quantizer_seeds(emb_q) does: every oracle passes `embeddings`
# except the base-indexed label-noise oracle, which passes the base.


def _assign_sql(dists: str, d2: str = "d2") -> str:
    """assign: the (vec_id, cell) argmin over the distance CTE `dists`
    by (d2, cell) — nearest_cell."""
    return f"""assign AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY {d2}, cell) AS arnk
    FROM {dists}
  ) t WHERE arnk = 1
)"""


_FLAT_ASSIGN_SQL = f"""vec_seed_d2 AS (
  SELECT v.vec_id, s.cell, CAST(SUM((v.vs - s.ss) * (v.vs - s.ss)) AS BIGINT) AS d2
  FROM by_dim v JOIN seeds s ON s.d = v.d
  GROUP BY v.vec_id, s.cell
), {_assign_sql("vec_seed_d2")}"""


def _probe_ranks_sql(dists: str, d2: str = "d2") -> str:
    """The query rows of the distance CTE `dists` with `prnk`, each
    query's rank of the cell by (d2, cell) — ivf_probe_ranks."""
    return f"""SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY {d2}, cell) AS prnk
    FROM {dists} WHERE vec_id < {N_QUERIES}"""


def _probes_sql(dists: str, d2: str = "d2") -> str:
    """probes: (query_id, cell), each query's ivf_probe_k() nearest
    cells of the distance CTE `dists` — ivf_probes."""
    return f"""probes AS (
  SELECT vec_id AS query_id, cell FROM (
    {_probe_ranks_sql(dists, d2)}
  ) t WHERE prnk <= GREATEST({IVF_PROBES_MIN},
        CAST(ceil(sqrt((SELECT COUNT(*) FROM seed_ids))) AS BIGINT))
)"""


# cand: the inverted-list lookup of `probes` in `assign` — ivf_candidates
_IVF_CAND_SQL = """cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
)"""


def ivf_probe_k() -> Column:
    """max(IVF_PROBES_MIN, ⌈√n_cells⌉) over an `n_cells` column: the
    probe count, derived in-plan from the seed count."""
    return F.greatest(
        F.lit(IVF_PROBES_MIN).cast("long"),
        F.ceil(F.sqrt(F.col("n_cells").cast("double"))),
    )


def ivf_seed_d2(emb_q: DataFrame, seeds: DataFrame) -> DataFrame:
    """(vec_id, cell, d2) — every vector's exact integer distance to
    every flat quantizer seed (the ≈√N seed arrays broadcast): feeds
    both the assignment argmin and the query probe ranking."""
    return emb_q.join(F.broadcast(seeds), F.lit(True)).select(
        "vec_id", "cell", _d2_fold("vq", "sq").alias("d2")
    )


def nearest_cell(dists: DataFrame) -> DataFrame:
    """(vec_id, cell) — the quantizer assignment: argmin over a
    (vec_id, cell, d2) distance relation, (d2, cell) tiebreak."""
    return (
        dists.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell")).alias("m"))
        .select("vec_id", F.col("m.cell").alias("cell"))
    )


def ivf_probe_ranks(dists: DataFrame, d2: str = "d2") -> DataFrame:
    """The query rows (vec_id < N_QUERIES) of a distance relation, with
    `prnk`: each query's rank of the cell by (d2, cell)."""
    pw = Window.partitionBy("vec_id").orderBy(F.asc(d2), F.asc("cell"))
    return dists.filter(F.col("vec_id") < N_QUERIES).withColumn(
        "prnk", F.row_number().over(pw)
    )


def ivf_probes(dists: DataFrame, seeds: DataFrame, d2: str = "d2") -> DataFrame:
    """(query_id, cell) — each query's ivf_probe_k() nearest cells; the
    probe count enters as a 1-row broadcast seed count."""
    n_cells = seeds.agg(F.count("*").alias("n_cells"))
    return (
        ivf_probe_ranks(dists, d2)
        .join(F.broadcast(n_cells), F.lit(True))
        .filter(F.col("prnk") <= ivf_probe_k())
        .select(F.col("vec_id").alias("query_id"), "cell")
    )


def _cells_by_d2(cells: str) -> Column:
    """The row's `vq` against every (cell, sq) struct of the array
    column `cells`: (d2, cell) structs in (d2, cell) order."""
    return F.array_sort(
        F.transform(
            cells,
            lambda s: F.struct(
                _d2_fold("vq", s["sq"]).alias("d2"), s["cell"].alias("cell")
            ),
        )
    )


def probe_cells_inrow(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, cell) — one row per probed cell of each row of `df`
    (columns `vq`, `n_cells` and the candidate cell array `cand`): the
    in-row form of ivf_probes (see the section comment above)."""
    return df.select(
        *keep, F.explode(F.slice(_cells_by_d2("cand"), 1, ivf_probe_k())).alias("p")
    ).select(*keep, F.col("p.cell").alias("cell"))


def ivf_candidates(probes: DataFrame, assign: DataFrame, *carry: str) -> DataFrame:
    """(query_id, neighbor_id, *carry) — the inverted-list lookup: every
    vector `assign` puts in a probed cell, except the query itself."""
    return (
        probes.join(assign.withColumnRenamed("vec_id", "neighbor_id"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", *carry)
    )


def cosine_rerank(emb: DataFrame, cand: DataFrame, *carry: str) -> DataFrame:
    """(query_id, neighbor_id, *carry, sim) — the exact quantized cosine
    of every candidate pair, rounded to 6 dp (the family's rank key).
    The query side is filtered to N_QUERIES BEFORE the broadcast hint:
    broadcasting the corpus-sized relation would OOM the driver at
    scale (ADVICE r5 #1)."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    return (
        cand.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id", "neighbor_id", *carry, F.round(qcosine("qe", "ne"), 6).alias("sim")
        )
    )


def ivf_rerank(emb: DataFrame, dists: DataFrame, seeds: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, sim) — probe → inverted-list lookup →
    exact-cosine rerank over an index's (vec_id, cell, d2) distance
    relation: the shared IVF candidate pipeline of the flat and the
    two-level index."""
    return cosine_rerank(emb, ivf_candidates(ivf_probes(dists, seeds), nearest_cell(dists)))


def sim_window(*keys: str) -> WindowSpec:
    """Per-`keys` order by (sim desc, neighbor_id asc) — the family's
    deterministic cosine rank order."""
    return Window.partitionBy(*keys).orderBy(F.desc("sim"), F.asc("neighbor_id"))


def sim_topk(
    scored: DataFrame, cols: tuple[str, ...] = ("query_id", "neighbor_id", "sim", "rnk")
) -> DataFrame:
    """`cols` of each query's TOP_K rows of a scored relation, ranked by
    sim_window with the rank as long `rnk`."""
    return (
        scored.withColumn("rnk", F.row_number().over(sim_window("query_id")).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select(*cols)
    )


def adc_topk(terms: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rnk) — ADC ranking: the exact
    int64 sum of a candidate's (query_id, neighbor_id, qd2) table
    terms, each query's TOP_K by (adc, neighbor_id); the one sqrt only
    formats the output distance."""
    adc = terms.groupBy("query_id", "neighbor_id").agg(F.sum("qd2").alias("adc"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.sqrt(F.col("adc").cast("double")) / F.lit(float(CENTROID_SCALE)), 6
            ).alias("adc_dist"),
            "rnk",
        )
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF two-stage ANN with a REAL geometric coarse quantizer:
    Voronoi cells seeded by ≈√N hash-sampled vectors (quantizer_seeds
    above — one k-means assignment step), each vector assigned to its
    nearest seed; a query probes its max(3, ⌈√cells⌉) nearest cells
    (the nprobe ≈ √nlist heuristic, derived in-plan from the seed
    count) and reranks only those cells' vectors by exact cosine. The
    classic inverted-file trade: scan ~probes/cells ≈ N^(-1/4) of the
    corpus — the scanned fraction SHRINKS as the corpus grows. Recall
    depends on cluster structure: high when true neighbors concentrate
    in nearby cells (real encoder embeddings; pinned on a clustered
    fixture in tests), degrading toward the scan fraction on
    structureless uniform-random vectors.

    Exactness for the oracle: seed selection and assignment are pure
    fixed-point integer algebra (portable hash threshold, quantized
    vectors, integer sums, argmin with cell tiebreak), so both engines
    build the identical index, probe identical cells and rank identical
    candidates.

    Scale notes: assignment is the standard O(N·√N) quantizer pass —
    quantized seed ARRAYS broadcast (√N · DIM longs; ~50 MB at N=10^10,
    the familiar IVF centroid table), one integer-distance fold per
    (vector, seed); the candidate join shuffles on cell; rerank cost =
    probed fraction of brute force. Recall vs brute force asserted in
    tests; per-cell population cap asserted in test_quantizer_scaling."""
    return sim_topk(_ivf_scored(spark, sf_dir))


def _ivf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flat IVF candidate pipeline (quantize → seed → assign →
    probe → exact-cosine score) up to the scored candidate relation —
    ann_ivf_topk takes its per-query top-k; ann_radius_search filters
    it by similarity threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    seeds = quantizer_seeds(emb_q)
    return ivf_rerank(emb, ivf_seed_d2(emb_q, seeds), seeds)


# cosine threshold for the radius (range) search — chosen so the
# near-zero-centered synthetic embeddings yield a non-trivial but
# bounded in-radius set (99th-percentile pair cosine ≈ 0.30); a real
# encoder runs this at ~0.8+.
ANN_RADIUS_SIM = 0.25


def ann_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search — the vector-store query shape top-k cannot answer
    ("everything within similarity r", the dedup/recall-sweep
    primitive): the SAME IVF candidate pipeline as ann_ivf_topk, but
    the final operator is a similarity-threshold FILTER instead of a
    per-query window, so the result size is data-dependent (possibly
    zero rows per query) rather than fixed-k. The filter keys on the
    ROUNDED similarity (house rule: last-ulp drift cannot flip a
    threshold compare). Scale: identical to ann_ivf_topk through the
    probe/rerank stages; the radius filter is map-only on the scored
    relation — strictly cheaper than the top-k window (no per-query
    sort at all)."""
    return _ivf_scored(spark, sf_dir).filter(F.col("sim") >= ANN_RADIUS_SIM)


_IVF_SCORED_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_FLAT_ASSIGN_SQL},
{_probes_sql("vec_seed_d2")}, {_IVF_CAND_SQL}, {_SCORED_SQL}"""


ANN_IVF_TOPK_SQL = _IVF_SCORED_SQL + _SIM_TOPK_SQL


ANN_RADIUS_SEARCH_SQL = (
    _IVF_SCORED_SQL
    + f"""
SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= {ANN_RADIUS_SIM}
"""
)


# ------------------------------- hierarchical (two-level) coarse IVF

# Branches a vector (or query) routes to before probing second-level
# seeds. A constant >1 softens Voronoi-boundary misroutes (the standard
# multi-branch descent in two-level inverted files); the asymptotic
# assignment cost stays O(N·N^(1/4)) for any constant.
BRANCH_PROBES = 2


def _d2_fold(a, b) -> F.Column:
    """Exact integer squared distance between two quantized arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hier_branches(emb_q: DataFrame) -> DataFrame:
    """(branch, bq) — the level-1 branch seeds of the two-level coarse
    quantizer: the subset of quantizer_seeds whose 60-bit vec_id hash
    ALSO clears the tighter 2^60/N^(3/4) threshold. Seed hashes are
    uniform below 2^60/√N (that is how they were selected), so the
    conditional survival probability is N^(-1/4) and the expected
    branch count is √N·N^(-1/4) = N^(1/4); branches ⊆ seeds by
    construction (one hash, two thresholds). The global min-hash seed
    is always a branch, so the router is total on any corpus. N^(3/4)
    is computed as sqrt(N)·sqrt(sqrt(N)) — correctly-rounded IEEE ops
    on both engines (pow() is not), so the branch set is engine-exact."""
    seeds = quantizer_seeds(emb_q)
    hseed = seeds.select(
        "cell", "sq", md5_hash60(F.col("cell").cast("string")).alias("h")
    )
    stats = emb_q.agg(F.count("*").alias("n_vec"))
    mh = hseed.agg(F.min(F.struct("h", "cell")).alias("mh"))
    nv = F.greatest(F.col("n_vec"), F.lit(1)).cast("double")
    thresh_b = F.floor(
        F.lit(float(HASH_SPACE_INT)) / (F.sqrt(nv) * F.sqrt(F.sqrt(nv)))
    ).cast("long")
    return (
        hseed.join(F.broadcast(stats), F.lit(True))
        .join(F.broadcast(mh), F.lit(True))
        .filter((F.col("h") < thresh_b) | (F.col("cell") == F.col("mh.cell")))
        .select(F.col("cell").alias("branch"), F.col("sq").alias("bq"))
    )


def _branches_sql(pop: str) -> str:
    """hcell … branches: hier_branches over the population relation
    `pop`, as (branch, d, bs) rows — the seeds of _seeds_sql(pop) whose
    hash also clears 2^60/N^(3/4), N = |pop|."""
    n = f"GREATEST((SELECT COUNT(*) FROM {pop}), 1)"
    return f"""hcell AS (
  SELECT vec_id AS cell, {md5_hash60_sql("CAST(vec_id AS VARCHAR)")} AS h FROM seed_ids
), branch_ids AS (
  SELECT cell AS branch FROM hcell
  WHERE h < CAST(floor(CAST({HASH_SPACE_INT} AS DOUBLE) / (
          sqrt({n})
        * sqrt(sqrt({n})))) AS BIGINT)
     OR cell = (SELECT cell FROM hcell ORDER BY h, cell LIMIT 1)
), branches AS (
  SELECT s.cell AS branch, s.d, s.ss AS bs
  FROM seeds s JOIN branch_ids b ON b.branch = s.cell
)"""


def _branches_by_d2(vec_col: str, *fields: str) -> Column:
    """The row's `vec_col` against every branch of the collected branch
    array `bs`: (bd2, branch, *fields) structs in (bd2, branch) order."""
    return F.array_sort(
        F.transform(
            "bs",
            lambda b: F.struct(
                _d2_fold(vec_col, b["bq"]).alias("bd2"),
                b["branch"].alias("branch"),
                *[b[f].alias(f) for f in fields],
            ),
        )
    )


def _hier_index(src: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(branches, barr, seeds_b) — the two-level index built from the
    population `src`: the level-1 branches, the same branches as ONE
    collected row `bs` (routing is in-row against it: a 1-row
    broadcast, zero shuffle), and every second-level seed (cell, sq)
    with its nearest branch."""
    seeds = quantizer_seeds(src)
    branches = hier_branches(src)
    barr = branches.agg(F.collect_list(F.struct("branch", "bq")).alias("bs"))
    seeds_b = seeds.join(F.broadcast(barr), F.lit(True)).select(
        "cell", "sq", F.element_at(_branches_by_d2("sq"), 1)["branch"].alias("branch")
    )
    return branches, barr, seeds_b


def _hier_cand_seed(emb_q: DataFrame, index_q: DataFrame | None = None) -> DataFrame:
    """(vec_id, vq, cell, d2) — each vector's exact integer distances
    to the second-level seeds of its BRANCH_PROBES routed branches
    only: the shared core of the two-level quantizer. Routing is
    in-row against the collected branch array; the seed join is a
    broadcast equi-join on branch — O(N·N^(1/4)) dot products total
    vs the flat quantizer's O(N·√N), the measured flat-IVF frontier's
    assignment term paid down (SCALE.md).

    `index_q` (default: emb_q itself) is the population the INDEX is
    built from — seeds, branches and thresholds. The incremental /
    streaming forms pass the committed BASE corpus here and route the
    full (base + delta) relation through it, so delta arrivals ride a
    published index instead of triggering a rebuild."""
    _, barr, seeds_b = _hier_index(emb_q if index_q is None else index_q)
    routed = (
        emb_q.join(F.broadcast(barr), F.lit(True))
        .select(
            "vec_id", "vq", F.slice(_branches_by_d2("vq"), 1, BRANCH_PROBES).alias("route")
        )
        .select("vec_id", "vq", F.explode("route").alias("r"))
        .select("vec_id", "vq", F.col("r.branch").alias("branch"))
    )
    return routed.join(F.broadcast(seeds_b), "branch").select(
        "vec_id", "vq", "cell", _d2_fold("vq", F.col("sq")).alias("d2")
    )


def hier_branch_cells_row(emb_q: DataFrame) -> DataFrame:
    """ONE-row (bs: array<struct(branch, bq, cells: array<struct(cell,
    sq)>)>) — the two-level index as a single broadcastable artifact:
    every branch with its quantized vector and its second-level seed
    list. The streaming twins (serving, mining, admission, balance)
    ride this as their static side (hier_routed); truncate it so the
    stream-static join doesn't rebuild the subtree per micro-batch."""
    branches, _, seeds_b = _hier_index(emb_q)
    bcells = seeds_b.groupBy("branch").agg(
        F.collect_list(F.struct("cell", "sq")).alias("cells")
    )
    return (
        branches.join(bcells, "branch", "left")
        .select(
            F.struct(
                "branch", "bq", F.coalesce("cells", F.array()).alias("cells")
            ).alias("b")
        )
        .agg(F.collect_list("b").alias("bs"))
    )


def hier_routed(df: DataFrame, brow: DataFrame) -> DataFrame:
    """`df` (with `vq`) joined to a 1-row hier_branch_cells_row
    artifact, plus `cand`: the (cell, sq) lists of the row's
    BRANCH_PROBES nearest branches by (bd2, branch), flattened — its
    routed candidate cells, in-row."""
    return (
        df.join(F.broadcast(brow), F.lit(True))
        .withColumn("route", F.slice(_branches_by_d2("vq", "cells"), 1, BRANCH_PROBES))
        .withColumn("cand", F.flatten(F.transform("route", lambda r: r["cells"])))
    )


def hier_cell_inrow(df: DataFrame, brow: DataFrame, *keep: str | Column) -> DataFrame:
    """(*keep, cell) — each row's two-level cell, in-row: the argmin
    over its routed candidate cells (hier_routed), reproducing
    hier_assign's (d2, cell) tiebreak with no state."""
    return hier_routed(df, brow).select(
        *keep, F.element_at(_cells_by_d2("cand"), 1)["cell"].alias("cell")
    )


def hier_assign(emb_q: DataFrame) -> DataFrame:
    """(vec_id, vq, cell) — the two-level quantizer assignment (argmin
    over the routed candidate seeds), shared by ann_hivf_topk and
    hivf_cell_medoids."""
    return (
        _hier_cand_seed(emb_q)
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell", "vq")).alias("m"))
        .select("vec_id", F.col("m.vq").alias("vq"), F.col("m.cell").alias("cell"))
    )


def ann_hivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (hierarchical) IVF ANN: ≈N^(1/4) hash-sampled branch
    seeds route each vector to its BRANCH_PROBES nearest branches;
    assignment probes only those branches' second-level seeds. Same
    ≈√N cells, same probe ≈ √cells and exact-cosine rerank tail as
    ann_ivf_topk (ivf_rerank) — the quantizer-assignment stage drops
    from O(N·√N) to O(N·N^(1/4)) dot products, which is the measured
    flat-IVF N^1.5 frontier (SCALE.md) paid down; the query side
    probes its nearest ROUTED cells, so the hierarchical narrowing
    applies to it too. Recall vs the flat index is pinned on a
    clustered fixture in tests (identical where cluster structure
    exists; boundary vectors may route differently).

    Exactness for the oracle: branch selection, seed→branch routing,
    vector routing and assignment are all fixed-point integer algebra
    with (d2, id) tiebreaks, so both engines build the identical
    two-level index and rank identical candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    return sim_topk(ivf_rerank(emb, _hier_cand_seed(emb_q), quantizer_seeds(emb_q)))


# seed_branch_d2 … assign: hier_assign after _seeds_sql + _branches_sql —
# each seed's nearest branch, each vector's BRANCH_PROBES nearest
# branches, its distances to those branches' seeds (cand_seed) and
# their argmin.
_HIER_ROUTE_SQL = f"""seed_branch_d2 AS (
  SELECT s.cell, b.branch, CAST(SUM((s.ss - b.bs) * (s.ss - b.bs)) AS BIGINT) AS bd2
  FROM seeds s JOIN branches b ON b.d = s.d
  GROUP BY 1, 2
), seed_route AS (
  SELECT cell, branch FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY bd2, branch) AS rn
    FROM seed_branch_d2
  ) t WHERE rn = 1
), vec_branch_d2 AS (
  SELECT v.vec_id, b.branch, CAST(SUM((v.vs - b.bs) * (v.vs - b.bs)) AS BIGINT) AS bd2
  FROM by_dim v JOIN branches b ON b.d = v.d
  GROUP BY 1, 2
), vec_route AS (
  SELECT vec_id, branch FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY bd2, branch) AS rn
    FROM vec_branch_d2
  ) t WHERE rn <= {BRANCH_PROBES}
), cand_seed AS (
  SELECT r.vec_id, sr.cell, CAST(SUM((v.vs - s.ss) * (v.vs - s.ss)) AS BIGINT) AS d2
  FROM vec_route r
  JOIN seed_route sr ON sr.branch = r.branch
  JOIN seeds s ON s.cell = sr.cell
  JOIN by_dim v ON v.vec_id = r.vec_id AND v.d = s.d
  GROUP BY 1, 2
), {_assign_sql("cand_seed")}"""


def _hier_assign_sql(pop: str) -> str:
    """The WITH-chain through the two-level assignment, its index built
    from the population relation `pop`."""
    return f"\nWITH {_seeds_sql(pop)}, {_branches_sql(pop)}, {_HIER_ROUTE_SQL}"


_HIER_ASSIGN_SQL = _hier_assign_sql("embeddings")


ANN_HIVF_TOPK_SQL = (
    _HIER_ASSIGN_SQL
    + f""", {_probes_sql("cand_seed")},
{_IVF_CAND_SQL}, {_SCORED_SQL}"""
    + _SIM_TOPK_SQL
)


# Candidate medoids sampled per cell; each candidate's distance total
# runs against ALL members, so the per-cell cost is pop·M — linear in
# pop — instead of the exact medoid's pop².
MEDOID_CANDIDATES = 8


def hivf_cell_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, medoid, pop, n_cand, mean_d2) — ivf_cell_medoids' release
    with BOTH of the measured N^1.5 terms paid down (SCALE.md): the
    two-level quantizer assignment (hier_assign — O(N·N^(1/4)) dot
    products, not O(N·√N)) and a SAMPLED medoid (per cell, the
    M = MEDOID_CANDIDATES hash-least members stand as candidates; each
    candidate's exact distance total runs against all members, so the
    pairwise stage is Σ pop·M = O(N·M), not Σ pop² = O(N^1.5)). The
    released medoid is the exact argmin over the candidate set — the
    standard big-data medoid estimator (sampled candidates, exact
    totals), with n_cand as the audit column.

    Exactness: candidate selection (hash-least per cell with vec_id
    tiebreak), distance totals (int64 fixed-point sums) and the
    (tot_d2, vec_id) argmin are identical algebra in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    assign = cached(hier_assign(emb_q))
    ch = md5_hash60(F.concat(F.lit("med:"), F.col("vec_id").cast("string")))
    cw = Window.partitionBy("cell").orderBy("ch", "vec_id")
    cands = (
        assign.select("cell", "vec_id", "vq", ch.alias("ch"))
        .withColumn("crnk", F.row_number().over(cw))
        .filter(F.col("crnk") <= MEDOID_CANDIDATES)
        .select(
            F.col("cell").alias("cellc"),
            F.col("vec_id").alias("vb"),
            F.col("vq").alias("vqb"),
        )
    )
    d2_pair = _d2_fold("vq", "vqb")
    tot = (
        assign.join(cands, F.col("cell") == F.col("cellc"))
        .select("cell", "vb", d2_pair.alias("d2"))
        .groupBy("cell", "vb")
        .agg(F.sum("d2").alias("tot_d2"), F.count("*").alias("pop"))
    )
    return (
        tot.groupBy("cell")
        .agg(
            F.min(F.struct("tot_d2", "vb")).alias("m"),
            F.max("pop").cast("long").alias("pop"),
            F.count("*").cast("long").alias("n_cand"),
        )
        .select(
            "cell",
            F.col("m.vb").alias("medoid"),
            "pop",
            "n_cand",
            F.round(F.col("m.tot_d2").cast("double") / F.col("pop"), 6).alias("mean_d2"),
        )
    )


HIVF_CELL_MEDOIDS_SQL = (
    _HIER_ASSIGN_SQL
    + f"""
, cands AS (
  SELECT cell, vec_id AS vb FROM (
    SELECT a.cell, a.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.cell
             ORDER BY {md5_hash60_sql("'med:' || CAST(a.vec_id AS VARCHAR)")}, a.vec_id
           ) AS crnk
    FROM assign a
  ) t WHERE crnk <= {MEDOID_CANDIDATES}
), pd AS (
  SELECT a.cell, c.vb, a.vec_id AS va,
         CAST(SUM((x.vs - y.vs) * (x.vs - y.vs)) AS BIGINT) AS d2
  FROM assign a
  JOIN cands c ON c.cell = a.cell
  JOIN by_dim x ON x.vec_id = a.vec_id
  JOIN by_dim y ON y.vec_id = c.vb AND y.d = x.d
  GROUP BY 1, 2, 3
), tot AS (
  SELECT cell, vb, CAST(SUM(d2) AS BIGINT) AS tot_d2, COUNT(*) AS pop
  FROM pd GROUP BY 1, 2
)
SELECT cell, vb AS medoid, CAST(pop AS BIGINT) AS pop,
       CAST(n_cand AS BIGINT) AS n_cand,
       ROUND(CAST(tot_d2 AS DOUBLE) / pop, 6) AS mean_d2
FROM (
  SELECT cell, vb, tot_d2, pop,
         COUNT(*) OVER (PARTITION BY cell) AS n_cand,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY tot_d2, vb) AS rnk
  FROM tot
) t WHERE rnk = 1
"""
)


# --------------------------- margin-based bitext mining (CCMatrix)

BITEXT_K = 4        # neighborhood size for the margin denominator
BITEXT_MARGIN = 1.0  # ratio-margin admission threshold
# Per-source candidate cap: each source vector keeps only its top-C
# within-cell cosines as candidates (C >= K so the source-side top-K
# mean is unaffected). This is the FAISS-retrieval semantic the
# CCMatrix recipe actually runs — each x scores only its K retrieved
# neighbors, never its whole IVF cell — and it is what bounds the
# candidate relation to N·C rows. Without it the pair stage shuffles
# Σ popA·popB ≈ N^1.5 rows through four windows and two joins, the
# shape measured at decade-2 exponent 1.41 on the r11 sf10 run.
BITEXT_C = 8


def _bitext_capped_pairs(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """(src_id, tgt_id, sim) — each source's top-BITEXT_C within-cell
    cosines against the target side, computed IN-ROW against per-cell
    target posting arrays. src: (src_id, qe, cell); tgt: (tgt_id, ne,
    cell).

    Scale shape: the target side is grouped once into ≈√N per-cell
    arrays (one shuffle of N rows, pre-quantized so the per-pair work
    is one BIGINT dot); each source row then scores its cell's array
    entirely inside whole-stage codegen (transform → filter →
    array_sort comparator → slice) and emits ≤C rows. The N·√N cosine
    flops still happen — candidates must be scored to be ranked — but
    they are map-side arithmetic with NO shuffle participation: the
    relation that reaches the margin windows, the endpoint-mean joins
    and (in the streaming twin) the memory sink is N·C rows, not
    N^1.5. At 100 TB the per-cell array (≈√N members) is the row-size
    bound to watch; the router's depth is the knob (a third level
    makes cells N^(3/4)/pop N^(1/4)) if cell arrays outgrow a row.

    Exactness: sims are the same ROUND(quantized-cosine, 6) doubles as
    everywhere (exact BIGINT folds, one IEEE sqrt/mul/div on identical
    inputs), the comparator tiebreaks (sim desc, tgt_id asc), and
    NULL-sim pairs (zero vectors) are dropped on both engines — so the
    capped relation is bit-identical to the oracle's ROW_NUMBER form."""
    from capstone_etl_spark.functions.vectors import dot_long

    tgt_q = tgt.select(
        "cell", F.col("tgt_id"), quantize_fp("ne").alias("qb")
    ).select(
        "cell",
        F.struct(
            "tgt_id", "qb", dot_long("qb", "qb").alias("n2b")
        ).alias("m"),
    )
    tgt_arr = tgt_q.groupBy("cell").agg(F.collect_list("m").alias("members"))
    s = src.select(
        "src_id", "cell", quantize_fp("qe").alias("qa")
    ).withColumn("n2a", dot_long("qa", "qa"))
    scored = F.filter(
        F.transform(
            "members",
            lambda m: F.struct(
                F.round(
                    F.when(
                        (F.col("n2a") > 0) & (m["n2b"] > 0),
                        dot_long("qa", m["qb"]).cast("double")
                        / (
                            F.sqrt(F.col("n2a").cast("double"))
                            * F.sqrt(m["n2b"].cast("double"))
                        ),
                    ),
                    6,
                ).alias("sim"),
                m["tgt_id"].alias("tgt_id"),
            ),
        ),
        lambda p: p["sim"].isNotNull(),
    )
    cmp = lambda x, y: (  # noqa: E731 — (sim desc, tgt_id asc)
        F.when(x["sim"] > y["sim"], F.lit(-1))
        .when(x["sim"] < y["sim"], F.lit(1))
        .when(x["tgt_id"] < y["tgt_id"], F.lit(-1))
        .when(x["tgt_id"] > y["tgt_id"], F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        s.join(tgt_arr, "cell")
        .select("src_id", F.slice(F.array_sort(scored, cmp), 1, BITEXT_C).alias("top"))
        .select("src_id", F.explode("top").alias("p"))
        .select(
            "src_id",
            F.col("p.tgt_id").alias("tgt_id"),
            F.col("p.sim").alias("sim"),
        )
    )


def bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_id, tgt_id, sim, margin) — margin-based parallel-pair
    mining (Artetxe & Schwenk 2019; the CCMatrix/LASER recipe): treat
    the even/odd vec_id halves of the embeddings corpus as the two
    sides of a bilingual space, score cross-side candidate pairs by
    the RATIO margin — cos(x,y) over the mean of each endpoint's
    top-K candidate cosines — and admit pairs that are MUTUAL margin
    argmaxes above the threshold. The margin denominator is what makes
    this the production miner: it cancels hubness (a vector that is
    close to everything scores a margin ≈ 1 everywhere and mines
    nothing), which a plain cosine threshold cannot.

    Candidate discipline (r11): pairs come from the two-level
    quantizer blocking (hier_assign — cross-side pairs sharing a
    cell), AND each source keeps only its top-BITEXT_C within-cell
    cosines (_bitext_capped_pairs — scored in-row against per-cell
    target arrays, ≤C rows emitted per source). The relation every
    window/join downstream touches is therefore N·C rows; the r10
    uncapped form shuffled the full Σ popA·popB ≈ N^1.5 within-cell
    pair relation through four windows and measured decade-2 exponent
    1.41 in its streaming twin (BENCH_scale_r11.json). The cap is the
    CCMatrix semantic, not an approximation of it: production miners
    score each x against its FAISS-retrieved K neighbors only. The
    target-side margin mean (ay) is correspondingly over the pairs
    that survive some source's cap — the retrieved relation, exactly
    what the production recipe's y-side sees.

    Exactness: cosines are rounded to 6dp first (identical doubles in
    both engines), the top-K means go through exact DECIMAL sums of
    those 6dp values (float-sum order cannot drift), the margin is one
    IEEE division of identical doubles, and every argmax tiebreaks on
    (margin desc, sim desc, partner asc)."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    assign = cached(hier_assign(emb_q).select("vec_id", "cell"))
    withe = assign.join(emb.select("vec_id", "embedding"), "vec_id")
    a = withe.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("src_id"), "cell", F.col("embedding").alias("qe")
    )
    b = withe.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"), "cell", F.col("embedding").alias("ne")
    )
    return _bitext_verdicts(cached(_bitext_capped_pairs(a, b)))


def _bitext_verdicts(pairs: DataFrame) -> DataFrame:
    """(src_id, tgt_id, sim, margin) — the margin / mutual-argmax
    verdict assembly over a (src_id, tgt_id, sim) candidate relation,
    shared by bitext_mining and its stream twin."""
    wx = Window.partitionBy("src_id").orderBy(F.desc("sim"), F.asc("tgt_id"))
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("sim"), F.asc("src_id"))
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    avg_x = (
        pairs.withColumn("rk", F.row_number().over(wx))
        .filter(F.col("rk") <= BITEXT_K)
        .groupBy("src_id")
        .agg((F.sum(dec("sim")).cast("double") / F.count("*")).alias("ax"))
    )
    avg_y = (
        pairs.withColumn("rk", F.row_number().over(wy))
        .filter(F.col("rk") <= BITEXT_K)
        .groupBy("tgt_id")
        .agg((F.sum(dec("sim")).cast("double") / F.count("*")).alias("ay"))
    )
    den = F.lit(0.5) * (F.col("ax") + F.col("ay"))
    scored = (
        pairs.join(avg_x, "src_id")
        .join(avg_y, "tgt_id")
        .withColumn("margin", F.when(den > 0, F.col("sim") / den))
        .filter(F.col("margin") >= BITEXT_MARGIN)
    )
    mx = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.desc("sim"), F.asc("tgt_id")
    )
    my = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin"), F.desc("sim"), F.asc("src_id")
    )
    return (
        scored.withColumn("rx", F.row_number().over(mx))
        .withColumn("ry", F.row_number().over(my))
        .filter((F.col("rx") == 1) & (F.col("ry") == 1))
        .select("src_id", "tgt_id", "sim", F.round("margin", 6).alias("margin"))
    )


BITEXT_MINING_SQL = (
    _HIER_ASSIGN_SQL
    + f"""
, allpairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
         ROUND({cosine_q_cols_sql('ea.embedding', 'eb.embedding')}, 6) AS sim
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
), pairs AS (
  -- the per-source candidate cap (_bitext_capped_pairs): top-C
  -- within-cell cosines per source, NULL sims (zero vectors) dropped
  SELECT src_id, tgt_id, sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS crk
    FROM allpairs WHERE sim IS NOT NULL
  ) c WHERE crk <= {BITEXT_C}
), ax AS (
  SELECT src_id, CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ax
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rk
        FROM pairs) t
  WHERE rk <= {BITEXT_K} GROUP BY 1
), ay AS (
  SELECT tgt_id, CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ay
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rk
        FROM pairs) t
  WHERE rk <= {BITEXT_K} GROUP BY 1
), scored AS (
  SELECT p.src_id, p.tgt_id, p.sim,
         CASE WHEN 0.5 * (ax.ax + ay.ay) > 0
              THEN p.sim / (0.5 * (ax.ax + ay.ay)) END AS margin
  FROM pairs p JOIN ax USING (src_id) JOIN ay USING (tgt_id)
)
SELECT src_id, tgt_id, sim, ROUND(margin, 6) AS margin
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY margin DESC, sim DESC, tgt_id) AS rx,
         ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY margin DESC, sim DESC, src_id) AS ry
  FROM scored WHERE margin >= {BITEXT_MARGIN}
) t WHERE rx = 1 AND ry = 1
"""
)


# -------------------------------------------- IVF probe-count sweep

IVF_PROBE_GRID = (1, 2, 4, 8)


def ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_probes, n_queries, n_candidates, n_hits, recall) — the
    recall-vs-probes tuning curve for the IVF index: rerun the probe
    stage at each grid value and measure recall@k against the
    brute-force ground truth, plus the candidate volume each setting
    scans. The lsh_tuning_curve twin for IVF — the table that decides
    the probe count BEFORE committing a serving configuration.

    Scale plan: the quantizer/assignment pipeline runs ONCE (shared
    distance table); the probe grid expands only the ≤ N_QUERIES·cells
    ranked-probe relation (explode of a 4-value literal), so candidate
    volume is the only thing that scales with the grid. Recall counts
    are exact int sums over the (grid × query) top-k relations —
    TOP_K is constant per query, so macro recall = Σhits / (q·k)
    exactly, no double accumulation."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    vec_seed_d2 = ivf_seed_d2(emb_q, quantizer_seeds(emb_q))
    # Score each (query, neighbor) cosine ONCE at the grid maximum and
    # explode the grid AFTER scoring: the grid values are nested
    # (candidates at p ⊆ candidates at p'>p — a neighbor lives in
    # exactly one cell, at one probe rank), so the per-grid-value
    # scoring recomputed the same cosine for every grid value it
    # appeared under (~1.9× the flops and the neighbor-embedding join
    # volume for the 1/2/4/8 grid). Same rows reach the per-grid top-k
    # window either way — guide §1.2: don't compute things twice.
    cand1 = ivf_candidates(
        ivf_probe_ranks(vec_seed_d2)
        .filter(F.col("prnk") <= max(IVF_PROBE_GRID))
        .select(F.col("vec_id").alias("query_id"), "cell", "prnk"),
        nearest_cell(vec_seed_d2),
        "prnk",
    )
    scored1 = cosine_rerank(emb, cand1, "prnk")
    scored = scored1.select(
        "query_id",
        "neighbor_id",
        "sim",
        "prnk",
        F.explode(F.array(*[F.lit(p) for p in IVF_PROBE_GRID])).alias("n_probes"),
    ).filter(F.col("prnk") <= F.col("n_probes")).drop("prnk")
    cand = scored.select("n_probes", "query_id", "neighbor_id")
    tw = sim_window("n_probes", "query_id")
    topk = scored.withColumn("rnk", F.row_number().over(tw)).filter(F.col("rnk") <= TOP_K)
    exact = cached(ann_brute_topk(spark, sf_dir).select("query_id", "neighbor_id"))
    hits = topk.join(exact, ["query_id", "neighbor_id"], "left_semi")
    # query count enters as a 1-row broadcast, never a driver count
    nq = exact.agg(F.countDistinct("query_id").cast("long").alias("n_q"))
    cand_counts = cand.groupBy("n_probes").agg(F.count("*").alias("n_candidates"))
    hit_counts = hits.groupBy("n_probes").agg(F.count("*").alias("n_hits"))
    return (
        cand_counts.join(hit_counts, "n_probes", "left")
        .join(F.broadcast(nq), F.lit(True))
        .select(
            F.col("n_probes").cast("long").alias("n_probes"),
            F.col("n_q").alias("n_queries"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / (F.col("n_q") * TOP_K),
                6,
            ).alias("recall"),
        )
    )


def _ivf_probe_curve_sql() -> str:
    grid_rows = ", ".join(f"({p})" for p in IVF_PROBE_GRID)
    return f"""
WITH {_seeds_sql("embeddings")}, {_FLAT_ASSIGN_SQL}, ranked AS (
  SELECT vec_id AS query_id, cell, prnk FROM (
    {_probe_ranks_sql("vec_seed_d2")}
  ) t
), cand AS (
  SELECT g.n_probes, r.query_id, a.vec_id AS neighbor_id
  FROM ranked r
  JOIN (SELECT * FROM (VALUES {grid_rows}) v(n_probes)) g ON r.prnk <= g.n_probes
  JOIN assign a ON a.cell = r.cell
  WHERE a.vec_id <> r.query_id
), scored AS (
  SELECT c.n_probes, c.query_id, c.neighbor_id,
         ROUND({cosine_q_cols_sql('q.embedding', 'n.embedding')}, 6) AS sim
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
), topk AS (
  SELECT n_probes, query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probes, query_id
                                 ORDER BY sim DESC, neighbor_id) AS rnk
    FROM scored
  ) t WHERE rnk <= {TOP_K}
), exact AS ({ANN_BRUTE_TOPK_SQL}),
hits AS (
  SELECT t.n_probes, COUNT(*) AS n_hits
  FROM topk t JOIN exact e ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
  GROUP BY 1
), cc AS (
  SELECT n_probes, COUNT(*) AS n_candidates FROM cand GROUP BY 1
), nq AS (
  SELECT COUNT(DISTINCT query_id) AS n_q FROM exact
)
SELECT CAST(c.n_probes AS BIGINT) AS n_probes,
       CAST(nq.n_q AS BIGINT) AS n_queries,
       CAST(c.n_candidates AS BIGINT) AS n_candidates,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / (nq.n_q * {TOP_K}), 6) AS recall
FROM cc c
LEFT JOIN hits h USING (n_probes)
CROSS JOIN nq
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (the ANN memory-compression
    step: 4 bytes/dim float → 1 byte/dim level): level_i =
    floor((x_i − min) · 255 / (max − min)), degenerate constant vectors
    → all-zero levels. Pure per-row array expressions — embarrassingly
    parallel, no shuffle. Cross-engine exactness: elements are cast
    float→double BEFORE identical-order IEEE arithmetic, so floor()
    lands identically; emitted stats are exact longs plus 6-dp-rounded
    range endpoints."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    d = emb.select("vec_id", x.alias("x"))
    vmin, vmax = F.array_min("x"), F.array_max("x")
    levels = F.when(vmax == vmin, F.transform("x", lambda _: F.lit(0).cast("long"))).otherwise(
        F.transform(
            "x",
            lambda v: F.least(
                F.lit(255).cast("long"),
                F.floor((v - vmin) * F.lit(255.0) / (vmax - vmin)).cast("long"),
            ),
        )
    )
    q = d.select(
        "vec_id",
        F.round(vmin, 6).alias("qmin"),
        F.round(vmax, 6).alias("qmax"),
        levels.alias("levels"),
    )
    return q.select(
        "vec_id",
        "qmin",
        "qmax",
        F.aggregate("levels", F.lit(0).cast("long"), lambda a, v: a + v).alias("level_sum"),
        F.size(F.array_distinct("levels")).cast("long").alias("n_distinct_levels"),
    )


EMBEDDING_QUANTIZE_SQL = """
WITH d AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM embeddings
), r AS (
  SELECT vec_id, x, list_min(x) AS vmin, list_max(x) AS vmax FROM d
), q AS (
  SELECT vec_id, vmin, vmax,
         CASE WHEN vmax = vmin
              THEN list_transform(x, v -> CAST(0 AS BIGINT))
              ELSE list_transform(x, v -> CAST(LEAST(255, FLOOR((v - vmin) * 255.0 / (vmax - vmin))) AS BIGINT))
         END AS levels
  FROM r
)
SELECT vec_id, ROUND(vmin, 6) AS qmin, ROUND(vmax, 6) AS qmax,
       CAST(list_sum(levels) AS BIGINT) AS level_sum,
       CAST(len(list_distinct(levels)) AS BIGINT) AS n_distinct_levels
FROM q
"""


# --- product quantization ---------------------------------------------------
PQ_M = 4                 # subspaces
PQ_SUBDIM = DIM // PQ_M  # dims per subspace codeword


def _pq_split(col: str) -> Column:
    """posexplode of the quantized array `col` into its PQ_M
    (m, subvector) pairs."""
    return F.posexplode(
        F.array(*[F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)])
    )


def _pq_subspace_dists(emb_q: DataFrame, seeds: DataFrame) -> DataFrame:
    """(vec_id, m, cell, d2): exact int64 distance from every vector's
    m-th subvector to every codeword of subspace m. Shared by the PQ
    encoder (argmin per (vec, m)) and the ADC search (query-side
    distance tables)."""
    vec_sub = emb_q.select("vec_id", _pq_split("vq").alias("m", "sub"))
    seed_sub = seeds.select("cell", _pq_split("sq").alias("m", "ssub"))
    d2 = _d2_fold("sub", "ssub")
    return vec_sub.join(F.broadcast(seed_sub), "m").select(
        "vec_id", "m", "cell", d2.alias("d2")
    )


# dists: _pq_subspace_dists — (vec_id, m, cell, d2) after _seeds_sql
_PQ_DISTS_SQL = f"""dists AS (
  SELECT v.vec_id, v.d // {PQ_SUBDIM} AS m, s.cell,
         CAST(SUM((v.vs - s.ss) * (v.vs - s.ss)) AS BIGINT) AS d2
  FROM by_dim v JOIN seeds s ON s.d = v.d
  GROUP BY v.vec_id, v.d // {PQ_SUBDIM}, s.cell
)"""

# qtab: the query rows of dists — the ADC distance tables
_QTAB_SQL = f"""qtab AS (
  SELECT vec_id AS query_id, m, cell, d2 AS qd2 FROM dists WHERE vec_id < {N_QUERIES}
)"""


def _pq_best_sql(dists: str) -> str:
    """best: the PQ codes — each vector's (d2, cell)-nearest codeword
    per subspace of the (vec_id, m, cell, d2) CTE `dists`."""
    return f"""best AS (
  SELECT vec_id, m, cell, d2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) AS r
    FROM {dists}
  ) t WHERE r = 1
)"""


# adc: the IVF candidates' table-lookup distances, Σ_m qtab at the
# neighbor's code `best`
_IVF_ADC_SQL = """adc AS (
  SELECT c.query_id, c.neighbor_id, CAST(SUM(q.qd2) AS BIGINT) AS adc
  FROM cand c
  JOIN best k ON k.vec_id = c.neighbor_id
  JOIN qtab q ON q.query_id = c.query_id AND q.m = k.m AND q.cell = k.cell
  GROUP BY 1, 2
)"""

# each query's TOP_K adc rows by (adc, neighbor_id) — adc_topk
_ADC_TOPK_SQL = f"""
SELECT query_id, neighbor_id,
       ROUND(sqrt(CAST(adc AS DOUBLE)) / {CENTROID_SCALE}.0, 6) AS adc_dist, rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
  FROM adc
) t WHERE rnk <= {TOP_K}
"""


def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011): the vector is
    split into PQ_M subvectors and each is replaced by the id of its
    nearest per-subspace codeword — the compression that stores a
    100 TB ANN corpus as N·M·log2(K) bits instead of N·DIM floats.
    Codebooks reuse the hash-sampled ≈√N seed set (quantizer_seeds)
    sliced per subspace, so the index is derived from the corpus with
    no training loop. Output: the M-part code (canonical 'c0,c1,…'
    string) and the reconstruction error ‖v − concat(codewords)‖.

    Exactness: fixed-point int64 subvector distances (the IVF recipe),
    argmin with (d2, cell) tiebreak, one double sqrt at the end.
    Scale: codebooks broadcast (≈√N·DIM longs — the PQ codebook table);
    one integer fold per (vector, seed, subspace); the per-(vec,m)
    argmin is a uniform-key aggregation. No corpus self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    seeds = quantizer_seeds(emb_q)
    dists = _pq_subspace_dists(emb_q, seeds)
    best = dists.groupBy("vec_id", "m").agg(F.min(F.struct("d2", "cell")).alias("b"))
    code = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", F.col("b.cell").alias("cell")))),
            lambda r: r["cell"].cast("string"),
        ),
        ",",
    )
    return best.groupBy("vec_id").agg(
        code.alias("pq_code"),
        F.round(
            F.sqrt(F.sum("b.d2").cast("double")) / F.lit(float(CENTROID_SCALE)), 6
        ).alias("recon_err"),
    )


EMBEDDING_PQ_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_PQ_DISTS_SQL}, {_pq_best_sql("dists")}
SELECT vec_id,
       string_agg(CAST(cell AS VARCHAR), ',' ORDER BY m) AS pq_code,
       ROUND(sqrt(CAST(SUM(d2) AS DOUBLE)) / {CENTROID_SCALE}.0, 6) AS recon_err
FROM best GROUP BY vec_id
"""


def _pq_audit_release(best: DataFrame, seeds: DataFrame) -> DataFrame:
    """The per-subspace audit columns over a (m, cell, d2) code relation
    `best` encoded against the codebook `seeds`: ONE hash agg on PQ_M
    keys, the seed count and the distortion total as 1-row broadcasts,
    exact int d2 sums and two divisions at the end."""
    per_m = best.groupBy("m").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.countDistinct("cell").cast("long").alias("n_cells_used"),
        F.sum("d2").cast("long").alias("td2"),
    )
    n_seeds = seeds.agg(F.count("*").alias("n_cells"))
    tot = per_m.agg(F.sum("td2").alias("all_d2"))
    scale2 = float(CENTROID_SCALE) * float(CENTROID_SCALE)
    return (
        per_m.crossJoin(F.broadcast(n_seeds))
        .crossJoin(F.broadcast(tot))
        .select(
            "m",
            "n_vectors",
            "n_cells_used",
            F.round(F.col("n_cells_used").cast("double") / F.col("n_cells"), 6).alias(
                "utilization"
            ),
            F.round(
                F.col("td2").cast("double") / F.col("n_vectors") / F.lit(scale2), 6
            ).alias("mse"),
            F.when(
                F.col("all_d2") > 0,
                F.round(F.col("td2").cast("double") / F.col("all_d2"), 6),
            ).alias("err_share"),
        )
    )


def pq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, n_vectors, n_cells_used, utilization, mse, err_share) — the
    per-subspace health check of the PQ codebook: mean squared
    quantization error per subspace (which subspace is starving for
    codewords), the share of total distortion it contributes, and
    codeword utilization (distinct codewords actually chosen / seed
    count — dead codewords waste code space). The audit that decides
    whether PQ_M / the seed budget are allocated where the variance
    is, read BEFORE shipping the embedding_pq codes.

    Scale plan: reuses _pq_subspace_dists (codebooks broadcast at ≈√N
    rows; one exact-int64 fold per (vector, seed, subspace)) and the
    same per-(vec, m) argmin; the audit itself is ONE hash agg on PQ_M
    keys, with the seed count and the distortion total entering as
    1-row broadcasts. Exact int d2 sums; two divisions at the end."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    seeds = quantizer_seeds(emb_q)
    dists = _pq_subspace_dists(emb_q, seeds)
    best = (
        dists.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "cell")).alias("b"))
        .select("m", F.col("b.cell").alias("cell"), F.col("b.d2").alias("d2"))
    )
    return _pq_audit_release(best, seeds)


# per_m … release: pq_distortion_audit's per-subspace release over
# `best`, shared by both audits (_pq_audit_release)
_PQ_AUDIT_SQL = f""", per_m AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells_used,
         CAST(SUM(d2) AS BIGINT) AS td2
  FROM best GROUP BY 1
), ns AS (
  SELECT COUNT(*) AS n_cells FROM seed_ids
), tot AS (
  SELECT SUM(td2) AS all_d2 FROM per_m
)
SELECT m, n_vectors, n_cells_used,
       ROUND(CAST(n_cells_used AS DOUBLE) / n_cells, 6) AS utilization,
       ROUND(CAST(td2 AS DOUBLE) / n_vectors / {CENTROID_SCALE}.0 / {CENTROID_SCALE}.0, 6) AS mse,
       CASE WHEN all_d2 > 0
            THEN ROUND(CAST(td2 AS DOUBLE) / all_d2, 6) END AS err_share
FROM per_m CROSS JOIN ns CROSS JOIN tot
"""


PQ_DISTORTION_AUDIT_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_PQ_DISTS_SQL}, {_pq_best_sql("dists")}{_PQ_AUDIT_SQL}"""


def _pq_hier_codes(emb_q: DataFrame) -> DataFrame:
    """(vec_id, m, cell, d2) — PQ codes through the two-level router,
    PER SUBSPACE: codewords and vectors route on their m-th subvectors
    (a codeword's nearest branch differs per subspace), so the encode
    stage costs O(N·M·N^(1/4)) subvector folds instead of the flat
    O(N·M·√N) — the last of the measured flat-quantizer N^1.5 terms
    (pq_distortion_audit's decade-2 exponent 1.28) paid down. Routing
    is in-row against the collected branch array; candidates flow
    through a broadcast equi-join on (m, branch) with per-branch
    per-subspace codeword lists; the final argmin is a partial-agg
    min over BRANCH_PROBES in-row minima."""
    seeds = quantizer_seeds(emb_q)
    branches = hier_branches(emb_q)
    barr = branches.agg(F.collect_list(F.struct("branch", "bq")).alias("bs"))
    seed_sub = seeds.select("cell", _pq_split("sq").alias("m", "ssub"))

    def sub_route(vec_col: str) -> F.Column:
        # distances from this row's m-th subvector to every branch's
        # m-th subvector — the branch slice is taken in-row by m
        return F.array_sort(
            F.transform(
                "bs",
                lambda b: F.struct(
                    _d2_fold(
                        vec_col, F.slice(b["bq"], F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM)
                    ).alias("bd2"),
                    b["branch"].alias("branch"),
                ),
            )
        )

    seeds_bm = seed_sub.join(F.broadcast(barr), F.lit(True)).select(
        "m",
        "cell",
        "ssub",
        F.element_at(sub_route("ssub"), 1)["branch"].alias("branch"),
    )
    bcells = seeds_bm.groupBy("m", "branch").agg(
        F.collect_list(F.struct("cell", "ssub")).alias("cells")
    )
    vec_sub = emb_q.select("vec_id", _pq_split("vq").alias("m", "sub"))
    routed = (
        vec_sub.join(F.broadcast(barr), F.lit(True))
        .select(
            "vec_id",
            "m",
            "sub",
            F.explode(F.slice(sub_route("sub"), 1, BRANCH_PROBES)).alias("r"),
        )
        .select("vec_id", "m", "sub", F.col("r.branch").alias("branch"))
    )
    # in-row argmin over the routed branch's codeword list (F.get is
    # null-safe for a branch that owns no codewords in this subspace —
    # its twin with the identical subvector holds them)
    best_in_branch = F.get(
        F.array_sort(
            F.transform(
                "cells",
                lambda s: F.struct(
                    _d2_fold("sub", s["ssub"]).alias("d2"),
                    s["cell"].alias("cell"),
                ),
            )
        ),
        F.lit(0),
    )
    cand = routed.join(F.broadcast(bcells), ["m", "branch"]).select(
        "vec_id", "m", best_in_branch.alias("b")
    )
    return (
        cand.groupBy("vec_id", "m")
        .agg(F.min("b").alias("b"))
        .select("vec_id", "m", F.col("b.cell").alias("cell"), F.col("b.d2").alias("d2"))
    )


# srm … cand_m: _pq_hier_codes after _seeds_sql + _branches_sql — each
# codeword's nearest branch and each vector's BRANCH_PROBES nearest
# branches per subspace, and the vector's distances to those branches'
# codewords (cand_m, argmin by _pq_best_sql). Suffixed _m: the
# two-level assignment chain owns seed_route / vec_route.
_PQ_HIER_CODES_SQL = f"""srm AS (
  SELECT s.cell, s.d // {PQ_SUBDIM} AS m, b.branch,
         CAST(SUM((s.ss - b.bs) * (s.ss - b.bs)) AS BIGINT) AS bd2
  FROM seeds s JOIN branches b ON b.d = s.d
  GROUP BY 1, 2, 3
), seed_route_m AS (
  SELECT cell, m, branch FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cell, m ORDER BY bd2, branch) AS rn
    FROM srm
  ) t WHERE rn = 1
), vrm AS (
  SELECT v.vec_id, v.d // {PQ_SUBDIM} AS m, b.branch,
         CAST(SUM((v.vs - b.bs) * (v.vs - b.bs)) AS BIGINT) AS bd2
  FROM by_dim v JOIN branches b ON b.d = v.d
  GROUP BY 1, 2, 3
), vec_route_m AS (
  SELECT vec_id, m, branch FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY bd2, branch) AS rn
    FROM vrm
  ) t WHERE rn <= {BRANCH_PROBES}
), cand_m AS (
  SELECT r.vec_id, r.m, sr.cell,
         CAST(SUM((v.vs - s.ss) * (v.vs - s.ss)) AS BIGINT) AS d2
  FROM vec_route_m r
  JOIN seed_route_m sr ON sr.m = r.m AND sr.branch = r.branch
  JOIN seeds s ON s.cell = sr.cell AND s.d // {PQ_SUBDIM} = r.m
  JOIN by_dim v ON v.vec_id = r.vec_id AND v.d = s.d
  GROUP BY 1, 2, 3
), {_pq_best_sql("cand_m")}"""


def pq_hier_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq_distortion_audit's release over the two-level PER-SUBSPACE
    router (_pq_hier_codes): same per-subspace health columns
    (utilization, mse, err_share), encode cost O(N·M·N^(1/4)) instead
    of the flat O(N·M·√N). The exact flat audit remains registered as
    the small-scale reference; this is the production encode path the
    measured 1.28 decade-2 exponent demands (SCALE.md)."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    seeds = quantizer_seeds(emb_q)
    return _pq_audit_release(_pq_hier_codes(emb_q).select("m", "cell", "d2"), seeds)


PQ_HIER_DISTORTION_AUDIT_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_branches_sql("embeddings")},
{_PQ_HIER_CODES_SQL}{_PQ_AUDIT_SQL}"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over the PQ codes —
    the search half of product quantization: each query builds an
    M × |codebook| distance table against the codebooks ONCE, then any
    candidate's approximate distance is M table lookups summed — the
    corpus's raw vectors are never touched at query time, which is the
    entire point of searching compressed codes.

    Plan: the subspace-distance relation is computed once (cached) and
    consumed twice — argmin per (vector, subspace) gives the corpus
    codes; the query rows (vec_id < N_QUERIES) ARE the distance
    tables, broadcast at (queries × M × ≈√N) rows. The lookup is a
    broadcast equi-join on (subspace, codeword); per-(query, candidate)
    sums have exactly M exact-int64 terms, so ranking is
    engine-identical with the (distance, neighbor) tiebreak."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    seeds = quantizer_seeds(emb_q)
    dists = cached(_pq_subspace_dists(emb_q, seeds))
    codes = (
        dists.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "cell")).alias("b"))
        .select(F.col("vec_id").alias("neighbor_id"), "m", F.col("b.cell").alias("cell"))
    )
    qtab = dists.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", "cell", F.col("d2").alias("qd2")
    )
    return adc_topk(
        codes.join(F.broadcast(qtab), ["m", "cell"]).filter(
            F.col("neighbor_id") != F.col("query_id")
        )
    )


ANN_PQ_TOPK_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_PQ_DISTS_SQL}, {_pq_best_sql("dists")},
{_QTAB_SQL}, adc AS (
  SELECT q.query_id, k.vec_id AS neighbor_id, CAST(SUM(q.qd2) AS BIGINT) AS adc
  FROM best k JOIN qtab q ON q.m = k.m AND q.cell = k.cell
  WHERE k.vec_id <> q.query_id
  GROUP BY 1, 2
){_ADC_TOPK_SQL}"""


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the production ANN index shape (FAISS IVFPQ,
    non-residual variant): the coarse √N-cell quantizer prunes the
    corpus to a query's probed cells (ann_ivf_topk's first stage), and
    ranking inside the candidate set runs over COMPRESSED codes via
    ADC table lookups (ann_pq_topk's second stage) — raw vectors are
    touched by neither stage at query time. This is the configuration
    that serves 100 TB: the inverted file bounds the scan to
    ~probes/cells ≈ N^(-1/4) of the corpus, and each candidate costs
    M table lookups instead of a DIM-float cosine.

    Shared work: the per-(vector, subspace, seed) distance relation is
    computed ONCE — the coarse full-dim distance is its per-(vector,
    seed) sum (Σ_m d2_m = d2_full exactly, same integer grid), so the
    coarse assignment, the query probes, the corpus codes and the
    query ADC tables all fold out of one cached relation.

    Exactness: every quantity is exact int64 arithmetic until the one
    final sqrt (the IVF recipe); ranking tiebreaks on neighbor_id.
    Scale: coarse+code state per vector is M codewords; the ADC join
    is a broadcast equi-join on (query, subspace, codeword) at
    (queries × M × ≈√N) rows; the candidate join shuffles on the
    uniform cell key. No corpus self-join, no explode fan-out."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = quantize_fp()
    emb_q = emb.select("vec_id", quant.alias("vq"))
    seeds = quantizer_seeds(emb_q)
    dists = cached(_pq_subspace_dists(emb_q, seeds))
    # coarse: full-dim distance = sum of the M subspace distances
    full = dists.groupBy("vec_id", "cell").agg(F.sum("d2").alias("d2f"))
    assign = (
        full.groupBy("vec_id")
        .agg(F.min(F.struct("d2f", "cell")).alias("a"))
        .select("vec_id", F.col("a.cell").alias("cell"))
    )
    probes = ivf_probes(full, seeds, "d2f")
    # fine: PQ codes for the corpus, ADC tables for the queries
    codes = (
        dists.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "cell")).alias("b"))
        .select(F.col("vec_id").alias("neighbor_id"), "m", F.col("b.cell").alias("cw"))
    )
    qtab = dists.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("cell").alias("cw"), F.col("d2").alias("qd2")
    )
    return adc_topk(
        ivf_candidates(probes, assign)
        .join(codes, "neighbor_id")
        .join(F.broadcast(qtab), ["query_id", "m", "cw"])
    )


ANN_IVF_PQ_TOPK_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_PQ_DISTS_SQL}, coarse AS (
  SELECT vec_id, cell, CAST(SUM(d2) AS BIGINT) AS d2f FROM dists GROUP BY 1, 2
), {_assign_sql("coarse", "d2f")}, {_probes_sql("coarse", "d2f")},
{_pq_best_sql("dists")}, {_QTAB_SQL}, {_IVF_CAND_SQL}, {_IVF_ADC_SQL}{_ADC_TOPK_SQL}"""


def ann_hivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVF-PQ top-k — ann_ivf_pq_topk with BOTH index-build stages on
    the two-level router: the production serving shape with no flat
    O(N·√N) term left anywhere (VERDICT r9 #5 — the last unpaid
    frontier in a query a 100 TB user serves from).

    - Coarse: _hier_cand_seed routes every vector to its BRANCH_PROBES
      nearest ≈N^(1/4) branches in-row (1-row broadcast, zero shuffle)
      and assigns against only those branches' second-level seeds —
      O(N·N^(1/4)) dot products (ann_hivf_topk's stage; measured
      decade-2 exponent 0.93 vs the flat 1.26, SCALE.md).
    - Fine: _pq_hier_codes encodes the corpus per subspace through the
      same router — O(N·M·N^(1/4)) subvector folds (measured 1.00 vs
      the flat 1.23).
    - Query side: the ADC tables stay FLAT (every codeword, all ≈√N) —
      queries are the O(1)-bounded side, and a complete table is what
      makes ADC a pure lookup: Q·M·√N integer folds total, ~nothing.
      Ranking = Σ_m table[m, code_m] per candidate, exact int64; the
      one final sqrt only formats the output distance.

    Same output schema and ranking discipline as ann_ivf_pq_topk
    (adc asc, neighbor_id tiebreak); codes differ where the router's
    candidate subset differs (a two-level index is a different index —
    the FAISS IVF_HNSW/IVFPQ trade), which the audit pair
    pq_distortion_audit / pq_hier_distortion_audit quantifies.

    Scale: per-vector state is M codewords + one cell id; the ADC join
    shuffles candidates on neighbor_id against the M-row code relation
    and broadcasts the Q·M·√N query tables; no corpus self-join, no
    explode beyond the M-subspace posexplode."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    seeds = quantizer_seeds(emb_q)
    cand_seed = cached(_hier_cand_seed(emb_q).select("vec_id", "cell", "d2"))
    assign = (
        cand_seed.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell")).alias("a"))
        .select("vec_id", F.col("a.cell").alias("cell"))
    )
    probes = ivf_probes(cand_seed, seeds)
    codes = _pq_hier_codes(emb_q).select(
        F.col("vec_id").alias("neighbor_id"), "m", F.col("cell").alias("cw")
    )
    qtab = _pq_subspace_dists(
        emb_q.filter(F.col("vec_id") < N_QUERIES), seeds
    ).select(
        F.col("vec_id").alias("query_id"), "m",
        F.col("cell").alias("cw"), F.col("d2").alias("qd2"),
    )
    return adc_topk(
        ivf_candidates(probes, assign)
        .join(codes, "neighbor_id")
        .join(F.broadcast(qtab), ["query_id", "m", "cw"])
    )


# HIVF-PQ oracle: the coarse two-level WITH-chain (_HIER_ASSIGN_SQL)
# + the per-subspace hier codes + flat query-side ADC tables.
ANN_HIVF_PQ_TOPK_SQL = (
    _HIER_ASSIGN_SQL
    + f""", {_probes_sql("cand_seed")}, {_PQ_HIER_CODES_SQL},
{_PQ_DISTS_SQL}, {_QTAB_SQL}, {_IVF_CAND_SQL}, {_IVF_ADC_SQL}"""
    + _ADC_TOPK_SQL
)


KMEANS_CELLS = 8


def _lloyd_argmin(dists: DataFrame) -> DataFrame:
    """Nearest cell per vector — deterministic (dist, cell) tiebreak."""
    w = Window.partitionBy("vec_id").orderBy("dist_sq", "cell")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "dist_sq")
    )


def _lloyd_two_rounds(spark: SparkSession, sf_dir: str):
    """Shared two-round Lloyd core (see kmeans_lloyd for the exactness
    design): returns (assign1, dists2) — the round-1 assignment and the
    FULL (vec_id, cell, dist_sq) relation against the round-1-updated
    centroids. kmeans_lloyd takes dists2's argmin; kmeans_silhouette
    reads its first AND second minima."""
    emb = load_table(spark, sf_dir, "embeddings")
    by_dim = (
        emb.select("vec_id", F.posexplode("embedding").alias("d", "v"))
        .select(
            "vec_id",
            "d",
            F.floor(F.col("v").cast("double") * CENTROID_SCALE + 0.5).cast("long").alias("vs"),
        )
        .transform(cached)
    )
    seeds = by_dim.filter(F.col("vec_id") < KMEANS_CELLS).select(
        F.col("vec_id").cast("int").alias("cell"), "d", F.col("vs").alias("qc")
    )

    def dists(cent: DataFrame) -> DataFrame:
        diff = F.col("vs") - F.col("qc")
        return (
            by_dim.join(F.broadcast(cent), "d")
            .groupBy("vec_id", "cell")
            .agg(F.sum(diff * diff).alias("dist_sq"))
        )

    assign1 = _lloyd_argmin(dists(seeds)).transform(cached)
    sums = (
        assign1.join(by_dim, "vec_id")
        .groupBy("cell", "d")
        .agg(F.sum("vs").alias("s"), F.count("*").alias("n"))
    )
    requant = F.floor(F.col("s").cast("double") / F.col("n") + 0.5).cast("long")
    cent1 = (
        seeds.select("cell", "d", F.col("qc").alias("qc0"))
        .join(sums, ["cell", "d"], "left")
        .select("cell", "d", F.coalesce(requant, F.col("qc0")).alias("qc"))
    )
    return assign1, dists(cent1)


def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full Lloyd's k-means iterations (assign → recompute →
    re-assign), exactly oracle-checkable — the iterative-refinement
    step the one-shot IVF quantizer (ann_ivf_topk) stops short of.

    Exactness design: vectors are fixed-pointed once (floor(v·S+0.5) →
    int64); every distance is an exact integer Σ(vs−qc)²; updated
    centroids are RE-QUANTIZED to the same grid (floor(mean+0.5) — the
    int→double division is exact below 2^53, so both engines floor the
    same value), which keeps iteration 2's distances integer too. The
    argmin is a row_number window ordered (dist, cell): fully
    deterministic, ties to the lower cell id. Empty cells keep their
    seed centroid (left join + coalesce — same rule in the oracle).

    Scale notes: each iteration is one dimension-join (N·K·dim rows —
    the standard O(N·K·dim) Lloyd cost), one (vec,cell) partial-agg
    shuffle and one per-cell update agg; centroids (K·dim rows)
    broadcast. by_dim feeds every stage → cached once. For MANY
    iterations the loop would checkpoint per round exactly like
    connected components (dedup._truncate_lineage); at 2 iterations
    the plan stays comfortably bounded and fully lazy."""
    assign1, dists2 = _lloyd_two_rounds(spark, sf_dir)
    assign2 = _lloyd_argmin(dists2)
    return (
        assign2.alias("a2")
        .join(assign1.select("vec_id", F.col("cell").alias("cell1")), "vec_id")
        .select(
            "vec_id",
            "cell",
            F.col("dist_sq").alias("dist_sq_fp"),
            (F.col("cell") != F.col("cell1")).cast("int").alias("moved"),
        )
    )


# Shared two-round Lloyd CTE chain (by_dim … dist2) — the oracle twin
# of _lloyd_two_rounds, reused by KMEANS_LLOYD_SQL and
# KMEANS_SILHOUETTE_SQL so the two queries can never drift apart.
_LLOYD_CORE_SQL = f"""
WITH {_BY_DIM_SQL}, cent0 AS (
  SELECT CAST(vec_id AS INT) AS cell, d, vs AS qc FROM by_dim WHERE vec_id < {KMEANS_CELLS}
), dist1 AS (
  SELECT b.vec_id, c.cell, CAST(SUM((b.vs - c.qc) * (b.vs - c.qc)) AS BIGINT) AS dist_sq
  FROM by_dim b JOIN cent0 c USING (d) GROUP BY 1, 2
), assign1 AS (
  SELECT vec_id, cell, dist_sq FROM (
    SELECT vec_id, cell, dist_sq,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_sq, cell) AS rn
    FROM dist1) t WHERE rn = 1
), sums AS (
  SELECT a.cell, b.d, CAST(SUM(b.vs) AS BIGINT) AS s, COUNT(*) AS n
  FROM assign1 a JOIN by_dim b USING (vec_id) GROUP BY 1, 2
), cent1 AS (
  SELECT c0.cell, c0.d,
         COALESCE(CAST(floor(CAST(s1.s AS DOUBLE) / s1.n + 0.5) AS BIGINT), c0.qc) AS qc
  FROM cent0 c0 LEFT JOIN sums s1 ON s1.cell = c0.cell AND s1.d = c0.d
), dist2 AS (
  SELECT b.vec_id, c.cell, CAST(SUM((b.vs - c.qc) * (b.vs - c.qc)) AS BIGINT) AS dist_sq
  FROM by_dim b JOIN cent1 c USING (d) GROUP BY 1, 2
)"""


KMEANS_LLOYD_SQL = _LLOYD_CORE_SQL + """
, assign2 AS (
  SELECT vec_id, cell, dist_sq FROM (
    SELECT vec_id, cell, dist_sq,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_sq, cell) AS rn
    FROM dist2) t WHERE rn = 1
)
SELECT a2.vec_id, a2.cell, a2.dist_sq AS dist_sq_fp,
       CAST(a1.cell <> a2.cell AS INT) AS moved
FROM assign2 a2 JOIN assign1 a1 USING (vec_id)
"""


def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell clustering-quality readout: the simplified silhouette
    (Hruschka et al. 2004 — centroid distances instead of all-pairs,
    the only formulation that scales: O(N·K), never O(N²)) over the
    same two-round Lloyd state as kmeans_lloyd. For each vector,
    a = distance to its own (nearest) centroid, b = distance to the
    runner-up centroid, s = (b − a) / max(a, b) = (√b̂ − √â)/√b̂ since
    b ≥ a by construction; s = 0 when both distances are 0 (the
    degenerate tie, sklearn's convention). Output per cell: member
    count, mean/min/max silhouette.

    Exactness: distances are the core's exact int64 fixed-point sums;
    √ is correctly rounded IEEE on identical integers; per-point s is
    snapped once to 1e-6 fixed point so the per-cell MEAN is an exact
    integer sum in both engines (summation-order-proof — the same
    trick as the covariance snap). 100 TB: adds one window over the
    K-bounded per-vector distance rows and one groupBy(cell) on top of
    the Lloyd core's cost."""
    _, dists2 = _lloyd_two_rounds(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy("dist_sq", "cell")
    ranked = dists2.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    per_vec = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cell"))).alias("cell"),
        F.max(F.when(F.col("rn") == 1, F.col("dist_sq"))).alias("a_sq"),
        F.max(F.when(F.col("rn") == 2, F.col("dist_sq"))).alias("b_sq"),
    )
    sqrt_a = F.sqrt(F.col("a_sq").cast("double"))
    sqrt_b = F.sqrt(F.col("b_sq").cast("double"))
    s = F.when(
        F.col("b_sq").isNull() | (F.col("b_sq") == 0), F.lit(0.0)
    ).otherwise((sqrt_b - sqrt_a) / sqrt_b)
    scored = per_vec.select(
        "cell", F.floor(s * 1000000.0 + 0.5).cast("long").alias("s_fp")
    )
    return scored.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(
            F.sum("s_fp").cast("double") / (F.count("*").cast("double") * 1000000.0), 6
        ).alias("mean_sil"),
        F.round(F.min("s_fp").cast("double") / 1000000.0, 6).alias("min_sil"),
        F.round(F.max("s_fp").cast("double") / 1000000.0, 6).alias("max_sil"),
    )


KMEANS_SILHOUETTE_SQL = _LLOYD_CORE_SQL + """
, ranked AS (
  SELECT vec_id, cell, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_sq, cell) AS rn
  FROM dist2
), per_vec AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN cell END) AS cell,
         MAX(CASE WHEN rn = 1 THEN dist_sq END) AS a_sq,
         MAX(CASE WHEN rn = 2 THEN dist_sq END) AS b_sq
  FROM ranked WHERE rn <= 2 GROUP BY 1
), scored AS (
  SELECT cell,
         CAST(floor(
           (CASE WHEN b_sq IS NULL OR b_sq = 0 THEN 0.0
                 ELSE (sqrt(CAST(b_sq AS DOUBLE)) - sqrt(CAST(a_sq AS DOUBLE)))
                      / sqrt(CAST(b_sq AS DOUBLE)) END) * 1000000.0 + 0.5
         ) AS BIGINT) AS s_fp
  FROM per_vec
)
SELECT cell,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(s_fp) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) AS mean_sil,
       ROUND(CAST(MIN(s_fp) AS DOUBLE) / 1000000.0, 6) AS min_sil,
       ROUND(CAST(MAX(s_fp) AS DOUBLE) / 1000000.0, 6) AS max_sil
FROM scored GROUP BY cell
"""


SEMDEDUP_THRESHOLD = 0.35


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): block
    the corpus by k-means cell, compare embeddings ONLY within a cell,
    and keep the lowest-id member of every near-duplicate group.

    Plan: the same exact-integer Voronoi quantizer as ann_ivf_topk
    (hash-sampled ≈√N seeds via quantizer_seeds, fixed-point distances,
    argmin with cell tiebreak) assigns each vector a cell; a
    within-cell self-join (equi-join on cell, never an N×N cartesian —
    the one small cartesian in this plan is the ≈√N-row seed broadcast)
    scores candidate pairs by exact cosine; a vector is dropped iff
    some LOWER-id cell-mate clears the threshold — `dup_of` names the
    smallest such keeper-side id.

    The threshold is intentionally loose (0.35) for the synthetic
    near-uniform test embeddings; production SemDeDup runs ~0.95+ on
    trained encoders. Scale: the quadratic term is per-cell — the cell
    count is DERIVED from the corpus (≈√N hash-sampled seeds, so
    expected cell population ≈√N stays bounded as the corpus grows;
    cap asserted in test_quantizer_scaling), and the pair join shuffles
    on cell only. Output is one row per vector (keep flag + dup_of),
    the shape a downstream filter consumes.

    Per-pair cost discipline: the L2 norm is a pure per-VECTOR function,
    so it is computed once per vector before the pair join and carried
    as a column — each candidate pair then evaluates ONE array fold
    (the dot) instead of three. Same doubles bit-for-bit (the norm sees
    the identical array, the quotient is the identical expression), so
    the oracle threshold compare is unchanged; measured 3.5x on the
    pair stage at sf0.1 (higher-order folds are interpreted, not
    codegen'd — minimizing per-pair folds is the lever)."""
    from capstone_etl_spark.functions.vectors import dot_long, quantized_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    # Quantizer pass in ARRAY form: quantize each vector once, broadcast
    # the ≈√N quantized seed arrays, and fold the integer distance per
    # (vector, seed) — N×cells rows total, vs the posexplode form's
    # N×DIM×cells rows pushed through a shuffle (64x the volume at
    # DIM=64). Distances are the same exact-integer sums (order-free),
    # and min(struct(d2, cell)) is the same (d2, cell)-lexicographic
    # argmin the oracle's ROW_NUMBER computes — no window, one groupBy
    # of N×cells rows.
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    assign = cached(nearest_cell(ivf_seed_d2(emb_q, quantizer_seeds(emb_q))))
    # pair stage rides the ALREADY-QUANTIZED vectors: the verify
    # threshold compares the quantized-integer cosine (exact BIGINT
    # folds + one sqrt/mul/div — bit-reproducible in any engine build;
    # the family's de-fragilized key), with squared norms precomputed
    # per vector so each candidate pair evaluates ONE integer fold
    withv = assign.join(emb_q, "vec_id").withColumn("qn2", dot_long("vq", "vq"))
    a = withv.select(
        F.col("vec_id").alias("vec_a"), "cell",
        F.col("vq").alias("qa"), F.col("qn2").alias("na2"),
    )
    b = withv.select(
        F.col("vec_id").alias("vec_b"), "cell",
        F.col("vq").alias("qb"), F.col("qn2").alias("nb2"),
    )
    pair_cos = quantized_cosine("qa", "qb", "na2", "nb2")
    dup = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(pair_cos >= SEMDEDUP_THRESHOLD)
        .groupBy("vec_b")
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return (
        assign.join(dup, assign.vec_id == dup.vec_b, "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


SEMANTIC_DEDUP_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_FLAT_ASSIGN_SQL}, dup AS (
  SELECT b.vec_id AS vec_b, MIN(a.vec_id) AS dup_of
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE {cosine_q_cols_sql('ea.embedding', 'eb.embedding')} >= {SEMDEDUP_THRESHOLD}
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell, dup.dup_of IS NULL AS keep, dup.dup_of
FROM assign s LEFT JOIN dup ON dup.vec_b = s.vec_id
"""


def semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup with the two-level quantizer (hier_assign): the
    SemDeDup blocking/verify/keep-one semantics are unchanged — only
    the cell-assignment stage swaps from the flat O(N·√N) pass to the
    hierarchical O(N·N^(1/4)) one, which is the family's measured
    N^1.5 frontier paid down (SCALE.md). Cells, within-cell candidate
    pairs and the exact-cosine threshold verify keep the flat
    operator's bounded shapes; blocking is approximate either way
    (SemDeDup's own design), so the hierarchical router's boundary
    differences change WHICH near-identical pairs share a block, not
    the operator's contract."""
    from capstone_etl_spark.functions.vectors import dot_long, quantized_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    assign = cached(hier_assign(emb_q).select("vec_id", "cell"))
    # pair stage rides the ALREADY-QUANTIZED vectors: the verify
    # threshold compares the quantized-integer cosine (exact BIGINT
    # folds + one sqrt/mul/div — bit-reproducible in any engine build;
    # the family's de-fragilized key), with squared norms precomputed
    # per vector so each candidate pair evaluates ONE integer fold
    withv = assign.join(emb_q, "vec_id").withColumn("qn2", dot_long("vq", "vq"))
    a = withv.select(
        F.col("vec_id").alias("vec_a"), "cell",
        F.col("vq").alias("qa"), F.col("qn2").alias("na2"),
    )
    b = withv.select(
        F.col("vec_id").alias("vec_b"), "cell",
        F.col("vq").alias("qb"), F.col("qn2").alias("nb2"),
    )
    pair_cos = quantized_cosine("qa", "qb", "na2", "nb2")
    dup = (
        a.join(b, (a.cell == b.cell) & (F.col("vec_a") < F.col("vec_b")))
        .filter(pair_cos >= SEMDEDUP_THRESHOLD)
        .groupBy("vec_b")
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return assign.join(dup, assign.vec_id == dup.vec_b, "left").select(
        "vec_id", "cell", F.col("dup_of").isNull().alias("keep"), "dup_of"
    )


SEMANTIC_DEDUP_HIER_SQL = (
    _HIER_ASSIGN_SQL
    + f"""
, dup AS (
  SELECT b.vec_id AS vec_b, MIN(a.vec_id) AS dup_of
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE {cosine_q_cols_sql('ea.embedding', 'eb.embedding')} >= {SEMDEDUP_THRESHOLD}
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell, dup.dup_of IS NULL AS keep, dup.dup_of
FROM assign s LEFT JOIN dup ON dup.vec_b = s.vec_id
"""
)


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the two approximate ANN methods against the
    brute-force ground truth — the evaluation table an index-tuning
    loop consumes (more probes/planes → recall up, scan fraction up).
    Per (method, query): |approx∩exact| / k as exact integer counts
    over the two top-k relations; a LEFT join from the ground truth
    keeps queries an approximate method missed entirely (recall 0).
    Cost is the three ANN queries themselves; the comparison joins are
    query-set-sized."""
    exact = ann_brute_topk(spark, sf_dir).select("query_id", "neighbor_id")
    rows = []
    for method, fn in (("lsh", ann_lsh_topk), ("ivf", ann_ivf_topk)):
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        per_q = (
            exact.groupBy("query_id").agg(F.count("*").alias("k"))
            .join(hit.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        )
        rows.append(
            per_q.select(
                F.lit(method).alias("method"),
                "query_id",
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
                F.col("k").cast("long").alias("k"),
                (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("k")).alias("recall"),
            )
        )
    out = rows[0].unionByName(rows[1])
    return out


ANN_RECALL_EVAL_SQL = f"""
WITH exact AS ({ANN_BRUTE_TOPK_SQL}),
lsh AS ({ANN_LSH_TOPK_SQL}),
ivf AS ({ANN_IVF_TOPK_SQL}),
ex AS (SELECT query_id, neighbor_id FROM exact)
SELECT m.method, q.query_id,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       q.k,
       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / q.k AS recall
FROM (VALUES ('lsh'), ('ivf')) m(method)
CROSS JOIN (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM ex GROUP BY 1) q
LEFT JOIN (
  SELECT 'lsh' AS method, e.query_id, COUNT(*) AS n_hit
  FROM ex e JOIN lsh a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
  UNION ALL
  SELECT 'ivf', e.query_id, COUNT(*)
  FROM ex e JOIN ivf a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
) h ON h.method = m.method AND h.query_id = q.query_id
"""


OUTLIER_TOP = 5  # flagged vectors per label


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, vec_id, dist_to_centroid, rnk) — the OUTLIER_TOP vectors
    farthest from their own label centroid, per label: the mislabeled /
    noisy-embedding candidates a curation pass sends to review (the
    embedding-space cousin of mad_outliers).

    Composes label_centroid_assignment (exact fixed-point distances,
    see its docstring) and ranks on the ROUNDED distance with a vec_id
    tiebreak, so cross-engine last-ulp drift cannot reorder. The window
    partitions on label — bounded per-label population, never a global
    window."""
    d = label_centroid_assignment(spark, sf_dir)
    w = Window.partitionBy("label").orderBy(F.desc("dist_to_centroid"), F.asc("vec_id"))
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= OUTLIER_TOP)
        .select("label", "vec_id", "dist_to_centroid", "rnk")
    )


EMBEDDING_OUTLIERS_SQL = f"""
WITH dists AS MATERIALIZED ({LABEL_CENTROIDS_SQL})
SELECT label, vec_id, dist_to_centroid, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY label ORDER BY dist_to_centroid DESC, vec_id
  ) AS rnk
  FROM dists
) t WHERE rnk <= {OUTLIER_TOP}
"""


TRUNC_DIM = 16  # Matryoshka prefix length under evaluation


def matryoshka_recall(
    spark: SparkSession, sf_dir: str, trunc_dim: int | None = None
) -> DataFrame:
    """Recall@k of TRUNCATED-prefix cosine against full-dim cosine —
    the fidelity table a Matryoshka/MRL deployment reads before
    serving a shorter embedding prefix (cheaper index, same model):
    how many of the true top-k survive when similarity uses only the
    first `trunc_dim` (default TRUNC_DIM) of DIM dimensions?

    Both rankings are the brute kernel bounded by the N_QUERIES query
    set (eval-only, ann_recall_eval's scale contract): broadcast query
    set × one corpus scan per ranking, rounded-sim + neighbor-id
    ranking keys (the ANN family's determinism contract). The overlap
    join is top-k-sized. A production variant would rank the truncated
    side with the LSH/IVF index; the brute form is the ground-truth
    harness.

    Zero-norm guard (ADVICE r6): full-dim norms are nonzero by fixture
    construction but a TRUNC_DIM-prefix can be all zeros. qcosine()
    when-guards its division, returning NULL on a zero fixed-point
    norm (an unguarded double /0 would THROW under this session's ANSI
    mode, while DuckDB's IEEE division yields inf/NaN) — both engines
    therefore pin zero-norm similarity to 0.0 (coalesce over the
    guarded cosine here, COALESCE in the oracle)."""
    td = TRUNC_DIM if trunc_dim is None else trunc_dim
    emb = load_table(spark, sf_dir, "embeddings")

    def _topk(qe_col, ne_col):
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), qe_col.alias("qe")
        )
        n = emb.select(F.col("vec_id").alias("neighbor_id"), ne_col.alias("ne"))
        return (
            F.broadcast(q)
            .crossJoin(n)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(F.coalesce(qcosine("qe", "ne"), F.lit(0.0)), 6).alias("sim"),
            )
            .withColumn("rnk", F.row_number().over(sim_window("query_id")))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full = _topk(F.col("embedding"), F.col("embedding"))
    trunc = _topk(F.slice("embedding", 1, td), F.slice("embedding", 1, td))
    hit = full.join(trunc, ["query_id", "neighbor_id"], "left_semi")
    return (
        full.groupBy("query_id")
        .agg(F.count("*").alias("k"))
        .join(hit.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .select(
            "query_id",
            F.col("k").cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("k")
            ).alias("recall"),
        )
    )


MATRYOSHKA_RECALL_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
), scored_full AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(COALESCE({cosine_q_cols_sql('qe', 'e.embedding')}, 0.0), 6) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
), full_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
    FROM scored_full
  ) t WHERE rnk <= {TOP_K}
), scored_trunc AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(COALESCE({cosine_q_cols_sql(f'qe[1:{TRUNC_DIM}]', f'e.embedding[1:{TRUNC_DIM}]', TRUNC_DIM)}, 0.0), 6) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
), trunc_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
    FROM scored_trunc
  ) t WHERE rnk <= {TOP_K}
)
SELECT f.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COALESCE(SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
       CAST(COALESCE(SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS DOUBLE)
         / COUNT(*) AS recall
FROM full_topk f
LEFT JOIN trunc_topk tr
  ON tr.query_id = f.query_id AND tr.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension calibration table (n, min, max, mean, variance) —
    the audit a quantizer / whitening step reads before choosing scales
    (completes the intent of embedding_quantize the way ann_recall_eval
    completes the ANN family).

    Exactness design (house fixed-point pattern, see
    label_centroid_assignment): each component is scaled once via
    floor(v·S + 0.5) → int64; Σs and Σs² are exact integer sums
    (order-independent); mean = Σs/(n·S) and the population variance
    (n·Σs² − (Σs)²)/(n·S)² are deterministic functions of those exact
    integers, rounded to 6 dp. min/max of float are exact (no rounding
    mode involved). Magnitudes: |s| ≤ ~6e3 ⇒ s² ≤ 3.6e7, so the
    integer sums stay inside int64 up to n ≈ 2.5e11 vectors; the
    variance combine is the n-FREE double form
    (Σs²/n − (Σs/n)²)/S² — the n·Σs² integer form would overflow past
    n ≈ 10^5 — written identically in both engines (and identically in
    embedding_covariance, so the covariance diagonal equals this
    variance bit-for-bit).

    100 TB shape: posexplode is a map-side ×64 expand; the aggregation
    has exactly DIM=64 groups, so partial (map-side) aggregation
    collapses every partition to 64 rows before the single tiny
    shuffle. No joins, no windows."""
    emb = load_table(spark, sf_dir, "embeddings")
    by_dim = emb.select(F.posexplode("embedding").alias("d", "v")).select(
        "d",
        F.col("v").cast("double").alias("vd"),
        F.floor(F.col("v").cast("double") * CENTROID_SCALE + 0.5).cast("long").alias("s"),
    )
    n = F.count("*")
    ssum = F.sum("s")
    ssq = F.sum(F.col("s") * F.col("s"))
    scale = F.lit(float(CENTROID_SCALE))
    return (
        by_dim.groupBy("d")
        .agg(
            n.cast("long").alias("n"),
            F.round(F.min("vd"), 6).alias("vmin"),
            F.round(F.max("vd"), 6).alias("vmax"),
            F.round(ssum.cast("double") / (n * scale), 6).alias("mean"),
            F.round(
                (
                    ssq.cast("double") / n.cast("double")
                    - (ssum.cast("double") / n.cast("double"))
                    * (ssum.cast("double") / n.cast("double"))
                )
                / (scale * scale),
                6,
            ).alias("variance"),
        )
    )


EMBEDDING_DIM_STATS_SQL = f"""
WITH by_dim AS (
  SELECT d,
         CAST(embedding[d + 1] AS DOUBLE) AS vd,
         CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * {CENTROID_SCALE} + 0.5) AS BIGINT) AS s
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dims
)
SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(vd), 6) AS vmin,
       ROUND(MAX(vd), 6) AS vmax,
       ROUND(CAST(SUM(s) AS DOUBLE) / (COUNT(*) * {CENTROID_SCALE}.0), 6) AS mean,
       ROUND((CAST(SUM(s * s) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(s) AS DOUBLE) / COUNT(*)) * (CAST(SUM(s) AS DOUBLE) / COUNT(*)))
             / ({CENTROID_SCALE}.0 * {CENTROID_SCALE}.0), 6) AS variance
FROM by_dim
GROUP BY d
"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions —
    the input to PCA / whitening / decorrelation in an embedding
    pipeline. cov(i,j) = E[v_i v_j] − E[v_i]E[v_j] over all vectors.

    Exactness: components are fixed-pointed once (floor(v·S+0.5) →
    int64, shared transform); Σs_i, Σs_j and Σ(s_i·s_j) are exact
    integer sums (products ≤ 3.6e7, times n=10^9 rows still < 2^63).
    The final combine runs in double as
    (Σs_is_j/n − (Σs_i/n)·(Σs_j/n)) / S² — a fixed IEEE expression of
    three exact integers, identical in both engines, rounded to 6 dp.
    (Unlike the n·Σ form this never overflows at large n.)

    100 TB shape: the expand is a MAP-ONLY double posexplode over the
    scaled array (×DIM² per row — no self-join, no shuffle to build
    pairs), filtered to i ≤ j (2080 cells at DIM=64); the aggregation
    has exactly 2080 groups, so map-side partial aggregation collapses
    each partition to ≤2080 rows before one tiny shuffle; the vector
    count n is carried per-cell by the same aggregation (no separate
    count pass, no driver-side action).

    Snap discipline (r5 driver hash-mismatch fix): the final 6-dp snap
    is floor(x·1e6 + 0.5)/1e6 + 0.0 — NOT the engines' round().
    Spark's round(double) is exact-decimal HALF_UP while DuckDB's is a
    float-multiply trick, so they can disagree at half boundaries; and
    DuckDB's round preserves the sign of a tiny negative (→ -0.0)
    while Spark's does not, which hashes differently even though
    -0.0 == 0.0 compares equal. floor on identical IEEE inputs is
    bit-identical in both engines, and + 0.0 maps -0.0 → 0.0 (a no-op
    on every other value)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scaled = emb.select(
        F.expr(
            f"transform(embedding, v -> cast(floor(cast(v as double) * {CENTROID_SCALE} + 0.5) as bigint))"
        ).alias("sv")
    )
    pairs = (
        scaled.select(F.posexplode("sv").alias("i", "si"), "sv")
        .select("i", "si", F.posexplode("sv").alias("j", "sj"))
        .filter(F.col("j") >= F.col("i"))
    )
    sums = pairs.groupBy("i", "j").agg(
        F.sum(F.col("si") * F.col("sj")).alias("sij"),
        F.sum("si").alias("ssi"),
        F.sum("sj").alias("ssj"),
        F.count("*").alias("n"),
    )
    nd = F.col("n").cast("double")
    s2 = F.lit(float(CENTROID_SCALE)) * F.lit(float(CENTROID_SCALE))
    raw = (
        F.col("sij").cast("double") / nd
        - (F.col("ssi").cast("double") / nd) * (F.col("ssj").cast("double") / nd)
    ) / s2
    return sums.select(
        "i",
        "j",
        (F.floor(raw * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0) + F.lit(0.0)).alias(
            "cov"
        ),
    )


EMBEDDING_COVARIANCE_SQL = f"""
WITH scaled AS (
  SELECT list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * {CENTROID_SCALE} + 0.5) AS BIGINT)) AS sv
  FROM embeddings
), pairs AS (
  SELECT i, j, sv[i + 1] AS si, sv[j + 1] AS sj
  FROM scaled
  CROSS JOIN (SELECT unnest(range(0, {DIM})) AS i) di
  CROSS JOIN (SELECT unnest(range(0, {DIM})) AS j) dj
  WHERE j >= i
)
SELECT i, j,
       floor((CAST(SUM(si * sj) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(si) AS DOUBLE) / COUNT(*)) * (CAST(SUM(sj) AS DOUBLE) / COUNT(*)))
             / ({CENTROID_SCALE}.0 * {CENTROID_SCALE}.0) * 1000000.0 + 0.5)
       / 1000000.0 + 0.0 AS cov
FROM pairs
GROUP BY i, j
"""


PCA_ITERS = 10
PCA_SCALE = 1_000_000  # fixed-point scale for matrix cells AND vector


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding space by PCA_ITERS
    unrolled power iterations over the covariance matrix — the third
    iterative algorithm in the repo (after connected components and
    pagerank), this one linear algebra: v ← normalize(A·v), λ by the
    Rayleigh quotient of the final vector. The direction a whitening /
    de-biasing / outlier-projection step needs.

    Exactness: covariance cells snap to int64 (floor(cov·S + 0.5) — cov
    is already 6-dp-rounded so the snap is lossless); the vector lives
    in int64 S-units with max-abs normalization each round. The
    matrix-vector product Σ_j ac_ij·v_j is an exact integer sum
    (|ac| ≤ 1e5·, |v| ≤ S ⇒ terms ≤ 1e11, DIM of them — never
    overflows); renormalization floor(w·S / wmax + 0.5) runs in double
    on int64 inputs — deterministic IEEE ops on identical operands in
    both engines, with floor(+0.5) rather than any round-half mode.
    The oracle unrolls the identical recurrence as chained CTEs from
    the same constants (hierarchy_pagerank's recipe).

    100 TB shape: A is DIM²=4096 rows REGARDLESS of corpus size —
    everything after the covariance aggregation is constant-size work
    (the expensive part is embedding_covariance's one scan, see its
    docstring); v is a 64-row broadcast per iteration and wmax a 1-row
    broadcast (allowlisted cartesian). Six fixed rounds keep lineage
    linear."""
    cov = embedding_covariance(spark, sf_dir)
    upper = cov.select(
        "i", "j", F.floor(F.col("cov") * PCA_SCALE + 0.5).cast("long").alias("ac")
    )
    # The matrix is DIM² = 4,096 rows REGARDLESS of corpus size, and
    # every downstream iteration relation is ≤ DIM rows — single-
    # partition them so the 10 unrolled rounds run one task apiece
    # instead of paying 32-partition shuffle/task overhead per round
    # (measured ~40% of the query's wall time at sf0.1; the corpus-
    # scale work all happens upstream in embedding_covariance).
    amat = (
        upper.unionByName(
            upper.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "ac"
            )
        )
        .coalesce(1)
        .transform(cached)
    )
    v = amat.select("i").distinct().select("i", F.lit(PCA_SCALE).cast("long").alias("v"))
    wmax = None
    for _ in range(PCA_ITERS):
        # truncated: w feeds BOTH wmax and the renormalized v, so each
        # unrolled round embeds the previous plan twice — 2^ITERS plan
        # growth without the cut (caching keeps the full lineage; see
        # session.checkpoint_truncate / the CC loop's identical move).
        # The checkpointed relation is DIM rows — the eager job is
        # trivial. (Cutting every second round was measured: the 4×
        # uncut plan costs Catalyst more than the saved jobs return.)
        w = checkpoint_truncate(
            amat.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("ac") * F.col("v")).alias("w"))
        )
        wmax = w.agg(F.max(F.abs(F.col("w"))).alias("wm"))
        # wm = 0 (zero covariance matrix — e.g. all-identical vectors)
        # would make the normalization 0/0 → NaN → engine-divergent
        # casts; keep the zero vector instead, same guard both engines.
        v = w.crossJoin(F.broadcast(wmax)).select(
            "i",
            F.when(
                F.col("wm") > 0,
                F.floor(
                    F.col("w").cast("double") * PCA_SCALE / F.col("wm").cast("double")
                    + 0.5
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("v"),
        )
    # λ by Rayleigh quotient vᵀAv / vᵀv — error O(gap^2k) vs the max-norm
    # estimate's O(gap^k), which matters on a spectrum with a small
    # eigengap. One extra matrix-vector product; vᵀ(A·S)v can reach
    # ~4e20 so the numerator sums in DECIMAL(38,0) (exact, order-free);
    # the denominator Σv² fits int64. λ = num/den/S in double, 6 dp.
    wf = (
        amat.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("ac") * F.col("v")).alias("w"))
    )
    den = F.sum(F.col("v") * F.col("v"))
    ray = (
        wf.join(v, "i")
        .agg(
            F.when(
                den > 0,
                F.sum(F.col("v").cast("decimal(38,0)") * F.col("w")).cast("double")
                / den.cast("double")
                / PCA_SCALE,
            ).alias("lam")
        )
    )
    return (
        v.crossJoin(F.broadcast(ray))
        .select(
            F.col("i").alias("d"),
            F.round(F.col("v").cast("double") / PCA_SCALE, 6).alias("component"),
            F.round(F.col("lam"), 6).alias("eigenvalue"),
        )
    )


def _pca_power_sql() -> str:
    iters = []
    prev = "r0"
    for k in range(1, PCA_ITERS + 1):
        # MATERIALIZED: each round references the previous round twice
        # (the product and its max) — inlined, the oracle's plan would
        # grow 2^ITERS like the un-truncated Spark lineage did.
        iters.append(
            f"""
w{k} AS MATERIALIZED (
  SELECT a.i, CAST(SUM(a.ac * r.v) AS BIGINT) AS w
  FROM amat a JOIN {prev} r ON r.i = a.j
  GROUP BY a.i
), m{k} AS MATERIALIZED (SELECT MAX(ABS(w)) AS wm FROM w{k}),
r{k} AS MATERIALIZED (
  SELECT i, CASE WHEN wm > 0
                 THEN CAST(floor(CAST(w AS DOUBLE) * {PCA_SCALE} / CAST(wm AS DOUBLE) + 0.5) AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS v
  FROM w{k} CROSS JOIN m{k}
)"""
        )
        prev = f"r{k}"
    iters.append(
        f"""
wf AS MATERIALIZED (
  SELECT a.i, CAST(SUM(a.ac * r.v) AS BIGINT) AS w
  FROM amat a JOIN {prev} r ON r.i = a.j
  GROUP BY a.i
), ray AS MATERIALIZED (
  SELECT CASE WHEN SUM(r.v * r.v) > 0
              THEN CAST(SUM(CAST(r.v AS HUGEINT) * w.w) AS DOUBLE)
                   / CAST(SUM(r.v * r.v) AS DOUBLE)
                   / {PCA_SCALE} END AS lam
  FROM {prev} r JOIN wf w ON w.i = r.i
)"""
    )
    return f"""
WITH cov AS MATERIALIZED ({EMBEDDING_COVARIANCE_SQL}),
upper_m AS MATERIALIZED (
  SELECT i, j, CAST(floor(cov * {PCA_SCALE} + 0.5) AS BIGINT) AS ac FROM cov
),
amat AS MATERIALIZED (
  SELECT i, j, ac FROM upper_m
  UNION ALL
  SELECT j AS i, i AS j, ac FROM upper_m WHERE i <> j
),
r0 AS MATERIALIZED (SELECT DISTINCT i, CAST({PCA_SCALE} AS BIGINT) AS v FROM amat),{",".join(iters)}
SELECT r.i AS d,
       ROUND(CAST(r.v AS DOUBLE) / {PCA_SCALE}, 6) AS component,
       ROUND(y.lam, 6) AS eigenvalue
FROM {prev} r CROSS JOIN ray y
"""


PCA_POWER_ITERATION_SQL = _pca_power_sql()


def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the calibration: per-dimension standardization
    z = (v − mean)/√variance using embedding_dim_stats' table — the
    diagonal-whitening step that makes dimensions comparable before
    quantization, cosine search, or outlier screens (the apply half of
    the calibrate→apply loop; embedding_quantize is the other
    consumer).

    Determinism: mean and variance arrive ALREADY 6-dp-rounded from
    dim stats (exact decimals in double), v is float32-exact in
    double; z is one fixed IEEE expression of those, rounded to 6 dp.
    Zero-variance dimensions emit NULL (no information to whiten), by
    the same guard both engines spell identically.

    100 TB shape: the stats relation is DIM=64 rows broadcast; the
    apply is a map-side ×64 posexplode + broadcast hash join — no
    data-sized shuffle anywhere (the stats aggregation itself is
    embedding_dim_stats' one tiny-reduce pass)."""
    emb = load_table(spark, sf_dir, "embeddings")
    stats = embedding_dim_stats(spark, sf_dir).select("d", "mean", "variance")
    by_dim = emb.select("vec_id", F.posexplode("embedding").alias("d", "v"))
    z = (F.col("v").cast("double") - F.col("mean")) / F.sqrt(F.col("variance"))
    return (
        by_dim.join(F.broadcast(stats), "d")
        .select(
            "vec_id",
            "d",
            F.when(F.col("variance") > 0, F.round(z, 6)).alias("z"),
        )
    )


EMBEDDING_WHITENING_SQL = f"""
WITH stats AS ({EMBEDDING_DIM_STATS_SQL}),
by_dim AS (
  SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dims
)
SELECT b.vec_id, b.d,
       CASE WHEN s.variance > 0
            THEN ROUND((b.v - s.mean) / sqrt(s.variance), 6) END AS z
FROM by_dim b JOIN stats s ON s.d = b.d
"""


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: for each query vector, the top-k
    most-similar vectors with a DIFFERENT label — the mining pass a
    contrastive/metric-learning pipeline runs per epoch (easy
    negatives teach nothing; the hard ones sit just across the
    boundary). Candidates come from the SAME LSH bucket machinery as
    ann_lsh_topk (the scale path — similarity is what makes a
    negative hard, so the ANN index is the right candidate generator);
    the label filter and cosine rerank run on candidates only, never
    corpus × corpus.

    One extra uniform vec_id equi-join per side attaches labels; the
    label filter drops same-class candidates BEFORE the rerank join
    touches the vectors. Ranking keys on the rounded similarity with a
    neighbor_id tiebreak, same determinism contract as the ANN family."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    buckets = lsh_buckets(emb).transform(cached)
    qb = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    cand = (
        qb.join(buckets.withColumnRenamed("vec_id", "neighbor_id"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .join(
            F.broadcast(
                labels.filter(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
                )
            ),
            "query_id",
        )
        .join(
            labels.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neighbor_label")),
            "neighbor_id",
        )
        .filter(F.col("query_label") != F.col("neighbor_label"))
    )
    # filter BEFORE the broadcast hint: query_id is already bounded by
    # N_QUERIES upstream (join key restricts rows either way), but
    # broadcasting the unfiltered corpus-sized relation would OOM the
    # driver at scale (ADVICE r5 #1)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round(qcosine("qe", "ne"), 6).alias("sim"),
        )
    )
    return sim_topk(
        scored, ("query_id", "query_label", "neighbor_id", "neighbor_label", "sim", "rnk")
    )


HARD_NEGATIVE_MINING_SQL = f"""
WITH buckets AS (
  {_BUCKETS_SQL}
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
  FROM buckets qb
  JOIN buckets nb ON qb.tbl = nb.tbl AND qb.bucket = nb.bucket AND qb.vec_id <> nb.vec_id
  WHERE qb.vec_id < {N_QUERIES}
), labeled AS (
  SELECT c.query_id, ql.label AS query_label, c.neighbor_id, nl.label AS neighbor_label
  FROM cand c
  JOIN embeddings ql ON ql.vec_id = c.query_id
  JOIN embeddings nl ON nl.vec_id = c.neighbor_id
  WHERE ql.label <> nl.label
), scored AS (
  SELECT c.query_id, c.query_label, c.neighbor_id, c.neighbor_label,
         ROUND({cosine_q_cols_sql('q.embedding', 'n.embedding')}, 6) AS sim
  FROM labeled c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
)
SELECT query_id, query_label, neighbor_id, neighbor_label, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
) t WHERE rnk <= {TOP_K}
"""


# ------------------------------------------ semantic decontamination

# Embedding-space decontamination: the n-gram pass (dedup.py
# benchmark_decontamination, reference-analogous exact-overlap family)
# misses PARAPHRASED benchmark leakage — same meaning, different
# surface tokens. The embedding analogue closes that hole: a training
# vector whose cosine to any benchmark vector clears the threshold is
# flagged, however the text was reworded. Same stand-in eval-set
# convention as the n-gram pass (id % 50 == 0) so the two audits are
# directly joinable per document.
SEM_BENCH_MOD = 50            # mirrors dedup.BENCH_MOD
# Looser than PAIR_THRESHOLD (near-dup): paraphrase leakage lives below
# the near-identical band, so the decontamination τ casts a wider net
# and the verdict relation is reviewed, not auto-dropped.
SEM_DECON_THRESHOLD = 0.3     # cosine >= τ → semantic leak


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-vector semantic-leak verdict: (train_vec,
    n_bench_hits, max_cos, worst_bench) for every non-benchmark vector
    whose cosine to >=1 benchmark vector is >= SEM_DECON_THRESHOLD;
    worst_bench is the argmax benchmark (ties to the smaller vec_id).

    Scale plan (100 TB): candidates come from the deterministic
    hyperplane-LSH bucket join — BIPARTITE (train side x bench side),
    so cost scales with cross-cut bucket co-occupancy, never
    |corpus| x |bench|; the bench side of the join is the small
    relation (benchmarks are ~10^5 rows at any corpus size) and
    broadcastable by AQE. Verification computes one cosine per
    candidate with per-vector norms precomputed (the
    embedding_pairs_threshold discipline); the verdict is one groupBy
    on train_vec whose argmax is a min(struct) aggregation, no
    windows over corpus-sized relations."""
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = lsh_buckets(emb, planes=_PAIR_PLANES).transform(cached)
    is_bench = F.col("vec_id") % SEM_BENCH_MOD == 0
    cand = (
        buckets.filter(~is_bench).alias("t")
        .join(
            buckets.filter(is_bench).alias("b"),
            (F.col("t.tbl") == F.col("b.tbl"))
            & (F.col("t.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("t.vec_id").alias("train_vec"),
            F.col("b.vec_id").alias("bench_vec"),
        )
        .distinct()
    )
    from capstone_etl_spark.functions.vectors import dot_long, quantized_cosine

    emb_q = emb.select("vec_id", quantize_fp().alias("vq")).withColumn(
        "qn2", dot_long("vq", "vq")
    )
    et = emb_q.select(
        F.col("vec_id").alias("train_vec"), F.col("vq").alias("qa"),
        F.col("qn2").alias("na2"),
    )
    eb = emb_q.select(
        F.col("vec_id").alias("bench_vec"), F.col("vq").alias("qb"),
        F.col("qn2").alias("nb2"),
    )
    # quantized-integer cosine (the family's de-fragilized key): exact
    # BIGINT folds, bit-identical threshold compare in any engine build
    sim = quantized_cosine("qa", "qb", "na2", "nb2")
    # project the cosine BEFORE filtering so the 64-dim fold runs
    # once per candidate — a filter+select pair would evaluate it twice
    # (no cross-operator subexpression elimination); the threshold still
    # compares the unrounded value, mirroring the oracle's WHERE
    hits = (
        cand.join(et, "train_vec")
        .join(eb, "bench_vec")
        .select("train_vec", "bench_vec", sim.alias("_sim"))
        .filter(F.col("_sim") >= SEM_DECON_THRESHOLD)
        .select("train_vec", "bench_vec", F.round("_sim", 6).alias("simr"))
    )
    return hits.groupBy("train_vec").agg(
        F.count("*").alias("n_bench_hits"),
        F.max("simr").alias("max_cos"),
        F.min(
            F.struct((-F.col("simr")).alias("ns"), F.col("bench_vec").alias("bv"))
        )["bv"].alias("worst_bench"),
    )


# zero-norm guard is built into the quantized cosine's CASE (NULL on a
# zero fixed-point norm), mirroring the Spark side's when-guard
_SEM_DECON_COS = "(" + cosine_q_cols_sql("ea.embedding", "eb.embedding") + ")"

SEMANTIC_DECONTAMINATION_SQL = f"""
WITH buckets AS (
  {_PAIR_BUCKETS_SQL}
), cand AS (
  SELECT DISTINCT t.vec_id AS train_vec, b.vec_id AS bench_vec
  FROM buckets t JOIN buckets b
    ON t.tbl = b.tbl AND t.bucket = b.bucket
  WHERE t.vec_id % {SEM_BENCH_MOD} <> 0 AND b.vec_id % {SEM_BENCH_MOD} = 0
), hits AS (
  SELECT c.train_vec, c.bench_vec, ROUND({_SEM_DECON_COS}, 6) AS simr
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.train_vec
  JOIN embeddings eb ON eb.vec_id = c.bench_vec
  WHERE {_SEM_DECON_COS} >= {SEM_DECON_THRESHOLD}
), worst AS (
  SELECT train_vec, bench_vec AS worst_bench FROM (
    SELECT train_vec, bench_vec,
           ROW_NUMBER() OVER (PARTITION BY train_vec ORDER BY simr DESC, bench_vec) AS rn
    FROM hits
  ) r WHERE rn = 1
)
SELECT h.train_vec, CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       MAX(h.simr) AS max_cos, MAX(w.worst_bench) AS worst_bench
FROM hits h JOIN worst w USING (train_vec)
GROUP BY h.train_vec
"""


# ------------------------------------------------- cell medoid prototypes
#
# Coreset / prototype selection: one REPRESENTATIVE vector per Voronoi
# cell of the hash-sampled quantizer — the medoid (the member
# minimizing summed squared distance to its cellmates), not the
# centroid, because a prototype must be an actual corpus member (it has
# a doc, a text, a provenance; a mean vector has none). This is the
# table a curation UI shows per cluster, the seed set a distillation /
# active-learning loop starts from, and the compressed stand-in corpus
# for expensive per-cluster evaluations.


def ivf_cell_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, medoid, pop, mean_d2): the medoid vec_id of every
    quantizer cell, the cell population, and the medoid's mean squared
    distance to the cell (its tightness — large = diffuse cell).

    Exactness: distances are integer sums over the fixed-point
    quantized vectors (the IVF discipline), so both engines pick the
    identical argmin with the identical (tot_d2, vec_id) tiebreak; the
    only float is the final mean, rounded once.

    Scale plan: assignment is the standard O(N·√N) quantizer pass with
    the seed array broadcast; the pairwise stage joins the cell-keyed
    relation to itself, so its cost is Σ pop² — bounded by the per-cell
    cap that ivf_cell_balance audits (≈√N per cell → O(N) pairs per
    cell, O(N^1.5) total, the same budget kmeans_silhouette spends).
    At 100 TB the medoid would run on the PQ codes instead of raw
    vectors — same plan shape, 64× less data moved."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    seeds = quantizer_seeds(emb_q)
    d2_seed = _d2_fold("vq", "sq")
    assign = cached(
        emb_q.join(F.broadcast(seeds), F.lit(True))
        .select("vec_id", "vq", "cell", d2_seed.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell", "vq")).alias("m"))
        .select("vec_id", F.col("m.cell").alias("cell"), F.col("m.vq").alias("vq"))
    )
    d2_pair = _d2_fold("vqa", "vqb")
    tot = (
        assign.select("cell", F.col("vec_id").alias("va"), F.col("vq").alias("vqa"))
        .join(
            assign.select(
                F.col("cell").alias("cellb"),
                F.col("vec_id").alias("vb"),
                F.col("vq").alias("vqb"),
            ),
            F.col("cell") == F.col("cellb"),
        )
        .select("cell", "va", d2_pair.alias("d2"))
        .groupBy("cell", "va")
        .agg(F.sum("d2").alias("tot_d2"))
    )
    return tot.groupBy("cell").agg(
        F.min(F.struct("tot_d2", "va")).alias("m"),
        F.count("*").cast("long").alias("pop"),
    ).select(
        "cell",
        F.col("m.va").alias("medoid"),
        "pop",
        F.round(F.col("m.tot_d2").cast("double") / F.col("pop"), 6).alias("mean_d2"),
    )


IVF_CELL_MEDOIDS_SQL = f"""
WITH {_seeds_sql("embeddings")}, {_FLAT_ASSIGN_SQL}, pd AS (
  SELECT aa.cell, aa.vec_id AS va, bb.vec_id AS vb,
         CAST(SUM((x.vs - y.vs) * (x.vs - y.vs)) AS BIGINT) AS d2
  FROM assign aa
  JOIN assign bb ON aa.cell = bb.cell
  JOIN by_dim x ON x.vec_id = aa.vec_id
  JOIN by_dim y ON y.vec_id = bb.vec_id AND y.d = x.d
  GROUP BY 1, 2, 3
), tot AS (
  SELECT cell, va, CAST(SUM(d2) AS BIGINT) AS tot_d2, COUNT(*) AS pop
  FROM pd GROUP BY 1, 2
)
SELECT cell, va AS medoid, CAST(pop AS BIGINT) AS pop,
       ROUND(CAST(tot_d2 AS DOUBLE) / pop, 6) AS mean_d2
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY tot_d2, va) AS rn
  FROM tot
) m WHERE rn = 1
"""


# --------------------------------------------------------- hubness audit
#
# High-dimensional kNN pathology: a few "hub" vectors appear in a
# disproportionate share of neighbor lists while antihubs appear in
# none (Radovanović et al. 2010) — hubs degrade retrieval diversity and
# are a known symptom of un-normalized or anisotropic embedding spaces
# (the condition embedding_whitening corrects). This audit takes the
# SERVED neighbor lists (the IVF index's own top-k answers) and reports
# the in-degree distribution, so index-quality drift shows up as a
# shifting histogram rather than an anecdote.


def hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(in_degree, n_neighbors, n_results, n_distinct) — for every
    observed in-degree, how many corpus vectors appear that many times
    across all query neighbor lists; the two constant columns give the
    totals (n_results = Σ degree·count = queries × k) so hub
    concentration (max degree vs n_distinct) reads off the table.

    Scale plan: composes ann_ivf_topk's candidate pipeline (inherits
    its seed/probe-count broadcasts), then two tiny aggregations —
    groupBy(neighbor) over the queries×k result rows and groupBy(degree)
    over the ≤ n_distinct rows; the totals ride back as a 1-row
    broadcast."""
    topk = ann_ivf_topk(spark, sf_dir)
    deg = cached(topk.groupBy("neighbor_id").agg(F.count("*").alias("in_degree")))
    hist = deg.groupBy("in_degree").agg(F.count("*").cast("long").alias("n_neighbors"))
    totals = deg.agg(
        F.sum("in_degree").cast("long").alias("n_results"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    return hist.join(F.broadcast(totals), F.lit(True)).select(
        F.col("in_degree").cast("long").alias("in_degree"),
        "n_neighbors",
        "n_results",
        "n_distinct",
    )


HUBNESS_AUDIT_SQL = f"""
WITH base AS (
{ANN_IVF_TOPK_SQL}
), deg AS (
  SELECT neighbor_id, CAST(COUNT(*) AS BIGINT) AS in_degree FROM base GROUP BY 1
), totals AS (
  SELECT CAST(SUM(in_degree) AS BIGINT) AS n_results,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM deg
)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       t.n_results, t.n_distinct
FROM deg CROSS JOIN totals t
GROUP BY in_degree, t.n_results, t.n_distinct
"""


QUERIES = {
    "embedding_norms": embedding_norms,
    "ann_brute_topk": ann_brute_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "embedding_pairs": embedding_pairs_threshold,
    "semantic_dedup": semantic_dedup,
    "label_centroids": label_centroid_assignment,
    "embedding_quantize": embedding_quantize,
    "kmeans_lloyd": kmeans_lloyd,
    "kmeans_silhouette": kmeans_silhouette,
    "ann_radius_search": ann_radius_search,
    "label_separability": label_separability,
    "ann_recall_eval": ann_recall_eval,
    "ivf_probe_recall_curve": ivf_probe_recall_curve,
    "matryoshka_recall": matryoshka_recall,
    "embedding_outliers": embedding_outliers,
    "embedding_dim_stats": embedding_dim_stats,
    "embedding_covariance": embedding_covariance,
    "pca_power_iteration": pca_power_iteration,
    "embedding_whitening": embedding_whitening,
    "embedding_pq": embedding_pq,
    "pq_distortion_audit": pq_distortion_audit,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    "hard_negative_mining": hard_negative_mining,
    "semantic_decontamination": semantic_decontamination,
    "ivf_cell_medoids": ivf_cell_medoids,
    "hubness_audit": hubness_audit,
    "ann_hivf_topk": ann_hivf_topk,
    "hivf_cell_medoids": hivf_cell_medoids,
    "semantic_dedup_hier": semantic_dedup_hier,
    "bitext_mining": bitext_mining,
    "pq_hier_distortion_audit": pq_hier_distortion_audit,
    "ann_hivf_pq_topk": ann_hivf_pq_topk,
}

ORACLE_SQL = {
    "embedding_norms": EMBEDDING_NORMS_SQL,
    "ann_brute_topk": ANN_BRUTE_TOPK_SQL,
    "ann_lsh_topk": ANN_LSH_TOPK_SQL,
    "ann_ivf_topk": ANN_IVF_TOPK_SQL,
    "embedding_pairs": EMBEDDING_PAIRS_THRESHOLD_SQL,
    "semantic_dedup": SEMANTIC_DEDUP_SQL,
    "label_centroids": LABEL_CENTROIDS_SQL,
    "embedding_quantize": EMBEDDING_QUANTIZE_SQL,
    "kmeans_lloyd": KMEANS_LLOYD_SQL,
    "kmeans_silhouette": KMEANS_SILHOUETTE_SQL,
    "ann_radius_search": ANN_RADIUS_SEARCH_SQL,
    "label_separability": LABEL_SEPARABILITY_SQL,
    "ann_recall_eval": ANN_RECALL_EVAL_SQL,
    "ivf_probe_recall_curve": _ivf_probe_curve_sql(),
    "matryoshka_recall": MATRYOSHKA_RECALL_SQL,
    "embedding_outliers": EMBEDDING_OUTLIERS_SQL,
    "embedding_dim_stats": EMBEDDING_DIM_STATS_SQL,
    "embedding_covariance": EMBEDDING_COVARIANCE_SQL,
    "pca_power_iteration": PCA_POWER_ITERATION_SQL,
    "embedding_whitening": EMBEDDING_WHITENING_SQL,
    "embedding_pq": EMBEDDING_PQ_SQL,
    "pq_distortion_audit": PQ_DISTORTION_AUDIT_SQL,
    "ann_pq_topk": ANN_PQ_TOPK_SQL,
    "ann_ivf_pq_topk": ANN_IVF_PQ_TOPK_SQL,
    "hard_negative_mining": HARD_NEGATIVE_MINING_SQL,
    "semantic_decontamination": SEMANTIC_DECONTAMINATION_SQL,
    "ivf_cell_medoids": IVF_CELL_MEDOIDS_SQL,
    "hubness_audit": HUBNESS_AUDIT_SQL,
    "ann_hivf_topk": ANN_HIVF_TOPK_SQL,
    "hivf_cell_medoids": HIVF_CELL_MEDOIDS_SQL,
    "semantic_dedup_hier": SEMANTIC_DEDUP_HIER_SQL,
    "bitext_mining": BITEXT_MINING_SQL,
    "pq_hier_distortion_audit": PQ_HIER_DISTORTION_AUDIT_SQL,
    "ann_hivf_pq_topk": ANN_HIVF_PQ_TOPK_SQL,
}
