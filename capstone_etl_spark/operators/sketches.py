"""Deterministic distinct-count sketching: KMV (k-minimum values).

Extension layer — approximate counting is how a 100 TB pipeline audits
cardinalities (distinct n-grams per source, vocabulary growth, URL
spaces) without paying an exact count-distinct shuffle of the full key
stream. Spark's native approx_count_distinct (HLL++) is
engine-specific, so it can never be oracle-checked value-for-value;
the KMV estimator (Bar-Yossef et al. 2002) over the repo's portable
60-bit md5 hash is fully deterministic: both engines find the SAME
k-th smallest hash and therefore the SAME estimate — an approximate
algorithm under an exact cross-engine test (test_sketches.py covers
the native HLL path's accuracy separately).

Estimator: with k minima over a hash space of size M = 2^60,
D̂ = (k−1)·M / h_(k). When a group has fewer than k distinct hashes
the sketch IS the exact set — fall back to the exact count (standard
KMV behavior). K=256 ⇒ ~1/√(k−2) ≈ 6% relative error.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60, md5_hash60_sql
from capstone_etl_spark.functions.text import ngram_sql, ngram_window_sql, token_ngrams, tokenize, tokenize_sql
from capstone_etl_spark.session import cached
from capstone_etl_spark.sources.tables import load_table

KMV_K = 256
NGRAM_N = 3
HASH_SPACE = float(2**60)   # md5_hash60 range; exact power of two in double


def shingle_hashes(docs: DataFrame) -> DataFrame:
    """(source, h): one row per token 3-gram of each document, h its
    md5_hash60 — the hash stream every KMV sketch is built from. Not
    distinct: the batch queries take `.distinct()`, the stream's
    bottom-k state dedups as it merges."""
    toks = docs.select("source", tokenize("text").alias("toks"))
    grams = toks.select("source", F.explode(token_ngrams("toks", NGRAM_N)).alias("shingle"))
    return grams.select("source", md5_hash60(F.col("shingle")).alias("h"))


def kmv_estimate(fallback: str) -> Column:
    """D̂ = (K−1)·M/h_k over an `hk` column; `fallback` (the exact count)
    when the sketch holds fewer than K hashes and `hk` is null."""
    return F.when(F.col("hk").isNull(), F.col(fallback).cast("double")).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(HASH_SPACE) / F.col("hk")
    )


def _kmv_mins(hashed: DataFrame) -> DataFrame:
    """(source, h): each source's bottom-K hashes, cached — the sketch."""
    w = Window.partitionBy("source").orderBy("h")
    return cached(
        hashed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KMV_K)
        .select("source", "h")
    )


def _kmv_pair_sketch(mins: DataFrame, *counts: Column) -> tuple[DataFrame, DataFrame]:
    """(pairs, agg) for every source pair src_a < src_b: the union's
    bottom-K, built from the two K-row sketches alone, aggregated to
    kp = k' = min(K, |union sketch|), the `counts` over its in_a/in_b
    membership flags, and hk (the K-th union hash, null below K)."""
    srcs = mins.select("source").distinct()
    pairs = srcs.select(F.col("source").alias("src_a")).join(
        srcs.select(F.col("source").alias("src_b")), F.col("src_a") < F.col("src_b")
    )
    ua = pairs.join(mins.withColumnRenamed("source", "src_a"), "src_a").select(
        "src_a", "src_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    ub = pairs.join(mins.withColumnRenamed("source", "src_b"), "src_b").select(
        "src_a", "src_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    union = (
        ua.unionByName(ub)
        .groupBy("src_a", "src_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    uw = Window.partitionBy("src_a", "src_b").orderBy("h")  # ≤ 2k rows per pair
    ranked = union.withColumn("rnk", F.row_number().over(uw)).filter(F.col("rnk") <= KMV_K)
    agg = ranked.groupBy("src_a", "src_b").agg(
        F.count("*").alias("kp"),
        *counts,
        F.max(F.when(F.col("rnk") == KMV_K, F.col("h"))).alias("hk"),
    )
    return pairs, agg


def kmv_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-shingle cardinality: exact count, KMV-256
    estimate, and the estimate's relative error (the audit row a
    corpus-accounting job emits per source).

    Plan: one tokenize+n-gram pass → distinct (source, hash) — the only
    corpus-scale shuffle, shared via cache by the exact count and the
    k-th-minimum selection. The rank window partitions per source over
    its DISTINCT hash set (vocabulary-bounded, like corpus_drift — not
    corpus-bounded); at true 100 TB the same selection drops to a
    per-partition bottom-k merge, the sketch's defining property (k
    values per group are all that ever cross the wire). The estimate is
    pure double arithmetic on the identical integer h_k, so DuckDB
    reproduces it bit-for-bit."""
    hashed = cached(shingle_hashes(load_table(spark, sf_dir, "documents")).distinct())
    counts = hashed.groupBy("source").agg(F.count("*").alias("n_exact"))
    w = Window.partitionBy("source").orderBy("h")
    kth = (
        hashed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == KMV_K)
        .select("source", F.col("h").alias("hk"))
    )
    est = kmv_estimate("n_exact")
    return counts.join(kth, "source", "left").select(
        "source",
        "n_exact",
        F.round(est, 6).alias("kmv_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_error"),
    )


# DuckDB mirrors: the (source, h) distinct-hash prologue of every KMV
# oracle, the estimator's numerator, and the bottom-K + pairwise
# union-sketch chain of the two pair oracles.
KMV_HASHED_SQL = f"""
WITH toks AS (
  SELECT source,
         {tokenize_sql()} AS t
  FROM documents
), grams AS (
  SELECT source, {ngram_sql(NGRAM_N)} AS shingle
  FROM {ngram_window_sql(NGRAM_N)}
), hashed AS (
  SELECT DISTINCT source, {md5_hash60_sql('shingle')} AS h FROM grams
)"""
KMV_EST_SQL = f"CAST({float(KMV_K - 1)} AS DOUBLE) * CAST({HASH_SPACE!r} AS DOUBLE) / "


def _kmv_pairs_sql(*counts: str) -> str:
    """`mins … agg` CTEs of a pair oracle: the bottom-K sketches, the
    source pairs, the union sketch ranked per pair and its aggregate
    (kp, the `counts`, hk) — _kmv_pair_sketch's DuckDB mirror."""
    cols = "".join(f"\n         {c}," for c in counts)
    return f"""mins AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rnk FROM hashed
  ) t WHERE rnk <= {KMV_K}
), srcs AS (SELECT DISTINCT source FROM mins),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM srcs a JOIN srcs b ON a.source < b.source
), unioned AS (
  SELECT src_a, src_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT p.src_a, p.src_b, m.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN mins m ON m.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, m.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN mins m ON m.source = p.src_b
  ) u GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rnk
  FROM unioned
), agg AS (
  SELECT src_a, src_b,
         COUNT(*) AS kp,{cols}
         MAX(CASE WHEN rnk = {KMV_K} THEN h END) AS hk
  FROM ranked WHERE rnk <= {KMV_K}
  GROUP BY 1, 2
)"""


KMV_DISTINCT_SHINGLES_SQL = f"""{KMV_HASHED_SQL}, counts AS (
  SELECT source, COUNT(*) AS n_exact FROM hashed GROUP BY source
), kth AS (
  SELECT source, h AS hk FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rnk FROM hashed
  ) t WHERE rnk = {KMV_K}
), est AS (
  SELECT c.source, c.n_exact,
         CASE WHEN k.hk IS NULL THEN CAST(c.n_exact AS DOUBLE)
              ELSE {KMV_EST_SQL}k.hk
         END AS e
  FROM counts c LEFT JOIN kth k USING (source)
)
SELECT source, n_exact,
       ROUND(e, 6) AS kmv_estimate,
       ROUND(ABS(e - n_exact) / n_exact, 6) AS rel_error
FROM est
"""


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimates from the bottom-k sketches
    ALONE — the audit for shared n-gram space between corpus sources
    (mirror sites, cross-posted content) without ever joining the full
    shingle sets.

    Soundness: any hash among the k smallest of A∪B that belongs to A
    satisfies h ≤ h_k(A∪B) ≤ h_k(A), so it is necessarily inside A's
    bottom-k sketch — the union's bottom-k and both membership flags
    are fully derivable from the two k-row summaries. Estimators:
    Ĵ = |{k smallest of A∪B} ∩ A ∩ B| / k', Û = (k'−1)·M/h_(k')
    (exact union count when the union has < k hashes), Î = Ĵ·Û.

    Scale: after the shared distinct pass, each source is reduced to k
    rows; the pairwise stage touches |sources|²·k sketch rows — never
    corpus data. All arithmetic is integer counts + double division on
    identical ints, so the oracle reproduces every estimate exactly."""
    hashed = shingle_hashes(load_table(spark, sf_dir, "documents")).distinct()
    _, agg = _kmv_pair_sketch(
        _kmv_mins(hashed), F.sum((F.col("in_a") * F.col("in_b"))).alias("n_both")
    )
    j_est = F.col("n_both").cast("double") / F.col("kp")
    u_est = kmv_estimate("kp")
    return agg.select(
        "src_a",
        "src_b",
        F.round(j_est, 6).alias("jaccard_est"),
        F.round(u_est, 6).alias("union_est"),
        F.round(j_est * u_est, 6).alias("intersection_est"),
    )


KMV_SOURCE_OVERLAP_SQL = f"""{KMV_HASHED_SQL}, {_kmv_pairs_sql("CAST(SUM(in_a * in_b) AS BIGINT) AS n_both")}
SELECT src_a, src_b,
       ROUND(CAST(n_both AS DOUBLE) / kp, 6) AS jaccard_est,
       ROUND(CASE WHEN hk IS NULL THEN CAST(kp AS DOUBLE)
                  ELSE {KMV_EST_SQL}hk END, 6) AS union_est,
       ROUND((CAST(n_both AS DOUBLE) / kp)
             * (CASE WHEN hk IS NULL THEN CAST(kp AS DOUBLE)
                     ELSE {KMV_EST_SQL}hk END), 6) AS intersection_est
FROM agg
"""


# ------------------------- theta-style set-difference estimation


def kmv_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, a_only_exact, a_only_est, b_only_exact,
    b_only_est) — A\\B and B\\A distinct-shingle cardinalities per
    source pair, estimated from the bottom-k sketches ALONE (the Theta
    sketch a-not-b operation: the union's bottom-k' is an unbiased
    hash-sample of A∪B, so the fraction of it carrying in_a ∧ ¬in_b,
    scaled by the union estimate, estimates |A\\B|) — the audit that
    answers 'how much of source A is NOT covered by B' without joining
    full shingle sets. Complements kmv_source_overlap (∩/∪/J) with the
    difference operation that completes the sketch set algebra.

    The EXACT columns exist to make the estimator oracle-checkable
    (count_min_error's discipline) — production keeps only the k-row
    sketches. Scale: the sketch stage touches |sources|²·k rows; the
    exact branch is one h-keyed self-join over the distinct
    (source, h) relation (uniform 60-bit key) plus per-source counts."""
    hashed = cached(shingle_hashes(load_table(spark, sf_dir, "documents")).distinct())
    pairs, agg = _kmv_pair_sketch(
        _kmv_mins(hashed),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).alias("n_a_only"),
        F.sum(F.col("in_b") * (1 - F.col("in_a"))).alias("n_b_only"),
    )
    u_est = kmv_estimate("kp")
    # exact branch: per-source sizes + h-keyed pair intersection
    sizes = hashed.groupBy("source").agg(F.count("*").alias("sz"))
    inter = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.h") == F.col("y.h")) & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    exact = (
        pairs.join(sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a")), "src_a")
        .join(sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b")), "src_b")
        .join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            (F.col("sz_a") - F.coalesce(F.col("n_inter"), F.lit(0))).cast("long").alias("a_only_exact"),
            (F.col("sz_b") - F.coalesce(F.col("n_inter"), F.lit(0))).cast("long").alias("b_only_exact"),
        )
    )
    return exact.join(agg, ["src_a", "src_b"]).select(
        "src_a",
        "src_b",
        "a_only_exact",
        F.round(F.col("n_a_only").cast("double") / F.col("kp") * u_est, 6).alias("a_only_est"),
        "b_only_exact",
        F.round(F.col("n_b_only").cast("double") / F.col("kp") * u_est, 6).alias("b_only_est"),
    )


_KMV_DIFF_UEST_SQL = f"(CASE WHEN hk IS NULL THEN CAST(kp AS DOUBLE) ELSE {KMV_EST_SQL}hk END)"

KMV_SET_DIFFERENCE_SQL = f"""{KMV_HASHED_SQL}, {_kmv_pairs_sql(
    "CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS n_a_only",
    "CAST(SUM(in_b * (1 - in_a)) AS BIGINT) AS n_b_only",
)}, sizes AS (
  SELECT source, COUNT(*) AS sz FROM hashed GROUP BY 1
), inter AS (
  SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS n_inter
  FROM hashed x JOIN hashed y ON x.h = y.h AND x.source < y.source
  GROUP BY 1, 2
), exact AS (
  SELECT p.src_a, p.src_b,
         CAST(sa.sz - COALESCE(i.n_inter, 0) AS BIGINT) AS a_only_exact,
         CAST(sb.sz - COALESCE(i.n_inter, 0) AS BIGINT) AS b_only_exact
  FROM pairs p
  JOIN sizes sa ON sa.source = p.src_a
  JOIN sizes sb ON sb.source = p.src_b
  LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
)
SELECT e.src_a, e.src_b, e.a_only_exact,
       ROUND(CAST(n_a_only AS DOUBLE) / kp * {_KMV_DIFF_UEST_SQL}, 6) AS a_only_est,
       e.b_only_exact,
       ROUND(CAST(n_b_only AS DOUBLE) / kp * {_KMV_DIFF_UEST_SQL}, 6) AS b_only_est
FROM exact e JOIN agg USING (src_a, src_b)
"""


CM_W = 128          # count-min width (buckets per row)
CM_D = 4            # count-min depth (independent hash rows)
CM_MIN_COUNT = 50   # probe set: tokens with true count >= this


def cm_cells() -> Column:
    """The CM_D count-min cells of a `token` column: an array of
    (d, bucket) structs, bucket = md5_hash60('cm{d}:' || token) % CM_W."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (md5_hash60(F.concat(F.lit(f"cm{d}:"), F.col("token"))) % CM_W).alias("bucket"),
            )
            for d in range(CM_D)
        ]
    )


def count_min_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built over the
    corpus token stream, evaluated against truth on the heavy tokens —
    the mergeable frequency sketch a streaming/sharded pipeline uses
    for heavy-hitter queries without a per-token exact count. Like the
    KMV family, the sketch uses the portable md5 hash, so both engines
    build the IDENTICAL D×W counter table and the estimate is checked
    value-for-value — an approximate structure under an exact test.
    Output per heavy token: true count, CM estimate (min over D rows),
    and the overestimate (≥ 0 always — CM never undercounts).

    100 TB shape: the exact TF pre-aggregation is the only corpus-scale
    shuffle (uniform token keys); the counter build expands the
    VOCABULARY-bounded TF relation ×D and partial-aggregates to exactly
    D·W = 512 cells; the probe joins heavy tokens against the 512-row
    counter table broadcast. Merging shards = adding counter tables
    cell-wise (the sketch's defining property)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokenize("text")).alias("token"))
    tf = cached(tok.groupBy("token").agg(F.count("*").alias("cnt")))
    expanded = tf.select("token", "cnt", F.explode(cm_cells()).alias("b")).select(
        "token", "cnt", "b.d", "b.bucket"
    )
    cm = expanded.groupBy("d", "bucket").agg(F.sum("cnt").alias("c"))
    probes = expanded.filter(F.col("cnt") >= CM_MIN_COUNT)
    return (
        probes.join(F.broadcast(cm), ["d", "bucket"])
        .groupBy("token")
        .agg(
            F.max("cnt").cast("long").alias("true_cnt"),
            F.min("c").cast("long").alias("est_cnt"),
        )
        .select(
            "token",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overestimate"),
        )
    )


def _cm_bucket_sql(d: int) -> str:
    salted = "'cm" + str(d) + ":' || token"
    return f"({md5_hash60_sql(salted)} % {CM_W})"


COUNT_MIN_ERROR_SQL = f"""
WITH tok AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), tf AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
), expanded AS (
  {" UNION ALL ".join(f"SELECT token, cnt, {d} AS d, {_cm_bucket_sql(d)} AS bucket FROM tf" for d in range(CM_D))}
), cm AS (
  SELECT d, bucket, CAST(SUM(cnt) AS BIGINT) AS c FROM expanded GROUP BY 1, 2
)
SELECT p.token,
       CAST(MAX(p.cnt) AS BIGINT) AS true_cnt,
       CAST(MIN(m.c) AS BIGINT) AS est_cnt,
       CAST(MIN(m.c) - MAX(p.cnt) AS BIGINT) AS overestimate
FROM expanded p JOIN cm m ON m.d = p.d AND m.bucket = p.bucket
WHERE p.cnt >= {CM_MIN_COUNT}
GROUP BY p.token
"""


# --- Bloom filter membership -------------------------------------------------
#
# The fourth sketch (after KMV, HLL, Count-Min): set membership with no
# false negatives — the pre-filter a 100 TB join prunes with before
# shuffling (Spark's own runtime bloom-filter pushdown is this trick;
# building it as an operator makes the mechanism oracle-checkable).
# The filter is BLOOM_BITS bits packed into BLOOM_BITS/32 words (32 live bits per int64 — bit 63 would overflow DuckDB's checked signed shift) —
# the whole structure is a ≤(BLOOM_BITS/32)-row relation that
# broadcasts anywhere, and building it is one bit_or aggregation.
# Probe positions come from the portable md5-60 hash, so both engines
# build the identical filter and flag the identical probes. BLOOM_BITS
# is deliberately small for the fixture vocabulary so false positives
# actually occur and the measured rate is a real readout; production
# sizing is m ≈ n·k/ln2 bits for the target rate.
BLOOM_BITS = 128
BLOOM_K = 3
NEG_PER_WORD = 10  # negative probes per vocab word ('w#j' — '#' never tokenizes)


def _bloom_pos(col, i: int):
    return F.pmod(md5_hash60(F.concat(F.lit(f"{i}:"), col)), F.lit(BLOOM_BITS))


def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_set, n_probes, n_flagged, flag_rate) — the corpus
    vocabulary builds the filter, then two probe sets query it: the
    vocabulary itself (every probe MUST flag — no false negatives) and
    NEG_PER_WORD derived strings guaranteed absent (the measured
    false-positive rate).

    Plan: build = explode k positions per distinct token → one bit_or
    groupBy over ≤BLOOM_BITS/32 word indexes; probe = equi-join on the
    word index against the broadcast filter relation, AND across the k
    bits per probe, one final per-set aggregation. No corpus-sized
    state anywhere: the filter is 4 rows here, fixed by BLOOM_BITS."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .distinct()
        .transform(cached)
    )
    bits = vocab.select(
        F.explode(F.array(*[_bloom_pos(F.col("w"), i) for i in range(BLOOM_K)])).alias(
            "pos"
        )
    )
    mask_expr = "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 32) AS INT))"
    bloom = (
        bits.select(
            F.shiftright("pos", 5).alias("widx"),
            F.expr(mask_expr).alias("mask"),
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("word"))
    )
    positives = vocab.select(F.lit("positive").alias("probe_set"), F.col("w").alias("probe"))
    negatives = vocab.select(
        F.lit("negative").alias("probe_set"),
        F.explode(
            F.array(*[F.concat(F.col("w"), F.lit(f"#{j}")) for j in range(NEG_PER_WORD)])
        ).alias("probe"),
    )
    probes = positives.unionByName(negatives)
    pp = probes.select(
        "probe_set",
        "probe",
        F.explode(F.array(*[_bloom_pos(F.col("probe"), i) for i in range(BLOOM_K)])).alias("pos"),
    ).select(
        "probe_set",
        "probe",
        F.shiftright("pos", 5).alias("widx"),
        F.expr(mask_expr).alias("mask"),
    )
    hit = pp.join(F.broadcast(bloom), "widx", "left").select(
        "probe_set",
        "probe",
        (
            F.coalesce(F.col("word"), F.lit(0).cast("long")).bitwiseAND(F.col("mask"))
            == F.col("mask")
        ).alias("bit_set"),
    )
    per_probe = hit.groupBy("probe_set", "probe").agg(
        F.min(F.col("bit_set").cast("int")).alias("flagged")
    )
    return per_probe.groupBy("probe_set").agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum("flagged").cast("long").alias("n_flagged"),
        F.round(F.sum("flagged").cast("double") / F.count("*"), 6).alias("flag_rate"),
    )


def _bloom_sql() -> str:
    def pos(expr: str, i: int) -> str:
        salted = "'" + str(i) + ":' || " + expr
        return f"({md5_hash60_sql(salted)} % {BLOOM_BITS})"

    build_positions = " UNION ALL ".join(
        f"SELECT {pos('w', i)} AS pos FROM vocab" for i in range(BLOOM_K)
    )
    probe_positions = " UNION ALL ".join(
        f"SELECT probe_set, probe, {pos('probe', i)} AS pos FROM probes"
        for i in range(BLOOM_K)
    )
    neg_probes = " UNION ALL ".join(
        f"SELECT 'negative' AS probe_set, w || '#{j}' AS probe FROM vocab"
        for j in range(NEG_PER_WORD)
    )
    return f"""
WITH toks AS (
  SELECT {tokenize_sql()} AS t
  FROM documents
), vocab AS (
  SELECT DISTINCT tok AS w FROM toks, UNNEST(t) AS u(tok)
), bpos AS ({build_positions}),
bloom AS (
  SELECT pos // 32 AS widx, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
  FROM bpos GROUP BY pos // 32
), probes AS (
  SELECT 'positive' AS probe_set, w AS probe FROM vocab
  UNION ALL {neg_probes}
), ppos AS ({probe_positions}),
hits AS (
  SELECT p.probe_set, p.probe,
         CASE WHEN (COALESCE(b.word, 0) & (1::BIGINT << CAST(p.pos % 32 AS INT)))
                   = (1::BIGINT << CAST(p.pos % 32 AS INT))
              THEN 1 ELSE 0 END AS bit_set
  FROM ppos p LEFT JOIN bloom b ON b.widx = p.pos // 32
), per_probe AS (
  SELECT probe_set, probe, MIN(bit_set) AS flagged
  FROM hits GROUP BY probe_set, probe
)
SELECT probe_set,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(flagged) AS BIGINT) AS n_flagged,
       ROUND(CAST(SUM(flagged) AS DOUBLE) / COUNT(*), 6) AS flag_rate
FROM per_probe
GROUP BY probe_set
"""


BLOOM_MEMBERSHIP_SQL = _bloom_sql()


# --- Deterministic HyperLogLog ------------------------------------------------
#
# The register-based distinct sketch (Flajolet et al. 2007) made
# oracle-checkable: Spark's native approx_count_distinct is HLL++ with
# engine-private hashing (tested for accuracy in test_sketches.py but
# never value-comparable), so this operator builds CLASSIC HLL from
# the portable md5-60 hash — top 6 bits pick one of m=64 registers,
# the remaining 54 bits' leading-zero count (+1) is the rank, and the
# harmonic sum is computed as Σ 2^(55−reg) in EXACT int64 (max 64
# terms ≤ 2^55 each), so both engines derive the identical estimate.
# Small-range correction (linear counting on empty registers) is
# branch-mirrored; the large-range correction is omitted — irrelevant
# below ~2^50 distinct values in a 60-bit hash space. Register state
# is m integers per group, merged by element-wise MAX — the
# defining mergeability that lets 100 TB shards union for free.
HLL_M = 64          # registers (top 6 hash bits)
HLL_W_BITS = 54     # rank window; rho = 55 - bit_length(w), w=0 -> 55
# alpha_64 * m^2 * 2^55 precomputed so both engines divide the same literal
HLL_NUMER = 0.709 * (HLL_M * HLL_M) * float(2**55)


def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality: exact count, the
    deterministic-HLL estimate, empty-register count, which estimator
    branch fired, and the relative error — kmv_distinct_shingles'
    register-based sibling (same audit row, different sketch family;
    KMV keeps k order statistics, HLL keeps m maxima).

    Plan: one tokenize pass → distinct (source, token) (the only
    corpus-scale shuffle, shared by the exact count and the register
    build), then a ≤(sources × 64)-row register relation and one
    per-source fold. The rank uses bit_length via length(bin(w)) —
    integer-exact in both engines (length_histogram's trick)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = cached(
        docs.select("source", F.explode(tokenize("text")).alias("token")).distinct()
    )
    exact = toks.groupBy("source").agg(F.count("*").cast("long").alias("n_exact"))
    regs = hll_rho_rows(toks).groupBy("source", "bucket").agg(
        F.max("rho").alias("reg")
    )
    return hll_finalize(regs, exact)


def hll_rho_rows(toks: DataFrame) -> DataFrame:
    """(source, bucket, rho) per input token row — pure per-row column
    math shared by the batch sketch and the streaming twin. Input need
    NOT be distinct: HLL insertion is idempotent (a duplicate token
    re-proposes the same rho to the same register's max)."""
    h = md5_hash60(F.concat(F.lit("hll:"), F.col("token")))
    hashed = toks.select(
        "source",
        F.shiftright(h, HLL_W_BITS).alias("bucket"),
        h.bitwiseAND(F.lit(2**HLL_W_BITS - 1)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.expr("bin(w)"))
    )
    return hashed.select("source", "bucket", rho.alias("rho"))


def hll_finalize(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """The estimator tail over a (source, bucket, reg) register file +
    (source, n_exact) truth — shared by batch and streaming forms so
    the arithmetic cannot drift."""
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_W_BITS + 1} - reg AS INT))")
    per_src = regs.groupBy("source").agg(
        F.sum(term).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    v = F.lit(HLL_M) - F.col("n_present")
    s = F.col("s_present") + v * F.lit(2**(HLL_W_BITS + 1)).cast("long")
    e_raw = F.lit(HLL_NUMER) / s.cast("double")
    lc = (e_raw <= 2.5 * HLL_M) & (v > 0)
    e = F.when(lc, F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double"))).otherwise(e_raw)
    return (
        exact.join(per_src, "source")
        .select(
            "source",
            "n_exact",
            v.cast("long").alias("n_zero_registers"),
            lc.alias("linear_counting"),
            F.round(e, 6).alias("hll_estimate"),
            F.round(F.abs(e - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_error"),
        )
    )


HLL_DISTINCT_SKETCH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT source, tok AS token FROM (
    SELECT source,
           UNNEST({tokenize_sql()}) AS tok
    FROM documents) t
), exact AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM toks GROUP BY 1
), hashed AS (
  SELECT source,
         {md5_hash60_sql("'hll:' || token")} >> {HLL_W_BITS} AS bucket,
         {md5_hash60_sql("'hll:' || token")} & {2**HLL_W_BITS - 1} AS w
  FROM toks
), regs AS (
  SELECT source, bucket,
         MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1} - length(bin(w)) END) AS reg
  FROM hashed GROUP BY 1, 2
), per_src AS (
  SELECT source,
         CAST(SUM(1::BIGINT << CAST({HLL_W_BITS + 1} - reg AS INT)) AS BIGINT) AS s_present,
         CAST(COUNT(*) AS BIGINT) AS n_present
  FROM regs GROUP BY 1
), scored AS (
  SELECT e.source, e.n_exact,
         CAST({HLL_M} - p.n_present AS BIGINT) AS n_zero_registers,
         {HLL_NUMER!r} / CAST(p.s_present + ({HLL_M} - p.n_present) * {2**(HLL_W_BITS + 1)} AS DOUBLE) AS e_raw
  FROM exact e JOIN per_src p USING (source)
), est AS (
  SELECT source, n_exact, n_zero_registers,
         (e_raw <= {2.5 * HLL_M!r} AND n_zero_registers > 0) AS linear_counting,
         CASE WHEN e_raw <= {2.5 * HLL_M!r} AND n_zero_registers > 0
              THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST(n_zero_registers AS DOUBLE))
              ELSE e_raw END AS e
  FROM scored
)
SELECT source, n_exact, n_zero_registers, linear_counting,
       ROUND(e, 6) AS hll_estimate,
       ROUND(ABS(e - n_exact) / n_exact, 6) AS rel_error
FROM est
"""


# --- Count-Min join-size estimation -------------------------------------------
#
# The fifth sketch application: estimating |A ⋈ B| from two Count-Min
# tables WITHOUT running the join (Cormode & Muthukrishnan 2005 §4.2 /
# the AMS inner-product estimator). This is the optimizer statistic a
# 100 TB planner wants before committing to a shuffle: each side's
# sketch is built map-side (D×W cells, mergeable cell-wise across
# shards), and the estimate is the inner product of matching rows —
# min over D depths, and NEVER an underestimate (colliding keys only
# add positive mass to both factors). Exact truth = Σ_k cA(k)·cB(k),
# which this query also computes as the audit column — at production
# scale you'd skip it; here it makes the estimator oracle-checkable.
JS_W = 64   # width: 150 distinct user keys into 64 buckets → real collisions
JS_D = 4    # independent hash rows; estimate = min over rows


def _js_buckets(prefix: str):
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    md5_hash60(
                        F.concat(F.lit(f"{prefix}{d}:"), F.col("user_id").cast("string"))
                    )
                    % JS_W
                ).alias("bucket"),
            )
            for d in range(JS_D)
        ]
    )


def cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One audit row for the click ⋈ view join on user_id: exact output
    cardinality, the Count-Min inner-product estimate, the (always ≥ 0)
    overestimate, and relative error.

    Plan: each side pre-aggregates to per-key counts (the only
    key-space shuffles; uniform user_id keys), expands ×D into the
    fixed D×W counter table, and the estimate is a (D·W)-row equi-join
    + one 4-row min. The two 1-row results (exact, estimate) combine
    via a broadcast cross join of a single row. At 100 TB the exact
    branch is dropped and the per-key pre-agg becomes a map-side
    partial into D·W cells — no shuffle at all, the sketch's point."""
    ev = load_table(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return cached(
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.count("*").alias("cnt"))
        )

    ca, cb = side("click"), side("view")
    exact = (
        ca.select("user_id", F.col("cnt").alias("cnt_a"))
        .join(cb.select("user_id", F.col("cnt").alias("cnt_b")), "user_id")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).cast("long").alias("exact_size"))
    )

    def cm(side_df: DataFrame) -> DataFrame:
        return (
            side_df.select("cnt", F.explode(_js_buckets("jsz")).alias("b"))
            .groupBy("b.d", "b.bucket")
            .agg(F.sum("cnt").alias("c"))
        )

    cma = cm(ca).select("d", "bucket", F.col("c").alias("c_a"))
    cmb = cm(cb).select("d", "bucket", F.col("c").alias("c_b"))
    per_depth = (
        cma.join(cmb, ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("c_a") * F.col("c_b")).alias("s"))
    )
    est = per_depth.agg(F.min("s").cast("long").alias("cms_estimate"))
    return exact.join(F.broadcast(est), F.lit(True)).select(
        "exact_size",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_size")).alias("overestimate"),
        F.round(
            (F.col("cms_estimate") - F.col("exact_size")).cast("double")
            / F.col("exact_size"),
            6,
        ).alias("rel_error"),
    )


def _js_bucket_sql(prefix: str, d: int) -> str:
    salted = "'" + prefix + str(d) + ":' || CAST(user_id AS VARCHAR)"
    return f"({md5_hash60_sql(salted)} % {JS_W})"


def _cms_join_size_sql() -> str:
    def expand(side: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {d} AS d, {_js_bucket_sql('jsz', d)} AS bucket, cnt FROM {side}"
            for d in range(JS_D)
        )

    return f"""
WITH ca AS (
  SELECT user_id, COUNT(*) AS cnt FROM events WHERE event_type = 'click' GROUP BY 1
), cb AS (
  SELECT user_id, COUNT(*) AS cnt FROM events WHERE event_type = 'view' GROUP BY 1
), exact AS (
  SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS exact_size
  FROM ca a JOIN cb b USING (user_id)
), ea AS (
  SELECT d, bucket, SUM(cnt) AS c FROM ({expand('ca')}) GROUP BY 1, 2
), eb AS (
  SELECT d, bucket, SUM(cnt) AS c FROM ({expand('cb')}) GROUP BY 1, 2
), est AS (
  SELECT CAST(MIN(s) AS BIGINT) AS cms_estimate FROM (
    SELECT a.d, SUM(a.c * b.c) AS s
    FROM ea a JOIN eb b ON b.d = a.d AND b.bucket = a.bucket
    GROUP BY a.d) t
)
SELECT exact_size, cms_estimate,
       cms_estimate - exact_size AS overestimate,
       ROUND(CAST(cms_estimate - exact_size AS DOUBLE) / exact_size, 6) AS rel_error
FROM exact CROSS JOIN est
"""


CMS_JOIN_SIZE_SQL = _cms_join_size_sql()


# --- Histogram quantile sketch -------------------------------------------------
#
# The mergeable quantile structure behind every engine's equi-depth
# optimizer histogram: a W-bin equi-width histogram (per-partition
# counts, merged by cell-wise addition) answers any quantile to within
# one bin width. Built over documents.n_chars, whose DISTINCT domain is
# bounded by document length policy — so the exact-truth branch (a
# cumulative rank over distinct values, like length_quartiles' exact
# percentile state) never scales with corpus row count.
HQ_W = 32
HQ_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per requested quantile q: the target rank ⌈q·N⌉, the histogram
    estimate (bin lower edge + linear interpolation inside the bin),
    the exact discrete quantile (min value whose cumulative count
    reaches the rank), and the absolute error — which the W-bin width
    bounds a priori.

    Exactness: the bin index is pure int64 arithmetic
    ((v−mn)·W div (mx−mn+1)), bin edges and the interpolation are the
    identical double expressions in both engines, and every window runs
    over a domain-bounded relation (≤W histogram rows; distinct
    n_chars values). 100 TB: the histogram build is one map-side
    partial agg to ≤W cells after a 1-row (min,max,count) broadcast —
    two scans, no key-space shuffle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").alias("v"))
    stats = vals.agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.count("*").alias("n")
    )
    qcfg = stats.select(
        F.explode(F.array(*[F.lit(q) for q in HQ_QS])).alias("q"), "mn", "mx", "n"
    ).select(
        "q",
        "mn",
        "mx",
        F.ceil(F.col("q") * F.col("n").cast("double")).cast("long").alias("r"),
        ((F.col("mx") - F.col("mn") + 1).cast("double") / HQ_W).alias("bw"),
    )
    binned = vals.join(F.broadcast(stats), F.lit(True)).select(
        F.expr(f"((v - mn) * {HQ_W}) div (mx - mn + 1)").alias("bin")
    )
    from capstone_etl_spark.functions.windows import bounded_window_key

    w_bin = (
        # bound: ≤HQ_W histogram rows (fixed bin count, not volume)
        Window.partitionBy(bounded_window_key("bin"))
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = (
        binned.groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .select("bin", "cnt", F.sum("cnt").over(w_bin).alias("cum"))
    )
    est = (
        qcfg.join(F.broadcast(hist), F.col("cum") >= F.col("r"))
        .groupBy("q")
        .agg(
            F.min(F.struct("bin", "cnt", "cum", "mn", "r", "bw")).alias("s")
        )
        .select(
            "q",
            F.col("s.r").alias("target_rank"),
            F.round(
                F.col("s.mn").cast("double")
                + F.col("s.bin").cast("double") * F.col("s.bw")
                + F.col("s.bw")
                * (
                    (F.col("s.r") - (F.col("s.cum") - F.col("s.cnt"))).cast("double")
                    / F.col("s.cnt").cast("double")
                ),
                6,
            ).alias("est_quantile"),
        )
    )
    # Exact-audit cumulative WITHOUT a global window over the distinct-
    # value domain (ADVICE r10 #6 — the old Window.orderBy("v") ran
    # unpartitioned over every distinct n_chars value, unbounded at
    # 100×): each value's global cumulative = the histogram's
    # cumulative below its bin (≤HQ_W rows, already built) + a running
    # sum WITHIN its bin. The within-bin window is partitioned by bin,
    # and a bin spans ≤⌈domain/HQ_W⌉ distinct values by construction
    # (value-range binning), so no window input grows with the corpus.
    w_val = (
        Window.partitionBy("bin")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    val_cum = (
        vals.join(F.broadcast(stats), F.lit(True))
        .select("v", F.expr(f"((v - mn) * {HQ_W}) div (mx - mn + 1)").alias("bin"))
        .groupBy("bin", "v")
        .agg(F.count("*").alias("cnt"))
        .select("bin", "v", F.sum("cnt").over(w_val).alias("in_bin_cum"))
        .join(
            F.broadcast(hist.select("bin", (F.col("cum") - F.col("cnt")).alias("below"))),
            "bin",
        )
        .select("v", (F.col("below") + F.col("in_bin_cum")).alias("cum"))
    )
    exact = (
        qcfg.select("q", "r")
        .join(F.broadcast(val_cum), F.col("cum") >= F.col("r"))
        .groupBy("q")
        .agg(F.min("v").cast("double").alias("exact_quantile"))
    )
    return est.join(exact, "q").select(
        "q",
        "target_rank",
        "est_quantile",
        "exact_quantile",
        F.round(F.abs(F.col("est_quantile") - F.col("exact_quantile")), 6).alias(
            "abs_error"
        ),
    )


HISTOGRAM_QUANTILES_SQL = f"""
WITH stats AS (
  SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx, COUNT(*) AS n FROM documents
), qcfg AS (
  SELECT CAST(q AS DOUBLE) AS q, mn, mx,
         CAST(ceil(CAST(q AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT) AS r,
         CAST(mx - mn + 1 AS DOUBLE) / {HQ_W} AS bw
  FROM stats CROSS JOIN (SELECT UNNEST({list(HQ_QS)}) AS q) qs
), binned AS (
  SELECT ((d.n_chars - s.mn) * {HQ_W}) // (s.mx - s.mn + 1) AS bin
  FROM documents d CROSS JOIN stats s
), hist AS (
  SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM (
    SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY 1) t
), est AS (
  SELECT q, r AS target_rank,
         ROUND(CAST(mn AS DOUBLE) + CAST(bin AS DOUBLE) * bw
               + bw * (CAST(r - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)),
               6) AS est_quantile
  FROM (
    SELECT c.q, c.r, c.mn, c.bw, h.bin, h.cnt, h.cum,
           ROW_NUMBER() OVER (PARTITION BY c.q ORDER BY h.bin) AS rn
    FROM qcfg c JOIN hist h ON h.cum >= c.r) t
  WHERE rn = 1
), val_cum AS (
  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM (
    SELECT n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY 1) t
), exact AS (
  SELECT c.q, CAST(MIN(vc.v) AS DOUBLE) AS exact_quantile
  FROM (SELECT q, r FROM qcfg) c JOIN val_cum vc ON vc.cum >= c.r
  GROUP BY c.q
)
SELECT e.q, e.target_rank, e.est_quantile, x.exact_quantile,
       ROUND(ABS(e.est_quantile - x.exact_quantile), 6) AS abs_error
FROM est e JOIN exact x USING (q)
"""


# --- KLL-class mergeable quantile sketch ---------------------------------------
#
# histogram_quantiles answers quantiles to one bin width on a FIXED
# grid; the production structure for per-source quantiles at 100 TB is
# a rank-adaptive MERGEABLE sketch. This is the deterministic
# level-subsampling member of that family (KLL's level hierarchy with
# the portable hash standing in for the coin flips — the established
# KMV/CMS/HLL discipline): a value survives at level L iff its 60-bit
# row hash is divisible by 2^L, so
#   * P(survive L) = 2^-L exactly (the hash is uniform on [0, 2^60)),
#     and each survivor represents weight 2^L rows;
#   * the per-source level L = ⌈log2⌈n/K⌉⌉ (pure integer bit-length —
#     no cross-engine log2) caps the expected sample at ≈K rows;
#   * samples are NESTED (h ≡ 0 mod 2^(L+1) ⇒ h ≡ 0 mod 2^L), which is
#     the merge rule: shards sketched at different levels merge by
#     re-filtering the lower-level sample at the higher level, then
#     unioning — associative, deterministic, no resampling;
#   * quantile estimate = min value whose cumulative sample weight
#     reaches ⌈q·n⌉, with the sample max as the shortfall fallback.
# Rank error is O(1/√K) uniformly; the audit columns report the
# value-space and rank-space error against the exact quantile.
KLL_K = 256
KLL_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def _kll_level(counts: DataFrame) -> DataFrame:
    """`counts` (..., n) plus (L, w): the subsample level, the smallest
    L with n ≤ K·2^L via integer bit-length, and the survivor weight
    w = 2^L. The one level rule of the monolithic sketch, both merge
    levels and the streaming twin."""
    t = F.expr(f"(n + {KLL_K - 1}) div {KLL_K}")
    lvl = F.when(t <= 1, F.lit(0)).otherwise(F.length(F.bin(t - 1))).cast("int")
    return counts.withColumn("L", lvl).withColumn(
        "w", F.expr("shiftleft(CAST(1 AS BIGINT), L)")
    )


def _kll_stats(vals: DataFrame) -> DataFrame:
    """(source, n, L, w): per-source row count with its level."""
    return _kll_level(vals.groupBy("source").agg(F.count("*").alias("n")))


def _kll_sample(vals: DataFrame, stats: DataFrame) -> DataFrame:
    """(source, v, c): the level-L survivors (h mod 2^L = 0) per
    distinct value. Runs on the batch values and on the document
    stream alike (the 1-row-per-source stats broadcast)."""
    return (
        vals.join(F.broadcast(stats), "source")
        .filter(F.col("h") % F.col("w") == 0)
        .groupBy("source", "v")
        .agg(F.count("*").alias("c"))
    )


def kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, q, n, level, sample_size, target_rank, est_quantile,
    exact_quantile, abs_error) — per-source quantiles of
    documents.n_chars from the mergeable level-subsample sketch, with
    the exact discrete quantile and the value-space error as audit
    columns (the CMS/HLL estimate-vs-exact convention).

    Exactness: survival (h mod 2^L = 0), weights, cumulative ranks and
    the ⌈q·n⌉ target are all int64; the only doubles are the emitted
    quantile values. 100 TB: one map filter keeps ≈K rows per source
    (the 1-row-per-source stats relation broadcasts), every window runs
    over the ≤K-row sample or the bounded distinct-value domain, and
    the sketch merges across shards/streams by union — never a global
    sort of the data."""
    docs = load_table(spark, sf_dir, "documents")
    vals = _kll_vals(docs)
    stats = _kll_stats(vals)
    return _kll_release(vals, stats, _kll_sample(vals, stats))


def _kll_vals(docs: DataFrame) -> DataFrame:
    """(source, v, h) — the sketched value stream with its portable
    survival hash."""
    return docs.select(
        "source",
        F.col("n_chars").alias("v"),
        md5_hash60(F.concat(F.lit("kll:"), F.col("doc_id").cast("string"))).alias("h"),
    )


def _kll_release(vals: DataFrame, stats: DataFrame, samp: DataFrame) -> DataFrame:
    """The sketch's release tail (cumulative weights → ⌈q·n⌉ rank cut →
    shortfall fallback → exact-quantile audit) over any (source, v, c)
    survivor relation — called by the monolithic sketch, the shard
    merge and the streaming twin (stream_kll_sketch, over its drained
    survivor state)."""
    wv = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    samp_cum = samp.join(F.broadcast(stats), "source").select(
        "source", "v", "c", "w", (F.sum(F.col("c")).over(wv) * F.col("w")).alias("cumw")
    )
    szs = samp.groupBy("source").agg(F.sum("c").cast("long").alias("sample_size"))
    smax = samp.groupBy("source").agg(F.max("v").alias("vmax"))
    qcfg = stats.select(
        "source",
        "n",
        "L",
        F.explode(F.array(*[F.lit(q) for q in KLL_QS])).alias("q"),
    ).select(
        "source", "n", "L", "q",
        F.ceil(F.col("q") * F.col("n").cast("double")).cast("long").alias("r"),
    )
    est = (
        qcfg.join(
            samp_cum,
            (qcfg["source"] == samp_cum["source"]) & (F.col("cumw") >= F.col("r")),
            "left",
        )
        .groupBy(qcfg["source"], "q", "n", "L", "r")
        .agg(F.min("v").alias("est_v"))
    )
    val_cum = (
        vals.groupBy("source", "v")
        .agg(F.count("*").alias("cnt"))
        .select("source", "v", F.sum("cnt").over(wv).alias("cum"))
    )
    exact = (
        qcfg.select("source", "q", "r")
        .alias("c")
        .join(
            val_cum.alias("vc"),
            (F.col("c.source") == F.col("vc.source")) & (F.col("vc.cum") >= F.col("c.r")),
        )
        .groupBy(F.col("c.source").alias("source"), "q")
        .agg(F.min("v").cast("double").alias("exact_quantile"))
    )
    return (
        est.join(smax, "source")
        .join(szs, "source")
        .join(exact, ["source", "q"])
        .select(
            "source",
            "q",
            F.col("n").cast("long").alias("n"),
            F.col("L").cast("long").alias("level"),
            "sample_size",
            F.col("r").alias("target_rank"),
            F.coalesce(F.col("est_v"), F.col("vmax")).cast("double").alias("est_quantile"),
            "exact_quantile",
            F.round(
                F.abs(
                    F.coalesce(F.col("est_v"), F.col("vmax")).cast("double")
                    - F.col("exact_quantile")
                ),
                6,
            ).alias("abs_error"),
        )
    )


KLL_SHARDS = 3  # shard count for the merge demonstration


def kll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kll_quantile_sketch's release built the way a 100 TB deployment
    actually builds it — SHARD-WISE, then merged: the corpus splits
    into KLL_SHARDS hash shards, each shard sketches independently at
    ITS OWN level (a small shard keeps a shallow level — more sample,
    less error), and the shards merge by the nested-sample law:
    re-filter every shard's survivors at the union level (L_union ≥
    each L_shard because the level is monotone in the row count) and
    union — NO resampling, NO access to shard-local raw data at merge
    time beyond the k-row sketches. Because survival is per-row
    deterministic, the merged sample IS the monolithic sample, so this
    query's release equals kll_quantile_sketch's row-for-row and
    shares its oracle verbatim — the dedup_clusters_incremental
    pattern applied to the sketch family: maintenance pinned equal to
    the rebuild.

    The union level derives from the SUM of the shard counts (the
    merge sees sketch metadata only, never a corpus recount)."""
    docs = load_table(spark, sf_dir, "documents")
    shard_vals = _kll_vals(docs).withColumn(
        "_shard",
        md5_hash60(F.concat(F.lit("shard:"), F.col("h").cast("string"))) % KLL_SHARDS,
    )

    # per-(shard, source) sketch: own count, own level, own survivors
    sh_stats = _kll_level(
        shard_vals.groupBy("_shard", "source").agg(F.count("*").alias("n"))
    )
    shard_sketches = shard_vals.join(sh_stats, ["_shard", "source"]).filter(
        F.col("h") % F.col("w") == 0
    )
    # union level from sketch METADATA (sum of shard counts)
    u_stats = _kll_level(
        sh_stats.groupBy("source").agg(F.sum("n").cast("long").alias("n"))
    )
    merged = (
        shard_sketches.select("source", "v", "h")
        .join(F.broadcast(u_stats.select("source", F.col("w").alias("wu"))), "source")
        .filter(F.col("h") % F.col("wu") == 0)
        .groupBy("source", "v")
        .agg(F.count("*").alias("c"))
    )
    return _kll_release(_kll_vals(docs), u_stats, merged)


KLL_QUANTILE_SKETCH_SQL = f"""
WITH vals AS (
  SELECT source, n_chars AS v,
         {md5_hash60_sql("'kll:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
), stats AS (
  SELECT source, n,
         CAST(CASE WHEN t <= 1 THEN 0 ELSE length(bin(t - 1)) END AS INT) AS L,
         (CAST(1 AS BIGINT) << CAST(CASE WHEN t <= 1 THEN 0
                                         ELSE length(bin(t - 1)) END AS INT)) AS w
  FROM (SELECT source, COUNT(*) AS n,
               (COUNT(*) + {KLL_K - 1}) // {KLL_K} AS t
        FROM vals GROUP BY 1) b
), samp AS (
  SELECT v.source, v.v, COUNT(*) AS c
  FROM vals v JOIN stats s USING (source)
  WHERE v.h % s.w = 0
  GROUP BY 1, 2
), samp_cum AS (
  SELECT sa.source, sa.v,
         SUM(sa.c) OVER (PARTITION BY sa.source ORDER BY sa.v) * st.w AS cumw
  FROM samp sa JOIN stats st USING (source)
), szs AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS sample_size, MAX(v) AS vmax
  FROM samp GROUP BY 1
), qcfg AS (
  SELECT s.source, s.n, s.L, CAST(q AS DOUBLE) AS q,
         CAST(ceil(CAST(q AS DOUBLE) * CAST(s.n AS DOUBLE)) AS BIGINT) AS r
  FROM stats s CROSS JOIN (SELECT UNNEST({list(KLL_QS)}) AS q) qs
), est AS (
  SELECT c.source, c.q, c.n, c.L, c.r, MIN(sc.v) AS est_v
  FROM qcfg c LEFT JOIN samp_cum sc
    ON sc.source = c.source AND sc.cumw >= c.r
  GROUP BY 1, 2, 3, 4, 5
), val_cum AS (
  SELECT source, v, SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS cum
  FROM (SELECT source, v, COUNT(*) AS cnt FROM vals GROUP BY 1, 2) t
), exact AS (
  SELECT c.source, c.q, CAST(MIN(vc.v) AS DOUBLE) AS exact_quantile
  FROM (SELECT source, q, r FROM qcfg) c
  JOIN val_cum vc ON vc.source = c.source AND vc.cum >= c.r
  GROUP BY 1, 2
)
SELECT e.source, e.q, CAST(e.n AS BIGINT) AS n, CAST(e.L AS BIGINT) AS level,
       z.sample_size, e.r AS target_rank,
       CAST(COALESCE(e.est_v, z.vmax) AS DOUBLE) AS est_quantile,
       x.exact_quantile,
       ROUND(ABS(CAST(COALESCE(e.est_v, z.vmax) AS DOUBLE) - x.exact_quantile), 6)
         AS abs_error
FROM est e
JOIN szs z USING (source)
JOIN exact x ON x.source = e.source AND x.q = e.q
"""


QUERIES = {
    "kmv_distinct_shingles": kmv_distinct_shingles,
    "kmv_source_overlap": kmv_source_overlap,
    "kmv_set_difference": kmv_set_difference,
    "count_min_error": count_min_error,
    "bloom_membership": bloom_membership,
    "cms_join_size": cms_join_size,
    "histogram_quantiles": histogram_quantiles,
    "hll_distinct_sketch": hll_distinct_sketch,
    "kll_quantile_sketch": kll_quantile_sketch,
    "kll_sketch_merge": kll_sketch_merge,
}

ORACLE_SQL = {
    "cms_join_size": CMS_JOIN_SIZE_SQL,
    "histogram_quantiles": HISTOGRAM_QUANTILES_SQL,
    "hll_distinct_sketch": HLL_DISTINCT_SKETCH_SQL,
    "kmv_distinct_shingles": KMV_DISTINCT_SHINGLES_SQL,
    "kmv_source_overlap": KMV_SOURCE_OVERLAP_SQL,
    "kmv_set_difference": KMV_SET_DIFFERENCE_SQL,
    "count_min_error": COUNT_MIN_ERROR_SQL,
    "bloom_membership": BLOOM_MEMBERSHIP_SQL,
    "kll_quantile_sketch": KLL_QUANTILE_SKETCH_SQL,
    # the monolithic sketch SQL verbatim: the shard-wise build merges
    # by the nested-sample law to the identical sample
    "kll_sketch_merge": KLL_QUANTILE_SKETCH_SQL,
}
