"""Composed training-corpus construction job — the LLM-pipeline
flagship, analogous to outputs.wikibooks_docs for the reference-parity
layer: the individually-verified stages chained into ONE lazy plan.

    quality gate → near-dup keep-one (pairs → connected components →
    canonical representative) → train/val/test assignment

Stage order matters and is part of the contract: dedup runs on the
quality-surviving set (a junk doc must not be the canonical survivor of
a cluster it shares with a good doc), and splits are assigned to the
deduped corpus (leakage control: near-identical docs can't straddle
train/test because only one survives). Everything is the same operators
the standalone queries verify — this query verifies their COMPOSITION
against a single recursive-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.text import ngram_window_sql, split_sql, tokenize_sql
from capstone_etl_spark.operators.dedup import (
    _COMPONENTS_SQL,
    _both_ways,
    _overlap_sql,
    _pairs_sql,
    _shingles_sql,
    connected_components,
    gram_hashes,
    jaccard_pairs,
)
from capstone_etl_spark.operators.sampling import split_column, split_sql_case
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached

MIN_CHARS = 20


def corpus_pipeline(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """One row per doc that survives the full pipeline: quality gate,
    near-dup canonicalization, split assignment. Pass the KEPT-scoped
    capped shingle relation via `sh` to share one tokenize pass with
    sibling consumers (training_manifest)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.col("n_chars") >= MIN_CHARS).select("doc_id", "lang", "n_chars", "text")
    pairs = jaccard_pairs(kept, sh=sh).select("doc_a", "doc_b").transform(cached)
    labels = connected_components(_both_ways(pairs))
    comp = kept.join(labels, "doc_id", "left").select(
        "doc_id", "lang", "n_chars", F.coalesce("label", "doc_id").alias("cluster_id")
    )
    return (
        comp.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "lang", "n_chars", split_column(F.col("doc_id")).alias("split"))
    )


# Oracle: the shingle/pair fragments over the quality-filtered `src`
# relation, then the same components closure as dedup_clusters.
CORPUS_PIPELINE_SQL = f"""
WITH RECURSIVE src AS (
  SELECT doc_id, text, lang, n_chars FROM documents WHERE n_chars >= {MIN_CHARS}
), {_shingles_sql("src")}, {_overlap_sql()}, {_pairs_sql()}, {_COMPONENTS_SQL}, comp AS (
  SELECT sr.doc_id, sr.lang, sr.n_chars,
         LEAST(sr.doc_id, COALESCE(m.label, sr.doc_id)) AS cluster_id
  FROM src sr LEFT JOIN labels m USING (doc_id)
)
SELECT doc_id, lang, n_chars, {split_sql_case('doc_id')} AS split
FROM comp WHERE doc_id = cluster_id
"""


CHUNK_TOKENS = 50


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into fixed-size
    token chunks (chunk_id = pos ÷ 50 over the raw token stream) and
    reassemble each chunk's text — the prep step that turns documents
    into training sequences. One posexplode + one shuffle on
    (doc_id, chunk_id); chunk boundaries are pure arithmetic on the
    token offset, so the op parallelizes per document with no state."""
    from capstone_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(tokenize("text")).alias("pos", "token"))
    return (
        toks.withColumn("chunk_id", F.floor(F.col("pos") / CHUNK_TOKENS))
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


DOC_CHUNKS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
), pos AS (
  SELECT doc_id, t[i] AS token, i - 1 AS pos
  FROM {ngram_window_sql(1)}
)
SELECT doc_id, pos // {CHUNK_TOKENS} AS chunk_id,
       COUNT(*) AS n_tokens,
       string_agg(token, ' ' ORDER BY pos) AS chunk_text
FROM pos WHERE token <> ''
GROUP BY 1, 2
"""


CHUNK_STRIDE = 40   # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 10 tokens


def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: chunk k covers token offsets
    [k·stride, k·stride + size), so consecutive training sequences
    share a `size − stride` token overlap (context continuity across
    chunk boundaries). Each token EXPLODES into the ≤ ⌈size/stride⌉
    chunks containing it — membership is pure offset arithmetic
    (sequence between the lowest and highest covering k), stateless and
    embarrassingly parallel like the non-overlapping form."""
    from capstone_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(tokenize("text")).alias("pos", "token"))
    lo = F.greatest(
        F.lit(0).cast("long"),
        F.ceil((F.col("pos") - (CHUNK_TOKENS - 1)) / F.lit(float(CHUNK_STRIDE))),
    )
    hi = F.floor(F.col("pos") / CHUNK_STRIDE)
    return (
        toks.select(
            "doc_id", "pos", "token", F.explode(F.sequence(lo, hi)).alias("chunk_id")
        )
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


DOC_CHUNKS_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
), pos AS (
  SELECT doc_id, t[i] AS token, i - 1 AS pos
  FROM {ngram_window_sql(1)}
), member AS (
  SELECT doc_id, pos, token, k AS chunk_id
  FROM pos, LATERAL (
    SELECT unnest(range(
      GREATEST(0, CAST(CEIL((pos - {CHUNK_TOKENS - 1}) / {CHUNK_STRIDE}.0) AS BIGINT)),
      pos // {CHUNK_STRIDE} + 1
    )) AS k
  ) kk
  WHERE token <> ''
)
SELECT doc_id, chunk_id, COUNT(*) AS n_tokens,
       string_agg(token, ' ' ORDER BY pos) AS chunk_text
FROM member GROUP BY 1, 2
"""


def cluster_aware_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splits WITHOUT dropping duplicates: every doc keeps
    its row, but the train/val/test hash is taken over the near-dup
    CLUSTER id instead of the doc id — so a cluster of near-identical
    docs lands wholly in one split and can never straddle train/test.
    The complement of corpus_pipeline's keep-one strategy (some
    pipelines want all variants available for sampling, just safely
    co-located). Split membership stays a pure per-row expression over
    the cluster label; the cost is the clustering itself (shared with
    dedup_clusters)."""
    from capstone_etl_spark.operators.dedup import dedup_clusters

    labels = dedup_clusters(spark, sf_dir)
    return labels.select(
        "doc_id", "cluster_id", split_column(F.col("cluster_id")).alias("split")
    )


def _cluster_aware_splits_sql() -> str:
    from capstone_etl_spark.operators.dedup import DEDUP_CLUSTERS_SQL

    return f"""
SELECT doc_id, cluster_id, {split_sql_case('cluster_id')} AS split
FROM ({DEDUP_CLUSTERS_SQL}) t
"""


def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus accounting → sampling weights: the table a
    data-mixing stage consumes when assembling a training blend (docs,
    tokens, exact-dup rate per source, and a sublinear sampling weight
    that up-weights small sources — here √tokens, the α=0.5 point of
    the standard temperature-mixing family).

    One shuffle (groupBy source); the dup rate rides the same pass as
    countDistinct(md5(text)). Numeric discipline for the cross-engine
    hash: √ is IEEE-correctly-rounded in BOTH engines (pow() is not —
    libm vs JVM may drift an ulp, so the exponent is fixed at 0.5, not
    a parameter), each √ is snapped to DECIMAL(28,10) before the
    normalizer sums them (20 doubles summed in engine-dependent order
    would drift), and the final weight is one double division. The
    normalizer is a whole-relation window over |sources| rows — single
    partition, but only AFTER aggregation (≤ thousands of sources at
    any scale), never over docs."""
    from pyspark.sql import Window

    from capstone_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(tokenize("text")).cast("long")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws).alias("n_tokens"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.sum(F.length("text").cast("long")).alias("n_chars_sum"),
    )
    sq = F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(28,10)")
    w_all = Window.partitionBy()
    return (
        per_src.select(
            "source",
            "n_docs",
            "n_tokens",
            (F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs")).alias("dup_rate"),
            (F.col("n_chars_sum").cast("double") / F.col("n_docs")).alias("mean_chars"),
            (sq.cast("double") / F.sum(sq).over(w_all).cast("double")).alias("mix_weight"),
        )
        .orderBy("source")
    )


SOURCE_MIXING_WEIGHTS_SQL = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({tokenize_sql()})) AS BIGINT) AS n_tokens,
         COUNT(DISTINCT md5(text)) AS n_unique,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars_sum
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       1.0 - CAST(n_unique AS DOUBLE) / n_docs AS dup_rate,
       CAST(n_chars_sum AS DOUBLE) / n_docs AS mean_chars,
       CAST(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,10)) AS DOUBLE)
         / CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,10))) OVER () AS DOUBLE) AS mix_weight
FROM per_src
ORDER BY source
"""


def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health dashboard: size, language/source spread,
    token volume, exact-duplicate groups, near-dup clusters, and the
    keep-one survivor count — the report a data curator reads before
    and after every pipeline change. Three independent 1-row
    aggregates (base stats / exact-dup rollup / cluster rollup)
    cross-joined — each is a full reduction, so the joins are free;
    the expensive input (near-dup clustering) is the same machinery
    dedup_clusters verifies."""
    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.size(tokenize("text")).cast("long")).alias("total_tokens"),
    )
    exact = docs.groupBy(F.md5("text").alias("h")).agg(F.count("*").alias("c")).agg(
        F.count(F.when(F.col("c") > 1, F.lit(1))).alias("n_exact_dup_groups"),
        F.sum(F.col("c") - 1).alias("n_exact_dup_docs"),
    )
    clusters = dedup_clusters(spark, sf_dir)
    near = clusters.agg(
        F.countDistinct(F.when(F.col("n_members") > 1, F.col("cluster_id"))).alias(
            "n_near_dup_clusters"
        ),
        F.sum("is_kept").alias("n_docs_surviving"),
    )
    return base.crossJoin(exact).crossJoin(near)


def _corpus_summary_sql() -> str:
    from capstone_etl_spark.operators.dedup import DEDUP_CLUSTERS_SQL

    return f"""
SELECT * FROM (
  SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT source) AS n_sources,
         CAST(SUM(len({tokenize_sql()})) AS BIGINT) AS total_tokens
  FROM documents
) base
CROSS JOIN (
  SELECT COUNT(CASE WHEN c > 1 THEN 1 END) AS n_exact_dup_groups,
         CAST(SUM(c - 1) AS BIGINT) AS n_exact_dup_docs
  FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY md5(text)) g
) exact
CROSS JOIN (
  SELECT COUNT(DISTINCT CASE WHEN n_members > 1 THEN cluster_id END) AS n_near_dup_clusters,
         CAST(SUM(is_kept) AS BIGINT) AS n_docs_surviving
  FROM ({DEDUP_CLUSTERS_SQL}) cl
) near
"""


MIX_TOKEN_BUDGET = 100_000   # target blend size in tokens (test scale)


def mixing_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable step after source_mixing_weights: turn the
    √-temperature weights into a concrete per-source allocation for a
    fixed token budget — allocated tokens, the salted-hash keep-rate a
    downsampled source applies, and the epoch multiplier an upsampled
    source repeats at (the two regimes of every data-mixing recipe).

    Pure column math over the 1-row-per-source weights relation (the
    corpus-scale work already happened inside source_mixing_weights);
    floor() of identical doubles is identical, so the oracle matches
    exactly."""
    w = source_mixing_weights(spark, sf_dir)
    alloc = F.floor(F.lit(float(MIX_TOKEN_BUDGET)) * F.col("mix_weight")).cast("long")
    rate = alloc.cast("double") / F.col("n_tokens")
    return w.select(
        "source",
        "n_tokens",
        F.round("mix_weight", 6).alias("mix_weight"),
        alloc.alias("alloc_tokens"),
        F.round(F.least(F.lit(1.0), rate), 6).alias("keep_rate"),
        F.round(rate, 6).alias("epochs"),
    ).orderBy("source")


MIXING_ALLOCATION_SQL = f"""
WITH w AS ({SOURCE_MIXING_WEIGHTS_SQL})
SELECT source, n_tokens,
       ROUND(mix_weight, 6) AS mix_weight,
       CAST(FLOOR({float(MIX_TOKEN_BUDGET)} * mix_weight) AS BIGINT) AS alloc_tokens,
       ROUND(LEAST(1.0, CAST(FLOOR({float(MIX_TOKEN_BUDGET)} * mix_weight) AS DOUBLE) / n_tokens), 6) AS keep_rate,
       ROUND(CAST(FLOOR({float(MIX_TOKEN_BUDGET)} * mix_weight) AS DOUBLE) / n_tokens, 6) AS epochs
FROM w
ORDER BY source
"""


N_SHARDS = 8  # training shards per split (hash-assigned, stable)


def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, shard_id, n_docs, n_tokens, min_doc_id, max_doc_id) —
    the SHARD MANIFEST a trainer's data loader reads: the corpus after
    every gate the pipeline runs, rolled up into per-(split, shard)
    inventory. Extends corpus_pipeline's composition with the two
    remaining admission steps a production corpus build ships:

        quality gate → near-dup keep-one → split assignment
          (= corpus_pipeline)
        → benchmark screen: the bench docs themselves leave (they're
          the eval set), and every survivor flagged by the
          decontamination pass (Jaccard OR containment over the
          df-capped shingle index) leaves with them — note a bench
          doc CAN be a cluster's keep-one survivor, in which case the
          whole near-dup cluster is correctly gone
        → deterministic shard assignment (salted hash of doc_id mod
          N_SHARDS within each split) + exact token accounting.

    100 TB shape: inherits corpus_pipeline's candidate-bounded dedup
    and decontamination's index join; the additional work is one
    anti-join on the survivor-sized key set and a ≤ 3·N_SHARDS-row
    aggregation with map-side combine. The manifest is what makes the
    output RESUMABLE at scale — a loader addresses (split, shard)
    without listing files.

    ONE tokenize subtree (VERDICT r7, item 3): all three legs derive
    from a single cached token relation — the n_tokens accounting
    reads it directly, and one cached UNCAPPED hashed-shingle relation
    built from it feeds both df-cap domains (the decontamination leg
    caps over the full corpus, the dedup leg over the quality-kept
    subset — the cap domain is part of each leg's semantics, so only
    the caps re-run, never the tokenize→gram→hash→distinct pass)."""
    from capstone_etl_spark.functions.hashing import md5_hash60
    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.dedup import (
        BENCH_MOD,
        benchmark_decontamination,
        shingle_df_cap,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = cached(
        docs.select("doc_id", "n_chars", tokenize("text").alias("toks"))
    )
    uncapped = cached(kept_flagged_shingles(toks))
    # each capped relation has 3 consumers (sizes + both sides of the
    # candidate self-join) — cached so the cap window runs once per leg
    kept_sh = cached(shingle_df_cap(uncapped.filter(F.col("kept")).select("doc_id", "sh")))
    full_sh = cached(shingle_df_cap(uncapped.select("doc_id", "sh")))
    surv = corpus_pipeline(spark, sf_dir, sh=kept_sh)
    contaminated = (
        benchmark_decontamination(spark, sf_dir, sh=full_sh)
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
    )
    clean = (
        surv.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(contaminated, "doc_id", "left_anti")
    )
    ntok = toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    tagged = clean.join(ntok, "doc_id").select(
        "doc_id",
        "split",
        "n_tokens",
        (
            md5_hash60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
            % N_SHARDS
        ).cast("long").alias("shard_id"),
    )
    return tagged.groupBy("split", "shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


def kept_flagged_shingles(toks: DataFrame) -> DataFrame:
    """(doc_id, kept, sh): the UNCAPPED shingles of a (doc_id, n_chars,
    toks) relation, with the quality gate as a `kept` flag so the
    kept-scoped cap needs no join back to docs — the one base both
    training manifests (batch and stream) derive their two cap domains
    from. Callers pin it their own way (cached / static)."""
    return gram_hashes(toks, kept=F.col("n_chars") >= MIN_CHARS)


def _training_manifest_sql() -> str:
    from capstone_etl_spark.functions.hashing import md5_hash60_sql
    from capstone_etl_spark.operators.dedup import BENCH_MOD, DECONTAMINATION_SQL

    shard_hash = md5_hash60_sql("'shard:' || CAST(doc_id AS VARCHAR)")
    shard = f"{shard_hash} % {N_SHARDS}"
    return f"""
WITH surv AS MATERIALIZED (
{CORPUS_PIPELINE_SQL}
), cont AS MATERIALIZED (
  SELECT DISTINCT train_doc AS doc_id FROM (
{DECONTAMINATION_SQL}
  )
), ntok AS MATERIALIZED (
  SELECT doc_id,
         CAST(len({tokenize_sql()}) AS BIGINT) AS n_tokens
  FROM documents
), tagged AS (
  SELECT s.doc_id, s.split, n.n_tokens, CAST({shard} AS BIGINT) AS shard_id
  FROM surv s
  JOIN ntok n USING (doc_id)
  LEFT JOIN cont c USING (doc_id)
  WHERE s.doc_id % {BENCH_MOD} <> 0 AND c.doc_id IS NULL
)
SELECT split, shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM tagged GROUP BY 1, 2
"""


def corpus_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE (source, lang) over the corpus — the curation
    dashboard's multi-grain inventory (per-cell, per-source, per-lang
    subtotals, grand total) in ONE pass: documents, token mass, mean
    document length. The documents-side sibling of
    events.day_type_cube; grouping_id separates subtotal rows from
    genuine NULL keys. 100 TB: Spark expands the four grouping sets
    before the hash aggregate — one scan, one shuffle on low-
    cardinality keys; token counts are exact int64 so the mean's
    single division is engine-identical."""
    from capstone_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", F.size(tokenize("text")).cast("long").alias("n_tok")
    )
    return (
        docs.cube("source", "lang")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_tok").cast("double") / F.count("*").cast("double"), 6
            ).alias("mean_doc_tokens"),
        )
        .select("source", "lang", "gid", "n_docs", "n_tokens", "mean_doc_tokens")
    )


CORPUS_CUBE_SQL = f"""
WITH toks AS (
  SELECT source, lang,
         CAST(len({tokenize_sql()}) AS BIGINT) AS n_tok
  FROM documents
)
SELECT source, lang,
       CAST(GROUPING(source, lang) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_doc_tokens
FROM toks
GROUP BY CUBE (source, lang)
"""


# --- leave-one-source-out influence (data valuation) ------------------------
#
# Which source does the rest of the corpus fail to model? For each
# source s, score s's own tokens under TWO add-α unigram LMs: one
# trained on the full corpus (nll_self) and one trained on the corpus
# MINUS s (nll_holdout — the leave-one-group-out estimate, computed
# algebraically as C(t)−c_s(t) / N−N_s, no second pass). The gap
# `novelty` is the per-token information the corpus loses by dropping
# the source: ≈0 for redundant sources, large for sources whose
# vocabulary nothing else covers — the cheap group-level cousin of
# influence-function / Shapley data valuation, and the table a mixing
# curator reads next to source_mixing_weights before re-weighting.
LOSO_ALPHA = 0.5   # add-α smoothing over the FULL-corpus vocabulary


def source_loso_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, nll_self, nll_holdout, novelty), one row per
    source; novelty = nll_holdout − nll_self ≥ 0.

    Scale plan: one tokenize pass → per-(source,token) counts (the
    cached spine: ≤ |sources|·|vocab| rows, feeds all four consumers),
    per-token totals ride a second small token-keyed shuffle, the
    per-source totals and the 1-row (N, V) aggregate come back as
    broadcasts. The leave-one-out subtraction is column math on the
    spine — the whole valuation costs two uniform-key shuffles at any
    corpus size, never one LM fit per source. Numeric discipline:
    each cnt·ln(p) term snaps to DECIMAL(28,12) (summation-order
    exactness, unigram_logprob's recipe); novelty is the difference of
    the two ROUNDED nll columns so both engines subtract identical
    doubles."""
    from capstone_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokenize("text")).alias("token"))
    cst = cached(tok.groupBy("source", "token").agg(F.count("*").alias("c_st")))
    ct = cst.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    ns = cst.groupBy(F.col("source").alias("_src")).agg(F.sum("c_st").alias("n_s"))
    glob = cst.agg(
        F.sum("c_st").cast("double").alias("n_corpus"),
        F.countDistinct("token").cast("double").alias("v_corpus"),
    )
    a = F.lit(LOSO_ALPHA)
    p_self = (F.col("c_t") + a) / (F.col("n_corpus") + a * F.col("v_corpus"))
    p_held = (F.col("c_t") - F.col("c_st") + a) / (
        F.col("n_corpus") - F.col("n_s") + a * F.col("v_corpus")
    )
    terms = (
        cst.join(ct, "token")
        .join(F.broadcast(ns), F.col("source") == F.col("_src"))
        .crossJoin(F.broadcast(glob))
        .select(
            "source",
            "c_st",
            (F.col("c_st") * F.log(p_self)).cast("decimal(28,12)").alias("term_self"),
            (F.col("c_st") * F.log(p_held)).cast("decimal(28,12)").alias("term_held"),
        )
    )
    agg = terms.groupBy("source").agg(
        F.sum("c_st").alias("n_tokens"),
        F.round((-F.sum("term_self")).cast("double") / F.sum("c_st"), 6).alias("nll_self"),
        F.round((-F.sum("term_held")).cast("double") / F.sum("c_st"), 6).alias("nll_holdout"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "nll_self",
        "nll_holdout",
        F.round(F.col("nll_holdout") - F.col("nll_self"), 6).alias("novelty"),
    )


SOURCE_LOSO_INFLUENCE_SQL = f"""
WITH tok AS (
  SELECT source, UNNEST({tokenize_sql()}) AS token FROM documents
), cst AS (
  SELECT source, token, COUNT(*) AS c_st FROM tok GROUP BY 1, 2
), ct AS (
  SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY 1
), ns AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst GROUP BY 1
), gtot AS (
  SELECT CAST(SUM(c_st) AS DOUBLE) AS n_corpus,
         CAST(COUNT(DISTINCT token) AS DOUBLE) AS v_corpus
  FROM cst
), terms AS (
  SELECT c.source, c.c_st,
         CAST(c.c_st * ln((t.c_t + {LOSO_ALPHA}) / (g.n_corpus + {LOSO_ALPHA} * g.v_corpus))
              AS DECIMAL(28,12)) AS term_self,
         CAST(c.c_st * ln((t.c_t - c.c_st + {LOSO_ALPHA})
                          / (g.n_corpus - s.n_s + {LOSO_ALPHA} * g.v_corpus))
              AS DECIMAL(28,12)) AS term_held
  FROM cst c JOIN ct t USING (token) JOIN ns s USING (source) CROSS JOIN gtot g
), agg AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_tokens,
         ROUND(CAST(-SUM(term_self) AS DOUBLE) / SUM(c_st), 6) AS nll_self,
         ROUND(CAST(-SUM(term_held) AS DOUBLE) / SUM(c_st), 6) AS nll_holdout
  FROM terms GROUP BY source
)
SELECT source, n_tokens, nll_self, nll_holdout,
       ROUND(nll_holdout - nll_self, 6) AS novelty
FROM agg
"""


# ------------------------------------- span-corruption mask generation

MASK_PCT = 15          # per-position corruption rate (T5 uses 15%)
MASK_SALT = "spanmask:v1:"


def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_id, span_start, span_len) — T5-style span-
    corruption masks: each token position is independently marked at
    MASK_PCT% by a deterministic salted hash, and runs of consecutive
    marked positions collapse to spans (gaps-and-islands), numbered
    left-to-right per document. The denoising-objective prep step a
    seq2seq training pipeline runs over every document; deterministic,
    so the same corpus always yields the same masks and a re-run
    never changes a training example.

    Scale plan: tokenize → posexplode is per-row expression work; the
    mask flag is pure hash arithmetic (no shuffle); islands come from
    one window over (doc_id) ordered by position — per-document
    partitions, bounded by the document length policy, never a global
    window. One final (doc_id, grp) hash agg. Output ~ MASK_PCT% of
    corpus token mass in span rows."""
    from capstone_etl_spark.functions.hashing import md5_hash60
    from capstone_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(tokenize("text")).alias("pos", "token"))
    masked = toks.filter(
        md5_hash60(
            F.concat(F.lit(MASK_SALT), F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string"))
        ) % 100
        < MASK_PCT
    ).select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = masked.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    spans = islands.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        F.count("*").cast("long").alias("span_len"),
    )
    wd = Window.partitionBy("doc_id").orderBy("span_start")
    return spans.select(
        "doc_id",
        F.row_number().over(wd).cast("long").alias("span_id"),
        "span_start",
        "span_len",
    )


def _span_corruption_sql() -> str:
    from capstone_etl_spark.functions.hashing import md5_hash60_sql

    h = md5_hash60_sql(f"'{MASK_SALT}' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")
    return f"""
WITH toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
), pos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS token
  FROM {ngram_window_sql(1)}
), masked AS (
  SELECT doc_id, pos FROM pos
  WHERE token <> '' AND ({h} % 100) < {MASK_PCT}
), islands AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM masked
), spans AS (
  SELECT doc_id, grp, CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(COUNT(*) AS BIGINT) AS span_len
  FROM islands GROUP BY 1, 2
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_start) AS BIGINT) AS span_id,
       span_start, span_len
FROM spans
"""


# ------------------------------------------------- per-source datasheet


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, p50_chars, p95_chars, n_langs,
    top_lang, top_lang_share, exact_dup_rate, quality_pass_rate) —
    the per-source DATASHEET a corpus release ships (the 'dataset
    card' table): inventory, length distribution, language mix,
    exact-duplicate rate, and the quality-gate pass rate, one row per
    source. corpus_summary is the global twin; this is the per-source
    accountability artifact curation reviews read.

    Scale plan: ONE tokenize scan feeds a single groupBy(source) hash
    agg (counts, token mass, exact percentiles over the length-policy-
    bounded n_chars domain, distinct text-hash count for the dup
    rate); the language argmax is a second |source|×|lang|-bounded agg
    joined back — nothing after the first shuffle scales with rows.
    Rates are exact-int divisions; one 6-dp round each."""
    from capstone_etl_spark.functions.hashing import md5_hash60
    from capstone_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(tokenize("text")).cast("long").alias("n_tok"),
        md5_hash60(F.col("text")).alias("th"),
        (F.col("n_chars") >= MIN_CHARS).cast("long").alias("q_ok"),
    )
    card = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("p95_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("th").cast("long").alias("n_distinct_texts"),
        F.sum("q_ok").cast("long").alias("n_quality_ok"),
    )
    langs = (
        base.groupBy("source", "lang")
        .agg(F.count("*").alias("nl"))
        .groupBy("source")
        .agg(
            F.min(F.struct((-F.col("nl")).alias("neg"), F.col("lang").alias("lg"))).alias("m")
        )
        .select(
            "source", F.col("m.lg").alias("top_lang"), (-F.col("m.neg")).alias("n_top_lang")
        )
    )
    return card.join(langs, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "p50_chars",
        "p95_chars",
        "n_langs",
        "top_lang",
        F.round(F.col("n_top_lang").cast("double") / F.col("n_docs"), 6).alias("top_lang_share"),
        F.round(
            F.lit(1.0) - F.col("n_distinct_texts").cast("double") / F.col("n_docs"), 6
        ).alias("exact_dup_rate"),
        F.round(F.col("n_quality_ok").cast("double") / F.col("n_docs"), 6).alias(
            "quality_pass_rate"
        ),
    )


def _dataset_card_sql() -> str:
    from capstone_etl_spark.functions.hashing import md5_hash60_sql

    th = md5_hash60_sql("text")
    return f"""
WITH base AS (
  SELECT source, lang, n_chars,
         CAST(len({tokenize_sql()}) AS BIGINT) AS n_tok,
         {th} AS th,
         CASE WHEN n_chars >= {MIN_CHARS} THEN 1 ELSE 0 END AS q_ok
  FROM documents
), card AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
         ROUND(quantile_cont(n_chars, 0.95), 6) AS p95_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT th) AS BIGINT) AS n_distinct_texts,
         CAST(SUM(q_ok) AS BIGINT) AS n_quality_ok
  FROM base GROUP BY 1
), langs AS (
  SELECT source, lang AS top_lang, nl AS n_top_lang FROM (
    SELECT source, lang, COUNT(*) AS nl,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
    FROM base GROUP BY 1, 2
  ) t WHERE rn = 1
)
SELECT c.source, c.n_docs, c.n_tokens, c.p50_chars, c.p95_chars, c.n_langs,
       l.top_lang,
       ROUND(CAST(l.n_top_lang AS DOUBLE) / c.n_docs, 6) AS top_lang_share,
       ROUND(1.0 - CAST(c.n_distinct_texts AS DOUBLE) / c.n_docs, 6) AS exact_dup_rate,
       ROUND(CAST(c.n_quality_ok AS DOUBLE) / c.n_docs, 6) AS quality_pass_rate
FROM card c JOIN langs l USING (source)
"""


QUERIES = {
    "corpus_pipeline": corpus_pipeline,
    "training_manifest": training_manifest,
    "doc_chunks": doc_chunks,
    "doc_chunks_overlap": doc_chunks_overlap,
    "source_mixing_weights": source_mixing_weights,
    "mixing_allocation": mixing_allocation,
    "cluster_aware_splits": cluster_aware_splits,
    "corpus_summary": corpus_summary,
    "corpus_cube": corpus_cube,
    "source_loso_influence": source_loso_influence,
    "span_corruption_masks": span_corruption_masks,
    "dataset_card": dataset_card,
}

ORACLE_SQL = {
    "corpus_pipeline": CORPUS_PIPELINE_SQL,
    "training_manifest": _training_manifest_sql(),
    "doc_chunks": DOC_CHUNKS_SQL,
    "doc_chunks_overlap": DOC_CHUNKS_OVERLAP_SQL,
    "source_mixing_weights": SOURCE_MIXING_WEIGHTS_SQL,
    "mixing_allocation": MIXING_ALLOCATION_SQL,
    "cluster_aware_splits": _cluster_aware_splits_sql(),
    "corpus_summary": _corpus_summary_sql(),
    "corpus_cube": CORPUS_CUBE_SQL,
    "source_loso_influence": SOURCE_LOSO_INFLUENCE_SQL,
    "span_corruption_masks": _span_corruption_sql(),
    "dataset_card": _dataset_card_sql(),
}
