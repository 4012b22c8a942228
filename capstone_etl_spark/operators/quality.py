"""Corpus quality gating: Gopher-style rule filters and a unigram-LM
document score (the CCNet perplexity-filter shape).

Extension layer — the reference has no quality gating (SURVEY.md §2
"not present"); these are the filters every large-scale training-data
pipeline runs between raw scrape and dedup:

- `quality_filter_flags`: per-document pass/fail booleans for a fixed
  rule stack (Rae et al. 2021 "Gopher" §A1.1 heuristics re-expressed
  over this corpus' signals) plus the first failing rule. Pure per-row
  column math — no shuffle at any scale, the gate runs at scan speed.
- `quality_filter_funnel`: the audit every gated pipeline reports —
  docs in, marginal rejects per rule applied IN ORDER, docs surviving.
  One full-scan conditional aggregation (one 1-row shuffle), then the
  funnel rows are unpacked from the single agg row with inline+explode.
- `unigram_logprob`: mean per-token negative log-likelihood under the
  corpus' own unigram LM — the cheap stand-in for the CCNet/KenLM
  perplexity score used to bucket documents by "wikipedia-likeness"
  (Wenzek et al. 2020). Two uniform-key shuffles (per-(doc,token) TF,
  per-token corpus frequency) + one token-keyed join; the corpus total
  rides the plan as a 1-row broadcast scalar, never a driver action.

Rule thresholds are constants tuned so the synthetic corpus actually
splits (sf0.01: each rule rejects a nonzero slice; ~60% survive the
stack); on a real corpus they are the knobs the curator owns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60, md5_hash60_sql
from capstone_etl_spark.functions.text import ngram_window_sql, tokenize, tokenize_sql
from capstone_etl_spark.session import cached
from capstone_etl_spark.sources.tables import load_table

# Gopher §A1.1-shaped rule stack, in application order.
MIN_TOKENS = 20            # too-short docs carry no training signal
MAX_TOKENS = 100_000       # runaway concatenations
MIN_MEAN_TOK_LEN = 4.2     # mean word length window (Gopher: [3, 10])
MAX_MEAN_TOK_LEN = 10.0
MIN_TTR = 0.35             # type-token ratio: repetition proxy
MAX_DIGIT_RATIO = 0.20     # mostly-numeric docs
MIN_STOPWORD_HITS = 2      # distinct hits from the 8-word English core
# Gopher's "must contain ≥2 of" core function-word list. The synthetic
# corpus' vocabulary carries exactly two English function words ("the",
# "a"), so the list leads with those — the rule still splits the data
# instead of vacuously rejecting everything; swap in the full 8-word
# Gopher list ("the be to of and that have with") on a real corpus.
CORE_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that")

# (rule name, order) — the funnel reports marginal rejects in this order.
RULES = ("min_tokens", "max_tokens", "mean_token_len", "ttr", "digit_ratio", "stopwords")


def _rule_flags(docs: DataFrame) -> DataFrame:
    """doc_id + one boolean per rule (True = passes) + n_tokens."""
    toks = tokenize("text")
    n_tok = F.size(toks)
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_len = tok_chars.cast("double") / F.greatest(n_tok, F.lit(1))
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.greatest(n_tok, F.lit(1))
    text_len = F.length("text")
    digit_len = F.length(F.regexp_replace("text", "[^0-9]", ""))
    digit_ratio = F.when(text_len > 0, digit_len.cast("double") / text_len).otherwise(F.lit(0.0))
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in CORE_STOPWORDS])))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (n_tok >= MIN_TOKENS).alias("pass_min_tokens"),
        (n_tok <= MAX_TOKENS).alias("pass_max_tokens"),
        ((mean_len >= MIN_MEAN_TOK_LEN) & (mean_len <= MAX_MEAN_TOK_LEN)).alias("pass_mean_token_len"),
        (ttr >= MIN_TTR).alias("pass_ttr"),
        (digit_ratio <= MAX_DIGIT_RATIO).alias("pass_digit_ratio"),
        (stop_hits >= MIN_STOPWORD_HITS).alias("pass_stopwords"),
    )


def quality_filter_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rule verdicts + the first failing rule (NULL = keep).
    Entirely per-row expressions: at 100 TB this is a map-only pass
    fused into the parquet scan (one WholeStageCodegen, no exchange)."""
    flags = _rule_flags(load_table(spark, sf_dir, "documents"))
    first_fail = F.lit(None).cast("string")
    for rule in reversed(RULES):
        first_fail = F.when(~F.col(f"pass_{rule}"), F.lit(rule)).otherwise(first_fail)
    keep = F.lit(True)
    for rule in RULES:
        keep = keep & F.col(f"pass_{rule}")
    return flags.select(
        "doc_id",
        "n_tokens",
        *[f"pass_{r}" for r in RULES],
        keep.alias("keep"),
        first_fail.alias("reject_reason"),
    )


def funnel_counts(docs: DataFrame) -> DataFrame:
    """The funnel as ONE conditional aggregation (1-row result) over
    raw documents — stateless column math + a global agg, so the same
    expression runs on a batch frame or a streaming frame (complete
    mode; stream_quality_funnel's state is this one row)."""
    flags = _rule_flags(docs)
    aggs = [F.count("*").alias("n_total")]
    surv = F.lit(True)
    for rule in RULES:
        aggs.append(F.sum((surv & ~F.col(f"pass_{rule}")).cast("long")).alias(f"rej_{rule}"))
        surv = surv & F.col(f"pass_{rule}")
    return flags.agg(*aggs)


def funnel_unpack(one: DataFrame) -> DataFrame:
    """|RULES| funnel rows unpacked from the single agg row via
    inline(array(struct…)) — no second scan, no per-rule jobs."""
    stages = []
    entering: Column = F.col("n_total")
    for i, rule in enumerate(RULES):
        rejected = F.col(f"rej_{rule}")
        stages.append(
            F.struct(
                F.lit(i + 1).cast("int").alias("stage"),
                F.lit(rule).alias("rule"),
                entering.cast("long").alias("n_in"),
                rejected.cast("long").alias("n_rejected"),
                (entering - rejected).cast("long").alias("n_out"),
            )
        )
        entering = entering - rejected
    return one.select(F.inline(F.array(*stages)))


def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage audit of the rule stack: for each rule, documents
    entering that stage, rejected BY that stage (first-fail semantics),
    and surviving — one conditional aggregation + the inline unpack."""
    return funnel_unpack(funnel_counts(load_table(spark, sf_dir, "documents")))


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative log-likelihood (nats/token) of each document under
    the corpus unigram distribution, plus its token count — low nll =
    head-token boilerplate, high nll = rare-token text; the buckets a
    CCNet-style mixer samples from.

    Plan: one tokenize pass → per-(doc,token) TF (cached: feeds both
    the corpus frequency table and the per-doc score), token-keyed join
    TF×freq, per-doc aggregation. The corpus token total enters as a
    1-row broadcast cross join (no driver .count() — that would run the
    lineage twice). Token keys are Zipf-skewed; the TF pre-aggregation
    bounds any token's row count by |docs| and AQE skew-split handles
    the head. Numeric discipline: ln() may drift an ulp across engines
    and summation order differs under partial aggs, so each term
    cnt·ln(p) snaps to DECIMAL(28,12), sums exactly, and only the final
    per-token mean rounds to 6 decimals (token_entropy's recipe)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = cached(tok.groupBy("doc_id", "token").agg(F.count("*").alias("cnt")))
    freq = tf.groupBy("token").agg(F.sum("cnt").alias("tok_cnt"))
    total = tf.agg(F.sum("cnt").cast("double").alias("_n_corpus"))
    term = (
        F.col("cnt") * F.log(F.col("tok_cnt").cast("double") / F.col("_n_corpus"))
    ).cast("decimal(28,12)")
    return (
        tf.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "cnt", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round((-F.sum("term")).cast("double") / F.sum("cnt"), 6).alias("nll_nats"),
        )
    )


def difficulty_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: every document placed in a global decile of
    the unigram-LM difficulty score (low decile = head-token easy text,
    high = rare-token hard text) — the table a curriculum sampler or
    difficulty-stratified mixer consumes.

    Global ranking WITHOUT a global window: `with_dense_ids` range-sorts
    on (nll, doc_id) and assigns ids via per-partition ranks + a
    broadcast offset table (the O2 machinery); decile = (rank·10) div N
    with N entering as a 1-row broadcast. Integer div floors identically
    in both engines, and the rank order is identical because the rounded
    nll values already hash-match."""
    from capstone_etl_spark.operators.vocab import with_dense_ids

    nll = unigram_logprob(spark, sf_dir)
    ranked = with_dense_ids(nll, [F.col("nll_nats"), F.col("doc_id")], id_name="_rid")
    n_rel = ranked.agg(F.count("*").alias("_n_docs"))
    return (
        ranked.crossJoin(F.broadcast(n_rel))
        .select(
            "doc_id",
            "n_tokens",
            "nll_nats",
            F.expr("(_rid * 10) div _n_docs").cast("long").alias("decile"),
        )
    )


_CORE_STOP_SQL = ", ".join(f"'{s}'" for s in CORE_STOPWORDS)

_FLAGS_SQL = f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       len(toks) >= {MIN_TOKENS} AS pass_min_tokens,
       len(toks) <= {MAX_TOKENS} AS pass_max_tokens,
       (CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE) / greatest(len(toks), 1)
          BETWEEN {MIN_MEAN_TOK_LEN} AND {MAX_MEAN_TOK_LEN}) AS pass_mean_token_len,
       (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1)) >= {MIN_TTR} AS pass_ttr,
       (CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
             ELSE 0.0 END) <= {MAX_DIGIT_RATIO} AS pass_digit_ratio,
       len(list_intersect(list_distinct(toks), [{_CORE_STOP_SQL}])) >= {MIN_STOPWORD_HITS} AS pass_stopwords
FROM (SELECT doc_id, text, {tokenize_sql()} AS toks FROM documents) b
"""

QUALITY_FILTER_FLAGS_SQL = f"""
WITH flags AS ({_FLAGS_SQL})
SELECT doc_id, n_tokens,
       pass_min_tokens, pass_max_tokens, pass_mean_token_len,
       pass_ttr, pass_digit_ratio, pass_stopwords,
       (pass_min_tokens AND pass_max_tokens AND pass_mean_token_len
        AND pass_ttr AND pass_digit_ratio AND pass_stopwords) AS keep,
       CASE WHEN NOT pass_min_tokens THEN 'min_tokens'
            WHEN NOT pass_max_tokens THEN 'max_tokens'
            WHEN NOT pass_mean_token_len THEN 'mean_token_len'
            WHEN NOT pass_ttr THEN 'ttr'
            WHEN NOT pass_digit_ratio THEN 'digit_ratio'
            WHEN NOT pass_stopwords THEN 'stopwords'
       END AS reject_reason
FROM flags
"""

QUALITY_FILTER_FUNNEL_SQL = f"""
WITH flags AS ({_FLAGS_SQL}),
agg AS (
  SELECT COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN NOT pass_min_tokens THEN 1 ELSE 0 END) AS BIGINT) AS rej_min_tokens,
         CAST(SUM(CASE WHEN pass_min_tokens AND NOT pass_max_tokens THEN 1 ELSE 0 END) AS BIGINT) AS rej_max_tokens,
         CAST(SUM(CASE WHEN pass_min_tokens AND pass_max_tokens AND NOT pass_mean_token_len THEN 1 ELSE 0 END) AS BIGINT) AS rej_mean_token_len,
         CAST(SUM(CASE WHEN pass_min_tokens AND pass_max_tokens AND pass_mean_token_len AND NOT pass_ttr THEN 1 ELSE 0 END) AS BIGINT) AS rej_ttr,
         CAST(SUM(CASE WHEN pass_min_tokens AND pass_max_tokens AND pass_mean_token_len AND pass_ttr AND NOT pass_digit_ratio THEN 1 ELSE 0 END) AS BIGINT) AS rej_digit_ratio,
         CAST(SUM(CASE WHEN pass_min_tokens AND pass_max_tokens AND pass_mean_token_len AND pass_ttr AND pass_digit_ratio AND NOT pass_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS rej_stopwords
  FROM flags
)
SELECT s.stage, s.rule, s.n_in, s.n_rejected, s.n_in - s.n_rejected AS n_out
FROM agg, LATERAL (
  VALUES
    (1, 'min_tokens', n_total, rej_min_tokens),
    (2, 'max_tokens', n_total - rej_min_tokens, rej_max_tokens),
    (3, 'mean_token_len', n_total - rej_min_tokens - rej_max_tokens, rej_mean_token_len),
    (4, 'ttr', n_total - rej_min_tokens - rej_max_tokens - rej_mean_token_len, rej_ttr),
    (5, 'digit_ratio', n_total - rej_min_tokens - rej_max_tokens - rej_mean_token_len - rej_ttr, rej_digit_ratio),
    (6, 'stopwords', n_total - rej_min_tokens - rej_max_tokens - rej_mean_token_len - rej_ttr - rej_digit_ratio, rej_stopwords)
) AS s(stage, rule, n_in, n_rejected)
"""

UNIGRAM_LOGPROB_SQL = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({tokenize_sql()}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
), freq AS (
  SELECT token, CAST(SUM(cnt) AS BIGINT) AS tok_cnt FROM tf GROUP BY 1
), total AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS n_corpus FROM tf
), terms AS (
  SELECT tf.doc_id, tf.cnt,
         CAST(tf.cnt * ln(CAST(f.tok_cnt AS DOUBLE) / t.n_corpus) AS DECIMAL(28,12)) AS term
  FROM tf JOIN freq f USING (token) CROSS JOIN total t
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       ROUND(CAST(-SUM(term) AS DOUBLE) / SUM(cnt), 6) AS nll_nats
FROM terms GROUP BY doc_id
"""


DIFFICULTY_DECILES_SQL = f"""
WITH u AS ({UNIGRAM_LOGPROB_SQL}),
r AS (
  SELECT doc_id, n_tokens, nll_nats,
         ROW_NUMBER() OVER (ORDER BY nll_nats, doc_id) - 1 AS rid,
         COUNT(*) OVER () AS n
  FROM u
)
SELECT doc_id, n_tokens, nll_nats, (rid * 10) // n AS decile FROM r
"""


# --------------------------------------------------- curriculum schedule

# Difficulty-aware training ORDER, the consumer of difficulty_deciles:
# two schedules a trainer actually compares —
#   curriculum_pos:  easy deciles first, salted-shuffle within each
#                    decile (classic curriculum: difficulty anneals
#                    over the epoch, no intra-bin length/source bias);
#   interleave_pos:  round-robin across deciles with the same
#                    within-bin shuffle (stratified mixing: every
#                    training window sees the full difficulty range —
#                    the IID-but-balanced baseline the curriculum is
#                    ablated against).
# Both orders derive from one salted hash, so the schedule is fully
# reproducible from doc ids alone (restart-safe, no RNG state).
CURRICULUM_SALT = "curriculum:v1:"


def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, decile, within_rank, curriculum_pos, interleave_pos).

    Scale plan (100 TB): the global order comes from `with_dense_ids`
    on (decile, salted_hash, doc_id) — one range-partitioned sort, no
    single-partition window; within-decile ranks are recovered by
    subtracting a 10-row running-sum offset table (broadcast), NEVER a
    Window.partitionBy(decile) (10 partitions would serialize the
    corpus through 10 tasks). interleave_pos is pure per-row
    arithmetic on top."""
    from capstone_etl_spark.functions.windows import bounded_window_key
    from capstone_etl_spark.operators.vocab import with_dense_ids

    d = difficulty_deciles(spark, sf_dir).select("doc_id", "decile")
    s = d.withColumn(
        "_shk",
        md5_hash60(F.concat(F.lit(CURRICULUM_SALT), F.col("doc_id").cast("string"))),
    )
    g = with_dense_ids(
        s, [F.col("decile"), F.col("_shk"), F.col("doc_id")], id_name="curriculum_pos"
    )
    off_w = (
        # bound: ≤ 10 rows (one per decile) at any corpus size
        Window.partitionBy(bounded_window_key("decile"))
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        g.groupBy("decile")
        .agg(F.count("*").alias("_cnt"))
        .select("decile", F.coalesce(F.sum("_cnt").over(off_w), F.lit(0)).alias("_off"))
    )
    within = (F.col("curriculum_pos") - F.col("_off")).cast("long")
    return (
        g.join(F.broadcast(offsets), "decile")
        .select(
            "doc_id",
            "decile",
            within.alias("within_rank"),
            "curriculum_pos",
            (within * 10 + F.col("decile")).cast("long").alias("interleave_pos"),
        )
    )


CURRICULUM_SCHEDULE_SQL = f"""
WITH u AS ({UNIGRAM_LOGPROB_SQL}),
r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY nll_nats, doc_id) - 1 AS rid,
         COUNT(*) OVER () AS n
  FROM u
), d AS (
  SELECT doc_id, (rid * 10) // n AS decile FROM r
), s AS (
  SELECT doc_id, decile,
         {md5_hash60_sql(f"'{CURRICULUM_SALT}' || CAST(doc_id AS VARCHAR)")} AS shk
  FROM d
), g AS (
  SELECT doc_id, decile,
         ROW_NUMBER() OVER (ORDER BY decile, shk, doc_id) - 1 AS curriculum_pos,
         ROW_NUMBER() OVER (PARTITION BY decile ORDER BY shk, doc_id) - 1 AS within_rank
  FROM s
)
SELECT doc_id, CAST(decile AS BIGINT) AS decile,
       CAST(within_rank AS BIGINT) AS within_rank,
       CAST(curriculum_pos AS BIGINT) AS curriculum_pos,
       CAST(within_rank * 10 + decile AS BIGINT) AS interleave_pos
FROM g
"""


# --------------------------------------------- split perplexity gap
#
# The overfit/leakage canary: fit the add-α unigram LM on the TRAIN
# split only and score every split under it. val/test should sit a
# healthy margin ABOVE train (unseen text is harder); a gap near zero
# means the splits are not independent — near-duplicates straddling
# the cut, or a split keyed on something correlated with content —
# exactly the failure split_leakage_audit hunts pair-by-pair, read
# here as one corpus-level statistic.
GAP_ALPHA = 0.5   # add-α over the TRAIN vocabulary (+1 OOV class)


def split_perplexity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, n_tokens, nll, gap): mean per-token NLL of each split
    under the train-split unigram LM, and gap = nll − nll_train
    (0 for train by construction; healthy val/test gaps are positive).

    Scale plan: one tokenize pass → per-(split, token) counts (the
    cached spine), the train LM rides back as a token-keyed left join
    (OOV → α numerator), and the (N_train, V_train) scalars enter as a
    1-row broadcast; the per-split aggregation is 3 rows. The gap
    column joins the 1-row train-nll relation back over the 3-row
    result — nothing after the token shuffles scales with the corpus.
    Numeric discipline: cnt·ln(p) snaps to DECIMAL(28,12), one final
    6-dp round, gap computed from the two ROUNDED nll values."""
    from capstone_etl_spark.operators.sampling import split_column

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        split_column(F.col("doc_id")).alias("split"),
        F.explode(tokenize("text")).alias("token"),
    )
    cst = cached(tok.groupBy("split", "token").agg(F.count("*").alias("cnt")))
    train = cst.filter(F.col("split") == "train").select(
        F.col("token").alias("_tok"), F.col("cnt").alias("c_train")
    )
    stats = train.agg(
        F.sum("c_train").cast("double").alias("n_train"),
        F.count("*").cast("double").alias("v_train"),
    )
    a = F.lit(GAP_ALPHA)
    # +1 smoothing class for OOV mass so unseen tokens get α/(N+α(V+1))
    p = (F.coalesce(F.col("c_train"), F.lit(0)) + a) / (
        F.col("n_train") + a * (F.col("v_train") + 1)
    )
    per_split = (
        cst.join(train, F.col("token") == F.col("_tok"), "left")
        .crossJoin(F.broadcast(stats))
        .select("split", "cnt", (F.col("cnt") * F.log(p)).cast("decimal(28,12)").alias("term"))
        .groupBy("split")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round((-F.sum("term")).cast("double") / F.sum("cnt"), 6).alias("nll"),
        )
    )
    base = per_split.filter(F.col("split") == "train").select(
        F.col("nll").alias("_nll_train")
    )
    # LEFT join: an empty train split must yield NULL gaps (DuckDB's
    # scalar subquery semantics), not drop the surviving split rows
    return per_split.join(F.broadcast(base), F.lit(True), "left").select(
        "split",
        "n_tokens",
        "nll",
        F.round(F.col("nll") - F.col("_nll_train"), 6).alias("gap"),
    )


def _split_gap_sql() -> str:
    from capstone_etl_spark.operators.sampling import split_sql_case

    return f"""
WITH tok AS (
  SELECT {split_sql_case("doc_id")} AS split,
         UNNEST({tokenize_sql()}) AS token
  FROM documents
), cst AS (
  SELECT split, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
), train AS (
  SELECT token AS tok, cnt AS c_train FROM cst WHERE split = 'train'
), stats AS (
  SELECT CAST(SUM(c_train) AS DOUBLE) AS n_train,
         CAST(COUNT(*) AS DOUBLE) AS v_train
  FROM train
), per_split AS (
  SELECT c.split, CAST(SUM(c.cnt) AS BIGINT) AS n_tokens,
         ROUND(CAST(-SUM(CAST(c.cnt * ln((COALESCE(t.c_train, 0) + {GAP_ALPHA})
                                          / (s.n_train + {GAP_ALPHA} * (s.v_train + 1)))
                          AS DECIMAL(28,12))) AS DOUBLE) / SUM(c.cnt), 6) AS nll
  FROM cst c LEFT JOIN train t ON c.token = t.tok CROSS JOIN stats s
  GROUP BY 1
)
SELECT split, n_tokens, nll,
       ROUND(nll - (SELECT nll FROM per_split WHERE split = 'train'), 6) AS gap
FROM per_split
"""


SPLIT_PERPLEXITY_GAP_SQL = _split_gap_sql()


MAD_SIGMA = 1.4826   # consistency constant: MAD·1.4826 ≈ σ under normality
MAD_K = 3.5          # robust-z cutoff (Iglewicz–Hoaglin's recommended 3.5)


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust document-length outlier detection: flag docs whose token
    count sits more than MAD_K robust standard deviations from the
    corpus median, with σ estimated as MAD·1.4826 — the
    median-absolute-deviation screen a curation pipeline runs instead
    of mean/stddev (which the outliers themselves corrupt).

    Exactness: token counts are integers; both engines' continuous
    median interpolates the two middle values as (a+b)/2 — a dyadic
    rational, exact in double — and |n−med| stays dyadic, so the second
    median (the MAD) is exact too. robust_z divides by the fixed IEEE
    product 1.4826·mad — deterministic given identical inputs — and
    rounds to 6 dp. mad = 0 (half the corpus at one length) falls back
    to flagging any deviation at all, never a divide-by-zero.

    100 TB shape: one tokenize scan → per-row count (map-only, cached —
    feeds both medians and the final flags); two exact-percentile
    aggregations whose state is a value→count map BOUNDED by the
    distinct token-count values (≤ MAX_TOKENS distinct keys no matter
    the row count), each landing as a 1-row relation broadcast back;
    final flags are per-row expressions. No windows, no data-sized
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    counts = cached(docs.select("doc_id", F.size(tokenize("text")).cast("long").alias("n_tok")))
    med = counts.agg(F.percentile("n_tok", F.lit(0.5)).alias("_med"))
    devs = counts.crossJoin(F.broadcast(med)).select(
        "doc_id", "n_tok", "_med", F.abs(F.col("n_tok") - F.col("_med")).alias("_dev")
    )
    mad = devs.agg(F.percentile("_dev", F.lit(0.5)).alias("_mad"))
    out = devs.crossJoin(F.broadcast(mad))
    z = (F.col("n_tok") - F.col("_med")) / (F.lit(MAD_SIGMA) * F.col("_mad"))
    return out.select(
        "doc_id",
        "n_tok",
        F.round("_med", 6).alias("median_tok"),
        F.round("_mad", 6).alias("mad_tok"),
        F.when(F.col("_mad") > 0, F.round(z, 6)).alias("robust_z"),
        F.when(F.col("_mad") > 0, F.abs(z) > MAD_K)
        .otherwise(F.col("_dev") > 0)
        .alias("is_outlier"),
    )


MAD_OUTLIERS_SQL = f"""
WITH counts AS (
  SELECT doc_id, CAST(len({tokenize_sql()}) AS BIGINT) AS n_tok FROM documents
), med AS (
  SELECT quantile_cont(n_tok, 0.5) AS m FROM counts
), devs AS (
  SELECT doc_id, n_tok, m, abs(n_tok - m) AS dev FROM counts CROSS JOIN med
), mad AS (
  SELECT quantile_cont(dev, 0.5) AS md FROM devs
)
SELECT doc_id, n_tok,
       ROUND(m, 6) AS median_tok,
       ROUND(md, 6) AS mad_tok,
       CASE WHEN md > 0 THEN ROUND((n_tok - m) / ({MAD_SIGMA} * md), 6) END AS robust_z,
       CASE WHEN md > 0 THEN abs((n_tok - m) / ({MAD_SIGMA} * md)) > {MAD_K}
            ELSE dev > 0 END AS is_outlier
FROM devs CROSS JOIN mad
"""


def curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed per-document curation decision — the single table a
    corpus curator actually acts on: the Gopher rule verdict, the
    unigram-LM quality score, and the robust length-outlier flag
    joined per doc_id, with the final keep = rules pass AND not a
    length outlier. Composition only — each input is its own
    oracle-checked operator; this query pins that the three screens
    agree on doc identity and that the join logic (LEFT join for the
    LM score — zero-token docs have no LM rows) is engine-identical.

    100 TB shape: three per-doc relations joined on the uniform doc_id
    key; the flags and outlier inputs are map-only over the same scan,
    the LM score is unigram_logprob's audited plan."""
    flags = quality_filter_flags(spark, sf_dir).select("doc_id", "keep", "reject_reason")
    nll = unigram_logprob(spark, sf_dir).select("doc_id", "n_tokens", "nll_nats")
    out = mad_outliers(spark, sf_dir).select("doc_id", "robust_z", "is_outlier")
    return (
        flags.join(nll, "doc_id", "left")
        .join(out, "doc_id")
        .select(
            "doc_id",
            "keep",
            "reject_reason",
            "n_tokens",
            "nll_nats",
            "robust_z",
            "is_outlier",
            (F.col("keep") & ~F.col("is_outlier")).alias("keep_final"),
        )
    )


CURATION_VERDICT_SQL = f"""
WITH flags AS ({QUALITY_FILTER_FLAGS_SQL}),
nll AS ({UNIGRAM_LOGPROB_SQL}),
outl AS ({MAD_OUTLIERS_SQL})
SELECT f.doc_id, f.keep, f.reject_reason,
       n.n_tokens, n.nll_nats,
       o.robust_z, o.is_outlier,
       (f.keep AND NOT o.is_outlier) AS keep_final
FROM flags f
LEFT JOIN nll n USING (doc_id)
JOIN outl o USING (doc_id)
"""


def source_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup of the curation verdict — the 20-row dashboard
    that says WHERE the rejected mass lives: docs, rule-keeps, length
    outliers, final keeps, keep rate, and the mean LM score of the
    kept documents per source. Feeds the mixing stage (a source with a
    low keep rate needs its raw weight re-examined).

    Exactness: counts are exact; nll_nats values arrive 6-dp-rounded so
    the DECIMAL(18,6) cast is lossless and the sum order-free; one
    double division each for the rate and the mean, rounded 6 dp.
    100 TB: curation_verdict's audited plan + one |sources|-bounded
    aggregation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    v = curation_verdict(spark, sf_dir).join(docs, "doc_id")
    kept_nll = F.when(F.col("keep_final"), F.col("nll_nats").cast("decimal(18,6)"))
    return v.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep_rules"),
        F.sum(F.col("is_outlier").cast("long")).cast("long").alias("n_outliers"),
        F.sum(F.col("keep_final").cast("long")).cast("long").alias("n_keep_final"),
        F.round(
            F.sum(F.col("keep_final").cast("long")).cast("double") / F.count("*"), 6
        ).alias("keep_rate"),
        F.round(
            F.sum(kept_nll).cast("double")
            / F.sum(F.col("keep_final").cast("long")),
            6,
        ).alias("mean_nll_kept"),
    )


SOURCE_QUALITY_SUMMARY_SQL = f"""
WITH v AS ({CURATION_VERDICT_SQL}),
j AS (SELECT v.*, d.source FROM v JOIN documents d USING (doc_id))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_rules,
       CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN keep_final THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_final,
       ROUND(CAST(SUM(CASE WHEN keep_final THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate,
       ROUND(CAST(SUM(CASE WHEN keep_final THEN CAST(nll_nats AS DECIMAL(18,6)) END) AS DOUBLE)
             / SUM(CASE WHEN keep_final THEN 1 ELSE 0 END), 6) AS mean_nll_kept
FROM j
GROUP BY source
"""


# --- DSIR importance weights ------------------------------------------------
#
# Hashed-bigram importance resampling weights (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling"): score every
# raw document by how much more likely its hashed n-gram features are
# under a TARGET distribution than under the RAW corpus distribution.
# The target here is the corpus' own rule-passing subset (the
# quality_filter_flags keep set) — self-contained, and exactly the DSIR
# recipe with "target = trusted high-quality text".
DSIR_BUCKETS = 512


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR log importance weight log p_target(x) −
    log p_raw(x) under hashed-bigram bag-of-features models with add-1
    smoothing over DSIR_BUCKETS buckets. Positive = looks more like the
    quality-gated target than the raw corpus; the resampler draws docs
    with probability ∝ exp(weight). Docs with < 2 tokens have no
    features and are absent (they carry no evidence either way).

    Plan: one tokenize → bigram explode → portable md5 bucket (the
    Count-Min recipe, sketches.py) → per-(doc,bucket) counts (cached:
    feeds both models and the per-doc score). Both feature models are
    DSIR_BUCKETS-row relations joined back BROADCAST; feature-mass
    totals enter as 1-row broadcasts — no driver actions, no windows,
    and the only data-sized shuffle is the (doc,bucket) count. At
    100 TB the bucket tables stay 512 rows regardless of corpus size —
    that boundedness is the whole point of hashed DSIR.

    Exactness: each cnt·ln(ratio) term snaps to DECIMAL(28,12) and sums
    exactly (unigram_logprob's recipe); final weight rounds to 6 dp."""
    docs = load_table(spark, sf_dir, "documents")
    keep_expr = F.lit(True)
    for rule in RULES:
        keep_expr = keep_expr & F.col(f"pass_{rule}")
    keep_ids = cached(_rule_flags(docs).select("doc_id", keep_expr.alias("is_target")))
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i])) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    tfb = cached(
        grams.select("doc_id", (md5_hash60(F.col("gram")) % DSIR_BUCKETS).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    tgt = tfb.join(keep_ids.filter("is_target").select("doc_id"), "doc_id", "left_semi")
    tcnt = tgt.groupBy("bucket").agg(F.sum("cnt").alias("t_cnt"))
    rcnt = tfb.groupBy("bucket").agg(F.sum("cnt").alias("r_cnt"))
    ttot = tgt.agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("double").alias("t_tot"))
    rtot = tfb.agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("double").alias("r_tot"))
    term = (
        F.col("cnt")
        * F.log(
            ((F.col("t_cnt") + F.lit(1.0)) / (F.col("t_tot") + F.lit(float(DSIR_BUCKETS))))
            / ((F.col("r_cnt") + F.lit(1.0)) / (F.col("r_tot") + F.lit(float(DSIR_BUCKETS))))
        )
    ).cast("decimal(28,12)")
    scored = (
        tfb.join(F.broadcast(rcnt), "bucket")
        .join(F.broadcast(tcnt), "bucket", "left")
        .na.fill({"t_cnt": 0})
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .select("doc_id", "cnt", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.round(F.sum("term").cast("double"), 6).alias("dsir_logweight"),
        )
    )
    return scored.join(keep_ids, "doc_id").select(
        "doc_id", "n_feats", "is_target", "dsir_logweight"
    )


_KEEP_PRED = " AND ".join(f"pass_{r}" for r in RULES)

DSIR_IMPORTANCE_SQL = f"""
WITH flags AS ({_FLAGS_SQL}),
keep AS (SELECT doc_id, ({_KEEP_PRED}) AS is_target FROM flags),
toks AS (SELECT doc_id, {tokenize_sql()} AS t FROM documents),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
  FROM {ngram_window_sql(2)}
),
tfb AS (
  SELECT doc_id, {md5_hash60_sql('gram')} % {DSIR_BUCKETS} AS bucket, COUNT(*) AS cnt
  FROM grams GROUP BY 1, 2
),
tgt AS (SELECT f.* FROM tfb f JOIN keep k USING (doc_id) WHERE k.is_target),
tcnt AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS t_cnt FROM tgt GROUP BY 1),
rcnt AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS r_cnt FROM tfb GROUP BY 1),
ttot AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS DOUBLE) AS t_tot FROM tgt),
rtot AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS DOUBLE) AS r_tot FROM tfb),
terms AS (
  SELECT f.doc_id, f.cnt,
         CAST(f.cnt * LN(((COALESCE(tc.t_cnt, 0) + 1.0) / (ttot.t_tot + {DSIR_BUCKETS}.0))
                         / ((rc.r_cnt + 1.0) / (rtot.r_tot + {DSIR_BUCKETS}.0)))
              AS DECIMAL(28,12)) AS term
  FROM tfb f
  JOIN rcnt rc USING (bucket)
  LEFT JOIN tcnt tc USING (bucket)
  CROSS JOIN ttot CROSS JOIN rtot
),
scored AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
         ROUND(CAST(SUM(term) AS DOUBLE), 6) AS dsir_logweight
  FROM terms GROUP BY 1
)
SELECT s.doc_id, s.n_feats, k.is_target, s.dsir_logweight
FROM scored s JOIN keep k USING (doc_id)
"""


# --- token-budget corpus selection ------------------------------------------
#
# Every pretraining run has a token budget per source; the curator takes
# the BEST documents first (lowest unigram-LM nll = cleanest text) until
# the budget is spent. The greedy prefix of a sorted order is exactly a
# cumulative sum — computed here fully distributed.
BUDGET_PCT = 60  # select until 60% of each source's token mass is spent


def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source selection under a token budget: docs ordered by
    (nll_nats, doc_id) within each source accumulate their token counts;
    a doc is selected iff it STARTS before the source's budget
    (BUDGET_PCT% of the source's total tokens) is exhausted — so exactly
    one doc may straddle the boundary, and the selection is the maximal
    quality-first prefix.

    The ordered per-source running sum is the distributed prefix-sum
    generalization of vocab.with_dense_ids: range-sort on (source, nll,
    doc_id) → per-partition local running sums (window partitioned by
    (partition id, source) — bounded by partition size) → per-(partition,
    source) totals (≤ partitions × sources rows) → running offsets per
    source over that driver-sized relation → broadcast join back. No
    single-partition window over data-sized input at any scale; budgets
    are a |sources|-row broadcast. Integer token counts make every sum
    exact; the budget is integer percent arithmetic (`div`), floored
    identically in both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = unigram_logprob(spark, sf_dir).join(docs, "doc_id")
    local_w = Window.partitionBy("_pid", "source").orderBy("nll_nats", "doc_id")
    ranked = cached(
        d.orderBy("source", "nll_nats", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lcum", F.sum("n_tokens").over(local_w))
    )
    off_w = (
        Window.partitionBy("source")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranked.groupBy("_pid", "source")
        .agg(F.sum("n_tokens").alias("_psum"))
        .select(
            "_pid", "source", F.coalesce(F.sum("_psum").over(off_w), F.lit(0)).alias("_off")
        )
    )
    budgets = d.groupBy("source").agg(
        F.expr(f"(sum(n_tokens) * {BUDGET_PCT}) div 100").cast("long").alias("budget")
    )
    cum = (F.col("_off") + F.col("_lcum")).cast("long")
    return (
        ranked.join(F.broadcast(offsets), ["_pid", "source"])
        .join(F.broadcast(budgets), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "nll_nats",
            cum.alias("cum_tokens"),
            "budget",
            ((cum - F.col("n_tokens")) < F.col("budget")).alias("selected"),
        )
    )


TOKEN_BUDGET_SELECTION_SQL = f"""
WITH u AS ({UNIGRAM_LOGPROB_SQL}),
d AS (SELECT u.*, doc.source FROM u JOIN documents doc USING (doc_id)),
c AS (
  SELECT *,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY nll_nats, doc_id) AS BIGINT) AS cum_tokens
  FROM d
),
b AS (SELECT source, CAST((SUM(n_tokens) * {BUDGET_PCT}) // 100 AS BIGINT) AS budget FROM d GROUP BY 1)
SELECT c.doc_id, c.source, c.n_tokens, c.nll_nats, c.cum_tokens, b.budget,
       (c.cum_tokens - c.n_tokens) < b.budget AS selected
FROM c JOIN b USING (source)
"""


# --- signal correlations ----------------------------------------------------

SIGNALS = ("n_tokens", "mean_tok_len", "ttr", "digit_ratio")
SIGNAL_PAIRS = [
    (SIGNALS[i], SIGNALS[j])
    for i in range(len(SIGNALS))
    for j in range(i + 1, len(SIGNALS))
]


def signal_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of per-document quality
    signals — the diagnostic a curator reads before trusting any one
    signal as a filter (two rules that correlate at 0.9 are one rule
    applied twice; a threshold on either rejects the same mass).

    Exactness: each per-doc signal snaps to DECIMAL(12,6); all five
    sufficient statistics per pair (n, Sx, Sy, Sxx, Syy, Sxy) are
    EXACT decimal sums, so both engines feed bit-identical doubles
    into one deterministic final expression
    (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)), rounded to 6.
    Zero-variance signals (degenerate corpora) yield r = NULL.

    Scale: ONE full-scan aggregation producing a single row of
    sufficient statistics; the pair table is unpacked from that row
    with inline/explode. Nothing downstream of the scan depends on
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks)
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_len = tok_chars.cast("double") / F.greatest(n_tok, F.lit(1))
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.greatest(n_tok, F.lit(1))
    text_len = F.length("text")
    digit_len = F.length(F.regexp_replace("text", "[^0-9]", ""))
    digit_ratio = F.when(text_len > 0, digit_len.cast("double") / text_len).otherwise(
        F.lit(0.0)
    )
    sig = {
        "n_tokens": n_tok.cast("decimal(12,6)"),
        "mean_tok_len": mean_len.cast("decimal(12,6)"),
        "ttr": ttr.cast("decimal(12,6)"),
        "digit_ratio": digit_ratio.cast("decimal(12,6)"),
    }
    per_doc = docs.select(*[c.alias(k) for k, c in sig.items()])
    aggs = [F.count("*").cast("long").alias("n")]
    for s in SIGNALS:
        aggs.append(F.sum(F.col(s)).cast("double").alias(f"s_{s}"))
        aggs.append(F.sum(F.col(s) * F.col(s)).cast("double").alias(f"p_{s}_{s}"))
    for x, y in SIGNAL_PAIRS:
        aggs.append(F.sum(F.col(x) * F.col(y)).cast("double").alias(f"p_{x}_{y}"))
    stats = per_doc.agg(*aggs)

    nn = F.col("n").cast("double")
    structs = []
    for x, y in SIGNAL_PAIRS:
        vx = nn * F.col(f"p_{x}_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}")
        vy = nn * F.col(f"p_{y}_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}")
        cov = nn * F.col(f"p_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")
        r = F.when(
            (vx > 0) & (vy > 0), F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6)
        ).otherwise(F.lit(None).cast("double"))
        structs.append(
            F.struct(
                F.lit(x).alias("sig_x"),
                F.lit(y).alias("sig_y"),
                F.col("n").alias("n_docs"),
                r.alias("r"),
            )
        )
    return stats.select(F.inline(F.array(*structs)))


def _signal_correlations_sql() -> str:
    sig_sql = {
        "n_tokens": "CAST(len(toks) AS DECIMAL(12,6))",
        "mean_tok_len": (
            "CAST(CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE)"
            " / greatest(len(toks), 1) AS DECIMAL(12,6))"
        ),
        "ttr": (
            "CAST(CAST(len(list_distinct(toks)) AS DOUBLE)"
            " / greatest(len(toks), 1) AS DECIMAL(12,6))"
        ),
        "digit_ratio": (
            "CAST(CASE WHEN length(text) > 0 THEN "
            "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) "
            "ELSE 0.0 END AS DECIMAL(12,6))"
        ),
    }
    per_doc = ",\n         ".join(f"{sql} AS {name}" for name, sql in sig_sql.items())
    aggs = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for s in SIGNALS:
        aggs.append(f"CAST(SUM({s}) AS DOUBLE) AS s_{s}")
        # one side widened past 18 digits: DuckDB then multiplies in
        # INT128 (a (12,6)x(12,6) product overflows its INT64 path)
        aggs.append(
            f"CAST(SUM(CAST({s} AS DECIMAL(19,6)) * {s}) AS DOUBLE) AS p_{s}_{s}"
        )
    for x, y in SIGNAL_PAIRS:
        aggs.append(
            f"CAST(SUM(CAST({x} AS DECIMAL(19,6)) * {y}) AS DOUBLE) AS p_{x}_{y}"
        )
    selects = []
    for x, y in SIGNAL_PAIRS:
        vx = f"(CAST(n AS DOUBLE) * p_{x}_{x} - s_{x} * s_{x})"
        vy = f"(CAST(n AS DOUBLE) * p_{y}_{y} - s_{y} * s_{y})"
        cov = f"(CAST(n AS DOUBLE) * p_{x}_{y} - s_{x} * s_{y})"
        selects.append(
            f"SELECT '{x}' AS sig_x, '{y}' AS sig_y, n AS n_docs,\n"
            f"       CASE WHEN {vx} > 0 AND {vy} > 0\n"
            f"            THEN ROUND({cov} / (sqrt({vx}) * sqrt({vy})), 6)\n"
            f"            ELSE NULL END AS r\n"
            f"FROM stats"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH per_doc AS (
  SELECT {per_doc}
  FROM (SELECT doc_id, text, {tokenize_sql()} AS toks FROM documents) b
), stats AS (
  SELECT {', '.join(aggs)} FROM per_doc
)
{union}
"""


SIGNAL_CORRELATIONS_SQL = _signal_correlations_sql()


# The three screens compared pairwise by quality_agreement_matrix.
# "gopher" = the rule gate (quality_filter_flags.keep), "lm" = the
# unigram-LM screen (the doc's per-token NLL — nll_nats is already
# nats/token — at or below the occurrence-weighted corpus mean;
# derived, not hand-tuned), "length" = NOT mad_outliers.is_outlier.
QA_PAIRS = (("gopher", "lm"), ("gopher", "length"), ("lm", "length"))


def quality_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement between the three independent quality screens
    — dedup_agreement's analogue for the curation family: before
    composing filters (curation_verdict) a curator wants to know
    whether they fire on the SAME documents (redundant — drop one) or
    complementary ones (each earns its scan). One row per screen pair:
    both-keep / both-drop / only-one counts and the agreement rate.

    The LM screen's threshold is the occurrence-weighted corpus mean
    per-token NLL, Σ(nll·n_tokens)/Σ(n_tokens) — a 1-row broadcast
    derived from order-free DECIMAL sums (nll_nats arrives
    6-dp-rounded so the DECIMAL(19,6) cast is lossless, and the
    ×DECIMAL(10,0) token-count product stays exact; 19 digits on one
    side because a p≤18 DuckDB decimal MULTIPLICATION overflows in
    int64 instead of widening to int128);
    each doc's nll_nats — already nats/token — compares directly
    against it. Docs with no LM row (zero-token) fail the LM screen
    explicitly via COALESCE, the same rule in both engines. 100 TB:
    three map-only per-doc verdict relations joined on uniform doc_id,
    one 1-row threshold broadcast, one global conditional-sum
    aggregate unpivoted to 3 rows."""
    flags = quality_filter_flags(spark, sf_dir).select("doc_id", F.col("keep").alias("g"))
    nll = unigram_logprob(spark, sf_dir).select("doc_id", "n_tokens", "nll_nats")
    out = mad_outliers(spark, sf_dir).select(
        "doc_id", (~F.col("is_outlier")).alias("m")
    )
    thr = nll.agg(
        (
            F.sum(
                F.col("nll_nats").cast("decimal(19,6)")
                * F.col("n_tokens").cast("decimal(10,0)")
            )
            .cast("double")
            / F.sum("n_tokens").cast("double")
        ).alias("thr")
    )
    per_doc = (
        flags.join(nll, "doc_id", "left")
        .join(out, "doc_id")
        .join(F.broadcast(thr), F.lit(True))
        .select(
            "g",
            "m",
            F.coalesce(F.col("nll_nats") <= F.col("thr"), F.lit(False)).alias("l"),
        )
    )
    col = {"gopher": "g", "lm": "l", "length": "m"}
    aggs = [F.count("*").cast("long").alias("n_docs")]
    for i, (pa, pb) in enumerate(QA_PAIRS):
        a, b = F.col(col[pa]), F.col(col[pb])
        aggs += [
            F.sum((a & b).cast("long")).alias(f"bk_{i}"),
            F.sum((~a & ~b).cast("long")).alias(f"bd_{i}"),
            F.sum((a & ~b).cast("long")).alias(f"oa_{i}"),
            F.sum((~a & b).cast("long")).alias(f"ob_{i}"),
        ]
    sums = per_doc.agg(*aggs)
    stack = ", ".join(
        f"'{pa}~{pb}', bk_{i}, bd_{i}, oa_{i}, ob_{i}"
        for i, (pa, pb) in enumerate(QA_PAIRS)
    )
    return sums.select(
        F.expr(
            f"stack({len(QA_PAIRS)}, {stack}) "
            "AS (pair, n_both_keep, n_both_drop, n_only_a, n_only_b)"
        ),
        "n_docs",
    ).select(
        "pair",
        "n_docs",
        "n_both_keep",
        "n_both_drop",
        "n_only_a",
        "n_only_b",
        F.round(
            (F.col("n_both_keep") + F.col("n_both_drop")).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("agreement"),
    )


def _quality_agreement_sql() -> str:
    col = {"gopher": "g", "lm": "l", "length": "m"}
    cond = []
    for i, (pa, pb) in enumerate(QA_PAIRS):
        a, b = col[pa], col[pb]
        cond += [
            f"CAST(SUM(CASE WHEN {a} AND {b} THEN 1 ELSE 0 END) AS BIGINT) AS bk_{i}",
            f"CAST(SUM(CASE WHEN NOT {a} AND NOT {b} THEN 1 ELSE 0 END) AS BIGINT) AS bd_{i}",
            f"CAST(SUM(CASE WHEN {a} AND NOT {b} THEN 1 ELSE 0 END) AS BIGINT) AS oa_{i}",
            f"CAST(SUM(CASE WHEN NOT {a} AND {b} THEN 1 ELSE 0 END) AS BIGINT) AS ob_{i}",
        ]
    per_pair = " UNION ALL ".join(
        f"""SELECT '{pa}~{pb}' AS pair, n_docs,
           bk_{i} AS n_both_keep, bd_{i} AS n_both_drop,
           oa_{i} AS n_only_a, ob_{i} AS n_only_b,
           ROUND(CAST(bk_{i} + bd_{i} AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS agreement
    FROM sums"""
        for i, (pa, pb) in enumerate(QA_PAIRS)
    )
    return f"""
WITH flags AS ({QUALITY_FILTER_FLAGS_SQL}),
nll AS ({UNIGRAM_LOGPROB_SQL}),
outl AS ({MAD_OUTLIERS_SQL}),
thr AS (
  SELECT CAST(SUM(CAST(nll_nats AS DECIMAL(19,6)) * CAST(n_tokens AS DECIMAL(10,0))) AS DOUBLE)
         / CAST(SUM(n_tokens) AS DOUBLE) AS thr
  FROM nll
), per_doc AS (
  SELECT f.keep AS g,
         COALESCE(n.nll_nats <= t.thr, FALSE) AS l,
         NOT o.is_outlier AS m
  FROM flags f
  LEFT JOIN nll n USING (doc_id)
  JOIN outl o USING (doc_id)
  CROSS JOIN thr t
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, {", ".join(cond)}
  FROM per_doc
)
{per_pair}
"""


QUALITY_AGREEMENT_MATRIX_SQL = _quality_agreement_sql()


# ------------------------------------------------------ code detection

# Domain tagging: separate code-like documents from prose BEFORE mixing
# (code and prose get different mixing weights, dedup thresholds, and
# tokenizers in every large-scale recipe). Heuristic, no model: a
# marker-keyword ratio (the operator/keyword surface of code and query
# logs) plus a repetition ratio (code repeats identifiers far more than
# prose repeats words — the inverse of the type-token ratio quality.py
# already gates on). Both features are exact integer ratios, so the
# verdict threshold is oracle-portable. On a real corpus the marker
# list extends with `def/return/import/::/;`-class tokens; the synthetic
# vocabulary's relational-operator words play that role here.
CODE_MARKERS = (
    "agg", "filter", "group", "hash", "join",
    "merge", "query", "scan", "sort", "window",
)
CODE_REP_WEIGHT = 0.5   # repetition contributes at half the keyword weight
CODE_TAU = 0.6          # score >= tau → code (median-split on the corpus)


def code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc code-likeness: (doc_id, source, n_tokens, kw_hits,
    distinct_tokens, kw_ratio, rep_ratio, code_score, is_code).

    score = kw_hits/n + CODE_REP_WEIGHT * (1 - distinct/n); empty docs
    score 0.0 and are never code. Map-only scan shape (zero shuffles —
    the expressions fuse into the parquet scan's codegen stage), so at
    100 TB this runs at I/O speed alongside the other per-doc audits."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    staged = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin(list(CODE_MARKERS))))
        .cast("long")
        .alias("kw_hits"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_tokens"),
    )
    n = F.col("n_tokens").cast("double")
    kw_ratio = F.col("kw_hits").cast("double") / n
    rep_ratio = F.lit(1.0) - F.col("distinct_tokens").cast("double") / n
    score = kw_ratio + F.lit(CODE_REP_WEIGHT) * rep_ratio
    nonempty = F.col("n_tokens") > 0
    return staged.select(
        "doc_id",
        "source",
        "n_tokens",
        "kw_hits",
        "distinct_tokens",
        F.round(F.when(nonempty, kw_ratio).otherwise(0.0), 6).alias("kw_ratio"),
        F.round(F.when(nonempty, rep_ratio).otherwise(0.0), 6).alias("rep_ratio"),
        F.round(F.when(nonempty, score).otherwise(0.0), 6).alias("code_score"),
        (nonempty & (score >= F.lit(CODE_TAU))).alias("is_code"),
    )


_CODE_MARKERS_SQL = ", ".join(f"'{m}'" for m in CODE_MARKERS)
_CODE_SCORE_SQL = (
    "CAST(kw AS DOUBLE) / CAST(n AS DOUBLE) + "
    f"{CODE_REP_WEIGHT} * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))"
)

CODE_DETECTION_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         {tokenize_sql()} AS t
  FROM documents
), f AS (
  SELECT doc_id, source,
         CAST(len(t) AS BIGINT) AS n,
         CAST(len(list_filter(t, x -> x IN ({_CODE_MARKERS_SQL}))) AS BIGINT) AS kw,
         CAST(len(list_distinct(t)) AS BIGINT) AS d
  FROM toks
)
SELECT doc_id, source, n AS n_tokens, kw AS kw_hits, d AS distinct_tokens,
       ROUND(CASE WHEN n > 0 THEN CAST(kw AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END, 6) AS kw_ratio,
       ROUND(CASE WHEN n > 0 THEN 1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END, 6) AS rep_ratio,
       ROUND(CASE WHEN n > 0 THEN {_CODE_SCORE_SQL} ELSE 0.0 END, 6) AS code_score,
       (n > 0 AND {_CODE_SCORE_SQL} >= {CODE_TAU}) AS is_code
FROM f
"""


# --------------------- Group-DRO style worst-group mixing weights

GDRO_ETA = 1.0


def group_dro_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, loss_nats, weight) — Group-DRO-style mixing
    weights: each source's loss is its token-mass-weighted mean NLL
    under the corpus unigram LM (unigram_logprob's statistic, rolled
    up per source), and the sampler weight is the exponentiated-loss
    softmax w_s ∝ exp(η·loss_s) — upweight the worst-scoring groups,
    the robust-optimization counter to proportional mixing
    (source_mixing_weights is the heuristic twin).

    Scale plan: one tokenize → (source, token) TF with map-side
    combine; token-keyed join against the Heaps-bounded frequency
    table; one |sources|-row rollup. The corpus token total enters as
    a 1-row broadcast (unigram_logprob's shape). Numeric discipline:
    NLL terms snap to DECIMAL(28,12) before the order-free sum, the
    per-source loss rounds to 6 dp BEFORE exp (both engines
    exponentiate identical doubles), each exp snaps to decimal before
    the softmax denominator sum, one final 6-dp round."""
    return dro_release(dro_tf(load_table(spark, sf_dir, "documents")))


def dro_tf(docs: DataFrame) -> DataFrame:
    """(source, token, cnt) term frequencies — additive cells, so
    stream_group_dro keeps them as complete-mode state (the
    Heaps-bounded vocabulary × |sources|)."""
    tok = docs.select("source", F.explode(tokenize("text")).alias("token"))
    return tok.groupBy("source", "token").agg(F.count("*").alias("cnt"))


def dro_release(tf: DataFrame) -> DataFrame:
    """The Group-DRO tail shared by the batch and streaming mixers:
    (source, token, cnt) term frequencies → the weighted loss table.
    Everything here runs on the Heaps-bounded TF relation (see
    group_dro_weights' scale/exactness notes). Windows instead of
    tf⋈freq self-joins: the token partitions are |sources|-bounded
    and the corpus total's window input is the whole (Heaps-bounded)
    TF relation — and a drained streaming snapshot can feed this tail
    without the conflicting-reference self-join a memory-sink table
    cannot express."""
    from capstone_etl_spark.functions.windows import bounded_window_key

    wt = Window.partitionBy("token")
    wall = Window.partitionBy(bounded_window_key("source"))
    enriched = tf.select(
        "source",
        "cnt",
        F.sum("cnt").over(wt).alias("tok_cnt"),
        F.sum("cnt").over(wall).cast("double").alias("_n_corpus"),
    )
    term = (
        F.col("cnt") * F.log(F.col("tok_cnt").cast("double") / F.col("_n_corpus"))
    ).cast("decimal(28,12)")
    per_src = enriched.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.round((-F.sum(term)).cast("double") / F.sum("cnt"), 6).alias("loss_nats"),
    )
    e = F.exp(F.lit(GDRO_ETA) * F.col("loss_nats")).cast("decimal(28,12)")
    w = Window.partitionBy(bounded_window_key("source"))
    return per_src.select(
        "source",
        "n_tokens",
        "loss_nats",
        F.round(
            e.cast("double") / F.sum(e).over(w).cast("double"), 6
        ).alias("weight"),
    )


GROUP_DRO_WEIGHTS_SQL = f"""
WITH tok AS (
  SELECT source, unnest({tokenize_sql()}) AS token
  FROM documents
), tf AS (
  SELECT source, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
), freq AS (
  SELECT token, SUM(cnt) AS tok_cnt FROM tf GROUP BY 1
), total AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS n_corpus FROM tf
), per_src AS (
  SELECT tf.source,
         CAST(SUM(tf.cnt) AS BIGINT) AS n_tokens,
         ROUND(CAST(-SUM(CAST(tf.cnt * LN(CAST(f.tok_cnt AS DOUBLE) / t.n_corpus)
                              AS DECIMAL(28,12))) AS DOUBLE) / SUM(tf.cnt), 6) AS loss_nats
  FROM tf JOIN freq f USING (token) CROSS JOIN total t
  GROUP BY 1
)
SELECT source, n_tokens, loss_nats,
       ROUND(CAST(CAST(EXP({GDRO_ETA} * loss_nats) AS DECIMAL(28,12)) AS DOUBLE)
             / CAST(SUM(CAST(EXP({GDRO_ETA} * loss_nats) AS DECIMAL(28,12))) OVER () AS DOUBLE),
             6) AS weight
FROM per_src
"""


# ------------------- Pareto-frontier (skyline) selection

def pareto_frontier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars, n_distinct_tokens) — the Pareto frontier of
    the corpus under (maximize length, maximize vocabulary richness):
    a document is kept iff NO other document is >= on both dimensions
    and > on one — the SKYLINE operator, i.e. multi-objective
    selection without collapsing the objectives into one weighted
    score (the shape a curation pass uses to shortlist "long AND
    lexically rich" exemplars).

    NOT the naive O(N²) anti-join: for 2-D the frontier is a
    cumulative max — d survives iff its richness equals the best at
    its exact length (same-x dominance) AND strictly exceeds the best
    at every greater length (larger-x dominance). Both relations are
    per-length aggregates, so every window below runs over the
    DISTINCT length domain (bounded by max doc length, not N) under
    the explicit bounded_window_key. Exact ints end to end; ties on
    both dimensions all survive (neither strictly dominates)."""
    docs = load_table(spark, sf_dir, "documents")
    return pareto_release(pareto_maxima(docs), docs)


def _pareto_toks(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(tokenize("text"))).cast("long").alias("ndt"),
    )


def pareto_maxima(docs: DataFrame) -> DataFrame:
    """(n_chars, mx) per-length best richness — MAX merges order-free,
    so stream_pareto_frontier keeps it as state bounded by the length
    domain."""
    return _pareto_toks(docs).groupBy("n_chars").agg(F.max("ndt").alias("mx"))


def pareto_release(per_x: DataFrame, docs: DataFrame) -> DataFrame:
    """The skyline tail: the per-length maxima against the doc
    relation."""
    from capstone_etl_spark.functions.windows import bounded_window_key

    wc = (
        Window.partitionBy(bounded_window_key("n_chars"))
        .orderBy(F.col("n_chars").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = per_x.select(
        "n_chars",
        "mx",
        F.coalesce(F.max("mx").over(wc), F.lit(-1)).alias("cmx"),
    )
    return (
        _pareto_toks(docs).join(grid, "n_chars")
        .filter((F.col("ndt") == F.col("mx")) & (F.col("ndt") > F.col("cmx")))
        .select("doc_id", "n_chars", F.col("ndt").alias("n_distinct_tokens"))
    )


PARETO_FRONTIER_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, n_chars,
         CAST(len(list_distinct({tokenize_sql()})) AS BIGINT) AS ndt
  FROM documents
), per_x AS (
  SELECT n_chars, MAX(ndt) AS mx FROM toks GROUP BY 1
), grid AS (
  SELECT n_chars, mx,
         COALESCE(MAX(mx) OVER (ORDER BY n_chars DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) AS cmx
  FROM per_x
)
SELECT t.doc_id, t.n_chars, t.ndt AS n_distinct_tokens
FROM toks t JOIN grid g ON t.n_chars = g.n_chars
WHERE t.ndt = g.mx AND t.ndt > g.cmx
"""


# --------------- cross-source quantile normalization

def quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, raw_len, norm_len) — quantile-normalize each
    document's length score onto the GLOBAL length distribution: a doc
    at within-source quantile p is assigned the global distribution's
    value at the same quantile. The cross-source score calibration a
    mixed-corpus curation pass runs before thresholding — a fixed
    cutoff on raw scores penalizes sources whose raw scale differs
    (transcripts vs papers) even when their shape is healthy.

    Exact integer rank arithmetic: within-source rank r0 (0-based,
    ties broken by doc_id) maps to global rank
    t = (r0·(N−1)) div (n_s−1) (midpoint for singleton sources), and
    norm_len is the length AT global rank t — no interpolation
    floats, so both engines agree bit-for-bit.

    Scale plan: the global ranking is `with_dense_ids` (range-sort +
    per-partition rank + broadcast offsets — the O2 machinery, no
    global window); the within-source window partitions by source; the
    quantile lookup is an equi-join on the integer rank key; N enters
    as a 1-row broadcast."""
    from capstone_etl_spark.operators.vocab import with_dense_ids

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    g = with_dense_ids(d, [F.col("n_chars"), F.col("doc_id")], id_name="_gid").select(
        F.col("_gid").alias("gid"), F.col("n_chars").alias("norm_len")
    )
    n_rel = d.agg(F.count("*").alias("n_all"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    ranked = (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").alias("raw_len"),
            (F.row_number().over(ws) - 1).alias("r0"),
            F.count("*").over(wn).alias("ns"),
        )
        .crossJoin(F.broadcast(n_rel))
        .select(
            "doc_id",
            "source",
            "raw_len",
            F.when(
                F.col("ns") > 1,
                F.expr("(r0 * (n_all - 1)) div (ns - 1)"),
            )
            .otherwise(F.expr("(n_all - 1) div 2"))
            .cast("long")
            .alias("t"),
        )
    )
    return ranked.join(g, ranked["t"] == g["gid"]).select(
        "doc_id", "source", "raw_len", "norm_len"
    )


QUANTILE_NORMALIZATION_SQL = """
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
), g AS (
  SELECT n_chars AS norm_len,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS gid
  FROM d
), n AS (
  SELECT COUNT(*) AS n_all FROM d
), s AS (
  SELECT doc_id, source, n_chars AS raw_len,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS r0,
         COUNT(*) OVER (PARTITION BY source) AS ns
  FROM d
)
SELECT s.doc_id, s.source, s.raw_len, g.norm_len
FROM s CROSS JOIN n
JOIN g ON g.gid = CASE WHEN s.ns > 1 THEN (s.r0 * (n.n_all - 1)) // (s.ns - 1)
                       ELSE (n.n_all - 1) // 2 END
"""


QUERIES = {
    "quality_filter_flags": quality_filter_flags,
    "quality_filter_funnel": quality_filter_funnel,
    "unigram_logprob": unigram_logprob,
    "difficulty_deciles": difficulty_deciles,
    "mad_outliers": mad_outliers,
    "curation_verdict": curation_verdict,
    "source_quality_summary": source_quality_summary,
    "dsir_importance": dsir_importance,
    "token_budget_selection": token_budget_selection,
    "signal_correlations": signal_correlations,
    "quality_agreement_matrix": quality_agreement_matrix,
    "code_detection": code_detection,
    "curriculum_schedule": curriculum_schedule,
    "split_perplexity_gap": split_perplexity_gap,
    "group_dro_weights": group_dro_weights,
    "quantile_normalization": quantile_normalization,
    "pareto_frontier_docs": pareto_frontier_docs,
}

ORACLE_SQL = {
    "quality_filter_flags": QUALITY_FILTER_FLAGS_SQL,
    "quality_filter_funnel": QUALITY_FILTER_FUNNEL_SQL,
    "unigram_logprob": UNIGRAM_LOGPROB_SQL,
    "difficulty_deciles": DIFFICULTY_DECILES_SQL,
    "mad_outliers": MAD_OUTLIERS_SQL,
    "curation_verdict": CURATION_VERDICT_SQL,
    "source_quality_summary": SOURCE_QUALITY_SUMMARY_SQL,
    "dsir_importance": DSIR_IMPORTANCE_SQL,
    "token_budget_selection": TOKEN_BUDGET_SELECTION_SQL,
    "signal_correlations": SIGNAL_CORRELATIONS_SQL,
    "quality_agreement_matrix": QUALITY_AGREEMENT_MATRIX_SQL,
    "code_detection": CODE_DETECTION_SQL,
    "curriculum_schedule": CURRICULUM_SCHEDULE_SQL,
    "split_perplexity_gap": SPLIT_PERPLEXITY_GAP_SQL,
    "group_dro_weights": GROUP_DRO_WEIGHTS_SQL,
    "quantile_normalization": QUANTILE_NORMALIZATION_SQL,
    "pareto_frontier_docs": PARETO_FRONTIER_DOCS_SQL,
}
