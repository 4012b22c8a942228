"""Text analysis operators for training-data pipelines (north-star set):
language-ID, quality scoring, token counting, document fingerprinting.

All expression-native (no UDFs): per-document column math over the
tokenizer building blocks — embarrassingly parallel, no shuffle except
the explode+argmax in language scoring. Each has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import MERSENNE_P, md5_hash60, md5_hash60_sql
from capstone_etl_spark.functions.stopwords import STOPWORDS, stopwords_sql_in_list
from capstone_etl_spark.functions.text import (
    ngram_sql,
    ngram_window_sql,
    split_sql,
    token_bigrams,
    token_ngrams,
    tokenize,
    tokenize_sql,
)
from capstone_etl_spark.functions.windows import bounded_window_key
from capstone_etl_spark.operators.vocab import with_dense_ids
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached, cached_batch, checkpoint_truncate

FP_BASE = 1_000_003  # rolling-hash base; acc·B + h stays < 2^52 (exact)

# Marker tokens per language for the n-gram/stopword-hit heuristic.
# (Real corpora: character n-gram profiles; the *operator shape* —
# score against K profiles, argmax with deterministic tiebreak — is
# identical.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por", "para", "y"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "et"),
    "zh": ("de", "shi", "bu", "le", "wo", "ni", "ta", "men", "zai", "you"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score panel per document: lengths, alpha/digit/space
    ratios, stopword ratio, mean token length — the classic heuristic
    filter stack (C4/Gopher-style) as pure column math."""
    docs = _docs(spark, sf_dir)
    toks = tokenize("text")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(list(STOPWORDS))))
    text_len = F.length("text")
    alpha_len = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    digit_len = F.length(F.regexp_replace("text", "[^0-9]", ""))
    space_len = F.length(F.regexp_replace("text", "[^ ]", ""))
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        text_len.cast("long").alias("text_len"),
        n_tok.cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(None)).alias("stopword_ratio"),
        F.when(text_len > 0, alpha_len.cast("double") / text_len).otherwise(F.lit(None)).alias("alpha_ratio"),
        F.when(text_len > 0, digit_len.cast("double") / text_len).otherwise(F.lit(None)).alias("digit_ratio"),
        F.when(text_len > 0, space_len.cast("double") / text_len).otherwise(F.lit(None)).alias("space_ratio"),
        F.when(n_tok > 0, tok_chars.cast("double") / n_tok).otherwise(F.lit(None)).alias("mean_token_len"),
    )


TEXT_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         {tokenize_sql()} AS toks
  FROM documents
)
SELECT doc_id,
       length(text) AS text_len,
       len(toks) AS n_tokens,
       len(list_filter(toks, t -> t IN ({stopwords_sql_in_list(STOPWORDS)}))) AS n_stopwords,
       CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> t IN ({stopwords_sql_in_list(STOPWORDS)}))) AS DOUBLE) / len(toks) END AS stopword_ratio,
       CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha_ratio,
       CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio,
       CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / length(text) END AS space_ratio,
       CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) END AS mean_token_len
FROM base
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace fields vs a BPE-ish regex
    segmentation (letter runs | digit runs | single other-glyphs) —
    the standard pre-tokenizer shape."""
    docs = _docs(spark, sf_dir)
    ws = F.size(tokenize("text"))
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        (F.length("text") / F.greatest(bpe, F.lit(1))).alias("chars_per_token"),
    )


TOKEN_COUNTS_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         len({tokenize_sql()}) AS ws,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe
  FROM documents
)
SELECT doc_id, ws AS n_ws_tokens, bpe AS n_bpe_tokens,
       CAST(length(text) AS DOUBLE) / greatest(bpe, 1) AS chars_per_token
FROM base
"""


def doc_fingerprint_df(docs: DataFrame) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash of
    the token-hash stream, fp = fold((acc·B + h) mod p) — content AND
    order sensitive, constant memory, exact int64 on both engines."""
    toks = tokenize("text")
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % MERSENNE_P
    )
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_BASE + h) % MERSENNE_P,
    )
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.size(toks).cast("long").alias("n_tokens")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint_df(_docs(spark, sf_dir))


DOC_FINGERPRINT_SQL = f"""
WITH base AS (
  SELECT doc_id,
         {tokenize_sql()} AS toks
  FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT, list_transform(toks, t -> {md5_hash60_sql('t')} % {MERSENNE_P})),
         (acc, h) -> (acc * {FP_BASE} + h) % {MERSENNE_P}
       ) AS fingerprint,
       len(toks) AS n_tokens
FROM base
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: score each doc's token set against K
    language marker profiles; argmax with lexicographic tiebreak;
    'und' when no profile hits. Compared against the corpus's labeled
    lang column for an accuracy readout downstream."""
    docs = _docs(spark, sf_dir)
    toks = tokenize("text")
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(list(words)))).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", "lang", *scores)
    langs = sorted(LANG_MARKERS)  # lexicographic-stable tiebreak: the
    # alphabetically-first language among ties wins (mirrored in the SQL
    # CASE below, which iterates the same sorted order)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.cast("long").alias("best_score"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(toks, t -> t IN ({words})))"


_LANG_CASE = " ".join(
    f"WHEN {_lang_score_sql(lg)} = best THEN '{lg}'" for lg in sorted(LANG_MARKERS)
)

LANGUAGE_ID_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         {tokenize_sql()} AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang, toks,
         greatest({", ".join(_lang_score_sql(lg) for lg in LANG_MARKERS)}) AS best
  FROM base
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN best = 0 THEN 'und' {_LANG_CASE} END AS predicted_lang,
       best AS best_score
FROM scored
"""


def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accuracy readout language_id promises: the (labeled,
    predicted) confusion matrix with per-cell counts and the cell's
    share of its labeled row — the table a classifier-tuning loop
    reads. Pure composition: one groupBy over the language_id relation
    plus a labeled-row total via a label-keyed window (bounded by
    |languages|²  cells). Exact int counts; one division."""
    from pyspark.sql import Window

    ids = language_id(spark, sf_dir)
    cells = ids.groupBy("labeled_lang", "predicted_lang").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("labeled_lang")  # ≤ |languages| rows per partition post-agg
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6).alias("row_share"),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias("correct"),
    )


LANGUAGE_ID_CONFUSION_SQL = f"""
WITH ids AS ({LANGUAGE_ID_SQL}),
cells AS (
  SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
  FROM ids GROUP BY 1, 2
)
SELECT labeled_lang, predicted_lang, n_docs,
       ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY labeled_lang), 6) AS row_share,
       labeled_lang = predicted_lang AS correct
FROM cells
"""


MIN_BIGRAM_COUNT = 5
TOP_VOCAB_K = 100
REP_N = 3


def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter input: fraction of duplicate
    token 3-grams per document (1 − distinct/total) — high values mean
    boilerplate/looping text. Pure per-doc explode + aggregate, one
    shuffle on doc_id; docs with < 3 tokens have no grams and emit
    NULL (nothing to judge). Exact-integer ratio, rounded once."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(token_ngrams("t", REP_N)).alias("g"),
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count("*").alias("total_grams"),
        F.countDistinct("g").alias("distinct_grams"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "total_grams",
        "distinct_grams",
        F.round(
            F.lit(1.0) - F.col("distinct_grams") / F.col("total_grams"), 6
        ).alias("repetition"),
    )


REPETITION_RATIO_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
), grams AS (
  SELECT doc_id, {ngram_sql(REP_N)} AS g
  FROM {ngram_window_sql(REP_N)}
), per_doc AS (
  SELECT doc_id, COUNT(*) AS total_grams, COUNT(DISTINCT g) AS distinct_grams
  FROM grams GROUP BY doc_id
)
SELECT d.doc_id, p.total_grams, p.distinct_grams,
       ROUND(1.0 - CAST(p.distinct_grams AS DOUBLE) / p.total_grams, 6) AS repetition
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

# Shared DuckDB token-array CTE (tokenize() mirror).
_TOKS_CTE = f"""
WITH toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
)
"""


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation / phrase mining: adjacent-token bigrams scored by
    pointwise mutual information — pmi = ln(p(ab) / (p(a)·p(b))) with
    unigram probabilities over token mass and bigram probability over
    bigram mass. The count floor is applied BEFORE the unigram joins
    (exact-integer predicate — prunes the candidate set early, and a
    float threshold can't diverge across engines). Corpus totals enter
    the plan as 1-row aggregates cross-joined in (never an eager
    driver-side count — same pattern as tf_idf). All counts are exact
    ints; the single ln() is rounded to 6 dp. The token-array relation
    is cached: four consumers (bigram counts, bigram total, unigram
    counts, unigram total) share ONE tokenize pass — the regex clean is
    the expensive stage, the downstream explodes are cheap."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("t")).transform(cached)
    bigr = toks.select(F.explode(token_bigrams()).alias("bg")).select("bg.w1", "bg.w2")
    bc = (
        bigr.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= MIN_BIGRAM_COUNT)
    )
    unig = (
        toks.select(F.explode("t").alias("w")).groupBy("w").agg(F.count("*").alias("c_w"))
    )
    n_uni = unig.agg(F.sum("c_w").alias("n_uni"))
    n_bi = bigr.agg(F.count("*").alias("n_bi"))
    u1 = unig.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    u2 = unig.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
        / (F.col("n_bi").cast("double") * F.col("c_a") * F.col("c_b"))
    )
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select("w1", "w2", "c_ab", F.round(pmi, 6).alias("pmi"))
    )


BIGRAM_PMI_SQL = _TOKS_CTE + f"""
, bigr AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM {ngram_window_sql(2)}
), bc AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM bigr GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_BIGRAM_COUNT}
), unig AS (
  SELECT w, COUNT(*) AS c_w FROM (SELECT unnest(t) AS w FROM toks) u
  WHERE w <> '' GROUP BY w
), totals AS (
  SELECT (SELECT CAST(SUM(c_w) AS BIGINT) FROM unig) AS n_uni,
         (SELECT COUNT(*) FROM bigr) AS n_bi
)
SELECT b.w1, b.w2, b.c_ab,
       ROUND(LN((CAST(b.c_ab AS DOUBLE) * t.n_uni * t.n_uni)
                / (CAST(t.n_bi AS DOUBLE) * u1.c_w * u2.c_w)), 6) AS pmi
FROM bc b
JOIN unig u1 ON u1.w = b.w1
JOIN unig u2 ON u2.w = b.w2
CROSS JOIN totals t
"""


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf / coverage curve: top-K tokens by global frequency with each
    rank's cumulative share of total token mass — the standard check
    before vocabulary truncation (what OOV rate would a K-token vocab
    leave?).

    The rank over the FULL vocabulary is distributed
    (`with_dense_ids`: range sort + partition-offset rank — no
    Heaps-law defense needed); the cumulative window then runs over at
    most TOP_VOCAB_K rows — bounded by the constant, stated by the
    explicit partitionBy(lit(0)). Cumulative mass stays in exact
    longs, divided once at the end. freq is cached (vocab-sized) so
    the rank and the total consumers share one tokenize pass."""
    docs = _docs(spark, sf_dir)
    freq = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .transform(cached)
    )
    total = freq.agg(F.sum("freq").alias("total"))
    ranked = (
        with_dense_ids(freq, [F.col("freq").desc(), F.col("w")], "_rank0")
        .withColumn("rank", (F.col("_rank0") + 1).cast("long"))
        .filter(F.col("rank") <= TOP_VOCAB_K)
        .drop("_rank0")
    )
    cum = (
        # bound: ≤ TOP_VOCAB_K rows — the rank filter above caps the input
        Window.partitionBy(bounded_window_key("rank"))
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("cum_freq", F.sum("freq").over(cum))
        .select(
            "rank",
            "w",
            "freq",
            F.round(F.col("cum_freq") / F.col("total"), 6).alias("cum_share"),
        )
    )


VOCAB_COVERAGE_SQL = _TOKS_CTE + f"""
, freq AS (
  SELECT w, COUNT(*) AS freq FROM (SELECT unnest(t) AS w FROM toks) u
  WHERE w <> '' GROUP BY w
), ranked AS (
  SELECT w, freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank
  FROM freq
), total AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq)
SELECT rank, w, freq,
       ROUND(CAST(SUM(freq) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / total, 6) AS cum_share
FROM ranked CROSS JOIN total
WHERE rank <= {TOP_VOCAB_K}
"""


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (nats) — the
    classic diversity/quality signal (degenerate boilerplate → low
    entropy; natural text sits in a band).

    Numeric discipline: ln() is NOT guaranteed bit-identical across
    engines (JVM Math.log vs libm may differ in the last ulp), and the
    per-token term summation order differs under partial aggregation —
    so each term p·ln(p) is snapped to DECIMAL(28,12) (identical to
    12 places on both sides), summed EXACTLY, and only the final value
    is rounded to 6 decimals. One (doc_id, token) shuffle + one doc_id
    shuffle, both uniform."""
    tok = _docs(spark, sf_dir).select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    n = Window.partitionBy("doc_id")
    p = F.col("cnt") / F.sum("cnt").over(n)
    term = (-(p * F.log(p))).cast("decimal(28,12)")
    return (
        tf.select("doc_id", F.col("cnt"), term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.round(F.sum("term").cast("double"), 6).alias("entropy_nats"),
        )
    )


TOKEN_ENTROPY_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         UNNEST({tokenize_sql()}) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), terms AS (
  SELECT doc_id, cnt,
         CAST(-( (CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id))
                 * ln(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id)) )
              AS DECIMAL(28,12)) AS term
  FROM tf
)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy_nats
FROM terms GROUP BY doc_id
"""


WINNOW_K = 3   # tokens per k-gram
WINNOW_W = 4   # hashes per winnowing window


def _winnow_mins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, wmin) — every full window's minimum k-gram hash
    (the relation both the per-doc fingerprint rollup and the pairing
    query consume)."""
    toks = _docs(spark, sf_dir).select("doc_id", tokenize("text").alias("toks"))
    k, w = WINNOW_K, WINNOW_W
    grams = toks.select(
        "doc_id",
        F.posexplode(token_ngrams("toks", k)).alias("pos", "gram"),
    )
    hashed = grams.select(
        "doc_id",
        "pos",
        (md5_hash60(F.col("gram")) % MERSENNE_P).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    return (
        hashed.withColumn("wmin", F.min("h").over(win))
        .filter(F.col("pos") >= w - 1)
        .select("doc_id", "pos", "wmin")
    )


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every positional token
    k-gram, slide a w-hash window, keep each window's minimum; the
    DISTINCT selected minima are the fingerprint set. Guarantees any
    shared run of ≥ w+k−1 tokens contributes a shared fingerprint
    (detection threshold) while sampling only ~2/(w+1) of the hashes —
    the local-sampling trade that makes corpus-scale plagiarism /
    near-copy detection cheap.

    Plan: positional grams via posexplode (order-preserving, unlike the
    dedup shingle set), the window min is partitioned by doc_id
    (bounded by doc length), and docs shorter than w+k−1 tokens yield
    zero fingerprints (full windows only — mirrored exactly in the
    oracle). All hashes are the engine-portable md5-60 mod p."""
    return (
        _winnow_mins(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.size(F.collect_set("wmin")).cast("long").alias("n_fingerprints"),
            # driver-facing serialization (house rule: comma-joined string,
            # not a raw array — the compare sorts/hashes scalar columns)
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("wmin")), lambda v: v.cast("string")
                ),
                ",",
            ).alias("fingerprints"),
        )
    )


_WINNOW_WINS_CTE = f"""
WITH toks AS (
  SELECT doc_id,
         {tokenize_sql()} AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         ({md5_hash60_sql(ngram_sql(WINNOW_K))} % {MERSENNE_P}) AS h
  FROM {ngram_window_sql(WINNOW_K)}
), wins AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS wmin
  FROM grams
)
"""

WINNOWING_FINGERPRINTS_SQL = f"""{_WINNOW_WINS_CTE}
SELECT doc_id,
       CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
       array_to_string(list_sort(list_distinct(list(wmin))), ',') AS fingerprints
FROM wins WHERE pos >= {WINNOW_W - 1}
GROUP BY doc_id
"""


WINNOW_PAIR_MAX_DF = 50    # drop fingerprints shared by > this many docs
WINNOW_PAIR_MIN_SHARED = 3  # report pairs sharing ≥ this many fingerprints


def winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The detection half of MOSS: document pairs sharing ≥
    WINNOW_PAIR_MIN_SHARED winnowing fingerprints, scored by the
    overlap coefficient |A∩B| / min(|A|,|B|) — the near-copy report a
    plagiarism/derivative-content pass emits. By the winnowing
    guarantee, any shared token run of ≥ w+k−1 tokens forces ≥1 shared
    fingerprint, so long copies cannot evade the candidate join.

    Same scale discipline as the shingle family: the inverted
    fingerprint index is the candidate generator (never all-pairs), a
    document-frequency cap (count-over-hash window, single pass) drops
    boilerplate fingerprints before the join, and the pair keys are
    uniform hashes."""
    fp = _winnow_mins(spark, sf_dir).select("doc_id", "wmin").distinct()
    w = Window.partitionBy("wmin")
    fp = cached(
        fp.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") <= WINNOW_PAIR_MAX_DF)
        .select("doc_id", "wmin")
    )
    sizes = fp.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = fp.alias("a"), fp.alias("b")
    inter = (
        a.join(b, (F.col("a.wmin") == F.col("b.wmin")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_PAIR_MIN_SHARED)
    )
    ov = F.col("n_shared") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select("doc_a", "doc_b", "n_shared", F.round(ov, 6).alias("overlap"))
    )


def _winnowing_pairs_sql() -> str:
    return f"""{_WINNOW_WINS_CTE}
, fp0 AS (
  SELECT DISTINCT doc_id, wmin FROM wins WHERE pos >= {WINNOW_W - 1}
), ok AS (
  SELECT wmin FROM fp0 GROUP BY wmin HAVING COUNT(*) <= {WINNOW_PAIR_MAX_DF}
), fp AS (
  SELECT fp0.* FROM fp0 JOIN ok USING (wmin)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fp a JOIN fp b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_PAIR_MIN_SHARED}
)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / LEAST(sa.sz, sb.sz), 6) AS overlap
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares Zipf fit of the corpus vocabulary: slope and
    intercept of ln(freq) ~ ln(rank), plus r² — the one-row corpus
    health statistic (natural text sits near slope −1; a flat slope
    means boilerplate-dominated token mass, a cliff means a degenerate
    head). A REGRESSION expressed as aggregation: after the vocab
    count, three shuffle-free sums.

    Exactness: ranks come from the distributed dense-id machinery
    (order: freq desc, token — identical both engines); each ln() is
    snapped to DECIMAL(18,9) (identical to 9 places), products stay
    exact in DECIMAL(37,18), the five sums are exact decimal sums, and
    the slope/intercept/r² arithmetic runs in doubles ON those exact
    sums — same operands, same IEEE ops, same result to the bit before
    the final 6-decimal round."""
    from capstone_etl_spark.operators.vocab import with_dense_ids

    tok = _docs(spark, sf_dir).select(F.explode(tokenize("text")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("tf"))
    ranked = with_dense_ids(freq, [F.col("tf").desc(), F.col("token")], id_name="_rid")
    x = F.log((F.col("_rid") + 1).cast("double")).cast("decimal(18,9)")
    y = F.log(F.col("tf").cast("double")).cast("decimal(18,9)")
    sums = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double"),
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return sums.select(
        F.col("n").cast("long").alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
        F.round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    )


ZIPF_FIT_SQL = f"""
WITH tok AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), freq AS (
  SELECT token, COUNT(*) AS tf FROM tok GROUP BY token
), ranked AS (
  SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rnk FROM freq
), xy AS (
  SELECT CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(18,9)) AS x,
         CAST(ln(CAST(tf AS DOUBLE)) AS DECIMAL(18,9)) AS y
  FROM ranked
), sums AS (
  SELECT COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS zipf_intercept,
       ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
FROM sums
"""


# --------------------------------------------------- Heaps' law fit
#
# zipf_fit's companion statistic: vocabulary GROWTH. Heaps' law says
# V(N) ≈ K·N^β (β ≈ 0.4-0.6 for natural text); the fitted β tells a
# curator whether more data keeps buying new vocabulary (β high — keep
# scraping) or the corpus has saturated (β low — more of the same).
# The curve itself is emitted alongside the fit: one row per corpus
# prefix checkpoint with its cumulative token count and distinct
# vocabulary, plus the (K, β, r²) of ln V ~ ln N over the checkpoints.
HEAPS_CHECKPOINTS = 10


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, cutoff_doc, cum_tokens, vocab, heaps_beta, heaps_k, r2) —
    one row per doc_id-prefix checkpoint; the three fit columns are
    the corpus-level constants repeated on every row so the table is
    self-contained.

    Scale plan: prefix-cumulative distinct counting WITHOUT rescans —
    each token contributes its FIRST doc_id (one groupBy), so
    V(cutoff) is a count over first_doc ≤ cutoff, and N(cutoff) a sum
    over per-doc counts: both are one inequality join against the
    broadcast 10-row checkpoint grid (fan-out ≤ 10×, the allowlisted
    bounded nested-loop), never one distinct-count per prefix. The
    (doc, token) spine is cached once and feeds both consumers; the
    OLS runs zipf_fit's exact-decimal recipe over the 10-row curve.
    Degenerate guards: zero-token checkpoints drop (ln 0), and a
    zero-variance fit yields NULL fit columns in BOTH engines instead
    of Spark-NULL-vs-DuckDB-inf."""
    tok = _docs(spark, sf_dir).select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = cached(tok.groupBy("doc_id", "token").agg(F.count("*").alias("cnt")))
    first_seen = tf.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    per_doc = tf.groupBy("doc_id").agg(F.sum("cnt").alias("n_tok"))
    max_doc = per_doc.agg(F.max("doc_id").alias("max_doc"))
    grid = (
        spark.range(1, HEAPS_CHECKPOINTS + 1)
        .select(F.col("id").alias("k"))
        .join(F.broadcast(max_doc), F.lit(True))
        .select(
            "k",
            F.floor(F.col("max_doc") * F.col("k") / HEAPS_CHECKPOINTS)
            .cast("long")
            .alias("cutoff_doc"),
        )
    )
    n_k = (
        per_doc.join(F.broadcast(grid), F.col("doc_id") <= F.col("cutoff_doc"))
        .groupBy("k", "cutoff_doc")
        .agg(F.sum("n_tok").cast("long").alias("cum_tokens"))
    )
    v_k = (
        first_seen.join(
            F.broadcast(grid.select(F.col("k").alias("_k"), F.col("cutoff_doc").alias("_c"))),
            F.col("first_doc") <= F.col("_c"),
        )
        .groupBy("_k")
        .agg(F.count("*").cast("long").alias("vocab"))
    )
    pts = cached(
        n_k.join(v_k, F.col("k") == F.col("_k"))
        .filter((F.col("cum_tokens") >= 1) & (F.col("vocab") >= 1))
        .select("k", "cutoff_doc", "cum_tokens", "vocab")
    )
    x = F.log(F.col("cum_tokens").cast("double")).cast("decimal(18,9)")
    y = F.log(F.col("vocab").cast("double")).cast("decimal(18,9)")
    sums = pts.select(x.alias("x"), y.alias("y")).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double"),
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    fit = sums.select(
        F.when(var_x > 0, F.round(slope, 6)).alias("heaps_beta"),
        F.when(var_x > 0, F.round(F.exp((sy - slope * sx) / n), 6)).alias("heaps_k"),
        F.when((var_x > 0) & (var_y > 0), F.round((cov_n * cov_n) / (var_x * var_y), 6)).alias("r2"),
    )
    return pts.join(F.broadcast(fit), F.lit(True)).select(
        "k", "cutoff_doc", "cum_tokens", "vocab", "heaps_beta", "heaps_k", "r2"
    )


HEAPS_LAW_FIT_SQL = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({tokenize_sql()}) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
), first_seen AS (
  SELECT token, MIN(doc_id) AS first_doc FROM tf GROUP BY 1
), per_doc AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok FROM tf GROUP BY 1
), grid AS (
  SELECT CAST(UNNEST(range(1, {HEAPS_CHECKPOINTS + 1})) AS BIGINT) AS k
), cuts AS (
  SELECT k,
         CAST(floor((SELECT MAX(doc_id) FROM per_doc) * k / {HEAPS_CHECKPOINTS}.0) AS BIGINT) AS cutoff_doc
  FROM grid
), n_k AS (
  SELECT c.k, c.cutoff_doc, CAST(SUM(p.n_tok) AS BIGINT) AS cum_tokens
  FROM per_doc p JOIN cuts c ON p.doc_id <= c.cutoff_doc
  GROUP BY 1, 2
), v_k AS (
  SELECT c.k, CAST(COUNT(*) AS BIGINT) AS vocab
  FROM first_seen f JOIN cuts c ON f.first_doc <= c.cutoff_doc
  GROUP BY 1
), pts AS (
  SELECT n_k.k, cutoff_doc, cum_tokens, vocab
  FROM n_k JOIN v_k ON n_k.k = v_k.k
  WHERE cum_tokens >= 1 AND vocab >= 1
), xy AS (
  SELECT CAST(ln(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(18,9)) AS x,
         CAST(ln(CAST(vocab AS DOUBLE)) AS DECIMAL(18,9)) AS y
  FROM pts
), sums AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM xy
), fit AS (
  SELECT
    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
    END AS heaps_beta,
    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         THEN ROUND(exp((CAST(sy AS DOUBLE)
                    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                      * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE)), 6)
    END AS heaps_k,
    CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0)
          AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0)
         THEN ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
    END AS r2
  FROM sums
)
SELECT k, cutoff_doc, cum_tokens, vocab, heaps_beta, heaps_k, r2
FROM pts CROSS JOIN fit
"""


# ------------------------------------------------- token-mass Gini
#
# Corpus concentration in one number: the Gini coefficient of per-doc
# token mass, G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n over ascending xᵢ —
# 0 = every document contributes equally, →1 = a few giant documents
# carry the corpus. The number a curator watches when deciding whether
# doc-level sampling weights or length-capped chunking is needed
# before token-level budgets mean anything. Ties in x are
# order-insensitive (equal values commute in Σ i·xᵢ), so the dense-id
# tiebreak affects nothing — but stays deterministic anyway.


def token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_docs, total_tokens, mean_tokens, gini).

    Scale plan: per-doc token counts (one shuffle), ascending ranks
    from the distributed dense-id machinery (range sort + offset
    broadcast — never a single-partition window), then ONE aggregation
    of exact int128-free products: i·xᵢ stays < 2^63 for any corpus
    this engine addresses (rank ≤ 10^10 · tokens-per-doc ≤ 10^6 needs
    DECIMAL — so the product is summed as DECIMAL(38,0), exact). The
    final ratio is identical double arithmetic, rounded once."""
    from capstone_etl_spark.operators.vocab import with_dense_ids

    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "doc_id", F.size(tokenize("text")).cast("long").alias("n_tok")
    )
    ranked = with_dense_ids(per_doc, [F.col("n_tok"), F.col("doc_id")], id_name="_rid")
    prod = ((F.col("_rid") + 1).cast("decimal(19,0)") * F.col("n_tok").cast("decimal(19,0)")).cast(
        "decimal(38,0)"
    )
    agg = ranked.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(prod).alias("s_iw"),
    )
    n = F.col("n_docs").cast("double")
    tot = F.col("total_tokens").cast("double")
    gini = (F.lit(2.0) * F.col("s_iw").cast("double")) / (n * tot) - (n + 1) / n
    return agg.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round(tot / n, 6).alias("mean_tokens"),
        F.when(tot > 0, F.round(gini, 6)).alias("gini"),
    )


TOKEN_GINI_SQL = f"""
WITH per_doc AS (
  SELECT doc_id,
         CAST(len({tokenize_sql()}) AS BIGINT) AS n_tok
  FROM documents
), ranked AS (
  SELECT n_tok, ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rid FROM per_doc
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         SUM(CAST(rid AS DECIMAL(19,0)) * CAST(n_tok AS DECIMAL(19,0))) AS s_iw
  FROM ranked
)
SELECT n_docs, total_tokens,
       ROUND(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_tokens,
       CASE WHEN total_tokens > 0 THEN
         ROUND((2.0 * CAST(s_iw AS DOUBLE)) / (CAST(n_docs AS DOUBLE) * CAST(total_tokens AS DOUBLE))
               - (CAST(n_docs AS DOUBLE) + 1) / CAST(n_docs AS DOUBLE), 6)
       END AS gini
FROM agg
"""


# ----------------------------------------------- association rules
#
# Market-basket mining over (document, token) baskets: which tokens
# IMPLY each other beyond chance? For a rule a→b, support = P(a,b),
# confidence = P(b|a), lift = P(a,b)/(P(a)P(b)) — the co-occurrence
# counterpart of bigram_pmi (which only sees ADJACENT tokens). The
# rules a curator reads to spot template vocabularies (lift ≫ 1
# cliques) and accidental anti-correlations (lift ≪ 1).
AR_TOP_TOKENS = 64   # pair space bounded to the top-64 df tokens
AR_TOP_RULES = 20


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(antecedent, consequent, n_ab, support, confidence, lift, rnk)
    — the top-AR_TOP_RULES rules by (lift desc, confidence desc,
    antecedent, consequent), both directions of each co-occurring
    pair.

    Scale plan: the classic frequent-pair explosion is bounded BEFORE
    the self-join — only the AR_TOP_TOKENS highest-df tokens (a
    distributed top-k, broadcast back) enter the per-doc pair join, so
    the pair relation is ≤ |docs|·C(64,2) whatever the vocabulary, and
    the pair aggregation is ≤ C(64,2) keys with map-side combine. The
    doc total and per-token dfs ride the tiny frequent-token broadcast;
    ranking windows on a ≤ 2·C(64,2)-row relation. Exactness: counts
    are exact int64; support/confidence/lift divide identical doubles
    and round once."""
    docs = _docs(spark, sf_dir)
    n_docs_rel = docs.agg(F.count("*").alias("n_docs"))
    # cached: the basket spine feeds the df top-k AND both sides of the
    # pair self-join — uncached, the corpus tokenize pass runs 3x
    baskets = cached(
        docs.select("doc_id", F.explode(F.array_distinct(tokenize("text"))).alias("token"))
    )
    freq = cached(
        baskets.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "token")
        .limit(AR_TOP_TOKENS)
    )
    fb = baskets.join(F.broadcast(freq), "token").select("doc_id", "token", "df")
    pairs = (
        fb.alias("a")
        .join(fb.alias("b"), (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.token") < F.col("b.token")))
        .groupBy(
            F.col("a.token").alias("tok_a"),
            F.col("b.token").alias("tok_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    rules = pairs.select(
        F.col("tok_a").alias("antecedent"), F.col("tok_b").alias("consequent"),
        "n_ab", F.col("df_a").alias("df_ant"), F.col("df_b").alias("df_con"),
    ).union(
        pairs.select(
            F.col("tok_b").alias("antecedent"), F.col("tok_a").alias("consequent"),
            "n_ab", F.col("df_b").alias("df_ant"), F.col("df_a").alias("df_con"),
        )
    )
    nd = F.col("n_docs").cast("double")
    lift = F.col("n_ab") * nd / (F.col("df_ant") * F.col("df_con"))
    scored = rules.crossJoin(F.broadcast(n_docs_rel)).select(
        "antecedent",
        "consequent",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.round(F.col("n_ab") / nd, 6).alias("support"),
        F.round(F.col("n_ab").cast("double") / F.col("df_ant"), 6).alias("confidence"),
        F.round(lift, 6).alias("lift"),
        lift.alias("_lift_raw"),
        (F.col("n_ab").cast("double") / F.col("df_ant")).alias("_conf_raw"),
    )
    w = Window.partitionBy(bounded_window_key("antecedent")).orderBy(
        F.desc("_lift_raw"), F.desc("_conf_raw"), "antecedent", "consequent"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= AR_TOP_RULES)
        .drop("_lift_raw", "_conf_raw")
    )


ASSOCIATION_RULES_SQL = f"""
WITH exploded AS (
  SELECT doc_id, UNNEST({tokenize_sql()}) AS token
  FROM documents
), baskets AS (
  SELECT DISTINCT doc_id, token FROM exploded
), freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM baskets GROUP BY 1
  ORDER BY df DESC, token LIMIT {AR_TOP_TOKENS}
), fb AS (
  SELECT b.doc_id, b.token, f.df FROM baskets b JOIN freq f USING (token)
), pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, a.df AS df_a, b.df AS df_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM fb a JOIN fb b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2, 3, 4
), rules AS (
  SELECT tok_a AS antecedent, tok_b AS consequent, n_ab, df_a AS df_ant, df_b AS df_con FROM pairs
  UNION ALL
  SELECT tok_b, tok_a, n_ab, df_b, df_a FROM pairs
), nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
SELECT antecedent, consequent, n_ab,
       ROUND(n_ab / d.n_docs, 6) AS support,
       ROUND(CAST(n_ab AS DOUBLE) / df_ant, 6) AS confidence,
       ROUND(n_ab * d.n_docs / (df_ant * df_con), 6) AS lift,
       rnk
FROM (
  SELECT r.*, d2.n_docs,
         ROW_NUMBER() OVER (ORDER BY r.n_ab * d2.n_docs / (r.df_ant * r.df_con) DESC,
                            CAST(r.n_ab AS DOUBLE) / r.df_ant DESC,
                            r.antecedent, r.consequent) AS rnk
  FROM rules r CROSS JOIN nd d2
) r CROSS JOIN nd d
WHERE rnk <= {AR_TOP_RULES}
"""


# ------------------------------------------- negative-sampling table
#
# word2vec's unigram^α noise distribution (Mikolov et al. 2013,
# α = 3/4) materialized as the sampler's lookup table: every token gets
# a probability ∝ tf^0.75 and a half-open SLOT range in a fixed 2^20
# grid — a trainer draws a uniform int and binary-searches the ranges.
# Cross-engine exactness for the α: pow() is not correctly rounded
# (libm vs JVM may differ an ulp), but tf^0.75 = √tf · √√tf is two
# IEEE-correctly-rounded roots and one multiply — bit-identical in
# both engines (the same trick source_mixing_weights pins at α = 0.5).
NEG_TABLE_SLOTS = 1 << 20


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, tf, prob, slot_lo, slot_hi): slot ranges partition
    [0, NEG_TABLE_SLOTS) in (tf desc, token) order; rare tokens may
    get an empty range (slot_lo = slot_hi), exactly as word2vec's
    integer table drops them.

    Scale plan: the cumulative weight is the distributed ordered
    prefix sum (token_budget_selection's machinery — range sort on
    (tf desc, token), per-partition local cumsum, partition-offset
    broadcast), never a single-partition window over the vocabulary;
    weights snap to DECIMAL(28,10) so the prefix sums are EXACT and
    partitioning-independent. The grand total rides each row from the
    offsets relation; slot arithmetic is identical double ops."""
    tok = _docs(spark, sf_dir).select(F.explode(tokenize("text")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("tf"))
    tfd = F.col("tf").cast("double")
    w = (F.sqrt(tfd) * F.sqrt(F.sqrt(tfd))).cast("decimal(28,10)")
    local_w = Window.partitionBy("_pid").orderBy(F.desc("tf"), "token")
    ranked = cached(
        freq.select("token", "tf", w.alias("w"))
        .orderBy(F.desc("tf"), "token")
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lcum", F.sum("w").over(local_w))
    )
    # bounded: ≤ numPartitions rows
    off_w = (
        Window.partitionBy(bounded_window_key("_pid"))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranked.groupBy("_pid")
        .agg(F.sum("w").alias("_psum"))
        .select(
            "_pid",
            F.coalesce(F.sum("_psum").over(off_w), F.lit(0).cast("decimal(28,10)")).alias("_off"),
            F.sum("_psum").over(Window.partitionBy(bounded_window_key("_pid"))).alias("_tot"),
        )
    )
    # cast the operands DOWN before adding: both window sums carry
    # decimal(38,10), and (38,10)+(38,10) exceeds Spark's precision-38
    # cap, which silently drops the scale to 9 — the lost 10th digit
    # made cum_lo of the very first token -1e-10 instead of 0
    d28 = lambda c: c.cast("decimal(28,10)")  # noqa: E731
    cum_hi = (d28(F.col("_off")) + d28(F.col("_lcum"))).cast("decimal(28,10)")
    cum_lo = (cum_hi - F.col("w")).cast("decimal(28,10)")
    tot = F.col("_tot").cast("double")
    slots = F.lit(float(NEG_TABLE_SLOTS))
    return ranked.join(F.broadcast(offsets), "_pid").select(
        "token",
        "tf",
        F.round(F.col("w").cast("double") / tot, 6).alias("prob"),
        F.floor(cum_lo.cast("double") / tot * slots).cast("long").alias("slot_lo"),
        F.floor(cum_hi.cast("double") / tot * slots).cast("long").alias("slot_hi"),
    )


NEGATIVE_SAMPLING_TABLE_SQL = f"""
WITH tok AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), freq AS (
  SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1
), w AS (
  SELECT token, tf,
         CAST(sqrt(CAST(tf AS DOUBLE)) * sqrt(sqrt(CAST(tf AS DOUBLE))) AS DECIMAL(28,10)) AS w
  FROM freq
), c AS (
  SELECT token, tf, w,
         SUM(w) OVER (ORDER BY tf DESC, token ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER () AS tot
  FROM w
)
SELECT token, CAST(tf AS BIGINT) AS tf,
       ROUND(CAST(w AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob,
       CAST(FLOOR(CAST(CAST(cum - w AS DECIMAL(28,10)) AS DOUBLE) / CAST(tot AS DOUBLE) * {float(NEG_TABLE_SLOTS)}) AS BIGINT) AS slot_lo,
       CAST(FLOOR(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) * {float(NEG_TABLE_SLOTS)}) AS BIGINT) AS slot_hi
FROM c
"""


BPE_TOP_K = 20


def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE-training decision: the top-K most frequent adjacent
    character pairs across the corpus, weighted by token frequency —
    rank 1 is the first merge a byte-pair-encoding tokenizer would
    learn on this corpus.

    Plan: pair extraction runs over the AGGREGATED vocabulary (token,
    tf), never the raw token stream — the explode fan-out is bounded by
    vocab size × token length, and the per-pair weight is the exact
    occurrence count (a pair appearing twice inside one token counts
    twice per token instance). Top-K via orderBy+limit
    (TakeOrderedAndProject — distributed partial top-k); rank assigned
    after the limit over exactly BPE_TOP_K rows (bounded_window_key)."""
    tok = _docs(spark, sf_dir).select(F.explode(tokenize("text")).alias("token"))
    tf = tok.groupBy("token").agg(F.count("*").alias("tf"))
    pairs = tf.filter(F.length("token") >= 2).select(
        "tf",
        F.explode(
            F.expr("transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))")
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("tf").alias("cnt"))
    top = agg.orderBy(F.desc("cnt"), "pair").limit(BPE_TOP_K)
    # bound: ≤ BPE_TOP_K rows — the .limit() slice above is the window input
    w = Window.partitionBy(bounded_window_key("pair")).orderBy(F.desc("cnt"), "pair")
    return top.select("pair", "cnt", F.row_number().over(w).cast("long").alias("rnk"))


BPE_MERGE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), tf AS (
  SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1
), pairs AS (
  SELECT substr(token, i, 2) AS pair, tf
  FROM tf, LATERAL (SELECT unnest(range(1, length(token))) AS i) r
  WHERE length(token) >= 2
), agg AS (
  SELECT pair, CAST(SUM(tf) AS BIGINT) AS cnt FROM pairs GROUP BY 1
)
SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
FROM agg ORDER BY cnt DESC, pair LIMIT {BPE_TOP_K}
"""


def corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(P_source ‖ P_corpus) over the
    unigram token distributions — the mixing-QA number that tells you
    which slice of the corpus no longer looks like the whole (new
    boilerplate, a crawler gone wrong, a domain shift). KL in this
    direction needs no smoothing: every source token exists globally,
    so q > 0 by construction.

    Numeric discipline (same as token_entropy): each term p·ln(p/q) is
    snapped to DECIMAL(28,12) and summed exactly; only the final sum is
    rounded. Plan: one (source, token) hash agg (map-side combine eats
    the token skew), the global relations derived FROM that agg (vocab-
    sized, never re-scanning raw tokens): per-token totals re-joined on
    token, the corpus total as a 1-row broadcast cross join, per-source
    totals via a window over the post-agg relation (bounded by
    per-source vocab)."""
    tok = _docs(spark, sf_dir).select("source", F.explode(tokenize("text")).alias("token"))
    freq = tok.groupBy("source", "token").agg(F.count("*").alias("cnt"))
    gfreq = freq.groupBy("token").agg(F.sum("cnt").alias("gcnt"))
    gtot = freq.agg(F.sum("cnt").alias("gtot"))
    stot = F.sum("cnt").over(Window.partitionBy("source"))
    p = F.col("cnt").cast("double") / F.col("stot")
    q = F.col("gcnt").cast("double") / F.col("gtot")
    term = (p * F.log(p / q)).cast("decimal(28,12)")
    return (
        freq.withColumn("stot", stot)
        .join(gfreq, "token")
        .crossJoin(F.broadcast(gtot))
        .select("source", "cnt", term.alias("term"))
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.round(F.sum("term").cast("double"), 6).alias("kl_nats"),
        )
    )


CORPUS_DRIFT_SQL = f"""
WITH toks AS (
  SELECT source,
         UNNEST({tokenize_sql()}) AS token
  FROM documents
), freq AS (
  SELECT source, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), gfreq AS (
  SELECT token, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM freq GROUP BY 1
), gtot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS gtot FROM freq
), terms AS (
  SELECT f.source, f.cnt,
         CAST(
           (CAST(f.cnt AS DOUBLE) / f.stot)
           * ln((CAST(f.cnt AS DOUBLE) / f.stot) / (CAST(g.gcnt AS DOUBLE) / t.gtot))
           AS DECIMAL(28,12)) AS term
  FROM (SELECT source, token, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS stot
        FROM freq) f
  JOIN gfreq g USING (token)
  CROSS JOIN gtot t
)
SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS kl_nats
FROM terms GROUP BY 1
"""


TOP_TOKENS_K = 3


# --- unicode / encoding audit ------------------------------------------------


def unicode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, total_chars, non_ascii_chars, non_ascii_ratio,
    n_docs_mostly_non_ascii) — the encoding-health sweep a crawl
    pipeline runs per source: a spike in the non-ASCII ratio of a
    nominally-English source is mojibake / double-encoding / binary
    contamination; a doc that is MOSTLY non-ASCII in such a source is
    a mislabeled-language candidate.

    Map-only per-row character counts (length before/after stripping
    the ASCII range — character semantics in both engines) into one
    per-source aggregation; ratios floor-snap to 6 dp."""
    docs = _docs(spark, sf_dir)
    total = F.length("text").cast("long")
    ascii_n = F.length(F.regexp_replace(F.col("text"), "[\\x00-\\x7F]", "")).cast("long")
    # ascii_n above counts the NON-ascii remainder (ASCII chars removed)
    per_doc = docs.select(
        "source",
        total.alias("n_chars_doc"),
        ascii_n.alias("non_ascii_doc"),
    )
    mostly = F.when(
        (F.col("n_chars_doc") > 0)
        & (F.col("non_ascii_doc") * 2 > F.col("n_chars_doc")),
        1,
    ).otherwise(0)
    snap6 = lambda c: F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0) + F.lit(0.0)  # noqa: E731
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars_doc").cast("long").alias("total_chars"),
        F.sum("non_ascii_doc").cast("long").alias("non_ascii_chars"),
        F.sum(mostly).cast("long").alias("n_docs_mostly_non_ascii"),
    )
    ratio = F.when(
        F.col("total_chars") > 0,
        snap6(F.col("non_ascii_chars").cast("double") / F.col("total_chars").cast("double")),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        "non_ascii_chars",
        ratio.alias("non_ascii_ratio"),
        "n_docs_mostly_non_ascii",
    )


UNICODE_AUDIT_SQL = r"""
WITH per_doc AS (
  SELECT source,
         length(text) AS n_chars_doc,
         length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS non_ascii_doc
  FROM documents
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars_doc) AS BIGINT) AS total_chars,
         CAST(SUM(non_ascii_doc) AS BIGINT) AS non_ascii_chars,
         CAST(SUM(CASE WHEN n_chars_doc > 0 AND non_ascii_doc * 2 > n_chars_doc
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_mostly_non_ascii
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, total_chars, non_ascii_chars,
       CASE WHEN total_chars > 0
            THEN floor(CAST(non_ascii_chars AS DOUBLE) / total_chars * 1000000.0 + 0.5)
                 / 1000000.0 + 0.0
            ELSE 0.0 END AS non_ascii_ratio,
       n_docs_mostly_non_ascii
FROM agg
"""


# --- stopword discovery ------------------------------------------------------
#
# How the reference's 667-entry compiled-in stopword table
# (main.go:301-969) would be DERIVED for a new language/domain: a
# stopword is a token that appears in most documents (high document
# frequency) and is not concentrated in any one source (flat
# cross-source distribution — a domain term spikes in its home
# source). Both signals fall out of one token aggregation.
STOPWORD_MIN_DOC_FRAC = 0.30   # token must appear in ≥30% of docs
STOPWORD_MAX_SRC_SHARE = 0.30  # ... with no source holding >30% of its mass


def stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, df, doc_frac, n_sources, top_source_share) — corpus-
    derived stopword candidates, the data-driven replacement for the
    reference's hand-maintained literal table.

    Plan: explode → (token, source) distinct-doc counts (map-side
    combine absorbs token skew) → one token-level aggregation; the
    corpus doc count enters as a 1-row broadcast (allowlisted
    cartesian — tf_idf's shape). Ratios divide identical int64 pairs
    in both engines; emitted values floor-snap to 6 dp."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    per_src = (
        docs.select("doc_id", "source", F.explode(tokenize("text")).alias("token"))
        .groupBy("token", "source")
        .agg(F.countDistinct("doc_id").alias("src_df"))
    )
    tok = per_src.groupBy("token").agg(
        F.sum("src_df").cast("long").alias("df"),
        F.count("*").cast("long").alias("n_sources"),
        F.max("src_df").cast("long").alias("max_src_df"),
    )
    snap6 = lambda c: F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0) + F.lit(0.0)  # noqa: E731
    doc_frac = F.col("df").cast("double") / F.col("n_docs").cast("double")
    share = F.col("max_src_df").cast("double") / F.col("df").cast("double")
    return (
        tok.crossJoin(F.broadcast(n_docs))
        .filter(
            (doc_frac >= STOPWORD_MIN_DOC_FRAC) & (share <= STOPWORD_MAX_SRC_SHARE)
        )
        .select(
            "token",
            "df",
            snap6(doc_frac).alias("doc_frac"),
            "n_sources",
            snap6(share).alias("top_source_share"),
        )
    )


STOPWORD_DISCOVERY_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         UNNEST({tokenize_sql()}) AS token
  FROM documents
), per_src AS (
  SELECT token, source, COUNT(DISTINCT doc_id) AS src_df
  FROM toks GROUP BY 1, 2
), tok AS (
  SELECT token,
         CAST(SUM(src_df) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS n_sources,
         CAST(MAX(src_df) AS BIGINT) AS max_src_df
  FROM per_src GROUP BY token
), nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT token, df,
       floor(CAST(df AS DOUBLE) / nd.n_docs * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS doc_frac,
       n_sources,
       floor(CAST(max_src_df AS DOUBLE) / df * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS top_source_share
FROM tok CROSS JOIN nd
WHERE CAST(df AS DOUBLE) / nd.n_docs >= {STOPWORD_MIN_DOC_FRAC}
  AND CAST(max_src_df AS DOUBLE) / df <= {STOPWORD_MAX_SRC_SHARE}
"""


def top_tokens_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group heavy hitters, exact: the K most frequent tokens of
    every source (corpus drift / boilerplate monitoring per slice).

    explode → two-level hash agg (partial map-side combine absorbs the
    token skew before the (source, token) shuffle) → row_number only
    over the per-source aggregated relation (≤ vocab rows per source,
    never raw tokens). Tiebreak is lexicographic for cross-engine
    determinism. At 100 TB the exact path is viable precisely because
    the window input is post-aggregation; the sketch alternative
    (count-min / approx_top_k) trades that shuffle for mergeable
    state — tests/test_sketches.py pins the approx toolkit instead."""
    tok = _docs(spark, sf_dir).select(
        "source", F.explode(tokenize("text")).alias("token")
    )
    freq = tok.groupBy("source", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), "token")
    return (
        freq.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_TOKENS_K)
        .select("source", "token", "cnt", "rnk")
        .orderBy("source", "rnk")
    )


TOP_TOKENS_PER_SOURCE_SQL = f"""
WITH toks AS (
  SELECT source,
         UNNEST({tokenize_sql()}) AS token
  FROM documents
), freq AS (
  SELECT source, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
)
SELECT source, token, cnt, rnk FROM (
  SELECT source, token, cnt,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, token) AS rnk
  FROM freq
) t
WHERE rnk <= {TOP_TOKENS_K}
ORDER BY source, rnk
"""


# Shared filtered-tokens CTE for the round-5 additions (mirrors
# functions.text.tokenize exactly — empty tokens dropped).
_FTOKS_CTE = f"""
WITH toks AS (
  SELECT doc_id, source,
         {tokenize_sql()} AS t
  FROM documents
)
"""


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length histogram on power-of-two buckets
    (bucket b holds docs with 2^b ≤ n_tokens < 2^(b+1)) — the curation
    dashboard's length distribution, and the input to a truncation /
    min-length policy decision. Pure aggregation; the bucket is
    INTEGER-exact in both engines (length of the binary representation,
    never a float log2 whose last ulp could flip a power-of-two
    boundary)."""
    docs = _docs(spark, sf_dir)
    n_tok = F.size(tokenize("text"))
    with_b = docs.select(
        "source", n_tok.alias("n_tok")
    ).filter(F.col("n_tok") >= 1).select(
        "source",
        "n_tok",
        (F.length(F.expr("bin(n_tok)")) - 1).cast("long").alias("bucket"),
    )
    return with_b.groupBy("source", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    ).select(
        "source",
        "bucket",
        F.expr("CAST(power(2.0, bucket) AS BIGINT)").alias("bucket_lo"),
        F.expr("CAST(power(2.0, bucket + 1) AS BIGINT) - 1").alias("bucket_hi"),
        "n_docs",
        "n_tokens",
    )


LENGTH_HISTOGRAM_SQL = _FTOKS_CTE + """
, sized AS (
  SELECT source, len(t) AS n_tok, CAST(length(bin(len(t))) - 1 AS BIGINT) AS bucket
  FROM toks WHERE len(t) >= 1
)
SELECT source, bucket,
       CAST(power(2.0, bucket) AS BIGINT) AS bucket_lo,
       CAST(power(2.0, bucket + 1) AS BIGINT) - 1 AS bucket_hi,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM sized GROUP BY 1, 2
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer audit: documents, token volume, characters
    per token, tokens per document, distinct-token count and
    type-token ratio — the fertility numbers that decide whether a
    tokenizer (or the cleaning stack in front of it) suits a source.
    One tokenize pass, two aggregations (per-source scalars + a
    per-source COUNT(DISTINCT) over the exploded tokens); divisions are
    exact-int over exact-int doubles, engine-identical."""
    docs = _docs(spark, sf_dir)
    toks = cached(docs.select("source", tokenize("text").alias("t")))
    per_src = toks.select(
        "source",
        F.size("t").alias("n_tok"),
        F.aggregate("t", F.lit(0), lambda acc, x: acc + F.length(x)).alias("tok_chars"),
    ).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("tok_chars").cast("long").alias("tok_chars"),
    )
    distinct = (
        toks.select("source", F.explode("t").alias("w"))
        .groupBy("source")
        .agg(F.countDistinct("w").alias("n_types"))
    )
    return per_src.join(distinct, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        F.coalesce(F.col("n_types"), F.lit(0)).cast("long").alias("n_types"),
        F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 6).alias("tokens_per_doc"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("tok_chars").cast("double") / F.col("n_tokens"), 6),
        ).alias("chars_per_token"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.coalesce(F.col("n_types"), F.lit(0)).cast("double") / F.col("n_tokens"), 6),
        ).alias("type_token_ratio"),
    )


TOKENIZER_FERTILITY_SQL = _FTOKS_CTE + """
, per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
         CAST(SUM(COALESCE(list_sum(list_transform(t, x -> length(x))), 0)) AS BIGINT) AS tok_chars
  FROM toks GROUP BY 1
), dst AS (
  SELECT source, COUNT(DISTINCT w) AS n_types
  FROM (SELECT source, unnest(t) AS w FROM toks) u GROUP BY 1
)
SELECT p.source, p.n_docs, p.n_tokens,
       CAST(COALESCE(d.n_types, 0) AS BIGINT) AS n_types,
       ROUND(CAST(p.n_tokens AS DOUBLE) / p.n_docs, 6) AS tokens_per_doc,
       CASE WHEN p.n_tokens > 0
            THEN ROUND(CAST(p.tok_chars AS DOUBLE) / p.n_tokens, 6) END AS chars_per_token,
       CASE WHEN p.n_tokens > 0
            THEN ROUND(CAST(COALESCE(d.n_types, 0) AS DOUBLE) / p.n_tokens, 6) END AS type_token_ratio
FROM per_src p LEFT JOIN dst d USING (source)
"""


def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus
    BIGRAM language model (MLE: p(w2|w1) = c(w1 w2)/c(w1·)) — the
    context-aware upgrade of unigram_logprob: boilerplate that repeats
    common transitions scores low, incoherent token soup scores high
    even when its unigrams are common. No smoothing needed: every doc
    bigram exists in the corpus by construction, so p > 0.

    Plan: one tokenize → one bigram explode, cached for its three
    consumers (per-doc counts, corpus bigram counts, context counts);
    joins keyed on the bigram / its first token. Numeric discipline is
    unigram_logprob's: each cnt·ln(p) term snaps to DECIMAL(28,12),
    sums exactly, and only the final mean rounds to 6 dp. Docs with
    fewer than 2 tokens have no bigrams and are absent by
    construction."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    bigr = cached(
        toks.select("doc_id", F.explode(token_bigrams()).alias("bg")).select(
            "doc_id", "bg.w1", "bg.w2"
        )
    )
    doc_bg = bigr.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c_doc"))
    corpus_bg = bigr.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = bigr.groupBy("w1").agg(F.count("*").alias("c1"))
    term = (
        F.col("c_doc") * F.log(F.col("c12").cast("double") / F.col("c1"))
    ).cast("decimal(28,12)")
    return (
        doc_bg.join(corpus_bg, ["w1", "w2"])
        .join(ctx, "w1")
        .select("doc_id", "c_doc", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_bigrams"),
            F.round((-F.sum("term")).cast("double") / F.sum("c_doc"), 6).alias("nll_nats"),
        )
    )


BIGRAM_LM_PERPLEXITY_SQL = _FTOKS_CTE + f"""
, bigr AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM {ngram_window_sql(2)}
), doc_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c_doc FROM bigr GROUP BY 1, 2, 3
), corpus_bg AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2
), ctx AS (
  SELECT w1, COUNT(*) AS c1 FROM bigr GROUP BY 1
), terms AS (
  SELECT d.doc_id, d.c_doc,
         CAST(d.c_doc * LN(CAST(cb.c12 AS DOUBLE) / cx.c1) AS DECIMAL(28,12)) AS term
  FROM doc_bg d
  JOIN corpus_bg cb ON cb.w1 = d.w1 AND cb.w2 = d.w2
  JOIN ctx cx ON cx.w1 = d.w1
)
SELECT doc_id,
       CAST(SUM(c_doc) AS BIGINT) AS n_bigrams,
       ROUND(CAST(-SUM(term) AS DOUBLE) / SUM(c_doc), 6) AS nll_nats
FROM terms GROUP BY 1
"""


# ------------------------- Kneser-Ney smoothed bigram probabilities

KN_D = 0.75      # absolute discount (the standard KN setting)
KN_TOPK = 100


def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, c12, c1, mle_prob, kn_prob) for the KN_TOPK most
    frequent corpus bigrams — interpolated Kneser-Ney with absolute
    discount D: P_KN(w2|w1) = (c12−D)/c1 + (D·N1+(w1·)/c1)·P_cont(w2),
    where the continuation probability P_cont(w2) = N1+(·w2)/N1+(··)
    counts bigram TYPES, not tokens — the smoothing every production
    n-gram LM ships (bigram_lm_perplexity is its unsmoothed MLE twin;
    'san francisco' makes 'francisco' common but NOT a good
    continuation elsewhere, which is exactly what type-counting fixes).
    Observed bigrams have c12 ≥ 1 > D, so the discounted term needs no
    max(·,0) clamp.

    Scale plan: one tokenize → bigram explode; all statistics are hash
    aggs over the bigram TYPE relation (Heaps-bounded, ≪ corpus): c1
    and the distinct-successor count ride one w1-keyed agg, the
    distinct-predecessor count one w2-keyed agg over types, and the
    global type total enters as a 1-row broadcast (never a driver
    count). Top-K is distributed TakeOrdered with a (w1,w2) tiebreak —
    no global window. The probability expression is the identical
    IEEE-double tree in both engines; one 6-dp round at the end."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    bigr = toks.select(F.explode(token_bigrams()).alias("bg")).select("bg.w1", "bg.w2")
    cb = cached(bigr.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    ctx = bigr.groupBy("w1").agg(
        F.count("*").alias("c1"), F.countDistinct("w2").alias("n1p_fwd")
    )
    cont = cb.groupBy("w2").agg(F.count("*").alias("n1p_back"))
    tot = cb.agg(F.count("*").alias("n1p_total"))
    top = cb.orderBy(F.desc("c12"), "w1", "w2").limit(KN_TOPK)
    kn = (
        (F.col("c12") - F.lit(KN_D)) / F.col("c1")
        + (F.lit(KN_D) * F.col("n1p_fwd") / F.col("c1"))
        * (F.col("n1p_back") / F.col("n1p_total"))
    )
    return (
        top.join(ctx, "w1")
        .join(cont, "w2")
        .join(F.broadcast(tot), F.lit(True))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.round(F.col("c12").cast("double") / F.col("c1"), 6).alias("mle_prob"),
            F.round(kn, 6).alias("kn_prob"),
        )
    )


KNESER_NEY_BIGRAM_SQL = _FTOKS_CTE + f"""
, bigr AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM {ngram_window_sql(2)}
), cb AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2
), ctx AS (
  SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1p_fwd FROM bigr GROUP BY 1
), cont AS (
  SELECT w2, COUNT(*) AS n1p_back FROM cb GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n1p_total FROM cb
), top AS (
  SELECT w1, w2, c12 FROM cb ORDER BY c12 DESC, w1, w2 LIMIT {KN_TOPK}
)
SELECT t.w1, t.w2, t.c12, cx.c1,
       ROUND(CAST(t.c12 AS DOUBLE) / cx.c1, 6) AS mle_prob,
       ROUND((t.c12 - {KN_D}) / cx.c1
             + ({KN_D} * cx.n1p_fwd / cx.c1) * (CAST(cn.n1p_back AS DOUBLE) / tt.n1p_total),
             6) AS kn_prob
FROM top t
JOIN ctx cx ON cx.w1 = t.w1
JOIN cont cn ON cn.w2 = t.w2
CROSS JOIN tot tt
"""


def bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of the BPE step: APPLY the top-1 learned merge
    (bpe_merge_pairs rank 1) to the vocabulary and report per-token
    merge counts and symbol-sequence lengths — the compression readout
    (Σ tf·n_merges tokens saved corpus-wide) that drives the
    keep-merging decision in tokenizer training.

    Plan: the winning pair is computed in-plan and enters as a 1-row
    broadcast (never a driver-side collect); application is
    `replace(token, pair, '_')` — greedy left-to-right non-overlapping
    in both engines, exactly BPE's merge semantics — over the
    AGGREGATED vocabulary, never the raw stream."""
    tok = _docs(spark, sf_dir).select(F.explode(tokenize("text")).alias("token"))
    tf = cached(tok.groupBy("token").agg(F.count("*").alias("tf")))
    pairs = tf.filter(F.length("token") >= 2).select(
        "tf",
        F.explode(
            F.expr("transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))")
        ).alias("pair"),
    )
    top1 = (
        pairs.groupBy("pair")
        .agg(F.sum("tf").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(1)
        .select(F.col("pair").alias("merge_pair"))
    )
    merged_len = F.length(F.expr("replace(token, merge_pair, '_')"))
    return tf.join(F.broadcast(top1), F.lit(True)).select(
        "token",
        "tf",
        "merge_pair",
        F.length("token").cast("long").alias("len_before"),
        merged_len.cast("long").alias("len_after"),
        (F.length("token") - merged_len).cast("long").alias("n_merges"),
    )


BPE_APPLY_MERGE_SQL = f"""
WITH tokstream AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), tf AS (
  SELECT token, COUNT(*) AS tf FROM tokstream GROUP BY 1
), pairs AS (
  SELECT substr(token, i, 2) AS pair, tf
  FROM tf, LATERAL (SELECT unnest(range(1, length(token))) AS i) r
  WHERE length(token) >= 2
), top1 AS (
  SELECT pair AS merge_pair FROM (
    SELECT pair, CAST(SUM(tf) AS BIGINT) AS cnt FROM pairs GROUP BY 1
  ) a ORDER BY cnt DESC, pair LIMIT 1
)
SELECT t.token, t.tf, o.merge_pair,
       CAST(length(t.token) AS BIGINT) AS len_before,
       CAST(length(replace(t.token, o.merge_pair, '_')) AS BIGINT) AS len_after,
       CAST(length(t.token) - length(replace(t.token, o.merge_pair, '_')) AS BIGINT) AS n_merges
FROM tf t CROSS JOIN top1 o
"""


SKIPGRAM_WINDOW = 2       # context offsets 1..W (directional)
SKIPGRAM_MIN_COUNT = 3    # exact-integer floor bounds the output set


def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec-style training-pair extraction: directional
    (center, context) co-occurrence counts for context offsets
    1..SKIPGRAM_WINDOW, floored at SKIPGRAM_MIN_COUNT — the table a
    skip-gram embedding trainer (or a collocation miner wider than
    bigram_pmi's adjacent-only window) consumes.

    Plan shape (the token_ngrams trick, functions/text.py:59): the
    offset-w pair stream is arrays_zip(slice(t,1,n−w), slice(t,1+w,n−w))
    — one column-level slice per OFFSET, not an interpreted per-token
    lambda — then one explode per offset, unioned. Map-only expansion
    (~W tokens-worth of rows per doc), one hash aggregation on
    (center, context, dist) with map-side partial agg; the count floor
    is an exact-integer HAVING, so the output set is deterministic and
    vocabulary²-bounded rather than corpus-sized. No joins, no windows:
    at 100 TB this is scan → project → explode → partial agg → one
    shuffle on uniformly-hashed token pairs (stopwords already removed
    from nothing here — the raw Zipf head is present, but the group
    count is bounded by distinct pairs, and AQE splits any skewed
    reducer; the heaviest possible key is still one (pair) cell)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokenize("text").alias("t"))
    per_offset = []
    for w in range(1, SKIPGRAM_WINDOW + 1):
        m = F.size("t") - w
        zipped = F.arrays_zip(
            F.slice("t", 1, m).alias("center"), F.slice("t", 1 + w, m).alias("context")
        )
        per_offset.append(
            toks.filter(F.size("t") > w)
            .select(F.explode(zipped).alias("p"))
            .select("p.center", "p.context", F.lit(w).alias("dist"))
        )
    pairs = per_offset[0]
    for extra in per_offset[1:]:
        pairs = pairs.unionByName(extra)
    return (
        pairs.groupBy("center", "context", "dist")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= SKIPGRAM_MIN_COUNT)
    )


SKIPGRAM_PAIRS_SQL = (
    _TOKS_CTE
    + f""",
pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks
), pairs AS (
  SELECT t[i] AS center, t[i + 1] AS context, 1 AS dist FROM pos WHERE i + 1 <= len(t)
  UNION ALL
  SELECT t[i] AS center, t[i + 2] AS context, 2 AS dist FROM pos WHERE i + 2 <= len(t)
)
SELECT center, context, dist, CAST(COUNT(*) AS BIGINT) AS cnt
FROM pairs
GROUP BY center, context, dist
HAVING COUNT(*) >= {SKIPGRAM_MIN_COUNT}
"""
)


FH_DIM = 256          # feature-hashing target dimensionality
FH_SIGN_SALT = "fh-sign:"


def feature_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) vectorizer: each document's TF
    counts folded into a fixed FH_DIM-dimensional sparse vector with
    dim = h(token) mod D and a ±1 sign from an independent hash bit
    (Weinberger et al. 2009 — the signed construction keeps collision
    noise zero-mean). This is the vocabulary-free alternative to the
    dense-id sparse vectors (index.py): no vocabulary pass, no id
    assignment, bounded dimensionality no matter the corpus — the
    vectorizer a streaming or sharded trainer uses when a global vocab
    is not affordable.

    Output: (doc_id, dim, val) for val ≠ 0 — collisions cancel exactly
    when signs oppose, and that cancellation is part of the contract.

    100 TB shape: tokenize → per-(doc, token) TF (uniform hash keys) →
    per-(doc, dim) integer sum — two aggregations, both map-side
    combinable; dims and signs are per-row md5 expressions (portable
    across engines, functions/hashing.py). No vocabulary join at all —
    compare sparse_vectors, which pays the dense-id machinery; this is
    the scale-out escape hatch."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    dim = (md5_hash60("token") % FH_DIM).alias("dim")
    sign = (md5_hash60(F.concat(F.lit(FH_SIGN_SALT), F.col("token"))) % 2 * 2 - 1).alias("sign")
    return (
        tf.select("doc_id", dim, (F.col("cnt") * sign).alias("sv"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sv").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )


FEATURE_HASHING_SQL = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({tokenize_sql()}) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
)
SELECT doc_id,
       {md5_hash60_sql('token')} % {FH_DIM} AS dim,
       CAST(SUM(cnt * ({md5_hash60_sql(f"'{FH_SIGN_SALT}' || token")} % 2 * 2 - 1)) AS BIGINT) AS val
FROM tf
GROUP BY doc_id, dim
HAVING CAST(SUM(cnt * ({md5_hash60_sql(f"'{FH_SIGN_SALT}' || token")} % 2 * 2 - 1)) AS BIGINT) <> 0
"""


KEYWORDS_K = 5


def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-KEYWORDS_K tokens by
    TF-IDF — the salience table a tagging / retrieval / summarization
    step consumes (and the per-doc completion of the corpus-level
    top_tokens_per_source).

    Determinism across engines: the score qty·ln(N/df) is a fixed IEEE
    expression of exact integers (tf_idf's recipe) ROUNDED to 6 dp
    BEFORE ranking, so any cross-engine last-ulp ln drift collapses to
    an exact tie, and ties break on the token string — the rank is a
    total order both engines agree on. The corpus document count rides
    the plan as a 1-row broadcast (allowlisted cartesian, house rule).

    100 TB shape: TF + df are the standard uniform-key aggregations;
    the rank window partitions by doc_id — per-doc row counts are
    document-sized (bounded by MAX_TOKENS distinct tokens), never
    corpus-sized."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = cached(tok.groupBy("doc_id", "token").agg(F.count("*").alias("qty")))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_rel = tf.agg(F.countDistinct("doc_id").cast("double").alias("_n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_rel))
        .select(
            "doc_id",
            "token",
            "qty",
            F.round(F.col("qty") * F.log(F.col("_n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= KEYWORDS_K)
        .select("doc_id", "rnk", "token", "qty", "tfidf")
    )


DOC_KEYWORDS_SQL = (
    _TOKS_CTE
    + f""",
tok AS (SELECT doc_id, UNNEST(t) AS token FROM toks),
tf AS (SELECT doc_id, token, COUNT(*) AS qty FROM tok WHERE token <> '' GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
scored AS (
  SELECT doc_id, token, qty,
         ROUND(qty * LN(n_docs / df), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
SELECT doc_id, rnk, token, qty, tfidf FROM (
  SELECT doc_id, token, qty, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
  FROM scored
) r WHERE rnk <= {KEYWORDS_K}
"""
)


BPE_MERGES = 4  # learned merge rounds; merged symbols 'A','B',... never
                # collide with the [a-z0-9] token alphabet (tokenize lowercases)


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE training — the actual tokenizer-training loop that
    bpe_merge_pairs (one decision) and bpe_apply_merge (one
    application) bracket: BPE_MERGES rounds of count-pairs → pick
    argmax → rewrite the vocabulary, each merged pair collapsing to a
    fresh single-char symbol ('A','B',…) that participates in later
    merges exactly like BPE's grown alphabet. Output is the learned
    merge TABLE (round, pair, symbol, weighted count) — the artifact a
    tokenizer ships. Fourth iterative algorithm in the repo (CC,
    pagerank, PCA power iteration).

    Determinism: counts are exact integer sums; the argmax orders by
    (cnt DESC, pair) — a total order both engines agree on; rewriting
    is replace(repr, pair, symbol) — greedy left-to-right
    non-overlapping in both engines (bpe_apply_merge's pinned
    semantics). Pair counting counts overlapping occurrences ('aaa' →
    'aa' twice) while replace merges non-overlapping — the standard
    counting approximation, identical on both sides. Per-round lineage
    is checkpoint-truncated (house rule for iterative loops; the
    vocabulary relation being checkpointed is Heaps-law-bounded, not
    corpus-bounded) and the oracle materializes each round's CTEs.

    100 TB shape: ONE corpus-scale shuffle (the TF aggregation);
    every round after that runs on the aggregated vocabulary — pair
    expansion is ~mean-token-length rows per vocab entry, the argmax
    is a 1-row limit, the rewrite map-only."""
    tok = _docs(spark, sf_dir).select(F.explode(tokenize("text")).alias("token"))
    tf = cached(tok.groupBy("token").agg(F.count("*").alias("tf")))
    _reprs, merge_rows = _bpe_learn_rounds(tf)
    out = merge_rows[0]
    for extra in merge_rows[1:]:
        out = out.unionByName(extra)
    return out


def _bpe_learn_rounds(tf: DataFrame) -> tuple[DataFrame, list[DataFrame]]:
    """THE BPE learn loop — BPE_MERGES rounds of count-pairs → argmax
    → rewrite over an aggregated (token, tf) vocabulary. Returns
    (final reprs, per-round merge-table rows). Shared by
    bpe_learn_merges (ships the merge table) and bpe_encode (ships
    the final reprs), so the learned table and the encode pass cannot
    drift semantically — one loop, two consumers."""
    reprs = tf.select("token", "tf", F.col("token").alias("repr"))
    merge_rows = []
    for k in range(BPE_MERGES):
        sym = chr(ord("A") + k)
        pairs = reprs.filter(F.length("repr") >= 2).select(
            "tf",
            F.explode(
                F.expr("transform(sequence(1, length(repr) - 1), i -> substring(repr, i, 2))")
            ).alias("pair"),
        )
        top1 = cached(
            pairs.groupBy("pair")
            .agg(F.sum("tf").alias("cnt"))
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
        )
        merge_rows.append(
            top1.select(
                F.lit(k + 1).cast("long").alias("round"),
                F.col("pair").alias("merge_pair"),
                F.lit(sym).alias("merged_symbol"),
                F.col("cnt").cast("long").alias("cnt"),
            )
        )
        # LEFT join: on a pair-less round (every repr already length 1)
        # top1 is EMPTY and an inner join-on-true would silently wipe
        # the vocabulary; the left form keeps reprs unchanged instead
        # (oracle mirror: CASE WHEN the scalar subquery IS NULL)
        reprs = checkpoint_truncate(
            reprs.join(F.broadcast(top1.select("pair")), F.lit(True), "left").select(
                "token",
                "tf",
                F.when(F.col("pair").isNull(), F.col("repr"))
                .otherwise(F.expr(f"replace(repr, pair, '{sym}')"))
                .alias("repr"),
            )
        )
    return reprs, merge_rows


def _bpe_rounds_sql(prev: str = "r0") -> tuple[str, str]:
    """THE oracle mirror of _bpe_learn_rounds: the p/t/r CTE chain for
    all BPE_MERGES rounds over a `{prev}` relation of (token, tf,
    repr). Returns (rounds_sql, final_relation_name). Shared by both
    BPE oracle builders."""
    rounds = []
    for k in range(BPE_MERGES):
        sym = chr(ord("A") + k)
        rounds.append(
            f"""
p{k + 1} AS MATERIALIZED (
  SELECT substr(repr, i, 2) AS pair, tf
  FROM {prev}, LATERAL (SELECT unnest(range(1, length(repr))) AS i) r
  WHERE length(repr) >= 2
), t{k + 1} AS MATERIALIZED (
  SELECT pair, CAST(SUM(tf) AS BIGINT) AS cnt FROM p{k + 1} GROUP BY 1
  ORDER BY cnt DESC, pair LIMIT 1
), r{k + 1} AS MATERIALIZED (
  SELECT token, tf,
         CASE WHEN (SELECT pair FROM t{k + 1}) IS NULL THEN repr
              ELSE replace(repr, (SELECT pair FROM t{k + 1}), '{sym}') END AS repr
  FROM {prev}
)"""
        )
        prev = f"r{k + 1}"
    return ",".join(rounds), prev


def _bpe_learn_merges_sql() -> str:
    rounds, _final = _bpe_rounds_sql()
    selects = [
        f"SELECT CAST({k + 1} AS BIGINT) AS round, pair AS merge_pair, "
        f"'{chr(ord('A') + k)}' AS merged_symbol, cnt FROM t{k + 1}"
        for k in range(BPE_MERGES)
    ]
    return f"""
WITH tokstream AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), tf AS MATERIALIZED (
  SELECT token, COUNT(*) AS tf FROM tokstream GROUP BY 1
), r0 AS MATERIALIZED (SELECT token, tf, token AS repr FROM tf),{rounds}
{" UNION ALL ".join(selects)}
"""


BPE_LEARN_MERGES_SQL = _bpe_learn_merges_sql()


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer-facing ENCODE pass that completes the BPE arc:
    bpe_merge_pairs picks one merge, bpe_apply_merge applies one,
    bpe_learn_merges learns the table — this operator tokenizes the
    whole corpus with the COMPLETE learned merge table (all BPE_MERGES
    rounds, applied in learned order) and reports the per-source
    readout a training pipeline ships: encoded-token counts, fertility
    (BPE tokens per word), and compression (chars per BPE token) vs
    the character baseline. Generalizes the reference's tokenize loop
    (main.go:245-283) from whitespace words to learned subwords.

    Semantics: the merge table is re-derived in-plan with exactly
    bpe_learn_merges' loop (same pair counting, same (cnt DESC, pair)
    argmax, same greedy non-overlapping replace, each merged pair
    collapsing to a fresh symbol that participates in later merges),
    so a token's final repr IS its BPE symbol sequence and
    length(repr) its encoded token count. Encoding then happens on the
    AGGREGATED per-(source, token) relation — each distinct word is
    encoded once per source, never once per occurrence; the global tf
    used for learning is the rollup of the same relation, so both
    engines learn from identical counts.

    Exactness: all sums are exact integer sums of tf·length products;
    fertility/compression are double divisions of exact ints, rounded
    to 6 dp on both sides.

    100 TB shape: ONE corpus-scale shuffle (the (source, token)
    aggregation — partial map-side combine, uniformly hashed keys);
    the learn loop then runs on the Heaps-law-bounded vocabulary with
    checkpoint-truncated lineage per round (the iterative-loop house
    rule); the final encode join is vocab-sized on the token key and
    the output is |sources| rows via a second tiny agg."""
    docs = _docs(spark, sf_dir)
    stf = cached(
        docs.select("source", F.explode(tokenize("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf_s"))
    )
    tf = stf.groupBy("token").agg(F.sum("tf_s").alias("tf"))
    reprs, _merge_rows = _bpe_learn_rounds(tf)
    enc = stf.join(reprs.select("token", "repr"), "token")
    return enc.groupBy("source").agg(
        F.sum("tf_s").cast("long").alias("n_words"),
        F.sum(F.col("tf_s") * F.length("token")).cast("long").alias("n_chars"),
        F.sum(F.col("tf_s") * F.length("repr")).cast("long").alias("n_bpe_tokens"),
        F.round(
            F.sum(F.col("tf_s") * F.length("repr")).cast("double") / F.sum("tf_s"), 6
        ).alias("fertility"),
        F.round(
            F.sum(F.col("tf_s") * F.length("token")).cast("double")
            / F.sum(F.col("tf_s") * F.length("repr")),
            6,
        ).alias("chars_per_bpe_token"),
    )


def _bpe_encode_sql() -> str:
    # the SHARED round CTEs (_bpe_rounds_sql — the same builder
    # bpe_learn_merges' oracle uses; tf derived from the per-source
    # rollup so both engines learn from identical counts), then the
    # encode join + per-source aggregation
    rounds, prev = _bpe_rounds_sql()
    return f"""
WITH tokstream AS (
  SELECT source,
         UNNEST({tokenize_sql()}) AS token
  FROM documents
), stf AS MATERIALIZED (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf_s FROM tokstream GROUP BY 1, 2
), tf AS MATERIALIZED (
  SELECT token, CAST(SUM(tf_s) AS BIGINT) AS tf FROM stf GROUP BY 1
), r0 AS MATERIALIZED (SELECT token, tf, token AS repr FROM tf),{rounds}
SELECT s.source,
       CAST(SUM(s.tf_s) AS BIGINT) AS n_words,
       CAST(SUM(s.tf_s * length(s.token)) AS BIGINT) AS n_chars,
       CAST(SUM(s.tf_s * length(f.repr)) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(s.tf_s * length(f.repr)) AS DOUBLE) / SUM(s.tf_s), 6) AS fertility,
       ROUND(CAST(SUM(s.tf_s * length(s.token)) AS DOUBLE)
               / SUM(s.tf_s * length(f.repr)), 6) AS chars_per_bpe_token
FROM stf s JOIN {prev} f ON f.token = s.token
GROUP BY 1
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


# --- unigram-LM (SentencePiece-style) Viterbi segmentation -------------------
#
# The OTHER tokenizer family a training pipeline evaluates against BPE:
# score candidate pieces by corpus frequency, then segment every word
# by Viterbi under the unigram LM (min total -ln p). This is dynamic
# programming AS COLUMN MATH: the per-word DP runs inside one
# whole-stage-codegen'd `aggregate` higher-order function over a
# per-word span-cost map — no join, no shuffle, no Python per DP step.
UNI_MAX_WORD_LEN = 12   # words longer than this are out of model (documented)
UNI_MAX_PIECE_LEN = 4   # candidate pieces are substrings of length 1..4
UNI_MIN_PIECE_FREQ = 4  # multi-char pieces need >= this weighted freq
UNI_SCALE = 1_000_000   # -ln p in 1e-6 fixed point


def unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word_len, n_pieces, n_words, sum_tf, min_cost_fp, max_cost_fp,
    weighted_cost) — the Viterbi-segmentation census of the vocabulary
    under a frequency-initialized unigram LM (SentencePiece's model
    family, the E-step of its EM loop): every word of length ≤
    UNI_MAX_WORD_LEN is segmented into candidate pieces (all
    substrings of length 1..UNI_MAX_PIECE_LEN; multi-char pieces kept
    at weighted freq ≥ UNI_MIN_PIECE_FREQ, single chars kept
    unconditionally so segmentation always completes — the no-UNK
    guarantee), minimizing Σ -ln(freq/total) over the pieces. Fifth
    DP/iterative specimen (CC, pagerank, PCA, BPE learn); completes
    the tokenizer family: BPE merges bottom-up, unigram segments
    top-down.

    Exactness design: piece costs are snapped ONCE to 1e-6 fixed point
    (floor(ln·1e6 + .5) — the tf_idf house pattern for transcendental
    values), then the entire DP is exact int64 arithmetic. Cost and
    piece count ride ONE integer — v = cost_fp·64 + n_pieces, additive
    per piece since n_pieces ≤ 12 < 64 — so min(v) IS the
    lexicographic (cost, fewer-pieces) argmin, a total order both
    engines agree on with no double comparisons anywhere in the DP.

    Plan shape (100 TB): the only corpus-scale shuffle is the word TF
    aggregation; spans/pieces/costs are Heaps-law-vocabulary-sized
    (pieces further bounded by alphabet^UNI_MAX_PIECE_LEN); the
    normalizer enters as a 1-row broadcast; the DP is map-only column
    math over a per-word span map built by one vocab-scale groupBy;
    the output aggregation has ≤ MAX_WORD_LEN² cells, map-side
    combined. Oracle: identical relations, DP unrolled as
    UNI_MAX_WORD_LEN chained materialized CTEs."""
    docs = _docs(spark, sf_dir)
    words = cached(
        docs.select(F.explode(tokenize("text")).alias("token"))
        .filter(F.length("token") <= UNI_MAX_WORD_LEN)
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )
    spans = words.select(
        "token",
        "tf",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(token)), i ->
                      transform(sequence(1, least({UNI_MAX_PIECE_LEN}, length(token) - i + 1)), l ->
                        struct(i AS i, l AS l, substring(token, i, l) AS piece))))"""
            )
        ).alias("s"),
    ).select("token", "tf", "s.i", "s.l", "s.piece")
    pieces = cached(
        spans.groupBy("piece")
        .agg(F.sum("tf").alias("freq"))
        .filter((F.length("piece") == 1) | (F.col("freq") >= UNI_MIN_PIECE_FREQ))
    )
    total = pieces.agg(F.sum("freq").alias("total_freq"))
    costs = pieces.crossJoin(F.broadcast(total)).select(
        "piece",
        F.floor(
            F.log(F.col("total_freq").cast("double") / F.col("freq").cast("double"))
            * F.lit(UNI_SCALE)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cost_fp"),
    )
    # span key packs (start, end) injectively: end <= 12 < 16
    wspans = spans.join(costs, "piece").select(
        "token",
        ((F.col("i") - 1) * 16 + (F.col("i") - 1 + F.col("l"))).alias("k"),
        (F.col("cost_fp") * 64 + 1).alias("w"),
    )
    smap = wspans.groupBy("token").agg(
        F.map_from_entries(F.collect_list(F.struct("k", "w"))).alias("m")
    )
    dp = F.aggregate(
        F.sequence(F.lit(1), F.length("token")),
        F.array(F.lit(0).cast("long")),
        lambda acc, j: F.concat(
            acc,
            F.array(
                F.array_min(
                    F.transform(
                        F.sequence(F.lit(0), j - 1),
                        lambda i: F.element_at(acc, i + 1)
                        + F.element_at(F.col("m"), i * 16 + j),
                    )
                )
            ),
        ),
    )
    per = (
        words.join(smap, "token")
        .select(
            "tf",
            F.length("token").alias("word_len"),
            F.element_at(dp, F.length("token") + 1).alias("v"),
        )
        .select(
            "tf",
            "word_len",
            F.col("v").bitwiseAND(F.lit(63)).cast("long").alias("n_pieces"),
            F.shiftright(F.col("v"), 6).cast("long").alias("cost_fp"),
        )
    )
    return per.groupBy("word_len", "n_pieces").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("tf").cast("long").alias("sum_tf"),
        F.min("cost_fp").alias("min_cost_fp"),
        F.max("cost_fp").alias("max_cost_fp"),
        (F.sum(F.col("tf") * F.col("cost_fp")).cast("double") / F.lit(float(UNI_SCALE))).alias(
            "weighted_cost"
        ),
    )


def _unigram_tokenizer_sql() -> str:
    dps = []
    for k in range(1, UNI_MAX_WORD_LEN + 1):
        prev = f"d{k - 1}"
        dps.append(
            f"""
d{k} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT w.token, {k} AS j, MIN(d.v + w.w) AS v
  FROM wspans w JOIN {prev} d ON d.token = w.token AND d.j = w.i0
  WHERE w.j = {k} GROUP BY w.token
)"""
        )
    return f"""
WITH tokstream AS (
  SELECT UNNEST({tokenize_sql()}) AS token
  FROM documents
), words AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tokstream
  WHERE length(token) <= {UNI_MAX_WORD_LEN} GROUP BY 1
), spans AS MATERIALIZED (
  SELECT token, tf, i, l, substr(token, i, l) AS piece
  FROM words,
       LATERAL (SELECT unnest(range(1, length(token) + 1)) AS i) a,
       LATERAL (SELECT unnest(range(1, least({UNI_MAX_PIECE_LEN}, length(token) - i + 1) + 1)) AS l) b
), pieces AS MATERIALIZED (
  SELECT piece, CAST(SUM(tf) AS BIGINT) AS freq FROM spans GROUP BY 1
  HAVING length(piece) = 1 OR CAST(SUM(tf) AS BIGINT) >= {UNI_MIN_PIECE_FREQ}
), total AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_freq FROM pieces),
costs AS MATERIALIZED (
  SELECT piece,
         CAST(floor(ln(CAST(t.total_freq AS DOUBLE) / CAST(freq AS DOUBLE)) * {UNI_SCALE} + 0.5) AS BIGINT) AS cost_fp
  FROM pieces CROSS JOIN total t
), wspans AS MATERIALIZED (
  SELECT s.token, s.i - 1 AS i0, s.i - 1 + s.l AS j, c.cost_fp * 64 + 1 AS w
  FROM spans s JOIN costs c USING (piece)
),
d0 AS MATERIALIZED (SELECT token, 0 AS j, CAST(0 AS BIGINT) AS v FROM words),{",".join(dps)},
per AS (
  SELECT w.tf, length(w.token) AS word_len,
         CAST(d.v & 63 AS BIGINT) AS n_pieces,
         CAST(d.v >> 6 AS BIGINT) AS cost_fp
  FROM words w JOIN d{UNI_MAX_WORD_LEN} d
    ON d.token = w.token AND d.j = length(w.token)
)
SELECT word_len, n_pieces,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(tf) AS BIGINT) AS sum_tf,
       MIN(cost_fp) AS min_cost_fp,
       MAX(cost_fp) AS max_cost_fp,
       CAST(SUM(tf * cost_fp) AS DOUBLE) / {float(UNI_SCALE)} AS weighted_cost
FROM per GROUP BY 1, 2
"""


UNIGRAM_TOKENIZER_SQL = _unigram_tokenizer_sql()


def length_quartiles_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quartiles (exact, interpolated) + IQR
    — the per-source spread readout that complements length_histogram's
    global buckets and mad_outliers' corpus-level screen; the table a
    per-source truncation/packing policy is tuned against.

    Exactness: token counts are integers and both engines' continuous
    quantile interpolates lower + (upper−lower)·frac with frac ∈
    {.25, .5, .75} — dyadic arithmetic, exact in double, identical
    results (mad_outliers' argument per-group). 100 TB: one tokenize
    scan, one groupBy(source) whose exact-percentile state is bounded
    by DISTINCT counts per source (≤ MAX_TOKENS keys), never row
    count."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select("source", F.size(tokenize("text")).cast("long").alias("n_tok"))
    return counts.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.percentile("n_tok", F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile("n_tok", F.lit(0.5)), 6).alias("q50"),
        F.round(F.percentile("n_tok", F.lit(0.75)), 6).alias("q75"),
        F.round(
            F.percentile("n_tok", F.lit(0.75)) - F.percentile("n_tok", F.lit(0.25)), 6
        ).alias("iqr"),
    )


LENGTH_QUARTILES_SQL = (
    _TOKS_CTE
    + """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(n_tok, 0.25), 6) AS q25,
       ROUND(quantile_cont(n_tok, 0.5), 6) AS q50,
       ROUND(quantile_cont(n_tok, 0.75), 6) AS q75,
       ROUND(quantile_cont(n_tok, 0.75) - quantile_cont(n_tok, 0.25), 6) AS iqr
FROM (
  SELECT d.source, CAST(len(list_filter(t.t, x -> x <> '')) AS BIGINT) AS n_tok
  FROM toks t JOIN documents d USING (doc_id)
) c
GROUP BY source
"""
)


def tokenizer_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tokenizer, n_words, n_tokens, fertility) — the decision table
    the tokenizer family exists to produce: corpus-level fertility of
    the two LEARNED tokenizers (BPE bottom-up merges, unigram-LM
    top-down Viterbi) against the two trivial baselines (whitespace =
    1 token/word, char = the ceiling), each rolled up from its own
    oracle-checked operator. Composition only — the readout that says
    which tokenizer to ship.

    Coverage caveat carried in the numbers: the unigram row counts the
    OCCURRENCE-WEIGHTED words its model covers (words ≤
    UNI_MAX_WORD_LEN; out-of-model words are absent from its census),
    so its n_words differs from BPE's by exactly the out-of-model
    occurrence mass — comparable via the shared n_words column, not
    hidden. 100 TB: both inputs end |sources|- or census-bounded; the
    rollups here are 1-row aggregates unioned to 4 rows."""
    b = bpe_encode(spark, sf_dir).agg(
        F.sum("n_words").cast("long").alias("w"),
        F.sum("n_chars").cast("long").alias("c"),
        F.sum("n_bpe_tokens").cast("long").alias("t"),
    )
    u = unigram_tokenizer(spark, sf_dir).agg(
        F.sum(F.col("n_pieces") * F.col("sum_tf")).cast("long").alias("t"),
        F.sum("sum_tf").cast("long").alias("w"),
    )

    def row(df, name, w_col, t_col):
        return df.select(
            F.lit(name).alias("tokenizer"),
            F.col(w_col).alias("n_words"),
            F.col(t_col).alias("n_tokens"),
            F.round(F.col(t_col).cast("double") / F.col(w_col).cast("double"), 6).alias(
                "fertility"
            ),
        )

    ws = b.select("w", F.col("w").alias("t2"))
    return (
        row(ws, "whitespace", "w", "t2")
        .unionByName(row(b, "char", "w", "c"))
        .unionByName(row(b, "bpe", "w", "t"))
        .unionByName(row(u, "unigram", "w", "t"))
    )


TOKENIZER_COMPARISON_SQL = f"""
WITH b AS ({BPE_ENCODE_SQL}),
u AS ({UNIGRAM_TOKENIZER_SQL}),
bs AS (
  SELECT CAST(SUM(n_words) AS BIGINT) AS w,
         CAST(SUM(n_chars) AS BIGINT) AS c,
         CAST(SUM(n_bpe_tokens) AS BIGINT) AS t
  FROM b
), us AS (
  SELECT CAST(SUM(n_pieces * sum_tf) AS BIGINT) AS t,
         CAST(SUM(sum_tf) AS BIGINT) AS w
  FROM u
)
SELECT 'whitespace' AS tokenizer, w AS n_words, w AS n_tokens,
       ROUND(CAST(w AS DOUBLE) / CAST(w AS DOUBLE), 6) AS fertility FROM bs
UNION ALL
SELECT 'char', w, c, ROUND(CAST(c AS DOUBLE) / CAST(w AS DOUBLE), 6) FROM bs
UNION ALL
SELECT 'bpe', w, t, ROUND(CAST(t AS DOUBLE) / CAST(w AS DOUBLE), 6) FROM bs
UNION ALL
SELECT 'unigram', w, t, ROUND(CAST(t AS DOUBLE) / CAST(w AS DOUBLE), 6) FROM us
"""


# ------------------- multinomial Naive Bayes source classifier

def naive_bayes_source_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true_source, predicted_source, n_docs, row_share, correct) —
    a multinomial Naive Bayes text classifier TRAINED in-engine:
    Laplace-smoothed per-source token likelihoods fit on the salted-
    hash 'train' split (sampling.split_column — doc_id parity is
    CORRELATED with source in this corpus, so a modulus split would
    put every train source out of the eval set), evaluated as a
    confusion matrix over the val+test docs
    (language_id_confusion's readout shape, but for a LEARNED model —
    the provenance classifier a curation pipeline uses to spot
    mislabeled or style-outlier sources).

    The factored score avoids the V×|sources| likelihood grid:
        score(d,s) = ln(nd_s/N) + Σ_t n_dt·ln(c_st+1) − m_d·ln(C_s+V)
    so only OBSERVED (token, source) train cells join the test tokens
    (zero cells contribute n·ln(1) = 0), and the per-source constants
    ride in as a broadcast of |sources| rows.

    Scale plan: one tokenize pass feeds both legs; train cells and the
    test join are token-keyed shuffles (the tf×vocab shape, J4); the
    per-(doc, source) aggregation is bounded by test tokens ×
    |sources-sharing-a-token|; the argmax window partitions by doc_id.
    V is Heaps-bounded, |sources| is small. Numeric discipline: every
    n·ln term snaps to DECIMAL(28,12) (split_perplexity_gap's
    convention) so scores are exact decimals and the argmax — ties
    broken by source name — is identical cross-engine."""
    docs = _docs(spark, sf_dir)
    return nb_release(nb_cells(docs), docs)


def nb_cells(docs: DataFrame) -> DataFrame:
    """(token, source, c) train-split likelihood cells — the split is a
    per-row salted hash and cells merge by addition, so
    stream_naive_bayes keeps them as state (train vocabulary ×
    |sources|). Cached on the batch side: the release reads them four
    times."""
    from capstone_etl_spark.operators.sampling import split_column

    return cached_batch(
        docs.filter(split_column(F.col("doc_id")) == "train")
        .select("source", F.explode(tokenize("text")).alias("token"))
        .groupBy("token", "source")
        .agg(F.count("*").alias("c"))
    )


def nb_release(cst: DataFrame, docs: DataFrame) -> DataFrame:
    """The NB scoring tail: the train cells evaluated on the held-out
    documents."""
    from capstone_etl_spark.operators.sampling import split_column

    docs = docs.withColumn("_is_train", split_column(F.col("doc_id")) == "train")
    tok = docs.select(
        "doc_id", "source", "_is_train", F.explode(tokenize("text")).alias("token")
    )
    v_rel = cst.select("token").distinct().agg(F.count("*").alias("v"))
    tr_docs = docs.filter(F.col("_is_train"))
    n_rel = tr_docs.agg(F.count("*").alias("n_tr"))
    src = (
        tr_docs.groupBy("source")
        .agg(F.count("*").alias("nd"))
        .join(cst.groupBy("source").agg(F.sum("c").alias("c_s")), "source", "left")
        .crossJoin(F.broadcast(v_rel))
        .crossJoin(F.broadcast(n_rel))
        .select(
            F.col("source").alias("cand"),
            F.log(F.col("nd") / F.col("n_tr")).cast("decimal(28,12)").alias("prior"),
            F.log(F.coalesce(F.col("c_s"), F.lit(0)) + F.col("v")).alias("lden"),
        )
    )
    dt = cached(
        tok.filter(~F.col("_is_train"))
        .join(cst.select("token").distinct(), "token", "semi")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("n"))
    )
    p1 = (
        dt.join(cst, "token")
        .select(
            "doc_id",
            F.col("source").alias("cand"),
            (F.col("n") * F.log(F.col("c") + 1)).cast("decimal(28,12)").alias("term"),
        )
        .groupBy("doc_id", "cand")
        .agg(F.sum("term").alias("p1"))
    )
    md = dt.groupBy("doc_id").agg(F.sum("n").alias("m"))
    scored = (
        docs.filter(~F.col("_is_train"))
        .select("doc_id", F.col("source").alias("true_source"))
        .join(md, "doc_id", "left")
        .crossJoin(F.broadcast(src))
        .join(p1, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "true_source",
            "cand",
            (
                F.col("prior")
                + F.coalesce(F.col("p1"), F.lit(0).cast("decimal(28,12)"))
                - (F.coalesce(F.col("m"), F.lit(0)) * F.col("lden")).cast(
                    "decimal(28,12)"
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand").asc())
    pred = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("true_source", F.col("cand").alias("predicted_source"))
    )
    cells = pred.groupBy("true_source", "predicted_source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    wr = Window.partitionBy("true_source")  # ≤ |sources| rows per key post-agg
    return cells.select(
        "true_source",
        "predicted_source",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(wr), 6).alias(
            "row_share"
        ),
        (F.col("true_source") == F.col("predicted_source")).alias("correct"),
    )


def _naive_bayes_sql() -> str:
    from capstone_etl_spark.operators.sampling import split_sql_case

    is_train = f"({split_sql_case('doc_id')}) = 'train'"
    # scored joins three doc_id-bearing relations; qualify the split's
    # id reference there or the binder sees an ambiguous column
    is_train_d = f"({split_sql_case('d.doc_id')}) = 'train'"
    return f"""
WITH tok AS (
  SELECT doc_id, source, {is_train} AS is_train,
         UNNEST({tokenize_sql()}) AS token
  FROM documents
), cst AS (
  SELECT token, source, COUNT(*) AS c
  FROM tok WHERE is_train GROUP BY 1, 2
), v AS (
  SELECT COUNT(DISTINCT token) AS v FROM cst
), n AS (
  SELECT COUNT(*) AS n_tr FROM documents WHERE {is_train}
), src AS (
  SELECT d.source AS cand,
         CAST(LN(CAST(COUNT(*) AS DOUBLE) / n.n_tr) AS DECIMAL(28,12)) AS prior,
         LN(COALESCE(cs.c_s, 0) + v.v) AS lden
  FROM documents d
  LEFT JOIN (SELECT source, SUM(c) AS c_s FROM cst GROUP BY 1) cs ON d.source = cs.source
  CROSS JOIN v CROSS JOIN n
  WHERE {is_train}
  GROUP BY d.source, cs.c_s, v.v, n.n_tr
), dt AS (
  SELECT doc_id, token, COUNT(*) AS n
  FROM tok
  WHERE NOT is_train
    AND token IN (SELECT DISTINCT token FROM cst)
  GROUP BY 1, 2
), p1 AS (
  SELECT dt.doc_id, cst.source AS cand,
         SUM(CAST(dt.n * LN(cst.c + 1) AS DECIMAL(28,12))) AS p1
  FROM dt JOIN cst ON dt.token = cst.token
  GROUP BY 1, 2
), md AS (
  SELECT doc_id, SUM(n) AS m FROM dt GROUP BY 1
), scored AS (
  SELECT d.doc_id, d.source AS true_source, s.cand,
         s.prior + COALESCE(p1.p1, CAST(0 AS DECIMAL(28,12)))
           - CAST(COALESCE(md.m, 0) * s.lden AS DECIMAL(28,12)) AS score
  FROM documents d
  LEFT JOIN md ON d.doc_id = md.doc_id
  CROSS JOIN src s
  LEFT JOIN p1 ON p1.doc_id = d.doc_id AND p1.cand = s.cand
  WHERE NOT ({is_train_d})
), pred AS (
  SELECT true_source, cand AS predicted_source
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, cand ASC) AS rn
        FROM scored)
  WHERE rn = 1
), cells AS (
  SELECT true_source, predicted_source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT true_source, predicted_source, n_docs,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY true_source), 6) AS row_share,
       true_source = predicted_source AS correct
FROM cells
"""


NAIVE_BAYES_SOURCE_MODEL_SQL = _naive_bayes_sql()


# ------------------ greedy decode from the corpus bigram LM

DECODE_STEPS = 10


def lm_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, token) — greedy generation from the corpus bigram LM:
    start at the globally most frequent token, then DECODE_STEPS times
    follow the argmax transition (count desc, token asc on ties). The
    smoke test a trained LM artifact gets — inference run inside the
    engine, so the check needs no model export. The chain truncates
    early if a token has no outgoing bigram (it only ever ends
    documents); loops are expected and fine (greedy decode cycles).

    Scale plan: ONE tokenize pass feeds bigram and unigram counts
    (cached arrays); the argmax-next relation is one bounded window
    over the post-agg bigram table; the seed is a 1-row aggregate; the
    chain is DECODE_STEPS joins each with a 1-row probe side against
    the cached argmax relation — constant-depth, nothing per-step
    scales with the corpus."""
    toks = _docs(spark, sf_dir).select(tokenize("text").alias("t")).transform(cached)
    bigr = toks.select(F.explode(token_bigrams()).alias("bg")).select("bg.w1", "bg.w2")
    bc = bigr.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    # argmax as min(struct(-c, w2)) instead of a row_number window: the
    # window re-shuffled bc by w1 AND sorted every partition; the
    # aggregate gets map-side partial combine and no sort, and ranks
    # identically ((-c, w2) ascending == (c desc, w2 asc)) — guide §2.3
    # "aggregate before you shuffle".
    best = cached(
        bc.groupBy("w1")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("w2").alias("t"))).alias("m"))
        .select("w1", F.col("m.t").alias("nxt"))
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    cur = uni.agg(
        F.min(
            F.struct((-F.col("c")).alias("nc"), F.col("w").alias("tok"))
        ).alias("s")
    ).select(F.lit(0).cast("long").alias("step"), F.col("s.tok").alias("token"))
    out = cur
    for k in range(1, DECODE_STEPS + 1):
        cur = cur.join(best, cur["token"] == best["w1"]).select(
            F.lit(k).cast("long").alias("step"), F.col("nxt").alias("token")
        )
        out = out.unionByName(cur)
    return out


def _lm_greedy_decode_sql() -> str:
    steps = []
    for k in range(1, DECODE_STEPS + 1):
        steps.append(
            f""", s{k} AS MATERIALIZED (
  SELECT {k} AS step, b.nxt AS token
  FROM s{k - 1} s JOIN best b ON s.token = b.w1
)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT CAST(step AS BIGINT) AS step, token FROM s{k}"
        for k in range(DECODE_STEPS + 1)
    )
    return (
        _TOKS_CTE
        + f"""
, bigr AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM {ngram_window_sql(2)}
), bc AS (
  SELECT w1, w2, COUNT(*) AS c FROM bigr GROUP BY 1, 2
), best AS (
  SELECT w1, w2 AS nxt
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
                                     ORDER BY c DESC, w2 ASC) AS rn FROM bc)
  WHERE rn = 1
), uni AS (
  SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) u
  WHERE w <> '' GROUP BY w
), s0 AS MATERIALIZED (
  SELECT 0 AS step, w AS token FROM uni ORDER BY c DESC, w ASC LIMIT 1
)"""
        + "".join(steps)
        + "\n"
        + union
    )


# ------------- two-sample Kolmogorov-Smirnov source drift

KS_CRIT_COEF = 1.358  # sqrt(-ln(0.05/2)/2): the alpha=0.05 two-sample factor


def ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, ks_stat, ks_crit, drifted) — the two-sample
    Kolmogorov-Smirnov test of each source's document-length (n_chars)
    distribution against the REST of the corpus: D = max_x |F_s(x) −
    F_rest(x)|, with the α=0.05 critical value c(α)·√((n+m)/(n·m)) and
    its reject flag. The distribution-shape drift audit that catches
    what a mean/stddev screen can't (corpus_drift's KL is the token
    twin; this is the length-shape one — PSI needs bins, KS doesn't).

    Scale plan: lengths collapse to per-(source, length) counts first
    (one hash agg), so every window below runs over the DISTINCT
    length domain — bounded by max doc length, not N. The |sources| ×
    |lengths| evaluation grid comes from a broadcast of the
    |sources|-row list; both ECDFs are running sums over that grid
    (absent lengths contribute 0 — no fill-forward needed). Exactness:
    D is maximized as the INTEGER |cum_s·m − cum_rest·n| (products
    ≤ N², inside int64 up to ~3e9 docs), divided once at the end."""
    return ks_release(ks_counts(_docs(spark, sf_dir)))


def ks_counts(docs: DataFrame) -> DataFrame:
    """(source, len, cs) cell counts — merged by addition, so
    stream_ks_drift keeps them as state bounded by |sources| × the
    distinct length domain."""
    return docs.groupBy("source", F.col("n_chars").alias("len")).agg(
        F.count("*").alias("cs")
    )


def ks_release(sl: DataFrame) -> DataFrame:
    """The KS tail over a (source, len, cs) count relation (referenced
    three times: grid spine, per-length and per-source totals)."""
    g = sl.groupBy("len").agg(F.sum("cs").alias("cg"))
    wg = Window.partitionBy(bounded_window_key("len")).orderBy("len")
    gc = g.select("len", F.sum("cg").over(wg).alias("cum_g"))
    srcs = sl.groupBy("source").agg(F.sum("cs").cast("long").alias("n_docs"))
    n_rel = srcs.agg(F.sum("n_docs").alias("n_all"))
    grid = (
        g.select("len")
        .crossJoin(F.broadcast(srcs.select("source")))
        .join(sl, ["source", "len"], "left")
    )
    ws = Window.partitionBy("source").orderBy("len")
    cum = grid.select(
        "source",
        "len",
        F.sum(F.coalesce(F.col("cs"), F.lit(0))).over(ws).alias("cum_s"),
    ).join(gc, "len")
    num = F.abs(
        F.col("cum_s") * (F.col("n_all") - F.col("n_docs"))
        - (F.col("cum_g") - F.col("cum_s")) * F.col("n_docs")
    )
    d = (
        cum.join(srcs, "source")
        .crossJoin(F.broadcast(n_rel))
        .groupBy("source", "n_docs", "n_all")
        .agg(F.max(num).alias("d_num"))
    )
    m = F.col("n_all") - F.col("n_docs")
    return d.select(
        "source",
        "n_docs",
        F.when(
            m > 0, F.round(F.col("d_num") / (F.col("n_docs") * m).cast("double"), 6)
        ).alias("ks_stat"),
        F.when(
            m > 0,
            F.round(
                F.lit(KS_CRIT_COEF) * F.sqrt(F.col("n_all") / (F.col("n_docs") * m).cast("double")),
                6,
            ),
        ).alias("ks_crit"),
        F.when(
            m > 0,
            F.col("d_num") / (F.col("n_docs") * m).cast("double")
            > F.lit(KS_CRIT_COEF) * F.sqrt(F.col("n_all") / (F.col("n_docs") * m).cast("double")),
        ).alias("drifted"),
    )


KS_SOURCE_DRIFT_SQL = f"""
WITH sl AS (
  SELECT source, n_chars AS len, COUNT(*) AS cs
  FROM documents GROUP BY 1, 2
), g AS (
  SELECT len, SUM(cs) AS cg FROM sl GROUP BY 1
), gc AS (
  SELECT len, SUM(cg) OVER (ORDER BY len) AS cum_g FROM g
), srcs AS (
  SELECT source, CAST(SUM(cs) AS BIGINT) AS n_docs FROM sl GROUP BY 1
), n AS (
  SELECT SUM(n_docs) AS n_all FROM srcs
), cum AS (
  SELECT grid.source, grid.len,
         SUM(COALESCE(sl.cs, 0)) OVER (PARTITION BY grid.source ORDER BY grid.len) AS cum_s
  FROM (SELECT s.source, g.len FROM (SELECT source FROM srcs) s CROSS JOIN g) grid
  LEFT JOIN sl ON sl.source = grid.source AND sl.len = grid.len
), d AS (
  SELECT c.source, s.n_docs, n.n_all,
         MAX(ABS(c.cum_s * (n.n_all - s.n_docs)
                 - (gc.cum_g - c.cum_s) * s.n_docs)) AS d_num
  FROM cum c
  JOIN gc ON c.len = gc.len
  JOIN srcs s ON c.source = s.source
  CROSS JOIN n
  GROUP BY 1, 2, 3
)
SELECT source, n_docs,
       CASE WHEN n_all - n_docs > 0
            THEN ROUND(d_num / CAST(n_docs * (n_all - n_docs) AS DOUBLE), 6) END AS ks_stat,
       CASE WHEN n_all - n_docs > 0
            THEN ROUND({KS_CRIT_COEF} * SQRT(n_all / CAST(n_docs * (n_all - n_docs) AS DOUBLE)), 6) END AS ks_crit,
       CASE WHEN n_all - n_docs > 0
            THEN d_num / CAST(n_docs * (n_all - n_docs) AS DOUBLE)
                 > {KS_CRIT_COEF} * SQRT(n_all / CAST(n_docs * (n_all - n_docs) AS DOUBLE)) END AS drifted
FROM d
"""


QUERIES = {
    "text_quality": text_quality,
    "token_counts": token_counts,
    "doc_fingerprint": doc_fingerprint,
    "language_id": language_id,
    "bigram_pmi": bigram_pmi,
    "vocab_coverage": vocab_coverage,
    "repetition_ratio": repetition_ratio,
    "top_tokens_per_source": top_tokens_per_source,
    "stopword_discovery": stopword_discovery,
    "unicode_audit": unicode_audit,
    "token_entropy": token_entropy,
    "corpus_drift": corpus_drift,
    "bpe_merge_pairs": bpe_merge_pairs,
    "winnowing_fingerprints": winnowing_fingerprints,
    "winnowing_pairs": winnowing_pairs,
    "zipf_fit": zipf_fit,
    "language_id_confusion": language_id_confusion,
    "length_histogram": length_histogram,
    "tokenizer_fertility": tokenizer_fertility,
    "bigram_lm_perplexity": bigram_lm_perplexity,
    "kneser_ney_bigram": kneser_ney_bigram,
    "bpe_apply_merge": bpe_apply_merge,
    "skipgram_pairs": skipgram_pairs,
    "feature_hashing_vectors": feature_hashing_vectors,
    "doc_keywords": doc_keywords,
    "bpe_learn_merges": bpe_learn_merges,
    "bpe_encode": bpe_encode,
    "unigram_tokenizer": unigram_tokenizer,
    "length_quartiles_per_source": length_quartiles_per_source,
    "tokenizer_comparison": tokenizer_comparison,
    "heaps_law_fit": heaps_law_fit,
    "negative_sampling_table": negative_sampling_table,
    "association_rules": association_rules,
    "token_gini": token_gini,
    "naive_bayes_source_model": naive_bayes_source_model,
    "ks_source_drift": ks_source_drift,
    "lm_greedy_decode": lm_greedy_decode,
}

ORACLE_SQL = {
    "text_quality": TEXT_QUALITY_SQL,
    "token_counts": TOKEN_COUNTS_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "language_id": LANGUAGE_ID_SQL,
    "bigram_pmi": BIGRAM_PMI_SQL,
    "vocab_coverage": VOCAB_COVERAGE_SQL,
    "repetition_ratio": REPETITION_RATIO_SQL,
    "top_tokens_per_source": TOP_TOKENS_PER_SOURCE_SQL,
    "stopword_discovery": STOPWORD_DISCOVERY_SQL,
    "unicode_audit": UNICODE_AUDIT_SQL,
    "token_entropy": TOKEN_ENTROPY_SQL,
    "corpus_drift": CORPUS_DRIFT_SQL,
    "bpe_merge_pairs": BPE_MERGE_PAIRS_SQL,
    "winnowing_fingerprints": WINNOWING_FINGERPRINTS_SQL,
    "winnowing_pairs": _winnowing_pairs_sql(),
    "zipf_fit": ZIPF_FIT_SQL,
    "heaps_law_fit": HEAPS_LAW_FIT_SQL,
    "negative_sampling_table": NEGATIVE_SAMPLING_TABLE_SQL,
    "association_rules": ASSOCIATION_RULES_SQL,
    "token_gini": TOKEN_GINI_SQL,
    "language_id_confusion": LANGUAGE_ID_CONFUSION_SQL,
    "length_histogram": LENGTH_HISTOGRAM_SQL,
    "tokenizer_fertility": TOKENIZER_FERTILITY_SQL,
    "bigram_lm_perplexity": BIGRAM_LM_PERPLEXITY_SQL,
    "kneser_ney_bigram": KNESER_NEY_BIGRAM_SQL,
    "bpe_apply_merge": BPE_APPLY_MERGE_SQL,
    "skipgram_pairs": SKIPGRAM_PAIRS_SQL,
    "feature_hashing_vectors": FEATURE_HASHING_SQL,
    "doc_keywords": DOC_KEYWORDS_SQL,
    "bpe_learn_merges": BPE_LEARN_MERGES_SQL,
    "bpe_encode": BPE_ENCODE_SQL,
    "unigram_tokenizer": UNIGRAM_TOKENIZER_SQL,
    "length_quartiles_per_source": LENGTH_QUARTILES_SQL,
    "tokenizer_comparison": TOKENIZER_COMPARISON_SQL,
    "naive_bayes_source_model": NAIVE_BAYES_SOURCE_MODEL_SQL,
    "ks_source_drift": KS_SOURCE_DRIFT_SQL,
    "lm_greedy_decode": _lm_greedy_decode_sql(),
}
