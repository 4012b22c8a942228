"""PII scanning/redaction and CCNet-style line-level boilerplate
removal.

Extension layer — the reference has no privacy stage (SURVEY.md §2
"not present"); these are the two scrub passes a large-scale
training-data pipeline runs before anything else touches the text:

- `pii_scan`: the compliance dashboard — per-source counts of each
  PII class (emails, IPv4s, phone shapes, long id-like digit runs)
  plus how many documents carry any. Per-row regexp counts (whole-
  stage codegen, no UDF) into one uniform-key groupBy(source) — scan
  speed at any corpus size.
- `pii_redaction`: per-document masked text. Classes are applied in a
  FIXED order (email → ipv4 → phone → id) so a digit-bearing email
  is consumed by the email mask before the id pattern can split it;
  the oracle applies the identical order. Counts are taken stepwise
  on each intermediate (what each pass actually masked), summing to
  the audit column. Pure per-row column math, zero shuffles.
- `boilerplate_lines`: CCNet-style line-level dedup audit (Wenzek et
  al. 2020 dedup paragraphs by hash across shards before anything
  else). Lines are normalized (whitespace-collapsed, trimmed,
  lowered), hashed portably (md5-60), counted by DISTINCT document
  frequency, and every occurrence of a line seen in ≥ BOILERPLATE_MIN_DF
  documents is flagged. Output is the per-document audit: lines in,
  boilerplate flagged, kept ratio. Shuffles only on the 60-bit line
  hash (uniform) and doc_id (uniform); the df relation is
  |distinct lines| ≤ |line occurrences|, never a self-join.

Regexes stay inside the Java∩RE2 common subset (char classes,
bounded repeats, \\b word boundaries; no lookaround) so Spark and the
DuckDB oracle match byte-for-byte.

100 TB: all three are scan-shaped. pii_scan reduces to |sources|
rows; pii_redaction is map-only; boilerplate_lines' widest relation
is one row per (doc, line) — the df side aggregates it by hash before
the join back, and the join key is the uniform md5-60 hash, so no
skew. (A real corpus' top boilerplate line — the empty string — is
dropped by normalization before it can become a hot key.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60, md5_hash60_sql
from capstone_etl_spark.sources.tables import load_table

# PII patterns, applied (and counted) in this order.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"
PII_ID = r"\b[0-9]{9,}\b"
PII_CLASSES = (
    ("email", PII_EMAIL, "<email>"),
    ("ipv4", PII_IPV4, "<ipv4>"),
    ("phone", PII_PHONE, "<phone>"),
    ("idnum", PII_ID, "<idnum>"),
)

# A normalized line present in at least this many DISTINCT documents
# is boilerplate (CCNet drops exact-duplicate paragraphs across
# shards; 2 is the strictest setting and the knob a curator owns).
BOILERPLATE_MIN_DF = 2


def _count(col, pattern: str):
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("long")


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, docs_with_pii, emails, ipv4s, phones, idnums)
    — each class counted independently on the RAW text (scan counts
    answer "how much is out there", not "what would the sequential
    redactor mask"; the stepwise numbers live in pii_redaction)."""
    return pii_counts(load_table(spark, sf_dir, "documents"))


def pii_counts(docs: DataFrame) -> DataFrame:
    """Per-row regexp counts summed per source — additive, so
    stream_pii_scan keeps them as |sources| × 6 integers of
    complete-mode state."""
    t = F.col("text")
    per_doc = docs.select(
        "source",
        _count(t, PII_EMAIL).alias("e"),
        _count(t, PII_IPV4).alias("i"),
        _count(t, PII_PHONE).alias("p"),
        _count(t, PII_ID).alias("d"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            ((F.col("e") + F.col("i") + F.col("p") + F.col("d")) > 0).cast("long")
        ).cast("long").alias("docs_with_pii"),
        F.sum("e").cast("long").alias("emails"),
        F.sum("i").cast("long").alias("ipv4s"),
        F.sum("p").cast("long").alias("phones"),
        F.sum("d").cast("long").alias("idnums"),
    )


PII_SCAN_SQL = f"""
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '{PII_EMAIL}')) AS e,
         len(regexp_extract_all(text, '{PII_IPV4}')) AS i,
         len(regexp_extract_all(text, '{PII_PHONE}')) AS p,
         len(regexp_extract_all(text, '{PII_ID}')) AS d
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN e + i + p + d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(e) AS BIGINT) AS emails,
       CAST(SUM(i) AS BIGINT) AS ipv4s,
       CAST(SUM(p) AS BIGINT) AS phones,
       CAST(SUM(d) AS BIGINT) AS idnums
FROM per_doc
GROUP BY source
"""


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text_redacted, n_redacted, redacted_hash) — stepwise
    sequential masking; n_redacted is the sum of what each pass
    actually masked on its own input, and the hash keys
    dedup-after-redaction."""
    docs = load_table(spark, sf_dir, "documents")
    cur = F.col("text")
    n = F.lit(0).cast("long")
    for _name, pat, mask in PII_CLASSES:
        n = n + _count(cur, pat)
        cur = F.regexp_replace(cur, pat, mask)
    return docs.select(
        "doc_id",
        cur.alias("text_redacted"),
        n.alias("n_redacted"),
        F.md5(cur).alias("redacted_hash"),
    )


def _redaction_sql_steps() -> tuple[str, str]:
    """(redacted_expr, count_expr) applying PII_CLASSES in order."""
    cur = "text"
    counts = []
    for _name, pat, mask in PII_CLASSES:
        counts.append(f"len(regexp_extract_all({cur}, '{pat}'))")
        cur = f"regexp_replace({cur}, '{pat}', '{mask}', 'g')"
    return cur, " + ".join(counts)


_RED_EXPR, _RED_COUNT = _redaction_sql_steps()

PII_REDACTION_SQL = f"""
SELECT doc_id,
       {_RED_EXPR} AS text_redacted,
       CAST({_RED_COUNT} AS BIGINT) AS n_redacted,
       md5({_RED_EXPR}) AS redacted_hash
FROM documents
"""


def _doc_lines(docs: DataFrame) -> DataFrame:
    """One row per non-empty normalized line occurrence: (doc_id, h)."""
    norm = lambda l: F.lower(F.trim(F.regexp_replace(l, "[ \t\r\f]+", " ")))  # noqa: E731
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), norm), lambda l: l != ""
    )
    return docs.select("doc_id", F.explode(lines).alias("line")).select(
        "doc_id", md5_hash60("line").alias("h")
    )


def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_lines, n_boilerplate, kept_ratio) — every line
    occurrence whose normalized form appears in ≥ BOILERPLATE_MIN_DF
    distinct documents counts as boilerplate; kept_ratio divides two
    exact counts (bit-identical across engines); line-less documents
    (empty / whitespace-only) keep ratio 1.0 — nothing to drop."""
    docs = load_table(spark, sf_dir, "documents")
    occ = _doc_lines(docs)
    df_rel = occ.distinct().groupBy("h").agg(F.count("*").cast("long").alias("df"))
    per_doc = (
        occ.join(df_rel, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum((F.col("df") >= BOILERPLATE_MIN_DF).cast("long"))
            .cast("long")
            .alias("n_boilerplate"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
        F.coalesce("n_boilerplate", F.lit(0).cast("long")).alias("n_boilerplate"),
        F.when(
            F.coalesce("n_lines", F.lit(0)) > 0,
            (F.col("n_lines") - F.col("n_boilerplate")).cast("double")
            / F.col("n_lines"),
        )
        .otherwise(F.lit(1.0))
        .alias("kept_ratio"),
    )


BOILERPLATE_LINES_SQL = f"""
WITH occ AS (
  SELECT doc_id, {md5_hash60_sql("line")} AS h
  FROM (
    SELECT doc_id,
           lower(trim(regexp_replace(l, '[ \t\r\f]+', ' ', 'g'))) AS line
    FROM documents, UNNEST(string_split(text, chr(10))) AS t(l)
  )
  WHERE line <> ''
), df_rel AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, h FROM occ)
  GROUP BY h
), per_doc AS (
  SELECT o.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN f.df >= {BOILERPLATE_MIN_DF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boilerplate
  FROM occ o JOIN df_rel f USING (h)
  GROUP BY o.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_lines, 0) AS n_lines,
       COALESCE(p.n_boilerplate, 0) AS n_boilerplate,
       CASE WHEN COALESCE(p.n_lines, 0) > 0
            THEN CAST(p.n_lines - p.n_boilerplate AS DOUBLE) / p.n_lines
            ELSE 1.0 END AS kept_ratio
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


# --- k-anonymity audit ---------------------------------------------------------
#
# The release-gate readout for structured data (Sweeney 2002): group
# the table by its quasi-identifier tuple and report, for each policy
# threshold k, how many rows sit in groups smaller than k — the rows a
# k-anonymous release would have to generalize or suppress. The QI
# tuple here is customer (nation, market segment, account-balance
# band): the classic "harmless" demographic columns whose JOINT
# distribution re-identifies.
K_ANON_THRESHOLDS = (2, 5, 10)
K_ANON_BAND = 1000  # acctbal generalization band width


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per policy threshold k: total groups/rows under the QI
    grouping, the groups smaller than k, the rows they contain, and
    the at-risk row fraction.

    Plan: ONE groupBy over the QI tuple (uniform keys — nation ×
    segment × band), then a second aggregation over the
    |QI-domain|-bounded group-size relation with one conditional sum
    per threshold, unpivoted to the per-k audit rows. Nothing after
    the first shuffle scales with table row count — at 100 TB this is
    a scan plus a domain-sized reduce, and the audit is re-runnable
    per release candidate."""
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / K_ANON_BAND).alias("bal_band"),
    ).agg(F.count("*").alias("g"))
    sums = groups.agg(
        F.count("*").alias("n_groups"),
        F.sum("g").alias("n_rows"),
        *[
            agg
            for k in K_ANON_THRESHOLDS
            for agg in (
                F.sum((F.col("g") < k).cast("long")).alias(f"gb_{k}"),
                F.sum(F.when(F.col("g") < k, F.col("g")).otherwise(0)).alias(f"rb_{k}"),
            )
        ],
    )
    stack = ", ".join(
        f"{k}, gb_{k}, rb_{k}" for k in K_ANON_THRESHOLDS
    )
    return sums.select(
        F.expr(
            f"stack({len(K_ANON_THRESHOLDS)}, {stack}) AS (k, groups_below, rows_below)"
        ),
        "n_groups",
        "n_rows",
    ).select(
        "k",
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("groups_below").cast("long").alias("groups_below"),
        F.col("rows_below").cast("long").alias("rows_below"),
        F.round(
            F.col("rows_below").cast("double") / F.col("n_rows").cast("double"), 6
        ).alias("pct_rows_below"),
    )


def _k_anon_sql() -> str:
    per_k = " UNION ALL ".join(
        f"""SELECT {k} AS k, n_groups, n_rows,
           gb_{k} AS groups_below, rb_{k} AS rows_below,
           ROUND(CAST(rb_{k} AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS pct_rows_below
    FROM sums"""
        for k in K_ANON_THRESHOLDS
    )
    cond_sums = ", ".join(
        f"CAST(SUM(CASE WHEN g < {k} THEN 1 ELSE 0 END) AS BIGINT) AS gb_{k}, "
        f"CAST(SUM(CASE WHEN g < {k} THEN g ELSE 0 END) AS BIGINT) AS rb_{k}"
        for k in K_ANON_THRESHOLDS
    )
    return f"""
WITH groups AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(floor(c_acctbal / {K_ANON_BAND}) AS BIGINT) AS bal_band,
         COUNT(*) AS g
  FROM customer GROUP BY 1, 2, 3
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(g) AS BIGINT) AS n_rows,
         {cond_sums}
  FROM groups
)
{per_k}
"""


K_ANONYMITY_AUDIT_SQL = _k_anon_sql()


# --------------------------------------------------- l-diversity audit
#
# k-anonymity's known hole: a group can be large (k-safe) yet carry a
# SINGLE sensitive value, so membership alone discloses it (the
# homogeneity attack, Machanavajjhala et al. 2007). l-diversity closes
# it: every quasi-identifier group must contain ≥ l distinct sensitive
# values. Here the QI is (nation, segment) and the sensitive attribute
# is the account-balance band the k-audit generalizes on — the two
# audits compose: k_anonymity_audit sizes the groups, this one checks
# what the groups reveal.
L_DIV_THRESHOLDS = (2, 3, 5)


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per policy threshold l: QI groups, their rows, the
    groups with fewer than l distinct sensitive values, the rows those
    groups expose, and the exposed-row fraction.

    Plan: one groupBy over (QI, sensitive) — the finest relation, with
    map-side combine — then a second aggregation to QI level carrying
    (distinct-sensitive count, row count), then one conditional sum
    per threshold over the |QI-domain|-bounded relation, unpivoted via
    stack. Same 100 TB shape as the k-audit: a scan plus two
    domain-sized reduces."""
    cust = load_table(spark, sf_dir, "customer")
    fine = cust.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / K_ANON_BAND).alias("bal_band"),
    ).agg(F.count("*").alias("g"))
    qi = fine.groupBy("nation", "segment").agg(
        F.count("*").alias("l_div"),
        F.sum("g").alias("g_rows"),
    )
    sums = qi.agg(
        F.count("*").alias("n_groups"),
        F.sum("g_rows").alias("n_rows"),
        *[
            agg
            for l in L_DIV_THRESHOLDS
            for agg in (
                F.sum((F.col("l_div") < l).cast("long")).alias(f"gb_{l}"),
                F.sum(F.when(F.col("l_div") < l, F.col("g_rows")).otherwise(0)).alias(f"rb_{l}"),
            )
        ],
    )
    stack = ", ".join(f"{l}, gb_{l}, rb_{l}" for l in L_DIV_THRESHOLDS)
    return sums.select(
        F.expr(
            f"stack({len(L_DIV_THRESHOLDS)}, {stack}) AS (l, groups_below, rows_below)"
        ),
        "n_groups",
        "n_rows",
    ).select(
        "l",
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("groups_below").cast("long").alias("groups_below"),
        F.col("rows_below").cast("long").alias("rows_below"),
        F.round(
            F.col("rows_below").cast("double") / F.col("n_rows").cast("double"), 6
        ).alias("pct_rows_below"),
    )


def _l_div_sql() -> str:
    per_l = " UNION ALL ".join(
        f"""SELECT {l} AS l, n_groups, n_rows,
           gb_{l} AS groups_below, rb_{l} AS rows_below,
           ROUND(CAST(rb_{l} AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS pct_rows_below
    FROM sums"""
        for l in L_DIV_THRESHOLDS
    )
    cond_sums = ", ".join(
        f"CAST(SUM(CASE WHEN l_div < {l} THEN 1 ELSE 0 END) AS BIGINT) AS gb_{l}, "
        f"CAST(SUM(CASE WHEN l_div < {l} THEN g_rows ELSE 0 END) AS BIGINT) AS rb_{l}"
        for l in L_DIV_THRESHOLDS
    )
    return f"""
WITH fine AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(floor(c_acctbal / {K_ANON_BAND}) AS BIGINT) AS bal_band,
         COUNT(*) AS g
  FROM customer GROUP BY 1, 2, 3
), qi AS (
  SELECT nation, segment, COUNT(*) AS l_div, SUM(g) AS g_rows FROM fine GROUP BY 1, 2
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(g_rows) AS BIGINT) AS n_rows,
         {cond_sums}
  FROM qi
)
{per_l}
"""


L_DIVERSITY_AUDIT_SQL = _l_div_sql()


# -------------------------------------- differentially private release

# The k-anonymity audit above DECIDES whether a grouping is safe to
# release; this operator is the release mechanism itself: per-source
# document counts with Laplace(1/ε) noise — the ε-DP histogram a data
# card or public corpus report publishes instead of exact counts.
# Determinism/oracle strategy: the noise draw is the inverse-CDF
# transform of a SALTED-HASH uniform (u = (h(salt||source) mod 10^6 +
# 0.5) / 10^6 ∈ (0,1)), so both engines draw the IDENTICAL noise and
# the release is hash-checkable AND reproducible per (salt, source) —
# the half-step keeps u strictly inside (0,1), so log(1-2|u-1/2|) is
# finite by construction. A production release would rotate the salt
# per release epoch; the mechanism is unchanged.
DP_SALT = "dp:v1:"
DP_EPSILON = 1.0
_DP_GRID = 1_000_000


def dp_release(counts: DataFrame) -> DataFrame:
    """(source, n_docs) → the released table. The mechanism tail shared
    by the batch histogram and stream_dp_histogram so the two releases
    cannot drift: same salted draw, same clamp (the noise is a
    deterministic function of (salt, source))."""
    u = (
        md5_hash60(F.concat(F.lit(DP_SALT), F.col("source"))) % _DP_GRID
    ).cast("double") / F.lit(float(_DP_GRID)) + F.lit(0.5 / _DP_GRID)
    centered = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / DP_EPSILON)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return counts.select(
        "source",
        "n_docs",
        F.lit(float(DP_EPSILON)).alias("epsilon"),
        F.round(noise, 6).alias("noise"),
        F.greatest(
            F.lit(0).cast("long"),
            F.round(F.col("n_docs") + noise, 0).cast("long"),
        ).alias("dp_count"),
    )


def dp_source_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, epsilon, noise, dp_count): the ε-DP noisy
    per-source histogram, with the exact count retained for the audit
    trail (the public artifact would project it away).

    Scale: one groupBy on source (|sources|-bounded result); the noise
    transform is per-row arithmetic on the aggregated relation — the
    whole release costs exactly one corpus-wide count shuffle at any
    scale."""
    return dp_release(dp_counts(load_table(spark, sf_dir, "documents")))


def dp_counts(docs: DataFrame) -> DataFrame:
    """(source, n_docs) exact counts — |sources|-bounded stream state."""
    return docs.groupBy("source").agg(F.count("*").alias("n_docs"))


_DP_HASH_SQL = md5_hash60_sql(f"'{DP_SALT}' || source")
_DP_U_SQL = (
    f"(CAST(({_DP_HASH_SQL} % {_DP_GRID}) AS DOUBLE)"
    f" / {float(_DP_GRID)} + {0.5 / _DP_GRID})"
)
_DP_NOISE_SQL = (
    f"((-1.0 / {float(DP_EPSILON)}) * sign({_DP_U_SQL} - 0.5)"
    f" * ln(1.0 - 2.0 * abs({_DP_U_SQL} - 0.5)))"
)

DP_SOURCE_HISTOGRAM_SQL = f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
)
SELECT source, n_docs,
       CAST({float(DP_EPSILON)} AS DOUBLE) AS epsilon,
       ROUND({_DP_NOISE_SQL}, 6) AS noise,
       GREATEST(CAST(0 AS BIGINT),
                CAST(ROUND(CAST(n_docs AS DOUBLE) + {_DP_NOISE_SQL}) AS BIGINT)) AS dp_count
FROM counts
"""


# -------------------- ε-DP median release (exponential mechanism)

DPQ_SALT = "dpq:v1:"
DPQ_BAND = 100  # candidate outputs = n_chars bands of this width


def dp_quantile_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, true_median, dp_median, epsilon) — a per-source
    ε-DP MEDIAN of document length via the exponential mechanism:
    candidate outputs are the occupied DPQ_BAND-wide length bands,
    utility u(b) = −|rank(b) − n/2| (rank sensitivity 1), and the
    selection is the Gumbel-max trick — argmax of ε·u/2 + Gumbel —
    with the Gumbel drawn from the same salted-hash inverse-CDF
    discipline as the Laplace release (deterministic per
    (salt, source, band): re-runs release the same value, a new salt
    redraws). Completes the DP family: dp_source_histogram releases
    counts (Laplace), this releases a non-additive statistic the
    Laplace mechanism can't touch.

    Scale plan: one groupBy(source, band) with map-side combine to a
    ≤ |sources|·|bands| relation (bands bounded by the length policy,
    never rows); ranks are a cumulative window over that bounded
    relation partitioned by source; the argmax is one more bounded
    agg. The exact median rides the same first aggregation for the
    audit column. Nothing after the first shuffle scales with corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    banded = docs.select(
        "source", "n_chars", F.floor(F.col("n_chars") / DPQ_BAND).cast("long").alias("band")
    )
    cells = banded.groupBy("source", "band").agg(F.count("*").alias("nb"))
    per_src = banded.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("true_median"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("band")
    ranked = cells.select(
        "source",
        "band",
        F.sum("nb").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    u01 = (
        md5_hash60(
            F.concat(F.lit(DPQ_SALT), F.col("source"), F.lit(":"), F.col("band").cast("string"))
        )
        % 1_000_000
    ).cast("double") / F.lit(1_000_000.0) + F.lit(0.5 / 1_000_000.0)
    gumbel = -F.log(-F.log(u01))
    scored = ranked.join(per_src.select("source", "n_docs"), "source").select(
        "source",
        "band",
        (
            F.lit(DP_EPSILON / 2.0)
            * (-F.abs(F.col("cum").cast("double") - F.col("n_docs") / F.lit(2.0)))
            + gumbel
        ).alias("score"),
    )
    chosen = scored.groupBy("source").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("band").alias("b"))).alias("m")
    )
    return per_src.join(chosen, "source").select(
        "source",
        "n_docs",
        "true_median",
        (F.col("m.b") * DPQ_BAND + DPQ_BAND // 2).cast("long").alias("dp_median"),
        F.lit(float(DP_EPSILON)).alias("epsilon"),
    )


def _dp_quantile_sql() -> str:
    h = md5_hash60_sql(f"'{DPQ_SALT}' || source || ':' || CAST(band AS VARCHAR)")
    u01 = f"(CAST(({h} % 1000000) AS DOUBLE) / 1000000.0 + {0.5 / 1_000_000})"
    return f"""
WITH banded AS (
  SELECT source, n_chars, CAST(FLOOR(n_chars / {DPQ_BAND}.0) AS BIGINT) AS band
  FROM documents
), cells AS (
  SELECT source, band, COUNT(*) AS nb FROM banded GROUP BY 1, 2
), per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(quantile_cont(n_chars, 0.5), 6) AS true_median
  FROM banded GROUP BY 1
), ranked AS (
  SELECT source, band,
         SUM(nb) OVER (PARTITION BY source ORDER BY band
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cells
), scored AS (
  SELECT r.source, r.band,
         ({DP_EPSILON / 2.0} * (-ABS(CAST(r.cum AS DOUBLE) - p.n_docs / 2.0))
          + (-LN(-LN({u01})))) AS score
  FROM ranked r JOIN per_src p USING (source)
), chosen AS (
  SELECT source, band FROM (
    SELECT source, band, ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, band) AS rn
    FROM scored
  ) t WHERE rn = 1
)
SELECT p.source, p.n_docs, p.true_median,
       CAST(c.band * {DPQ_BAND} + {DPQ_BAND // 2} AS BIGINT) AS dp_median,
       CAST({float(DP_EPSILON)} AS DOUBLE) AS epsilon
FROM per_src p JOIN chosen c USING (source)
"""


QUERIES = {
    "pii_scan": pii_scan,
    "pii_redaction": pii_redaction,
    "boilerplate_lines": boilerplate_lines,
    "k_anonymity_audit": k_anonymity_audit,
    "dp_source_histogram": dp_source_histogram,
    "l_diversity_audit": l_diversity_audit,
    "dp_quantile_release": dp_quantile_release,
}

ORACLE_SQL = {
    "pii_scan": PII_SCAN_SQL,
    "pii_redaction": PII_REDACTION_SQL,
    "boilerplate_lines": BOILERPLATE_LINES_SQL,
    "k_anonymity_audit": K_ANONYMITY_AUDIT_SQL,
    "dp_source_histogram": DP_SOURCE_HISTOGRAM_SQL,
    "l_diversity_audit": L_DIVERSITY_AUDIT_SQL,
    "dp_quantile_release": _dp_quantile_sql(),
}
