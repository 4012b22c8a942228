"""Deduplication operators for LLM-training-data pipelines.

The scale-critical extension layer (BASELINE.json north star): exact
dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash blocking, and
embedding-cosine near-dup. Every operator is relational (joins + aggs,
no UDFs), deterministic, and oracle-checkable — the hash functions are
engine-portable (functions/hashing.py), so the DuckDB oracle computes
the *identical* signatures and pairs.

Scale design (100 TB):
- candidate generation is always index-based (shared shingle / LSH
  band / simhash block), never an O(n²) cross join; verification runs
  only on candidates.
- shingles hot enough to blow up the candidate join are dropped by a
  document-frequency cap (standard practice — a shingle in >maxdf docs
  carries no dedup signal). The cap is part of the operator contract
  and mirrored in the oracle.
- pair joins key on content hashes — uniformly distributed, no skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import (
    MERSENNE_P,
    md5_hash60,
    md5_hash60_sql,
    minhash_expr_sql,
    minhash_params,
)
from capstone_etl_spark.functions.text import (
    ngram_sql,
    ngram_window_sql,
    split_sql,
    token_ngrams,
    tokenize,
    tokenize_sql,
)
from capstone_etl_spark.sources.tables import load_table
from capstone_etl_spark.session import cached, checkpoint_truncate, release_checkpoint

NGRAM_N = 3
MAX_SHINGLE_DF = 50          # drop shingles present in more docs than this
JACCARD_THRESHOLD = 0.5
MINHASH_K = 32               # 8 bands × 4 rows
LSH_BANDS = 8
LSH_ROWS = 4
SIMHASH_BITS = 48
SIMHASH_BLOCKS = 4           # pigeonhole: finds all pairs with hamming ≤ 3
SIMHASH_MAX_HAMMING = 3

_MINHASH_AB = minhash_params(MINHASH_K)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------- exact

def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the lowest doc_id per distinct
    text. Hash-groupBy — one shuffle on a uniform key."""
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ------------------------------------------------------ shingles (shared)

def shingle_df_cap(hashed: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Apply the df-cap to an uncapped (doc_id, sh) relation.

    Implemented as a count-over-sh window, not groupBy + semi-join:
    the join form consumes `hashed` twice, so the whole
    tokenize→gram→hash→distinct lineage runs TWICE per caller
    (measured 2x the stage). The window partitions on the uniform
    60-bit hash — bounded by max observed shingle df, never a
    global window — and keeps the lineage single-pass.

    Split out of shingles() so composed pipelines (training_manifest)
    can derive differently-scoped capped relations — the cap's df
    DOMAIN is whatever relation is passed in — from ONE shared
    uncapped base instead of re-tokenizing per leg."""
    from pyspark.sql import Window

    w = Window.partitionBy("sh")
    return (
        hashed.withColumn("sdf", F.count("*").over(w))
        .filter(F.col("sdf") <= max_df)
        .select("doc_id", "sh")
    )


def gram_hashes(toks: DataFrame, n: int = NGRAM_N, **flags: Column) -> DataFrame:
    """(doc_id, *flags, sh) distinct — the token n-grams of a
    (doc_id, toks) relation hashed to 60 bits. Each `flags` column is
    a per-doc value carried through under its keyword name (functional
    on doc_id, so the distinct is unaffected)."""
    # token_ngrams yields [] for docs with < n tokens after cleaning,
    # mirroring the oracle's len(t) >= n guard (ngram_window_sql).
    grams = toks.select(
        "doc_id",
        *(c.alias(name) for name, c in flags.items()),
        F.explode(token_ngrams("toks", n)).alias("shingle"),
    )
    return grams.select("doc_id", *flags, md5_hash60(F.col("shingle")).alias("sh")).distinct()


def shingles(docs: DataFrame, n: int = NGRAM_N, max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """(doc_id, shingle_hash) distinct — token n-grams hashed to 60 bits.
    Tokenization is the raw pipeline (no stopword gate: dedup wants the
    full surface form). The df-cap drops non-discriminative shingles
    *before* any join (skew + volume control at scale)."""
    hashed = gram_hashes(docs.select("doc_id", tokenize("text").alias("toks")), n)
    if max_df is not None:
        hashed = shingle_df_cap(hashed, max_df)
    return hashed


def shingle_set() -> Column:
    """The distinct NGRAM_N-gram hashes of a row's `toks` array, in-row —
    the stream twins' arriving-document shingles (exploded after the
    array_distinct, so no per-doc distinct shuffle is needed)."""
    return F.array_distinct(F.transform(token_ngrams("toks", NGRAM_N), md5_hash60))


# ------------------------------------------------- pair overlap (shared)
#
# Every near-dup pair score is |A∩B| from a shingle join plus the two
# per-doc shingle counts: the overlap helpers emit (doc_a, doc_b,
# n_inter), with_pair_sizes attaches (sz_a, sz_b), and the Jaccard /
# containment columns divide exact int64 counts once on both engines.

def shingle_sizes(sh: DataFrame, name: str = "sz") -> DataFrame:
    """(doc_id, name): each document's shingle count."""
    return sh.groupBy("doc_id").agg(F.count("*").alias(name))


def shingle_overlap(
    a: DataFrame, b: DataFrame, on: Column | None = None, names: tuple[str, str] = ("doc_a", "doc_b")
) -> DataFrame:
    """(names[0], names[1], n_inter): the shared-shingle count of every
    (a, b) document pair that shares a shingle and passes `on`, a
    predicate over the join aliases `a` and `b`. Candidates come from
    the inverted shingle index (an equi-join on the hash), never from
    all pairs."""
    same = F.col("a.sh") == F.col("b.sh")
    return (
        a.alias("a")
        .join(b.alias("b"), same if on is None else same & on)
        .groupBy(F.col("a.doc_id").alias(names[0]), F.col("b.doc_id").alias(names[1]))
        .agg(F.count("*").alias("n_inter"))
    )


def self_overlap(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter) for every doc pair a < b sharing a shingle."""
    return shingle_overlap(sh, sh, F.col("a.doc_id") < F.col("b.doc_id"))


def candidate_overlap(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter) for the given candidate pairs (LSH bands,
    sorted neighborhood): the shingle relation joined on both ends, so
    verification touches only the candidates' shingles."""
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )


def with_pair_sizes(
    inter: DataFrame,
    sizes: DataFrame,
    ends: tuple[str, str] = ("doc_a", "doc_b"),
    cols: tuple[str, str] = ("sz_a", "sz_b"),
) -> DataFrame:
    """The overlap table with each end's shingle count (sizes' `sz`)
    joined on as cols[0] / cols[1]."""
    for end, col in zip(ends, cols):
        inter = inter.join(sizes.select(F.col("doc_id").alias(end), F.col("sz").alias(col)), end)
    return inter


def jaccard_col(sz_a: str = "sz_a", sz_b: str = "sz_b") -> Column:
    """|A∩B| / |A∪B| with |A∪B| = |A| + |B| − |A∩B| (raw double)."""
    return F.col("n_inter") / (F.col(sz_a) + F.col(sz_b) - F.col("n_inter"))


def containment_col(sz: str = "sz_b") -> Column:
    """|A∩B| / |B| — how much of the `sz` side the overlap covers."""
    return F.col("n_inter") / F.col(sz)


def verified_pairs(
    inter: DataFrame,
    sizes: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    with_raw: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, jaccard[, jaccard_raw]) of the overlap pairs whose
    Jaccard reaches `threshold`. The filter reads the RAW jaccard
    (identical doubles on both engines — one division of identical
    ints); only the emitted value is rounded."""
    jac = jaccard_col()
    cols = ["doc_a", "doc_b", F.round(jac, 6).alias("jaccard")]
    if with_raw:
        cols.append(jac.alias("jaccard_raw"))
    return with_pair_sizes(inter, sizes).filter(jac >= threshold).select(*cols)


def _both_ways(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pair relation → symmetric (src, dst) edge list —
    the shape connected_components requires."""
    return pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )


# DuckDB mirrors. Each fragment is a CTE list without the WITH keyword;
# an oracle joins the fragments it needs with commas under its own WITH
# (or WITH RECURSIVE) head. The fragments' CTE names (sh_toks, sh_grams,
# sh_hashed, sh_df, shingles, inter, sizes, sized, pairs, sig, bands,
# cand, edges, reach, labels) are reserved in every oracle that
# composes them.

def _shingles_sql(src: str = "documents", n: int = NGRAM_N, max_df: int | None = MAX_SHINGLE_DF) -> str:
    """`shingles` (doc_id, sh) over the `src` relation — shingles(docs,
    n, max_df)'s mirror (raw tokenize, n-gram, hash, df-cap)."""
    head = f"""sh_toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM {src}
), sh_grams AS (
  SELECT doc_id, {ngram_sql(n)} AS shingle
  FROM {ngram_window_sql(n, "sh_toks")}
)"""
    hashed = f"SELECT DISTINCT doc_id, {md5_hash60_sql('shingle')} AS sh FROM sh_grams"
    if max_df is None:
        return f"{head}, shingles AS (\n  {hashed}\n)"
    return f"""{head}, sh_hashed AS (
  {hashed}
), sh_df AS (
  SELECT sh FROM sh_hashed GROUP BY sh HAVING COUNT(*) <= {max_df}
), shingles AS (
  SELECT h.doc_id, h.sh FROM sh_hashed h JOIN sh_df USING (sh)
)"""


def _overlap_sql(on: str = "a.doc_id < b.doc_id") -> str:
    """`inter` (doc_a, doc_b, n_inter) — shingle_overlap's mirror over
    the `shingles` aliases a and b."""
    return f"""inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND {on}
  GROUP BY 1, 2
)"""


# `inter` over the (doc_a, doc_b) pairs of `cand` — candidate_overlap's mirror
_CANDIDATE_OVERLAP_SQL = """inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY 1, 2
)"""


def _jaccard_sql(sz_a: str = "sz_a", sz_b: str = "sz_b") -> str:
    return f"CAST(n_inter AS DOUBLE) / ({sz_a} + {sz_b} - n_inter)"


def _containment_sql(sz: str = "sz_b") -> str:
    return f"CAST(n_inter AS DOUBLE) / {sz}"


_SIZES_SQL = "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id)"

# `sized`: the `inter` table with both ends' sizes — with_pair_sizes' mirror
_SIZED_SQL = f"""{_SIZES_SQL},
sized AS (
  SELECT i.*, sa.sz AS sz_a, sb.sz AS sz_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)"""


def _pairs_sql(threshold: float | None = JACCARD_THRESHOLD, with_raw: bool = False) -> str:
    """`pairs` (doc_a, doc_b, jaccard[, jaccard_raw]) over `inter` —
    verified_pairs' mirror; threshold=None keeps every overlap pair."""
    where = f"\n  WHERE {_jaccard_sql()} >= {threshold}" if threshold is not None else ""
    raw = f",\n         {_jaccard_sql()} AS jaccard_raw" if with_raw else ""
    return f"""{_SIZED_SQL}, pairs AS (
  SELECT doc_a, doc_b,
         ROUND({_jaccard_sql()}, 6) AS jaccard{raw}
  FROM sized{where}
)"""


# (src, dst) both ways over `pairs`, then `labels` (doc_id, label): the
# min id reachable through the pair graph — a transitive closure via
# WITH RECURSIVE (DuckDB's UNION-dedup recursion terminates on cycles)
_EDGES_SQL = """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
)"""
_COMPONENTS_SQL = f"""{_EDGES_SQL}, reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), labels AS (
  SELECT src AS doc_id, MIN(dst) AS label FROM reach GROUP BY src
)"""

# the full-corpus thresholded pair relation, shared by the pair query,
# the clustering oracles and the LSH audit
_JACCARD_PAIRS_SQL = f"{_shingles_sql()}, {_overlap_sql()}, {_pairs_sql()}"


# ------------------------------------------------- n-gram Jaccard pairs

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the full documents table (driver query)."""
    return jaccard_pairs(_docs(spark, sf_dir))


def jaccard_pairs(
    docs: DataFrame,
    sh: DataFrame | None = None,
    threshold: float = JACCARD_THRESHOLD,
    with_raw: bool = False,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold over any docs
    relation (doc_id, text). Candidates come from the inverted shingle
    index (docs sharing ≥1 surviving shingle); |A∩B| falls out of the
    same join. Pass a precomputed (cached) shingle relation via `sh` to
    share one tokenize pass with sibling consumers
    (minhash_signatures' pattern). `threshold=0.0` keeps the WHOLE
    candidate relation (every candidate shares ≥1 shingle, so
    jaccard > 0) — the plan cost is identical either way, the filter
    is post-join; `with_raw=True` additionally emits the UNROUNDED
    jaccard so a downstream threshold compare matches this function's
    own raw-value filter semantics exactly
    (scaleaudit.dedup_threshold_sweep's seam)."""
    if sh is None:
        sh = shingles(docs).transform(cached)
    return verified_pairs(self_overlap(sh), shingle_sizes(sh), threshold, with_raw)


NGRAM_JACCARD_PAIRS_SQL = f"WITH {_JACCARD_PAIRS_SQL}\nSELECT doc_a, doc_b, jaccard FROM pairs"


# ------------------------------------------- near-dup clusters (keep-one)

CC_MAX_ROUNDS = 25
# rounds the most recent connected_components call took (test hook:
# long-chain graphs must converge in O(log diameter), far under the cap)
_LAST_CC_ROUNDS = 0
# per-round changed-label counts of the most recent call (test hook:
# the carried-old-label convergence count must equal the joined form's
# count round for round — tests/test_optimization_r11.py recomputes the
# joined form and compares against this trace)
_LAST_CC_CHANGED: list[int] = []


def _truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize `df` and CUT its logical plan — mandatory inside
    iterative loops. Each CC round embeds the previous round's plan ~4×
    (labels feeds nmin, hop, the jump self-join and the changed-count),
    so an un-truncated loop grows the plan tree 4^rounds: Catalyst
    re-optimization slows every round and the AQE explain-string alone
    OOMs the driver after ~10 rounds (observed on Spark 4.1.2 — a
    `.transform(cached)` does NOT help, caching keeps the full lineage).
    Delegates to session.checkpoint_truncate, which also tracks the
    persisted blocks so release_caches()/release_checkpoint() can free
    them — localCheckpoint blocks are invisible to DataFrame.unpersist."""
    return checkpoint_truncate(df, eager=eager)


def connected_components(edges: DataFrame) -> DataFrame:
    """(doc_id, label) for every node in `edges`, label = component min.

    Distributed min-label propagation with pointer jumping (hash-to-min
    family — Rastogi et al., "Finding Connected Components in MapReduce");
    each round is two self-joins + one convergence aggregate, so rounds ~
    O(log diameter), and near-dup components (dense LSH/shingle cliques)
    converge in 2-3. Per-round driver work is ONE scalar aggregate (the
    changed-count) — no row collection; each round's labels are
    checkpointed (see _truncate_lineage) so the plan stays O(1) per
    round no matter the iteration count. This is the 100 TB shape for
    iterative graph algorithms on DataFrames.

    `edges` must be directed both ways (src→dst and dst→src).
    """
    global _LAST_CC_ROUNDS
    _LAST_CC_CHANGED.clear()
    # eager=False throughout the loop (guide §1.2, fewer passes): each
    # round's convergence count is the next action anyway, so the
    # checkpoint materializes INSIDE that count job — one job per round
    # instead of checkpoint-job + count-job, and the per-round re-scan
    # of the freshly checkpointed blocks disappears. Labels, rounds and
    # counts are unchanged (test_cc_convergence_count_matches_joined_form
    # pins the per-round counts against the joined form).
    labels = _truncate_lineage(
        edges.select(F.col("src").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("label")),
        eager=False,
    )
    changed = -1
    prev_ck = labels
    for rounds in range(1, CC_MAX_ROUNDS + 1):
        nmin = (
            edges.join(
                labels.select(F.col("doc_id").alias("src"), F.col("label").alias("nl")),
                "src",
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("nl").alias("nmin"))
        )
        # the PRE-round label rides along as `old` so the convergence
        # check below is a column compare over the checkpointed blocks —
        # the previous shape joined the new labels back to the old
        # relation, paying a two-sided shuffle join per round for a
        # single count (guide §2.4: remove shuffles outright)
        hop = labels.join(nmin, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("old"),
            F.least("label", F.coalesce("nmin", "label")).alias("label"),
        )
        # pointer jump: follow label -> label(label); labels only shrink,
        # so the parent's label is always <= the current one
        jump = _truncate_lineage(
            hop.join(
                hop.select(F.col("doc_id").alias("label"), F.col("label").alias("pl")),
                "label",
                "left",
            )
            .select("doc_id", "old", F.coalesce("pl", "label").alias("label")),
            eager=False,
        )
        changed = jump.filter(F.col("label") != F.col("old")).count()
        _LAST_CC_CHANGED.append(changed)
        # round N-1's checkpointed blocks are dead once the changed
        # count is taken — free them so loop memory stays O(2 rounds),
        # not O(rounds)
        release_checkpoint(prev_ck)
        prev_ck = jump
        labels = jump.select("doc_id", "label")
        _LAST_CC_ROUNDS = rounds
        if changed == 0:
            return labels
    # Pointer jumping halves chain lengths per round, so rounds ~
    # O(log diameter): 25 covers diameters ≈ 2^25. Hitting the cap
    # means a logic regression (labels oscillating), not a big graph —
    # raise with enough state to see which.
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} rounds: "
        f"{changed} labels still changing in the last round "
        f"(nodes={labels.count()}; labels should strictly decrease — "
        f"an oscillation here is a propagation bug, not graph size)"
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with keep-one semantics — the output a training
    pipeline actually consumes: every document labeled with its cluster
    id (= min doc_id reachable through the n-gram-Jaccard near-dup
    graph), cluster size, and an is_kept flag on the canonical doc.
    Pairs → connected components → representative selection; singleton
    docs are their own cluster. Completes the dedup family (pairs alone
    don't say WHICH copy to keep when dups chain A~B~C)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    # cached: the union below consumes the pair lineage twice (once per
    # edge direction), and each CC round walks the edge relation again
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").transform(cached)
    labels = connected_components(_both_ways(pairs).transform(cached))
    comp = docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_members",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_kept"),
    )


# Oracle: the pair graph's transitive closure, then component label =
# min reachable id (∪ self).
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_JACCARD_PAIRS_SQL}, {_COMPONENTS_SQL}, comp AS (
  SELECT dd.doc_id, LEAST(dd.doc_id, COALESCE(m.label, dd.doc_id)) AS cluster_id
  FROM documents dd LEFT JOIN labels m USING (doc_id)
), csizes AS (
  SELECT cluster_id, COUNT(*) AS n_members FROM comp GROUP BY cluster_id
)
SELECT c.doc_id, c.cluster_id, s.n_members,
       CAST(c.doc_id = c.cluster_id AS INT) AS is_kept
FROM comp c JOIN csizes s USING (cluster_id)
"""


# ----------------------------------------- benchmark decontamination

BENCH_MOD = 50   # stand-in eval set: doc_id % 50 == 0
CONTAINMENT_THRESHOLD = 0.8


def benchmark_decontamination(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """Cross-corpus near-dup detection: flag training docs that leak
    benchmark/eval content — the decontamination pass every serious
    training pipeline runs. A pair is flagged on EITHER metric:
    symmetric Jaccard ≥ 0.5 (near-identical docs) OR containment
    |A∩B| / |bench| ≥ 0.8 (the eval doc embedded inside a LARGER train
    doc — low Jaccard, high containment; Jaccard alone misses these).
    Same inverted-shingle candidate machinery as within-corpus dedup,
    but the pair join is BIPARTITE (corpus side × bench side), so cost
    scales with shared-shingle pairs across the cut, not |corpus|².
    One shingle pass (cached) is split by set membership. Pass a
    precomputed full-corpus CAPPED shingle relation via `sh` to share
    the tokenize pass with sibling consumers (training_manifest)."""
    docs = _docs(spark, sf_dir)
    if sh is None:
        sh = shingles(docs).transform(cached)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    inter = shingle_overlap(sh.filter(~is_bench), sh.filter(is_bench), names=("train_doc", "bench_doc"))
    ends = ("train_doc", "bench_doc")
    return contamination_flags(with_pair_sizes(inter, shingle_sizes(sh), ends, ("sz_c", "sz_b")))


def contamination_flags(sized: DataFrame) -> DataFrame:
    """(train_doc, bench_doc, jaccard, containment) of the overlap pairs
    (n_inter, sz_c, sz_b) flagged on either metric — shared with the
    stream twin, which reads the same sizes off its drained table."""
    jac, cont = jaccard_col("sz_c", "sz_b"), containment_col("sz_b")
    return sized.filter((jac >= JACCARD_THRESHOLD) | (cont >= CONTAINMENT_THRESHOLD)).select(
        "train_doc",
        "bench_doc",
        F.round(jac, 6).alias("jaccard"),
        F.round(cont, 6).alias("containment"),
    )


DECONTAMINATION_SQL = f"""
WITH {_shingles_sql()},
{_overlap_sql(f"a.doc_id % {BENCH_MOD} <> 0 AND b.doc_id % {BENCH_MOD} = 0")},
{_SIZED_SQL}
SELECT doc_a AS train_doc, doc_b AS bench_doc,
       ROUND({_jaccard_sql()}, 6) AS jaccard,
       ROUND({_containment_sql()}, 6) AS containment
FROM sized
WHERE {_jaccard_sql()} >= {JACCARD_THRESHOLD}
   OR {_containment_sql()} >= {CONTAINMENT_THRESHOLD}
"""


SPAN_N = 5        # exact-overlap gram width for span-level decontamination
SPAN_MIN_SHARED = 2


def decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level decontamination: for every (train, bench) pair
    sharing ≥ SPAN_MIN_SHARED exact 5-grams, the token-offset span the
    overlap covers on each side — the output a surgical pipeline
    consumes (mask/cut the contaminated span) when whole-doc dropping
    (benchmark_decontamination) is too blunt. This is the exact-
    substring-overlap family (Lee et al. 2022's dedup applied across
    the train/eval cut) at n-gram granularity.

    POSITIONAL grams (posexplode — position is 1-based on both
    engines), so the same bipartite hash join that finds pairs also
    carries min/max offsets; no second pass over the text. The df-cap
    (distinct-doc frequency ≤ MAX_SHINGLE_DF) drops boilerplate grams
    before the join, same skew/volume control as the dedup family."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    n = SPAN_N
    grams = (
        toks.filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.posexplode(token_ngrams("toks", n)).alias("p", "gram"),
        )
        # posexplode is 0-based; the span positions are 1-based
        .select(
            "doc_id",
            (F.col("p") + 1).cast("long").alias("pos"),
            md5_hash60(F.col("gram")).alias("sh"),
        )
    )
    df_ok = (
        grams.select("sh", "doc_id").distinct()
        .groupBy("sh").agg(F.count("*").alias("sdf"))
        .filter(F.col("sdf") <= MAX_SHINGLE_DF)
    )
    g = grams.join(df_ok.select("sh"), "sh", "left_semi").transform(cached)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    t, b = g.filter(~is_bench).alias("t"), g.filter(is_bench).alias("b")
    return (
        t.join(b, F.col("t.sh") == F.col("b.sh"))
        .groupBy(F.col("t.doc_id").alias("train_doc"), F.col("b.doc_id").alias("bench_doc"))
        .agg(
            F.countDistinct("t.sh").alias("n_shared"),
            F.min("t.pos").alias("train_start"),
            (F.max("t.pos") + (n - 1)).alias("train_end"),
            F.min("b.pos").alias("bench_start"),
            (F.max("b.pos") + (n - 1)).alias("bench_end"),
        )
        .filter(F.col("n_shared") >= SPAN_MIN_SHARED)
    )


DECONTAMINATION_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {split_sql()} AS t
  FROM documents
), grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {md5_hash60_sql(ngram_sql(SPAN_N))} AS sh
  FROM {ngram_window_sql(SPAN_N)}
), df_ok AS (
  SELECT sh FROM (SELECT DISTINCT sh, doc_id FROM grams) d
  GROUP BY sh HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), g AS (
  SELECT grams.* FROM grams JOIN df_ok USING (sh)
)
SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
       COUNT(DISTINCT t.sh) AS n_shared,
       MIN(t.pos) AS train_start, MAX(t.pos) + {SPAN_N} - 1 AS train_end,
       MIN(b.pos) AS bench_start, MAX(b.pos) + {SPAN_N} - 1 AS bench_end
FROM g t JOIN g b ON t.sh = b.sh
WHERE t.doc_id % {BENCH_MOD} <> 0 AND b.doc_id % {BENCH_MOD} = 0
GROUP BY t.doc_id, b.doc_id
HAVING COUNT(DISTINCT t.sh) >= {SPAN_MIN_SHARED}
"""


def gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a document's distinct
    3-grams that appear in NO other document — the inverse of
    boilerplate/memorization risk at gram granularity (complements
    repetition_ratio, which is intra-doc). Low novelty = the doc is
    assembled from corpus-common phrasing; high = unique content.

    Reuses the shingle relation WITHOUT the df-cap (the cap exists to
    prune join candidates; here the document frequency IS the signal).
    Two shuffles: the df count on gram hash and the per-doc rollup —
    both uniform keys; the ratio is exact-int count division."""
    sh = shingles(_docs(spark, sf_dir), max_df=None).transform(cached)
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("gdf"))
    return (
        sh.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("gdf") == 1, F.lit(1))).alias("n_unique_grams"),
            (
                F.count(F.when(F.col("gdf") == 1, F.lit(1))).cast("double") / F.count("*")
            ).alias("novelty"),
        )
    )


# shingles without the df-cap: document frequency is the signal here
GRAM_NOVELTY_SQL = f"""
WITH {_shingles_sql(max_df=None)}, gdf AS (
  SELECT sh, COUNT(*) AS gdf FROM shingles GROUP BY sh
)
SELECT h.doc_id, COUNT(*) AS n_grams,
       COUNT(CASE WHEN g.gdf = 1 THEN 1 END) AS n_unique_grams,
       CAST(COUNT(CASE WHEN g.gdf = 1 THEN 1 END) AS DOUBLE) / COUNT(*) AS novelty
FROM shingles h JOIN gdf g ON h.sh = g.sh
GROUP BY h.doc_id
"""


REPEAT_SPAN_N = 8   # repeated-substring span length in tokens


def repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-internal repeated-substring audit (the substring-dedup
    signal of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): flag every token position covered by an
    8-gram that occurs MORE THAN ONCE in the corpus (across or within
    documents), merge overlapping flagged spans per document
    (gaps-and-islands), and report per-doc span count, flagged-token
    count and coverage ratio — the relation a scrubbing pass consumes.

    Plan: positional 8-grams (one map-side pass via token_ngrams), the
    repeat test as a count-over-gram-hash window (single-pass, same
    discipline as the shingle df-cap), then one per-doc window for the
    island merge — bounded by document length, never global. Two
    uniform-key shuffles total. Exact integers throughout; the ratio is
    one division of identical ints."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.posexplode(token_ngrams("toks", REPEAT_SPAN_N)).alias("p", "gram"),
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("p") + 1).cast("long").alias("pos"),
        md5_hash60(F.col("gram")).alias("sh"),
    )
    cw = Window.partitionBy("sh")
    flagged = grams.withColumn("c", F.count("*").over(cw)).filter(F.col("c") > 1)
    dw = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(dw)
    # a new island starts when this gram's cover [pos, pos+N-1] cannot
    # touch the previous cover: pos > prev + N
    island_start = F.when(prev.isNull() | (F.col("pos") > prev + REPEAT_SPAN_N), 1).otherwise(0)
    with_islands = flagged.withColumn(
        "island", F.sum(island_start).over(dw.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_island = with_islands.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("pos") - F.min("pos") + REPEAT_SPAN_N).alias("span_tokens")
    )
    per_doc = per_island.groupBy("doc_id", "n_tokens").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_tokens").alias("n_flagged"),
    )
    base = docs.select("doc_id", F.size(tokenize("text")).cast("long").alias("n_tokens"))
    return base.join(per_doc, ["doc_id", "n_tokens"], "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("n_flagged"), F.lit(0)).cast("long").alias("n_flagged"),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("n_flagged"), F.lit(0)).cast("double") / F.col("n_tokens"),
        ).otherwise(F.lit(None)).alias("flagged_ratio"),
    )


REPEATED_NGRAM_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {tokenize_sql()} AS t
  FROM documents
), grams AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, i AS pos,
         {md5_hash60_sql(ngram_sql(REPEAT_SPAN_N))} AS sh
  FROM {ngram_window_sql(REPEAT_SPAN_N)}
), flagged AS (
  SELECT * FROM (
    SELECT g.*, COUNT(*) OVER (PARTITION BY sh) AS c FROM grams g
  ) t WHERE c > 1
), islands AS (
  SELECT doc_id, n_tokens, pos,
         SUM(CASE WHEN prev IS NULL OR pos > prev + {REPEAT_SPAN_N} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM (
    SELECT doc_id, n_tokens, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM flagged
  ) l
), per_island AS (
  SELECT doc_id, n_tokens, island,
         MAX(pos) - MIN(pos) + {REPEAT_SPAN_N} AS span_tokens
  FROM islands GROUP BY 1, 2, 3
), per_doc AS (
  SELECT doc_id, n_tokens,
         COUNT(*) AS n_spans,
         CAST(SUM(span_tokens) AS BIGINT) AS n_flagged
  FROM per_island GROUP BY 1, 2
), base AS (
  SELECT doc_id, CAST(len({tokenize_sql()}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.n_flagged, 0) AS n_flagged,
       CASE WHEN b.n_tokens > 0
            THEN CAST(COALESCE(p.n_flagged, 0) AS DOUBLE) / b.n_tokens END AS flagged_ratio
FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id AND p.n_tokens = b.n_tokens
"""


# ------------------------------------------------------- MinHash + LSH

def minhash_signatures(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, h0..h{k-1}) — k universal-hash minima over the shingle
    set. One groupBy; k aggregates computed in a single pass. Pass a
    pre-built (ideally cached) shingle relation to share the
    tokenize/n-gram pass with other consumers.

    The shared `sh % p` is projected ONCE below the aggregate (guide
    §1.2, per-task work): the k per-hash update expressions each
    computed their own `x % p` — k redundant mods per input row, which
    aggregate-update codegen does not common-subexpression — and
    (xm*a+b) % p over xm = x % p is the identical integer arithmetic
    (measured bit-identical signatures; oracle unchanged)."""
    if sh is None:
        sh = shingles(docs)
    pre = sh.select("doc_id", (F.col("sh") % MERSENNE_P).alias("xm"))
    aggs = [
        F.min((F.col("xm") * F.lit(a) + F.lit(b)) % MERSENNE_P).alias(f"h{i}")
        for i, (a, b) in enumerate(_MINHASH_AB)
    ]
    return pre.groupBy("doc_id").agg(*aggs)


def lsh_band_candidates(sig: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs from the banded MinHash
    signature: docs colliding on any full (band, key). THE banding —
    shared by minhash_lsh_pairs (the production dedup) and
    scaleaudit.lsh_tuning_curve (the audit of that same banding), so a
    banding change cannot silently leave the audit measuring a
    different index than the one deployed."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"h{bi * LSH_ROWS + r}") for r in range(LSH_ROWS)]
                        ).alias("key"),
                    )
                    for bi in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard.

    Banding: k=32 minima → 8 bands × 4 rows; docs sharing any full band
    collide. The band key is a single string — the self-join keys on
    (band_idx, key), uniform by construction. Verification joins the
    shingle sets only for candidate pairs (tiny vs corpus).
    Deterministic end-to-end ⇒ exact oracle parity, and at threshold
    0.5 with these params LSH recall on planted dups is effectively 1."""
    docs = _docs(spark, sf_dir)
    # One shingle pass shared by the signature and verification stages
    # (the cache materializes on first action; both subtrees reuse it).
    sh = shingles(docs).transform(cached)
    cand = lsh_band_candidates(minhash_signatures(docs, sh=sh))
    # exact-Jaccard verification on candidates only (reuses cached sh)
    return verified_pairs(candidate_overlap(cand, sh), shingle_sizes(sh))


def _lsh_cand_sql() -> str:
    """`sig`, `bands` and `cand` (doc_a, doc_b) over `shingles` — the
    minhash_signatures → lsh_band_candidates mirror. Each is fenced AS
    MATERIALIZED: `sig` feeds LSH_BANDS band selects, `bands` both sides
    of the self-join, and `cand` may have several readers."""
    mins = ",\n         ".join(
        f"MIN({minhash_expr_sql('sh', a, b)}) AS h{i}" for i, (a, b) in enumerate(_MINHASH_AB)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + " || ',' || ".join(f"h{bi * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + " AS key FROM sig"
        for bi in range(LSH_BANDS)
    )
    return f"""sig AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id
), bands AS MATERIALIZED (
  {band_selects}
), cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""


MINHASH_LSH_PAIRS_SQL = f"""
WITH {_shingles_sql()}, {_lsh_cand_sql()}, {_CANDIDATE_OVERLAP_SQL}, {_pairs_sql()}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


# ------------------------------------------------------------- SimHash

def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — qty-weighted SimHash over token hashes.

    Expressed relationally: explode (token_hash, qty) × bit position,
    accumulate signed qty per bit, re-pack with shiftleft. Stays in
    whole-stage codegen; the bit explosion is bits× the TF relation but
    aggregates immediately (map-side combine)."""
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("qty"))
    hashed = tf.select("doc_id", md5_hash60(F.col("token")).alias("x"), "qty")
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j")
    # the Python shiftright/shiftleft wrappers take int literals only —
    # the SQL operators accept column shift amounts
    contrib = hashed.select("doc_id", bit, "x", "qty").select(
        "doc_id",
        "j",
        F.when(F.expr("(x >> j) & 1") == 1, F.col("qty")).otherwise(-F.col("qty")).alias("c"),
    )
    bitsum = contrib.groupBy("doc_id", "j").agg(F.sum("c").alias("s"))
    return bitsum.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, F.expr("shiftleft(1L, j)")).otherwise(F.lit(0).cast("long"))).alias(
            "simhash"
        )
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ 3 via block-LSH: split the
    48-bit hash into 4 blocks of 12; any pair within distance 3 shares
    ≥1 exact block (pigeonhole) ⇒ candidates = per-block equi-join."""
    sh = simhash(_docs(spark, sf_dir)).transform(cached)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * (SIMHASH_BITS // SIMHASH_BLOCKS))
                        .bitwiseAND(F.lit((1 << (SIMHASH_BITS // SIMHASH_BLOCKS)) - 1))
                        .alias("bval"),
                    )
                    for i in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.bval")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


_BLOCK_W = SIMHASH_BITS // SIMHASH_BLOCKS
_SIMHASH_SQL_CORE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({split_sql()}) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS qty FROM toks WHERE token <> '' GROUP BY doc_id, token
), hashed AS (
  SELECT doc_id, {md5_hash60_sql('token')} AS x, qty FROM tf
), contrib AS (
  SELECT doc_id, j,
         CASE WHEN (x >> j) & 1 = 1 THEN qty ELSE -qty END AS c
  FROM hashed CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS j) bits
), bitsum AS (
  SELECT doc_id, j, SUM(c) AS s FROM contrib GROUP BY doc_id, j
), sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsum GROUP BY doc_id
)
"""

SIMHASH_PAIRS_SQL = _SIMHASH_SQL_CORE + f"""
, blocks AS (
  SELECT doc_id, simhash, blk,
         (simhash >> (blk * {_BLOCK_W})) & {(1 << _BLOCK_W) - 1} AS bval
  FROM sim CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BLOCKS})) AS blk) t
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
"""


def dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement matrix over the three near-dup families: every
    pair flagged by n-gram Jaccard, MinHash-LSH, or SimHash, with one
    boolean per method and the agreement count — the evaluation a
    dedup-threshold tuning loop reads (MinHash should recover ~all of
    Jaccard's pairs; SimHash answers a different similarity question
    and diverges honestly). Pure composition: three full outer joins on
    the pair key — candidate-set-sized, never corpus-sized."""
    j = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("by_jaccard", F.lit(True))
    )
    m = (
        minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("by_minhash", F.lit(True))
    )
    s = (
        simhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("by_simhash", F.lit(True))
    )
    out = j.join(m, ["doc_a", "doc_b"], "full").join(s, ["doc_a", "doc_b"], "full")
    flags = [F.coalesce(F.col(c), F.lit(False)).alias(c) for c in ("by_jaccard", "by_minhash", "by_simhash")]
    n = sum(F.coalesce(F.col(c), F.lit(False)).cast("int") for c in ("by_jaccard", "by_minhash", "by_simhash"))
    return out.select("doc_a", "doc_b", *flags, n.cast("long").alias("n_methods"))


DEDUP_AGREEMENT_SQL = f"""
SELECT COALESCE(j.doc_a, m.doc_a, s.doc_a) AS doc_a,
       COALESCE(j.doc_b, m.doc_b, s.doc_b) AS doc_b,
       COALESCE(j.by_jaccard, FALSE) AS by_jaccard,
       COALESCE(m.by_minhash, FALSE) AS by_minhash,
       COALESCE(s.by_simhash, FALSE) AS by_simhash,
       CAST(COALESCE(CAST(j.by_jaccard AS INT), 0)
            + COALESCE(CAST(m.by_minhash AS INT), 0)
            + COALESCE(CAST(s.by_simhash AS INT), 0) AS BIGINT) AS n_methods
FROM (SELECT doc_a, doc_b, TRUE AS by_jaccard FROM ({NGRAM_JACCARD_PAIRS_SQL}) t) j
FULL OUTER JOIN (SELECT doc_a, doc_b, TRUE AS by_minhash FROM ({MINHASH_LSH_PAIRS_SQL}) t) m
  ON m.doc_a = j.doc_a AND m.doc_b = j.doc_b
FULL OUTER JOIN (SELECT doc_a, doc_b, TRUE AS by_simhash FROM ({SIMHASH_PAIRS_SQL}) t) s
  ON s.doc_a = COALESCE(j.doc_a, m.doc_a) AND s.doc_b = COALESCE(j.doc_b, m.doc_b)
"""


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: verified MinHash-LSH pair
    counts and mean Jaccard per unordered (source_a, source_b) — the
    curation readout that answers "which sources mirror each other"
    (mirror sites, re-crawls, dataset overlap) and feeds the mixing
    stage's de-weighting decisions.

    Composition: the verified pair relation (candidate-set-sized,
    never corpus-sized) joined to the per-doc source label twice on
    uniform doc_id keys, folded to unordered source pairs via
    least/greatest. Exactness: jaccard is already 6-dp-rounded, so the
    DECIMAL(18,6) cast is lossless and the sum is exact
    (order-independent); one double division at the end, rounded 6 dp.
    At 100 TB the matrix is |sources|²-bounded — map-side combine
    collapses partitions to that long before the final shuffle."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    labeled = (
        pairs.join(
            docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a"
        )
        .join(docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.col("jaccard").cast("decimal(18,6)").alias("jd"),
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.sum("jd").cast("double") / F.count("*"), 6).alias("mean_jaccard"),
    )


DEDUP_SOURCE_MATRIX_SQL = f"""
WITH pairs AS ({MINHASH_LSH_PAIRS_SQL}),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         CAST(p.jaccard AS DECIMAL(18,6)) AS jd
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(jd) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard
FROM lab
GROUP BY source_a, source_b
"""


# ------------------------------------------------- incremental dedup
#
# The production shape batch dedup papers call "online" or "index"
# dedup: the corpus is already deduplicated (the BASE); a new crawl
# increment (the DELTA) arrives and each delta document must be
# admitted or rejected against base ∪ earlier-delta — WITHOUT ever
# re-comparing base×base. Cost is delta-driven: the only pairs that
# exist are (delta, base) and (delta, earlier-delta), so a 1% daily
# increment of a 100 TB corpus costs ~1% of a full-dedup run, not a
# fresh quadratic pass. The fixture's delta is a salted-hash bucket of
# doc_ids (deterministic stand-in for "today's arrivals").
DELTA_SALT = "delta:v1:"
DELTA_PCT = 10


def _is_delta(doc_id_col):
    b = md5_hash60(F.concat(F.lit(DELTA_SALT), doc_id_col.cast("string"))) % 100
    return b < DELTA_PCT


def admission_verdicts(docs: DataFrame, sizes: DataFrame, inter: DataFrame) -> DataFrame:
    """dedup_incremental's verdict assembly, shared with its stream
    twin: the (doc_a, doc_b, n_inter) overlap table plus the per-doc
    shingle `sizes` (doc_id, sz) → Jaccard-thresholded pairs → one
    (doc_id, is_dup, dup_of, n_dups, best_jaccard) row per delta doc
    of `docs`, dup_of the smallest matching partner (itself when new)."""
    best = verified_pairs(inter, sizes).groupBy("doc_a").agg(
        F.min(F.struct("doc_b", "jaccard")).alias("m"),
        F.count("*").cast("long").alias("n_dups"),
    )
    delta_docs = docs.select("doc_id").filter(_is_delta(F.col("doc_id")))
    return (
        delta_docs.join(best.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("m").isNotNull().alias("is_dup"),
            F.coalesce(F.col("m.doc_b"), F.col("doc_id")).alias("dup_of"),
            F.coalesce(F.col("n_dups"), F.lit(0).cast("long")).alias("n_dups"),
            F.coalesce(F.col("m.jaccard"), F.lit(0.0)).alias("best_jaccard"),
        )
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_dup, dup_of, n_dups, best_jaccard) — the admission
    verdict for every DELTA document: is_dup when some base or
    earlier-delta document matches at n-gram Jaccard ≥ threshold;
    dup_of is the smallest matching partner id (the canonical survivor
    — itself when new); best_jaccard that partner's score.

    Plan: one shingle pass over the corpus (shared relation, df-cap
    applied before any join); the candidate join PROBES the inverted
    shingle index with only the delta side — the base×base quadrant is
    excluded by predicate, so candidate volume scales with |delta|·df,
    never |base|². Verdict assembly is two left joins on the
    delta-sized key. The delta membership is a pure doc_id expression
    (no join to tag rows)."""
    docs = _docs(spark, sf_dir)
    sh = shingles(docs).transform(cached)
    # partner is admissible iff it is base, or an earlier delta doc
    partner_ok = (~_is_delta(F.col("b.doc_id"))) | (
        F.col("b.doc_id") < F.col("a.doc_id")
    )
    inter = shingle_overlap(
        sh.filter(_is_delta(F.col("doc_id"))), sh, partner_ok & (F.col("a.doc_id") != F.col("b.doc_id"))
    )
    return admission_verdicts(docs, shingle_sizes(sh), inter)


def _delta_pred_sql(id_expr: str) -> str:
    """DuckDB mirror of _is_delta for a doc-id expression."""
    inner = f"'{DELTA_SALT}' || CAST({id_expr} AS VARCHAR)"
    return f"(({md5_hash60_sql(inner)} % 100) < {DELTA_PCT})"


def dedup_clusters_incremental(
    spark: SparkSession, sf_dir: str, base_labels: DataFrame | None = None
) -> DataFrame:
    """(doc_id, cluster_id, n_members, is_kept) for EVERY document —
    identical output to the batch `dedup_clusters` rebuild, produced by
    MAINTAINING the committed cluster labels instead of recomputing
    them: the iterative CC merge pass runs only on the CONTRACTED
    component graph the delta edges touch, never the full corpus graph.

    Plan: split the near-dup pair relation at the delta predicate (a
    pure doc_id expression — no join to tag rows). The base×base pairs
    yield the committed label relation (or are skipped entirely when a
    precomputed `base_labels` is passed — the 100 TB shape, where
    labels live in a committed table and only the delta probe runs).
    Each delta edge (u, v) is CONTRACTED to its endpoints' committed
    labels (two broadcast-sized joins against the label relation);
    distinct contracted edges with label_u ≠ label_v are the only
    merges the delta can cause, so connected_components runs on a
    graph of ≤ 2·|delta pairs| nodes — O(|delta|), not O(|corpus|).
    Labels only merge downward: a base component's label is its min
    doc_id, a delta doc enters as its own id, so the contracted
    component min IS the full-graph component min and the merged
    labeling equals the batch rebuild exactly (pinned by
    tests/test_dedup.py::test_incremental_clusters_equal_rebuild).

    Reference parity: extends the §2 dedup family (SURVEY.md §2.7);
    the reference has no incremental form — at 100 TB the near-dup
    graph is maintained, not rebuilt (VERDICT r7, item 5)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").transform(cached)
    if base_labels is None:
        base_pairs = pairs.filter(
            (~_is_delta(F.col("doc_a"))) & (~_is_delta(F.col("doc_b")))
        )
        base_labels = connected_components(cached(_both_ways(base_pairs)))
    # committed label for every doc: base component min, else own id
    # (delta docs and base singletons). Cached — it feeds the two
    # contraction joins AND the final relabel.
    lab0 = cached(
        docs.join(base_labels, "doc_id", "left").select(
            "doc_id", F.coalesce("label", "doc_id").alias("label0")
        )
    )
    delta_pairs = pairs.filter(
        _is_delta(F.col("doc_a")) | _is_delta(F.col("doc_b"))
    )
    contracted = (
        delta_pairs.join(
            lab0.select(F.col("doc_id").alias("doc_a"), F.col("label0").alias("la")),
            "doc_a",
        )
        .join(
            lab0.select(F.col("doc_id").alias("doc_b"), F.col("label0").alias("lb")),
            "doc_b",
        )
        .filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("doc_a"), F.col("lb").alias("doc_b"))
        .distinct()
    )
    merged = connected_components(cached(_both_ways(contracted))).select(
        F.col("doc_id").alias("label0"), F.col("label").alias("mlabel")
    )
    comp = lab0.join(merged, "label0", "left").select(
        "doc_id", F.coalesce("mlabel", "label0").alias("cluster_id")
    )
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_members",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_kept"),
    )


_DELTA_OVERLAP_ON = (
    f"b.doc_id <> a.doc_id AND {_delta_pred_sql('a.doc_id')}"
    f" AND (NOT {_delta_pred_sql('b.doc_id')} OR b.doc_id < a.doc_id)"
)

DEDUP_INCREMENTAL_SQL = f"""
WITH {_shingles_sql()}, {_overlap_sql(_DELTA_OVERLAP_ON)}, {_pairs_sql()}, best AS (
  SELECT doc_a, MIN(doc_b) AS dup_of, CAST(COUNT(*) AS BIGINT) AS n_dups
  FROM pairs GROUP BY 1
), bj AS (
  SELECT p.doc_a, p.jaccard FROM pairs p JOIN best b ON b.doc_a = p.doc_a AND b.dup_of = p.doc_b
)
SELECT d.doc_id,
       (b.doc_a IS NOT NULL) AS is_dup,
       COALESCE(b.dup_of, d.doc_id) AS dup_of,
       COALESCE(b.n_dups, 0) AS n_dups,
       COALESCE(bj.jaccard, 0.0) AS best_jaccard
FROM documents d
LEFT JOIN best b ON b.doc_a = d.doc_id
LEFT JOIN bj ON bj.doc_a = d.doc_id
WHERE {_delta_pred_sql('d.doc_id')}
"""


# --- keep-best cluster representatives ---------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, n_members, kept_doc_id, is_kept) — near-dup
    clusters with CCNet's keep-BEST semantics: the representative is
    the LONGEST member (most complete version of the duplicated
    content), ties to the smallest doc_id — not dedup_clusters'
    keep-min-id. The two operators share the clustering; only the
    representative rule differs, which is exactly how production dedup
    is configured (cluster once, choose by policy).

    The argmax is min(struct(-n_chars, doc_id)) over each cluster —
    one aggregation over the cluster-labeled relation, no windows."""
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id", "n_members")
    sized = clusters.join(
        _docs(spark, sf_dir).select("doc_id", "n_chars"), "doc_id"
    )
    best = (
        sized.groupBy("cluster_id")
        .agg(F.min(F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("doc_id")))["doc_id"].alias("kept_doc_id"))
    )
    return sized.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_members",
        "kept_doc_id",
        (F.col("doc_id") == F.col("kept_doc_id")).cast("int").alias("is_kept"),
    )


def _dedup_keep_best_sql() -> str:
    return f"""
WITH clusters AS MATERIALIZED ({DEDUP_CLUSTERS_SQL}),
sized AS (
  SELECT c.doc_id, c.cluster_id, c.n_members, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)
),
best AS (
  SELECT cluster_id, doc_id AS kept_doc_id FROM (
    SELECT cluster_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
    FROM sized
  ) WHERE rn = 1
)
SELECT s.doc_id, s.cluster_id, s.n_members, b.kept_doc_id,
       CAST(s.doc_id = b.kept_doc_id AS INT) AS is_kept
FROM sized s JOIN best b USING (cluster_id)
"""


# --- asymmetric containment pairs --------------------------------------------
#
# Jaccard misses the PARTIAL-COPY class: a 100-shingle doc fully
# embedded in a 5000-shingle doc has Jaccard 0.02 but containment 1.0.
# Containment C(src in dst) = |src ∩ dst| / |src| is the asymmetric
# measure quote/subset/expansion detection needs (Broder's original
# resemblance-vs-containment split) — a training pipeline uses it to
# drop documents that are substrings of kept documents without losing
# the supersets.
CONTAIN_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_doc, dst_doc, n_inter, containment, jaccard) — one DIRECTED
    row per (src, dst) with C(src in dst) ≥ CONTAIN_THRESHOLD. The
    jaccard column shows why this operator exists: true partial copies
    surface here with jaccard far below the near-dup threshold.

    100 TB shape: identical to the Jaccard path (inverted df-capped
    shingle index generates candidates; never all-pairs); the directed
    expansion doubles only the CANDIDATE-pair relation, nothing
    corpus-sized. Division happens once on identical int64 operands in
    both engines; the threshold compares the raw double."""
    sh = shingles(_docs(spark, sf_dir)).transform(cached)
    undirected = with_pair_sizes(self_overlap(sh), shingle_sizes(sh))
    # both directions EXPLODED from one pass — a union of two
    # projections would embed the whole inter+sizes subtree twice in
    # the plan (measured: 38 exchanges vs 20)
    directed = undirected.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src_doc"),
                    F.col("doc_b").alias("dst_doc"),
                    F.col("n_inter").alias("n_inter"),
                    F.col("sz_a").alias("sz_src"),
                    F.col("sz_b").alias("sz_dst"),
                ),
                F.struct(
                    F.col("doc_b").alias("src_doc"),
                    F.col("doc_a").alias("dst_doc"),
                    F.col("n_inter").alias("n_inter"),
                    F.col("sz_b").alias("sz_src"),
                    F.col("sz_a").alias("sz_dst"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    cont = containment_col("sz_src")
    jac = jaccard_col("sz_src", "sz_dst")
    return directed.filter(cont >= CONTAIN_THRESHOLD).select(
        "src_doc",
        "dst_doc",
        "n_inter",
        F.round(cont, 6).alias("containment"),
        F.round(jac, 6).alias("jaccard"),
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {_shingles_sql()}, {_overlap_sql()}, {_SIZED_SQL}, directed AS (
  SELECT doc_a AS src_doc, doc_b AS dst_doc, n_inter, sz_a AS sz_src, sz_b AS sz_dst
  FROM sized
  UNION ALL
  SELECT doc_b, doc_a, n_inter, sz_b, sz_a FROM sized
)
SELECT src_doc, dst_doc, n_inter,
       ROUND({_containment_sql("sz_src")}, 6) AS containment,
       ROUND({_jaccard_sql("sz_src", "sz_dst")}, 6) AS jaccard
FROM directed
WHERE {_containment_sql("sz_src")} >= {CONTAIN_THRESHOLD}
"""


# --- template extraction (structural near-dup) ------------------------------
#
# Drain/CCNet-style TEMPLATE detection: collapse the parts of a doc
# that vary and exact-group the structural skeleton that remains. Two
# masking stages, both map-only:
#   1. content mask — lowercase, digit runs -> '#', whitespace runs ->
#      one space (the classic log-template mask: "Page 3 of 71" and
#      "Page 8 of 12" collide);
#   2. shape reduction — the word-LENGTH sequence of the opening
#      TEMPLATE_SHAPE_TOKENS tokens ("error code # at line #" ->
#      5-4-2-4: tokenize's clean step DELETES the '#' placeholders
#      along with all other non-[a-zA-Z0-9 ] chars, so masked digit
#      runs vanish rather than surviving as length-1 tokens), the
#      cheap structural fingerprint template miners key their parse
#      trees on when content still varies.
# Docs sharing the skeleton are structurally identical machine
# generations (listings, error pages, form letters) — the near-dup
# class exact hashing misses and MinHash wastes candidates on.
TEMPLATE_MIN_DOCS = 2
TEMPLATE_SHAPE_TOKENS = 8


def template_shape(text_col: Column | str = "text") -> Column:
    """The two-stage structural skeleton of a document (see module
    comment above): content mask, then the word-length sequence of the
    opening TEMPLATE_SHAPE_TOKENS tokens, '-'-joined ('' for empty
    docs). Pure per-row expression — shared by the batch and streaming
    template miners."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # explicit whitespace class, NOT \s: Java's \s includes vertical
    # tab (\x0B) while RE2's (DuckDB) does not — a VT between words
    # would split tokens in Spark but merge them in the oracle. The
    # class below IS Java's \s, spelled portably.
    masked = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[0-9]+", "#"), "[ \\t\\n\\r\\f\\x0B]+", " "
        )
    )
    return F.array_join(
        F.transform(
            F.slice(tokenize(masked), 1, TEMPLATE_SHAPE_TOKENS),
            lambda x: F.length(x).cast("string"),
        ),
        "-",
    )


def template_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(template_hash, n_docs, n_sources, example_doc_id,
    template_shape) — one row per structural template shared by ≥
    TEMPLATE_MIN_DOCS docs.

    100 TB shape: both masking stages are per-row expressions inside
    one projection; the groupBy keys on the skeleton's md5 (uniform
    128-bit) plus the ≤ 4·TEMPLATE_SHAPE_TOKENS-char shape string —
    shuffle rows never carry document bodies. One shuffle total, no
    joins, no windows, no Python."""
    return template_release(template_census(_docs(spark, sf_dir)))


def template_census(docs: DataFrame) -> DataFrame:
    """Per-shape doc count, source set and min doc id. COUNT(DISTINCT)
    is not a streaming aggregate, so the source set is a collect_set
    (bounded by |sources|) — stream_template_extraction keeps this as
    complete-mode state."""
    return (
        docs.select("doc_id", "source", template_shape("text").alias("template_shape"))
        .groupBy("template_shape")
        .agg(
            F.count("*").alias("n_docs"),
            F.collect_set("source").alias("srcs"),
            F.min("doc_id").alias("example_doc_id"),
        )
    )


def template_release(census: DataFrame) -> DataFrame:
    """The templates shared by at least TEMPLATE_MIN_DOCS documents."""
    return census.filter(F.col("n_docs") >= TEMPLATE_MIN_DOCS).select(
        F.md5("template_shape").alias("template_hash"),
        "n_docs",
        F.size("srcs").cast("long").alias("n_sources"),
        "example_doc_id",
        "template_shape",
    )


TEMPLATE_EXTRACTION_SQL = f"""
WITH masked AS (
  -- explicit class == Java \\s (RE2's \\s lacks \\x0B; see template_shape)
  SELECT doc_id, source,
         trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                             '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS m
  FROM documents
), shaped AS (
  -- COALESCE: DuckDB array_to_string([]) is NULL, Spark array_join([])
  -- is '' — empty docs must share the '' shape in both engines
  SELECT doc_id, source,
         COALESCE(array_to_string(
           list_transform(
             {tokenize_sql('m')}[1:{TEMPLATE_SHAPE_TOKENS}],
             x -> CAST(length(x) AS VARCHAR)),
           '-'), '') AS template_shape
  FROM masked
)
SELECT md5(template_shape) AS template_hash,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       MIN(doc_id) AS example_doc_id,
       template_shape
FROM shaped
GROUP BY template_shape
HAVING COUNT(*) >= {TEMPLATE_MIN_DOCS}
"""


def dedup_aware_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, cluster_size, n_docs, weight_each) — repetition-aware
    sampling weights, the SOFT alternative to keep-one dedup: instead
    of hard-dropping near-dup copies, every member of a size-k cluster
    samples at weight 1/k, so each duplicated content unit contributes
    exactly one effective document to the training mix (the
    deduplicate-by-downweighting recipe). Emitted per (source,
    cluster_size) so no cross-size floating sum ever happens inside
    the query — counts are exact ints, the weight is one division per
    row, and the consumer (the mixing stage) does its own weighted
    draw. 100 TB: dedup_clusters' audited CC plan plus one uniform
    (source, size)-keyed aggregation; singletons ride through as
    cluster_size 1, weight 1.0."""
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "n_members")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    return (
        clusters.join(src, "doc_id")
        .groupBy("source", F.col("n_members").alias("cluster_size"))
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            "source",
            "cluster_size",
            "n_docs",
            F.round(
                F.lit(1.0) / F.col("cluster_size").cast("double"), 6
            ).alias("weight_each"),
        )
    )


def _dedup_aware_weights_sql() -> str:
    return f"""
WITH clusters AS MATERIALIZED ({DEDUP_CLUSTERS_SQL})
SELECT d.source,
       c.n_members AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(1 AS DOUBLE) / CAST(c.n_members AS DOUBLE), 6) AS weight_each
FROM clusters c JOIN documents d USING (doc_id)
GROUP BY 1, 2
"""


# -------------------------------------------- sorted-neighborhood blocking

# Sorted-neighborhood method (Hernández & Stolfo 1995, "The merge/purge
# problem"): derive a compact blocking key per record, totally order the
# corpus by it, and compare each record only to its next SNM_WINDOW - 1
# neighbors in that order. The blocking family's third strategy next to
# LSH banding (hash-bucket blocking) and SimHash pigeonhole (bit-block
# blocking): SNM trades their probabilistic guarantees for a hard
# O(N × window) candidate bound and ZERO reliance on hash collisions —
# the knob a curator reaches for when near-dups share prefixes
# (crawl re-fetches, versioned docs) rather than global token overlap.
SNM_KEY_TOKENS = 4    # blocking key = first 4 tokens of the cleaned text
SNM_WINDOW = 5        # each doc is compared to the next 4 in key order


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup audit: every candidate pair the
    sliding window generates, verified with exact 3-gram-shingle
    Jaccard — (doc_a, doc_b, rank_gap, n_inter, jaccard, is_dup).

    Scale plan (100 TB): the global key order comes from
    `with_dense_ids` (range-partitioned sort + partition-offset rank —
    no single-partition window at any size); the window expands as a
    (SNM_WINDOW - 1)-way explode equi-joined back on the unique rank
    (uniform key, no skew possible); verification is an equi-join of
    the candidate pairs against the per-doc shingle relation, bounded
    by N × (SNM_WINDOW - 1) pairs by construction — the one dedup
    family member whose candidate count is provably linear in the
    corpus, whatever the data looks like."""
    from capstone_etl_spark.operators.vocab import with_dense_ids

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    keyed = toks.select(
        "doc_id",
        F.array_join(F.slice("toks", 1, SNM_KEY_TOKENS), " ").alias("snm_key"),
    )
    ranked = with_dense_ids(keyed, ["snm_key", "doc_id"], "rnk").select("doc_id", "rnk")
    ranked = cached(ranked)
    probes = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.explode(
            F.sequence(F.col("rnk") + 1, F.col("rnk") + (SNM_WINDOW - 1))
        ).alias("rnk"),
        F.col("rnk").alias("a_rnk"),
    )
    pairs = probes.join(
        ranked.select(F.col("doc_id").alias("doc_b"), "rnk"), "rnk"
    ).select("doc_a", "doc_b", (F.col("rnk") - F.col("a_rnk")).alias("rank_gap"))
    # exact verification on distinct 3-gram shingles (no df-cap: the
    # candidate set is already linear-bounded, and the cap would bias
    # the Jaccard estimate the verdict is based on)
    sh = cached(shingles(docs, max_df=None))
    sizes = shingle_sizes(sh, "n_sh")
    inter = candidate_overlap(pairs, sh)
    na, nb = F.coalesce("sa.n_sh", F.lit(0)), F.coalesce("sb.n_sh", F.lit(0))
    ni = F.coalesce("i.n_inter", F.lit(0)).cast("long")
    union = na + nb - ni
    jacc = F.when(union > 0, ni.cast("double") / union.cast("double")).otherwise(
        F.lit(1.0)  # two shingle-free docs (< NGRAM_N tokens) are identical
    )
    return (
        pairs.alias("p")
        .join(inter.alias("i"), ["doc_a", "doc_b"], "left")
        .join(sizes.alias("sa"), F.col("p.doc_a") == F.col("sa.doc_id"), "left")
        .join(sizes.alias("sb"), F.col("p.doc_b") == F.col("sb.doc_id"), "left")
        .select(
            "doc_a",
            "doc_b",
            "rank_gap",
            ni.alias("n_inter"),
            F.round(jacc, 6).alias("jaccard"),
            (jacc >= JACCARD_THRESHOLD).alias("is_dup"),
        )
    )


DEDUP_SORTED_NEIGHBORHOOD_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {tokenize_sql()} AS t
  FROM documents
), ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           -- array_to_string of an EMPTY list is NULL in DuckDB (sorts
           -- last) where Spark's array_join gives '' (sorts first) —
           -- pin the token-free docs to '' on both engines
           ORDER BY COALESCE(array_to_string(t[1 : {SNM_KEY_TOKENS}], ' '), ''), doc_id
         ) - 1 AS rnk
  FROM toks
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.rnk - a.rnk AS rank_gap
  FROM ranked a JOIN ranked b
    ON b.rnk > a.rnk AND b.rnk <= a.rnk + {SNM_WINDOW - 1}
), {_shingles_sql(max_df=None)}, {_SIZES_SQL}, {_CANDIDATE_OVERLAP_SQL}
SELECT p.doc_a, p.doc_b, p.rank_gap,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       ROUND(CASE WHEN COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0) - COALESCE(i.n_inter, 0) > 0
             THEN CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                  / CAST(COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0) - COALESCE(i.n_inter, 0) AS DOUBLE)
             ELSE 1.0 END, 6) AS jaccard,
       (CASE WHEN COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0) - COALESCE(i.n_inter, 0) > 0
             THEN CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                  / CAST(COALESCE(sa.sz, 0) + COALESCE(sb.sz, 0) - COALESCE(i.n_inter, 0) AS DOUBLE)
             ELSE 1.0 END) >= {JACCARD_THRESHOLD} AS is_dup
FROM cand p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
LEFT JOIN sizes sa ON sa.doc_id = p.doc_a
LEFT JOIN sizes sb ON sb.doc_id = p.doc_b
"""


# ------------------------------------------------- split leakage audit

LEAK_N = 8            # exact n-gram length for the cross-split overlap
LEAK_MIN_SHARED = 3   # an eval doc sharing >= this many grams leaks


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval leakage audit over the pipeline's OWN split
    assignment (sampling.split_column): for every val/test document
    sharing >= LEAK_MIN_SHARED exact LEAK_N-grams with any train
    document, report how many train partners it touches and how many
    distinct grams leak — the relation a release checklist consumes
    before a validation loss is trusted. Same exact-substring family
    as decontamination (there the eval side is an external benchmark;
    here it is the pipeline's own held-out cut).

    Scale: the df-cap drops boilerplate grams before the bipartite
    hash join (the decontamination discipline); the split predicate is
    a per-row salted hash, so the two sides partition the SAME gram
    relation — one tokenize pass, cached, both consumers."""
    docs = _docs(spark, sf_dir)
    g = shingles(docs, n=LEAK_N, max_df=MAX_SHINGLE_DF)
    from capstone_etl_spark.operators.sampling import split_column

    g = cached(g.withColumn("split", split_column(F.col("doc_id"))))
    t = g.filter(F.col("split") == "train").alias("t")
    e = g.filter(F.col("split") != "train").alias("e")
    return (
        t.join(e, F.col("t.sh") == F.col("e.sh"))
        .groupBy(F.col("e.split").alias("split"), F.col("e.doc_id").alias("eval_doc"))
        .agg(
            F.countDistinct("t.doc_id").alias("n_train_partners"),
            F.countDistinct("t.sh").alias("n_shared_grams"),
        )
        .filter(F.col("n_shared_grams") >= LEAK_MIN_SHARED)
    )


from capstone_etl_spark.operators.sampling import split_sql_case as _split_sql_case

SPLIT_LEAKAGE_AUDIT_SQL = f"""
WITH {_shingles_sql(n=LEAK_N)}, g AS (
  SELECT doc_id, sh, {_split_sql_case('doc_id')} AS split FROM shingles
)
SELECT e.split, e.doc_id AS eval_doc,
       COUNT(DISTINCT t.doc_id) AS n_train_partners,
       COUNT(DISTINCT t.sh) AS n_shared_grams
FROM g t JOIN g e ON t.sh = e.sh
WHERE t.split = 'train' AND e.split <> 'train'
GROUP BY e.split, e.doc_id
HAVING COUNT(DISTINCT t.sh) >= {LEAK_MIN_SHARED}
"""


# ------------------------------------------------ label propagation
#
# Community detection on the near-dup graph — the MODE-based fixpoint
# (Raghavan et al. 2007), a genuinely different algorithm from
# connected_components' min-propagation: each node adopts the MOST
# COMMON label among its neighbors (ties to the smaller label), so
# weakly-bridged cliques can keep separate communities where CC glues
# everything reachable into one. Fixed LP_ROUNDS synchronous rounds —
# deterministic and oracle-expressible as unrolled SQL, unlike the
# classic randomized-order variant.
LP_ROUNDS = 3


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, community, n_members) for EVERY document (isolated
    docs are their own singleton community).

    Scale plan: per round, one edge⋈labels join (shuffle on the
    uniform src key), one (node, label) vote count with map-side
    combine, one argmax via min(struct) — no windows over anything
    unbounded; labels are lineage-truncated per round (the CC loop's
    discipline, 4^rounds plan growth otherwise) and the edge relation
    is cached once and re-scanned each round. Rounds are FIXED, so
    cost is LP_ROUNDS × (two joins + two aggregates) at any scale."""
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").transform(cached)
    edges = cached(_both_ways(pairs))
    labels = _truncate_lineage(docs.select("doc_id", F.col("doc_id").alias("label")))
    for _ in range(LP_ROUNDS):
        votes = (
            edges.join(
                labels.select(F.col("doc_id").alias("src"), F.col("label").alias("nl")),
                "src",
            )
            .groupBy(F.col("dst").alias("doc_id"), F.col("nl").alias("vlabel"))
            .agg(F.count("*").alias("n"))
        )
        mode = (
            votes.groupBy("doc_id")
            .agg(F.min(F.struct((-F.col("n")).alias("nn"), F.col("vlabel").alias("vl"))).alias("m"))
            .select("doc_id", F.col("m.vl").alias("new_label"))
        )
        labels = _truncate_lineage(
            labels.join(mode, "doc_id", "left").select(
                "doc_id", F.coalesce("new_label", "label").alias("label")
            )
        )
    sizes = labels.groupBy(F.col("label").alias("_lbl")).agg(
        F.count("*").cast("long").alias("n_members")
    )
    return labels.join(sizes, F.col("label") == F.col("_lbl")).select(
        "doc_id", F.col("label").alias("community"), "n_members"
    )


def _label_propagation_sql() -> str:
    rounds = []
    for i in range(1, LP_ROUNDS + 1):
        rounds.append(f"""
, v{i} AS (
  SELECT e.dst AS doc_id, l.label AS vlabel, COUNT(*) AS n
  FROM edges e JOIN l{i - 1} l ON l.doc_id = e.src
  GROUP BY 1, 2
), m{i} AS (
  SELECT doc_id, vlabel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, vlabel) AS rn
    FROM v{i}
  ) t WHERE rn = 1
), l{i} AS (
  SELECT l.doc_id, COALESCE(m.vlabel, l.label) AS label
  FROM l{i - 1} l LEFT JOIN m{i} m USING (doc_id)
)""")
    return (
        f"""
WITH {_JACCARD_PAIRS_SQL}, {_EDGES_SQL}, l0 AS (
  SELECT doc_id, doc_id AS label FROM documents
)"""
        + "".join(rounds)
        + f"""
SELECT l.doc_id, l.label AS community, s.n_members
FROM l{LP_ROUNDS} l
JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM l{LP_ROUNDS} GROUP BY 1) s
  ON s.label = l.label
"""
    )


QUERIES = {
    "dedup_exact": exact_dedup,
    "dedup_ngram_jaccard": ngram_jaccard_pairs,
    "dedup_minhash_lsh": minhash_lsh_pairs,
    "dedup_simhash": simhash_pairs,
    "dedup_agreement": dedup_agreement,
    "dedup_clusters": dedup_clusters,
    "dedup_aware_weights": dedup_aware_weights,
    "decontamination": benchmark_decontamination,
    "decontamination_spans": decontamination_spans,
    "gram_novelty": gram_novelty,
    "repeated_ngram_spans": repeated_ngram_spans,
    "dedup_source_matrix": dedup_source_matrix,
    "dedup_incremental": dedup_incremental,
    "dedup_clusters_incremental": dedup_clusters_incremental,
    "template_extraction": template_extraction,
    "dedup_containment": dedup_containment,
    "dedup_keep_best": dedup_keep_best,
    "dedup_sorted_neighborhood": dedup_sorted_neighborhood,
    "split_leakage_audit": split_leakage_audit,
    "label_propagation": label_propagation,
}

ORACLE_SQL = {
    "dedup_exact": EXACT_DEDUP_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_PAIRS_SQL,
    "dedup_minhash_lsh": MINHASH_LSH_PAIRS_SQL,
    "dedup_simhash": SIMHASH_PAIRS_SQL,
    "dedup_agreement": DEDUP_AGREEMENT_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_aware_weights": _dedup_aware_weights_sql(),
    "decontamination": DECONTAMINATION_SQL,
    "decontamination_spans": DECONTAMINATION_SPANS_SQL,
    "gram_novelty": GRAM_NOVELTY_SQL,
    "repeated_ngram_spans": REPEATED_NGRAM_SPANS_SQL,
    "dedup_source_matrix": DEDUP_SOURCE_MATRIX_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    # the BATCH rebuild SQL verbatim: the incremental label-merge must
    # reproduce the from-scratch clustering exactly
    "dedup_clusters_incremental": DEDUP_CLUSTERS_SQL,
    "template_extraction": TEMPLATE_EXTRACTION_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_keep_best": _dedup_keep_best_sql(),
    "dedup_sorted_neighborhood": DEDUP_SORTED_NEIGHBORHOOD_SQL,
    "split_leakage_audit": SPLIT_LEAKAGE_AUDIT_SQL,
    "label_propagation": _label_propagation_sql(),
}
