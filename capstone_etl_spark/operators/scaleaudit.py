"""Operational scale-audit operators — the queries an engineer runs
BEFORE pointing the engine at 100 TB.

The engine's scale story (SCALE.md) rests on assumptions that are
data-dependent: join keys are roughly uniform, output files land near
the target size, and the ANN quantizer's Voronoi cells stay ≈√N.
These operators turn each assumption into a first-class, oracle-checked
query so the audit itself is part of the engine, not a notebook
someone ran once:

- key_skew_audit      — per join-key family: cardinality, hot-key mass,
                        and the max/avg skew ratio that decides whether
                        a join needs salting (functions/skew.py) or AQE
                        skew splitting.
- output_file_plan    — per (source, split) byte totals → the file
                        count a writer should coalesce to so the lake
                        never accumulates the small-files problem.
- ivf_cell_balance    — per-cell population of the hash-sampled √N
                        quantizer (similarity.quantizer_seeds), with
                        the per-cell cap the scale tests assert. This
                        is VERDICT r4 #2's concern made continuously
                        observable.
- zorder_file_layout  — per-target-file locality of a z-ordered
                        rewrite on (user, day): the min/max-pruning
                        property a one-column sort cannot give.
- salted_hot_key_join — the skew-mitigation join pattern
                        (functions/skew.py) registered end-to-end on
                        the corpus' most skewed key, oracle-checked
                        salt-invariant.

All are pure aggregations or equi-joins on bounded relations —
scan-shaped, map-side combinable, no window over anything bigger than
a group — so the audit itself is cheap at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.functions.hashing import md5_hash60, md5_hash60_sql
from capstone_etl_spark.operators.sampling import split_column, split_sql_case
from capstone_etl_spark.sources.tables import load_table

# --- key skew audit ---------------------------------------------------------
#
# One row per join-key family the engine actually shuffles on. The skew
# ratio is max-key count over mean-key count: ~1 means uniform (hash
# partitioning balances), >> 1 means one reducer owns the hot key and
# the join wants salting. hot_key is the argmax (smallest key on ties)
# so the operator names the offender, not just the symptom.
KEYSPACES: tuple[tuple[str, str, str], ...] = (
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
)


def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(keyspace, n_keys, n_rows, max_cnt, hot_key, skew_ratio) — one
    row per audited join-key family.

    Plan: each family is groupBy(key).count() (partial-aggregated
    map-side) followed by a 1-row aggregate over the per-key counts;
    the four 1-row results union. Nothing here is ever larger than the
    key cardinality, and the final frame is 4 rows — scale-free."""
    parts = []
    for name, table, col in KEYSPACES:
        cnt = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).cast("long").alias("k"))
            .agg(F.count("*").alias("cnt"))
        )
        parts.append(
            cnt.agg(
                F.lit(name).alias("keyspace"),
                F.count("*").cast("long").alias("n_keys"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.max("cnt").cast("long").alias("max_cnt"),
                F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("k").alias("k")))[
                    "k"
                ].alias("hot_key"),
                # max_cnt is cast to double BEFORE the multiply: on an
                # extremely skewed high-cardinality keyspace,
                # max_cnt × n_keys in int64 can exceed 2^63 — exactly
                # the regime this audit diagnoses (ADVICE r5 #2)
                F.round(
                    F.max("cnt").cast("double") * F.count("*") / F.sum("cnt").cast("double"),
                    6,
                ).alias("skew_ratio"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _skew_sql_one(name: str, table: str, col: str) -> str:
    return f"""
SELECT '{name}' AS keyspace,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       (SELECT k FROM (SELECT CAST({col} AS BIGINT) AS k, COUNT(*) AS cnt
                       FROM {table} GROUP BY 1) h
        ORDER BY cnt DESC, k LIMIT 1) AS hot_key,
       ROUND(CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6) AS skew_ratio
FROM (SELECT CAST({col} AS BIGINT) AS k, COUNT(*) AS cnt FROM {table} GROUP BY 1) c
"""


KEY_SKEW_AUDIT_SQL = "\nUNION ALL\n".join(
    _skew_sql_one(name, table, col) for name, table, col in KEYSPACES
)


# --- output file planning ---------------------------------------------------
#
# The writer-side answer to the small-files problem: how many files
# should each (source, split) partition coalesce to so files land near
# the target size? In production the target is 128-512 MB (one HDFS/S3
# block, one task per file on re-read); the fixture constant is small
# so the arithmetic exercises multi-file plans at test scale. n_chars
# is the byte proxy the synthetic corpus carries; a production run
# would use the encoded on-disk estimate instead.
FILE_TARGET_BYTES = 4096


def output_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, split, n_docs, total_bytes, target_files, docs_per_file)
    — the repartition plan a partitioned writer (sinks/writers.py
    partition_by=["source","split"]) should apply before writing.

    Plan: split is the salted-hash per-row expression (sampling.py —
    no shuffle to assign), then ONE groupBy(source, split) aggregate;
    the ceil arithmetic is per-group scalar math on the 40-row result."""
    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.select("source", split_column(F.col("doc_id")).alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(F.count("*").cast("long").alias("n_docs"), F.sum("n_chars").cast("long").alias("total_bytes"))
    )
    target = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("total_bytes") / F.lit(FILE_TARGET_BYTES).cast("double")),
    )
    return agg.select(
        "source",
        "split",
        "n_docs",
        "total_bytes",
        target.alias("target_files"),
        F.ceil(F.col("n_docs") / target.cast("double")).cast("long").alias("docs_per_file"),
    )


OUTPUT_FILE_PLAN_SQL = f"""
WITH agg AS (
  SELECT source, {split_sql_case('doc_id')} AS split,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_bytes
  FROM documents GROUP BY 1, 2
)
SELECT source, split, n_docs, total_bytes,
       GREATEST(1, CAST(ceil(total_bytes / {FILE_TARGET_BYTES}.0) AS BIGINT)) AS target_files,
       CAST(ceil(n_docs / CAST(GREATEST(1, CAST(ceil(total_bytes / {FILE_TARGET_BYTES}.0) AS BIGINT)) AS DOUBLE)) AS BIGINT) AS docs_per_file
FROM agg
"""


# --- IVF / SemDeDup cell balance -------------------------------------------
#
# The quantized-blocking family (ann_ivf_topk, semantic_dedup) is
# quadratic WITHIN a cell, so its 100 TB viability is exactly "no cell
# grows past a small multiple of √N" (VERDICT r4 #2; the hash-sampled
# seed fix). test_quantizer_scaling asserts the cap on fixtures; this
# operator reports the live distribution on the real corpus, with the
# same 4·√N cap the test uses surfaced as a boolean per cell.
CELL_CAP_FACTOR = 4


def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, pop, share, over_cap) — population of every Voronoi cell
    of the hash-sampled quantizer over the embeddings corpus.

    Plan: identical quantize → seed-sample → nearest-seed assignment
    as ann_ivf_topk (the seeds travel as one broadcast array), then
    groupBy(cell).count() and a 1-row corpus total broadcast back for
    the share/cap columns. The output is ≈√N rows."""
    from capstone_etl_spark.operators.similarity import (
        ivf_seed_d2,
        nearest_cell,
        quantize_fp,
        quantizer_seeds,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    assign = nearest_cell(ivf_seed_d2(emb_q, quantizer_seeds(emb_q)))
    pops = assign.groupBy("cell").agg(F.count("*").cast("long").alias("pop"))
    return _cell_balance_tail(pops)


def _cell_balance_tail(pops: DataFrame) -> DataFrame:
    """share/over_cap projection over a (cell, pop) relation — shared
    by the batch balance audit and stream_ivf_assign's drained table
    so the cap rule cannot drift between the two forms."""
    total = pops.agg(F.sum("pop").cast("double").alias("n_vec"))
    cap = F.ceil(F.lit(CELL_CAP_FACTOR) * F.sqrt(F.col("n_vec"))).cast("long")
    return (
        pops.join(F.broadcast(total), F.lit(True))
        .select(
            "cell",
            "pop",
            F.round(F.col("pop") / F.col("n_vec"), 6).alias("share"),
            (F.col("pop") > cap).alias("over_cap"),
        )
    )


# pops … release: _cell_balance_tail over the `assign` CTE, shared by
# both balance oracles
_CELL_BALANCE_SQL = f"""
, pops AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS pop FROM assign GROUP BY 1
), total AS (SELECT CAST(SUM(pop) AS DOUBLE) AS n_vec FROM pops)
SELECT cell, pop,
       ROUND(pop / t.n_vec, 6) AS share,
       pop > CAST(ceil({CELL_CAP_FACTOR} * sqrt(t.n_vec)) AS BIGINT) AS over_cap
FROM pops CROSS JOIN total t
"""


def _ivf_cell_balance_sql() -> str:
    from capstone_etl_spark.operators.similarity import _FLAT_ASSIGN_SQL, _seeds_sql

    return f"""
WITH {_seeds_sql("embeddings")}, {_FLAT_ASSIGN_SQL}""" + _CELL_BALANCE_SQL


def hivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, pop, share, over_cap) — ivf_cell_balance over the round-9
    TWO-LEVEL quantizer assignment (similarity.hier_assign): the
    operational health check for the hierarchical index. The multi-
    branch router can only move boundary vectors between cells, so the
    same √N-scaled cap applies; a cell going over_cap here says the
    branch routing (not the hash sampling) concentrated population —
    the signal to raise BRANCH_PROBES or rebalance seeds."""
    from capstone_etl_spark.operators.similarity import hier_assign, quantize_fp

    emb = load_table(spark, sf_dir, "embeddings")
    emb_q = emb.select("vec_id", quantize_fp().alias("vq"))
    pops = (
        hier_assign(emb_q)
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("pop"))
    )
    return _cell_balance_tail(pops)


def _hivf_cell_balance_sql() -> str:
    from capstone_etl_spark.operators.similarity import _HIER_ASSIGN_SQL

    return _HIER_ASSIGN_SQL + _CELL_BALANCE_SQL


# --- z-order layout ---------------------------------------------------------
#
# Multi-dimensional data clustering (the lakehouse OPTIMIZE ZORDER BY
# move): interleave the bits of two filter dimensions so that sorting
# by the interleaved key co-locates rows that are close in EITHER
# dimension — min/max file statistics then prune most files for
# point/range predicates on either column, where a single-column sort
# only serves one. This operator computes the z-key for the events
# table over (user bucket, day bucket) and reports the resulting
# per-file locality: how narrow each file's user-span and day-span
# would be under a z-ordered rewrite.
Z_BITS = 8          # bits per dimension → 16-bit z-space
Z_FILES = 64        # target files over the z-space
Z_EPOCH = "1970-01-01"


def _zkey(ub, db):  # Column, Column -> Column (bit interleave)
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(ub, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(db, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _zkey_sql(ub: str, db: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({ub} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({db} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_file_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(file_id, n_rows, n_users, user_span, day_span) — the locality
    a z-ordered rewrite of events on (user, day) achieves per target
    file: both spans stay narrow simultaneously, which is the property
    min/max pruning needs and a one-column sort cannot give.

    Plan: the z-key is a per-row bit expression (no shuffle to
    assign); file_id = zkey / (z-space / Z_FILES) is per-row too; one
    groupBy(file_id) aggregation ends it. At any corpus size the
    output is Z_FILES rows; a real rewrite would repartitionByRange on
    the same key expression."""
    ev = load_table(spark, sf_dir, "events")
    ub = (F.col("user_id") % (1 << Z_BITS)).cast("long")
    db = (F.datediff(F.col("ts").cast("date"), F.lit(Z_EPOCH).cast("date")) % (1 << Z_BITS)).cast("long")
    z = _zkey(ub, db)
    per_file = F.lit((1 << (2 * Z_BITS)) // Z_FILES).cast("long")
    rows = ev.select(
        (z / per_file).cast("long").alias("file_id"),
        ub.alias("ub"),
        db.alias("db"),
        "user_id",
    )
    return rows.groupBy("file_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        (F.max("ub") - F.min("ub")).cast("long").alias("user_span"),
        (F.max("db") - F.min("db")).cast("long").alias("day_span"),
    )


_Z_UB = f"(user_id % {1 << Z_BITS})"
_Z_DB = f"(datediff('day', DATE '{Z_EPOCH}', CAST(ts AS DATE)) % {1 << Z_BITS})"

ZORDER_FILE_LAYOUT_SQL = f"""
WITH rows_z AS (
  SELECT CAST({_zkey_sql(_Z_UB, _Z_DB)} // {(1 << (2 * Z_BITS)) // Z_FILES} AS BIGINT) AS file_id,
         {_Z_UB} AS ub, {_Z_DB} AS db, user_id
  FROM events
)
SELECT file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MAX(ub) - MIN(ub) AS BIGINT) AS user_span,
       CAST(MAX(db) - MIN(db) AS BIGINT) AS day_span
FROM rows_z
GROUP BY file_id
"""


# Probe points for the pruning measurement: 16 evenly spaced bucket
# values per dimension. Point predicates are the strictest test of
# min/max pruning; a range predicate only does better.
Z_PROBES = tuple(range(8, 256, 16))


def zorder_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(layout, probe_dim, n_files, n_probes, files_touched,
    prune_fraction) — the MEASURED min/max file-pruning benefit of the
    z-ordered layout versus a linear (user, day) sort, on this corpus:
    for each probe predicate `dim = v`, a file is touched when v falls
    inside its [min, max] span for that dimension. Linear sort prunes
    the leading dimension only (day probes touch ~every file); the
    z-order keeps both spans narrow, so both probe classes prune. This
    turns SCALE.md's z-order claim into an oracle-checked number
    instead of an assertion.

    Plan: per-row layout keys (no shuffle to assign) → ONE
    groupBy(layout, file) min/max aggregate (≤ 2·Z_FILES rows) → the
    16-row literal probe table joins against those file stats (a
    deliberate tiny cross join, allowlisted) → one final aggregate.
    Nothing downstream of the first aggregate depends on corpus size."""
    ev = load_table(spark, sf_dir, "events")
    ub = (F.col("user_id") % (1 << Z_BITS)).cast("long")
    db = (
        F.datediff(F.col("ts").cast("date"), F.lit(Z_EPOCH).cast("date"))
        % (1 << Z_BITS)
    ).cast("long")
    per_file_rows = (1 << (2 * Z_BITS)) // Z_FILES
    z_fid = (_zkey(ub, db) / F.lit(per_file_rows)).cast("long")
    lin_fid = ((ub * (1 << Z_BITS) + db) / F.lit(per_file_rows)).cast("long")
    keyed = ev.select(ub.alias("ub"), db.alias("db"), z_fid.alias("zf"), lin_fid.alias("lf"))
    stats = (
        keyed.select(F.lit("zorder").alias("layout"), F.col("zf").alias("fid"), "ub", "db")
        .unionByName(
            keyed.select(F.lit("linear").alias("layout"), F.col("lf").alias("fid"), "ub", "db")
        )
        .groupBy("layout", "fid")
        .agg(
            F.min("ub").alias("ub_min"),
            F.max("ub").alias("ub_max"),
            F.min("db").alias("db_min"),
            F.max("db").alias("db_max"),
        )
    )
    probes = spark.createDataFrame([(int(v),) for v in Z_PROBES], "v long")
    hit_user = (F.col("v") >= F.col("ub_min")) & (F.col("v") <= F.col("ub_max"))
    hit_day = (F.col("v") >= F.col("db_min")) & (F.col("v") <= F.col("db_max"))
    crossed = stats.join(F.broadcast(probes), F.lit(True))
    per_dim = crossed.select(
        "layout",
        "fid",
        "v",
        hit_user.cast("long").alias("user"),
        hit_day.cast("long").alias("day"),
    )
    long_form = per_dim.selectExpr(
        "layout", "fid", "v", "stack(2, 'user', user, 'day', day) AS (probe_dim, hit)"
    )
    return long_form.groupBy("layout", "probe_dim").agg(
        F.countDistinct("fid").cast("long").alias("n_files"),
        F.countDistinct("v").cast("long").alias("n_probes"),
        F.sum("hit").cast("long").alias("files_touched"),
        F.round(
            F.lit(1.0)
            - F.sum("hit").cast("double")
            / (F.countDistinct("fid") * F.countDistinct("v")),
            6,
        ).alias("prune_fraction"),
    )


def _zorder_pruning_sql() -> str:
    probes = ", ".join(f"({v})" for v in Z_PROBES)
    per_file_rows = (1 << (2 * Z_BITS)) // Z_FILES
    return f"""
WITH keyed AS (
  SELECT {_Z_UB} AS ub, {_Z_DB} AS db,
         CAST({_zkey_sql(_Z_UB, _Z_DB)} // {per_file_rows} AS BIGINT) AS zf,
         CAST(({_Z_UB} * {1 << Z_BITS} + {_Z_DB}) // {per_file_rows} AS BIGINT) AS lf
  FROM events
), tagged AS (
  SELECT 'zorder' AS layout, zf AS fid, ub, db FROM keyed
  UNION ALL
  SELECT 'linear' AS layout, lf AS fid, ub, db FROM keyed
), stats AS (
  SELECT layout, fid,
         MIN(ub) AS ub_min, MAX(ub) AS ub_max,
         MIN(db) AS db_min, MAX(db) AS db_max
  FROM tagged GROUP BY layout, fid
), probes AS (SELECT * FROM (VALUES {probes}) p(v)),
per_dim AS (
  SELECT s.layout, s.fid, p.v,
         CASE WHEN p.v BETWEEN s.ub_min AND s.ub_max THEN 1 ELSE 0 END AS hit_user,
         CASE WHEN p.v BETWEEN s.db_min AND s.db_max THEN 1 ELSE 0 END AS hit_day
  FROM stats s CROSS JOIN probes p
), long_form AS (
  SELECT layout, fid, v, 'user' AS probe_dim, hit_user AS hit FROM per_dim
  UNION ALL
  SELECT layout, fid, v, 'day', hit_day FROM per_dim
)
SELECT layout, probe_dim,
       CAST(COUNT(DISTINCT fid) AS BIGINT) AS n_files,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_probes,
       CAST(SUM(hit) AS BIGINT) AS files_touched,
       ROUND(1.0 - CAST(SUM(hit) AS DOUBLE)
             / (COUNT(DISTINCT fid) * COUNT(DISTINCT v)), 6) AS prune_fraction
FROM long_form
GROUP BY layout, probe_dim
"""


ZORDER_PRUNING_GAIN_SQL = _zorder_pruning_sql()


N_SALT = 8


def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean absolute deviation of event value — computed
    through an EXPLICITLY SALTED equi-join on event_type, the most
    skewed key in the corpus (a handful of types over every event).
    This registers the skew-mitigation pattern end-to-end: the skewed
    fact side scatters each hot key over N_SALT sub-keys
    (round-robin per-row salt — content hashes would collapse
    duplicate rows into one bucket), the per-type aggregate relation
    replicates N_SALT×, and the join runs on (event_type, salt) so no
    task carries a whole hot key. At this dimension size a broadcast
    is the right plan and salting is overhead — the query exists to
    pin the fallback pattern (dim too big to broadcast, one dominant
    key) with a real oracle; results are salt-invariant by
    construction, which is exactly what the oracle checks.

    Exactness: mean_v is one exact-decimal sum divided by a count;
    each |v − mean| snaps to DECIMAL(18,6) before the exact deviation
    sum, so both engines agree bit-for-bit."""
    from capstone_etl_spark.functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    means = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("mean_v")
    )
    joined = salted_join(ev, means, on="event_type", n_salt=N_SALT)
    dev = F.abs(F.col("value") - F.col("mean_v")).cast("decimal(18,6)")
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum(dev).cast("double") / F.count("*"), 6).alias("mean_abs_dev"),
    )


SALTED_HOT_KEY_JOIN_SQL = """
WITH means AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_v
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(abs(e.value - m.mean_v) AS DECIMAL(18,6)) ) AS DOUBLE)
             / COUNT(*), 6) AS mean_abs_dev
FROM events e JOIN means m USING (event_type)
GROUP BY e.event_type
"""


# --- cross-table coverage audit ----------------------------------------------
#
# A multimodal training pipeline joins documents to their embeddings
# (and images/audio) by id; silent coverage gaps — docs that never got
# embedded, embeddings whose doc was filtered upstream — skew every
# downstream mixture. This is the referential-integrity sweep run
# before training: per-source doc→embedding coverage plus the global
# orphaned-embedding rate, all from two left joins (no windows, no
# driver actions; keys are unique ids so the joins stay 1:1).


def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(scope, n_rows, n_matched, pct_matched) — one row per document
    source (docs:<source>, matched = has an embedding with
    vec_id == doc_id) plus one 'embeddings:all' row (matched = its doc
    exists). pct snaps via floor(x·1e6+0.5)/1e6 + 0.0 (the engine's
    cross-engine rounding discipline — embedding_covariance's note)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    matched = F.sum(F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)).cast("long")
    pct = (
        F.floor(
            matched.cast("double") / F.count("*").cast("double") * F.lit(100_000_000.0)
            + F.lit(0.5)
        )
        / F.lit(1_000_000.0)
        + F.lit(0.0)
    )
    per_source = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"], "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            matched.alias("n_matched"),
            pct.alias("pct_matched"),
        )
        .select(
            F.concat(F.lit("docs:"), F.col("source")).alias("scope"),
            "n_rows",
            "n_matched",
            "pct_matched",
        )
    )
    emb_side = (
        emb.join(docs.select("doc_id"), emb["vec_id"] == docs["doc_id"], "left")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("doc_id").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
        )
        .select(
            F.lit("embeddings:all").alias("scope"),
            "n_rows",
            "n_matched",
            (
                F.floor(
                    F.col("n_matched").cast("double")
                    / F.col("n_rows").cast("double")
                    * F.lit(100_000_000.0)
                    + F.lit(0.5)
                )
                / F.lit(1_000_000.0)
                + F.lit(0.0)
            ).alias("pct_matched"),
        )
    )
    return per_source.unionByName(emb_side)


EMBEDDING_COVERAGE_AUDIT_SQL = """
WITH d AS (
  SELECT doc_id, source FROM documents
), e AS (
  SELECT vec_id FROM embeddings
), per_source AS (
  SELECT 'docs:' || d.source AS scope,
         COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
  FROM d LEFT JOIN e ON e.vec_id = d.doc_id
  GROUP BY d.source
), emb_side AS (
  SELECT 'embeddings:all' AS scope,
         COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN d2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
  FROM e LEFT JOIN d d2 ON d2.doc_id = e.vec_id
), unioned AS (
  SELECT * FROM per_source UNION ALL SELECT * FROM emb_side
)
SELECT scope, n_rows, n_matched,
       floor(CAST(n_matched AS DOUBLE) / n_rows * 100000000.0 + 0.5) / 1000000.0 + 0.0
         AS pct_matched
FROM unioned
"""


LSH_S_GRID_STEPS = 19  # similarity grid s = i/20 for i in 1..19


def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, p_candidate, n_candidates, n_verified, n_true, precision,
    recall) — the MinHash-LSH TUNING readout: the theoretical S-curve
    P(candidate | jaccard = s) = 1 − (1 − s^r)^b for the configured
    b = LSH_BANDS × r = LSH_ROWS banding, against what the corpus
    actually measured — candidate-pair volume from the band join,
    survivors of exact-Jaccard verification, ground-truth pair count
    from the df-capped inverted shingle index, and the derived
    precision (verified/candidates) and recall (verified/true; the
    verifier applies the same threshold to the same shingle sets, so
    verified ⊆ true). This is the table an engineer reads before
    changing the banding at 100 TB: the curve says where the
    probability knee sits vs JACCARD_THRESHOLD, the measured columns
    say what the knee costs on THIS corpus (scaleaudit's
    assumption→query discipline, key_skew_audit's argument for joins).

    Plan: ONE shared shingle relation feeds the signature path, the
    band join (dedup.lsh_band_candidates — the same code path the
    production dedup runs, so the audit cannot drift from the deployed
    banding), and the index-based exact pass (jaccard_pairs' sh=
    seam); all three measurements collapse to 1-row aggregates
    broadcast onto the 19-row similarity grid (ALLOWED_CARTESIAN).
    pow() is transcendental → emitted at 6 dp (house rule); the
    measured columns are exact integers and exact-integer ratios."""
    from capstone_etl_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _docs,
        jaccard_pairs,
        lsh_band_candidates,
        minhash_signatures,
        shingles,
    )
    from capstone_etl_spark.session import cached

    docs = _docs(spark, sf_dir)
    sh = cached(shingles(docs))
    sig = minhash_signatures(docs, sh=sh)
    cand = lsh_band_candidates(sig)
    truep = cached(jaccard_pairs(docs, sh=sh).select("doc_a", "doc_b"))
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    # verified = candidates surviving exact-Jaccard = cand ∩ true
    # (identical shingle sets, identical threshold — the relation
    # minhash_lsh_pairs emits, derived without a second LSH pass)
    n_ver = cand.join(truep, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("long").alias("n_verified")
    )
    n_true = truep.agg(F.count("*").cast("long").alias("n_true"))
    grid = spark.range(1, LSH_S_GRID_STEPS + 1).select(
        (F.col("id").cast("double") / F.lit(20.0)).alias("s")
    )
    p = 1.0 - F.pow(1.0 - F.pow(F.col("s"), F.lit(float(LSH_ROWS))), F.lit(float(LSH_BANDS)))
    return (
        grid.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_ver))
        .crossJoin(F.broadcast(n_true))
        .select(
            "s",
            F.round(p, 6).alias("p_candidate"),
            "n_candidates",
            "n_verified",
            "n_true",
            F.when(
                F.col("n_candidates") > 0,
                F.round(F.col("n_verified").cast("double") / F.col("n_candidates"), 6),
            ).otherwise(F.lit(0.0)).alias("precision"),
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_verified").cast("double") / F.col("n_true"), 6),
            ).otherwise(F.lit(0.0)).alias("recall"),
        )
    )


def _lsh_tuning_curve_sql() -> str:
    from capstone_etl_spark.operators.dedup import (
        _JACCARD_PAIRS_CTE,
        _SHINGLES_CTE,
        _band_key_sql,
        _minhash_sql_min_exprs,
        LSH_BANDS,
        LSH_ROWS,
    )

    return (
        _SHINGLES_CTE
        + _JACCARD_PAIRS_CTE
        + f"""
, sig AS MATERIALIZED (
  SELECT doc_id,
         {_minhash_sql_min_exprs()}
  FROM shingles GROUP BY doc_id
), bands AS MATERIALIZED (
  {" UNION ALL ".join(_band_key_sql(bi) for bi in range(LSH_BANDS))}
), cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), ncand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
nver AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_verified
  FROM cand c JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
), ntrue AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM pairs),
grid AS (SELECT CAST(i AS DOUBLE) / 20.0 AS s FROM (SELECT unnest(range(1, {LSH_S_GRID_STEPS + 1})) AS i))
SELECT g.s,
       ROUND(1.0 - POW(1.0 - POW(g.s, {float(LSH_ROWS)}), {float(LSH_BANDS)}), 6) AS p_candidate,
       c.n_candidates, v.n_verified, t.n_true,
       CASE WHEN c.n_candidates > 0
            THEN ROUND(CAST(v.n_verified AS DOUBLE) / c.n_candidates, 6) ELSE 0.0 END AS precision,
       CASE WHEN t.n_true > 0
            THEN ROUND(CAST(v.n_verified AS DOUBLE) / t.n_true, 6) ELSE 0.0 END AS recall
FROM grid g CROSS JOIN ncand c CROSS JOIN nver v CROSS JOIN ntrue t
"""
    )


SWEEP_STEPS = 9  # thresholds t = i/10 for i in 1..9


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(threshold, n_pairs, n_docs) — JACCARD_THRESHOLD's tuning table,
    lsh_tuning_curve's sibling: the curve says where the BANDING knee
    sits; this sweep says what each VERIFY threshold would actually
    remove on this corpus — how many near-dup pairs survive t and how
    many documents they touch, for t = 0.1 … 0.9. The number an
    engineer reads before moving the production threshold.

    Plan: ONE unthresholded candidate-pair pass (identical cost to the
    production pair join — the threshold filter is post-join, so the
    sweep is free beyond it), then a 9-row grid broadcast expands each
    pair to its qualifying thresholds (bounded: df-capped candidates ×
    9), and ONE grid-keyed aggregation over the exploded (threshold,
    doc) rows yields both counts — every pair contributes exactly two
    rows, so n_pairs = rows div 2 while n_docs is the distinct count;
    one consumer, no cache, no second scan. The LEFT join from the
    grid keeps zero-pair thresholds as explicit 0 rows. The grid compares the RAW jaccard
    (with_raw seam) — the same value the production filter tests — so
    the row at JACCARD_THRESHOLD equals the deployed pair count by
    construction (a 6dp-rounded compare could count a pair the
    production filter drops)."""
    from capstone_etl_spark.operators.dedup import _docs, jaccard_pairs
    from capstone_etl_spark.session import cached

    pairs = jaccard_pairs(_docs(spark, sf_dir), threshold=0.0, with_raw=True)
    grid = spark.range(1, SWEEP_STEPS + 1).select(
        (F.col("id").cast("double") / 10.0).alias("threshold")
    )
    stats = (
        pairs.join(F.broadcast(grid), F.col("jaccard_raw") >= F.col("threshold"))
        .select("threshold", F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("threshold")
        .agg(
            F.expr("count(1) div 2").alias("n_pairs"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
        )
    )
    return grid.join(stats, "threshold", "left").select(
        "threshold",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
        F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
    )


def _dedup_threshold_sweep_sql() -> str:
    from capstone_etl_spark.operators.dedup import _SHINGLES_CTE, jaccard_pairs_cte

    return (
        _SHINGLES_CTE
        + jaccard_pairs_cte(None, with_raw=True)
        + f"""
, grid AS (
  SELECT CAST(i AS DOUBLE) / 10.0 AS threshold
  FROM (SELECT UNNEST(range(1, {SWEEP_STEPS + 1})) AS i)
), stats AS (
  SELECT threshold,
         CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (
    SELECT g.threshold, p.doc_a AS doc_id
    FROM pairs p JOIN grid g ON p.jaccard_raw >= g.threshold
    UNION ALL
    SELECT g.threshold, p.doc_b AS doc_id
    FROM pairs p JOIN grid g ON p.jaccard_raw >= g.threshold) t
  GROUP BY 1
)
SELECT g.threshold,
       COALESCE(s.n_pairs, 0) AS n_pairs,
       COALESCE(s.n_docs, 0) AS n_docs
FROM grid g
LEFT JOIN stats s USING (threshold)
"""
    )


# --- rendezvous (HRW) sharding ----------------------------------------------
#
# Shard-assignment strategy audit. The engine's hash-mod sharding
# (corpus.N_SHARDS, output_file_plan) reassigns ~(S-1)/S of all
# documents when the shard count changes — a full-corpus rewrite.
# Highest-random-weight (rendezvous) hashing assigns each document to
# argmax_s h(doc, s); growing S→S+1 moves ONLY the documents whose new
# shard wins the argmax, an expected 1/(S+1) of the corpus, and never
# moves a document between two pre-existing shards. This operator
# computes both assignments (S and S+1 shards) in one pass and reports
# the per-shard migration ledger, making the minimal-churn property an
# oracle-checked invariant instead of a design note.
HRW_SALT = "hrw:v1:"
HRW_SHARDS = 8                 # before
HRW_SHARDS_AFTER = 9           # after one expansion


def _hrw_owner(n_shards: int) -> F.Column:
    """argmax_s md5(salt||s||doc_id) over s in [0,n_shards) — ties (a
    60-bit-hash collision) break to the SMALLER shard id, mirrored by
    the oracle's first-match CASE chain. Pure per-row column math:
    min(struct(-h, s)) over an inline array, no explode, no shuffle."""
    scores = [
        F.struct(
            (
                -md5_hash60(
                    F.concat(F.lit(f"{HRW_SALT}{s}:"), F.col("doc_id").cast("string"))
                )
            ).alias("nh"),
            F.lit(s).alias("s"),
        )
        for s in range(n_shards)
    ]
    return F.array_min(F.array(*scores))["s"].cast("long")


def rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, n_before, n_after, n_in, n_out) for every shard of the
    expanded layout — the HRW migration ledger for growing
    HRW_SHARDS → HRW_SHARDS_AFTER.

    Scale plan: the double assignment is per-row arithmetic at scan
    speed (2S+1 hashes per document, no shuffle); the only shuffle is
    the groupBy on (owner_before, owner_after) — map-side combinable to
    ≤ S·(S+1) rows at any corpus size. The per-shard ledger is derived
    from that tiny cached matrix; the shard spine is a range() literal
    so empty shards still report zeros."""
    from capstone_etl_spark.session import cached

    docs = load_table(spark, sf_dir, "documents")
    moves = cached(
        docs.select(
            _hrw_owner(HRW_SHARDS).alias("b"), _hrw_owner(HRW_SHARDS_AFTER).alias("a")
        )
        .groupBy("b", "a")
        .agg(F.count("*").alias("n"))
    )
    spine = spark.range(HRW_SHARDS_AFTER).select(F.col("id").alias("shard"))
    # distinct grouping aliases: the four ledgers share the cached
    # `moves` lineage, so re-used b/a names would be ambiguous self-joins
    n_before = moves.groupBy(F.col("b").alias("sb")).agg(F.sum("n").alias("n_before"))
    n_after = moves.groupBy(F.col("a").alias("sa")).agg(F.sum("n").alias("n_after"))
    moved = moves.filter(F.col("a") != F.col("b"))
    n_in = moved.groupBy(F.col("a").alias("si")).agg(F.sum("n").alias("n_in"))
    n_out = moved.groupBy(F.col("b").alias("so")).agg(F.sum("n").alias("n_out"))
    zero = F.lit(0).cast("long")
    return (
        spine.join(n_before, F.col("shard") == F.col("sb"), "left")
        .join(n_after, F.col("shard") == F.col("sa"), "left")
        .join(n_in, F.col("shard") == F.col("si"), "left")
        .join(n_out, F.col("shard") == F.col("so"), "left")
        .select(
            "shard",
            F.coalesce("n_before", zero).alias("n_before"),
            F.coalesce("n_after", zero).alias("n_after"),
            F.coalesce("n_in", zero).alias("n_in"),
            F.coalesce("n_out", zero).alias("n_out"),
        )
    )


def _hrw_owner_sql(n_shards: int, alias: str) -> tuple[str, str]:
    """First-match CASE over GREATEST(h_0..h_{S-1}) — smallest shard id
    wins ties, matching the Spark min(struct(-h, s)) tiebreak."""
    hs = [
        md5_hash60_sql(f"'{HRW_SALT}{s}:' || CAST(doc_id AS VARCHAR)")
        for s in range(n_shards)
    ]
    mx = "GREATEST(" + ", ".join(hs) + ")"
    whens = "\n         ".join(
        f"WHEN {h} = _mx{alias} THEN {s}" for s, h in enumerate(hs[:-1])
    )
    return (
        f"CASE {whens}\n         ELSE {n_shards - 1} END",
        f"{mx} AS _mx{alias}",
    )


def _rendezvous_sharding_sql() -> str:
    case_b, mx_b = _hrw_owner_sql(HRW_SHARDS, "b")
    case_a, mx_a = _hrw_owner_sql(HRW_SHARDS_AFTER, "a")
    return f"""
WITH hashed AS (
  SELECT doc_id, {mx_b}, {mx_a} FROM documents
), owners AS (
  SELECT {case_b} AS b, {case_a} AS a FROM hashed
), moves AS (
  SELECT b, a, COUNT(*) AS n FROM owners GROUP BY 1, 2
), spine AS (
  SELECT CAST(UNNEST(range(0, {HRW_SHARDS_AFTER})) AS BIGINT) AS shard
)
SELECT s.shard,
       CAST(COALESCE((SELECT SUM(n) FROM moves m WHERE m.b = s.shard), 0) AS BIGINT) AS n_before,
       CAST(COALESCE((SELECT SUM(n) FROM moves m WHERE m.a = s.shard), 0) AS BIGINT) AS n_after,
       CAST(COALESCE((SELECT SUM(n) FROM moves m WHERE m.a = s.shard AND m.b <> m.a), 0) AS BIGINT) AS n_in,
       CAST(COALESCE((SELECT SUM(n) FROM moves m WHERE m.b = s.shard AND m.b <> m.a), 0) AS BIGINT) AS n_out
FROM spine s
"""


QUERIES = {
    "hivf_cell_balance": hivf_cell_balance,
    "key_skew_audit": key_skew_audit,
    "lsh_tuning_curve": lsh_tuning_curve,
    "output_file_plan": output_file_plan,
    "ivf_cell_balance": ivf_cell_balance,
    "zorder_file_layout": zorder_file_layout,
    "salted_hot_key_join": salted_hot_key_join,
    "zorder_pruning_gain": zorder_pruning_gain,
    "embedding_coverage_audit": embedding_coverage_audit,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "rendezvous_sharding": rendezvous_sharding,
}

ORACLE_SQL = {
    "hivf_cell_balance": _hivf_cell_balance_sql(),
    "dedup_threshold_sweep": _dedup_threshold_sweep_sql(),
    "key_skew_audit": KEY_SKEW_AUDIT_SQL,
    "lsh_tuning_curve": _lsh_tuning_curve_sql(),
    "output_file_plan": OUTPUT_FILE_PLAN_SQL,
    "ivf_cell_balance": _ivf_cell_balance_sql(),
    "zorder_file_layout": ZORDER_FILE_LAYOUT_SQL,
    "salted_hot_key_join": SALTED_HOT_KEY_JOIN_SQL,
    "zorder_pruning_gain": ZORDER_PRUNING_GAIN_SQL,
    "embedding_coverage_audit": EMBEDDING_COVERAGE_AUDIT_SQL,
    "rendezvous_sharding": _rendezvous_sharding_sql(),
}
