"""Benchmark harness (driver contract) and the repo's one measurement path.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced by hashing EVERY output column into a 1-row
aggregate (xxhash64 over string-cast columns, summed). A bare count()
would let Catalyst prune unreferenced projections (decimal sums, tfidf
logs would never execute) and under-measure; the hash forces every
value to materialize while still collecting only one row.

The measurement primitives live here and nowhere else: `force` (that
forcing action), `exec_totals` (deterministic job/stage/task/shuffle
counters), `warm_up` (the untimed JVM, first-query and stream warm-up)
and `measure` (one cold, timed, counted query; a stream query also
records its micro-batch progress through perfbench's stream listener).
tools/profile_queries.py is a CLI over them, so its numbers compare
with BENCH_full_r*.json.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from capstone_etl_spark.session import get_spark, release_caches
from perfbench.spans import stream_listener, stream_totals
from pyspark.sql import functions as F

# Headline set: the queries bench times, each compared per query with
# the prior round's BENCH_full. It spans the reference-parity text
# pipeline (wikibooks_docs is the reference's whole job in one query),
# the heavy relational shapes and the heavy queries of each operator
# family. The stream_* entries run a real Structured Streaming job end
# to end; PLANS.md has no plan dump for them because a streaming sink
# has no stable batch plan to record. Keep the order: the first name is
# the warm-up query.
HEADLINE = [
    "tf_per_doc",
    "doc_stats",
    "inverted_index",
    "sparse_vectors",
    "tf_idf",
    "wikibooks_docs",
    "pricing_summary",
    "top_customers",
    "revenue_by_nation",
    "orders_per_customer_rank",
    "order_date_rollup",
    "dedup_minhash_lsh",
    "corpus_pipeline",
    "sequence_packing_greedy",
    "semantic_dedup",
    "quality_filter_funnel",
    "unigram_logprob",
    "kmv_distinct_shingles",
    "bigram_lm_perplexity",
    "min_cost_supplier",
    "pca_power_iteration",
    "feature_hashing_vectors",
    "training_shuffle",
    "hierarchy_rollup",
    "dsir_importance",
    "cooccurrence_triangles",
    "pii_redaction",
    "boilerplate_lines",
    "ann_ivf_pq_topk",
    "event_scd_intervals",
    "bt_source_ratings",
    "template_extraction",
    "matryoshka_recall",
    "bpe_encode",
    "unigram_tokenizer",
    "training_manifest",
    "event_changelog_apply",
    "dedup_threshold_sweep",
    "kmeans_silhouette",
    "corpus_cube",
    "multimodal_phash_dedup",
    "dedup_sorted_neighborhood",
    "semantic_decontamination",
    "curriculum_schedule",
    "source_loso_influence",
    "ivf_cell_medoids",
    "ann_hivf_topk",
    "hivf_cell_medoids",
    "kll_quantile_sketch",
    "kll_sketch_merge",
    "stream_kll_sketch",
    "stream_training_manifest",
    "semantic_dedup_hier",
    "stream_ann_hivf_topk",
    "hivf_cell_balance",
    "bitext_mining",
    "pq_hier_distortion_audit",
    "ann_hivf_pq_topk",
    "stream_ann_hivf_pq_topk",
    "heaps_law_fit",
    "split_perplexity_gap",
    "association_rules",
    "label_propagation",
    "token_gini",
    "conversion_survival",
    "event_seasonality",
    "negative_sampling_table",
    "rendezvous_sharding",
    "l_diversity_audit",
    "stream_ab_test",
    "dedup_clusters_incremental",
    "stream_conversion_survival",
    "event_frequent_sequences",
    "next_event_examples",
    "span_corruption_masks",
    "kneser_ney_bigram",
    "dataset_card",
    "dp_quantile_release",
    "stream_quantile_sketch",
    "ivf_probe_recall_curve",
    "kmv_set_difference",
    "stream_psi_drift",
    "group_dro_weights",
    "rag_chunk_retrieval",
    "multimodal_caption_pairs",
    "stream_group_dro",
    "event_attribution_credit",
    "event_bot_score",
    "logistic_conversion_model",
    "naive_bayes_source_model",
    "ks_source_drift",
    "stream_ks_drift",
    "woe_feature_bins",
    "conversion_model_calibration",
    "quantile_normalization",
    "markov_next_accuracy",
    "lm_greedy_decode",
    "pq_distortion_audit",
    "rfm_segments",
    "stream_rfm_segments",
    "stream_naive_bayes",
    "bootstrap_ci",
    "conformal_coverage",
    "event_cuped_adjustment",
    "stream_cuped",
    "pareto_frontier_docs",
    "stream_pareto_frontier",
    "event_overdispersion",
    "knn_shapley_values",
    "label_noise_audit",
    "kcenter_coreset",
    "mmr_diversified_topk",
    "label_noise_incremental",
    "stream_label_noise",
    "coreset_coverage_audit",
    "embedding_shift_audit",
    "stream_embedding_shift",
    "stream_coreset_coverage",
    "embedding_curation_manifest",
    "event_double_ewma",
]


def _latest_round_no() -> int:
    """Highest N among driver-recorded BENCH_r{N}.json files (0 when
    none exist). The current run is therefore round N+1."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [0]
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds)


def _prior_round_doc() -> dict:
    """Payload of the most recent benchmark round, for the regression
    gate. Prefers this repo's own full-fidelity BENCH_full_r{N}.json
    (written by main() below — the driver's BENCH_r{N}.json keeps only
    a 2000-char stdout tail, which the 95-query map outgrew in round 8,
    leaving `parsed: null`); falls back to the driver artifact's parsed
    payload. Empty dict when nothing prior exists or nothing parses —
    never raises (VERDICT r8: `parsed: null` must not crash the bench)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds: dict[int, dict[str, str]] = {}
    for kind, pat in (("full", "BENCH_full_r*.json"), ("driver", "BENCH_r*.json")):
        for path in glob.glob(os.path.join(here, pat)):
            m = re.search(r"BENCH(?:_full)?_r(\d+)\.json$", path)
            if m:
                rounds.setdefault(int(m.group(1)), {})[kind] = path
    if not rounds:
        return {}
    # Only rounds the DRIVER has recorded (a BENCH_r{N}.json exists)
    # are eligible priors: bench.py writes BENCH_full_r{N+1} for the
    # CURRENT round before the driver records it, and the driver's own
    # extra runs land there too (the r12 slot held the driver's 8-core
    # scaling run) — without this guard the regression gate would
    # baseline against this round's own partial artifacts instead of
    # the last completed round (VERDICT r11: baselines must be one
    # comparable run's output).
    cur = _latest_round_no()
    eligible = {n: v for n, v in rounds.items() if n <= cur}
    if not eligible:
        return {}
    latest = eligible[max(eligible)]
    for kind in ("full", "driver"):
        path = latest.get(kind)
        if not path:
            continue
        try:
            with open(path) as f:
                doc = json.load(f)
            payload = (doc.get("parsed") or doc) if isinstance(doc, dict) else None
            if isinstance(payload, dict) and payload:
                return payload
        except (OSError, ValueError, TypeError, AttributeError):
            continue
    return {}


def _prior_round_timings() -> dict[str, float]:
    """Per-query seconds from the most recent benchmark round, for the
    regression gate. Empty dict when no prior round exists."""
    q = _prior_round_doc().get("queries")
    return dict(q) if isinstance(q, dict) else {}


def _prior_probe_sec() -> float | None:
    v = _prior_round_doc().get("probe_sec")
    try:
        return float(v) if v else None
    except (ValueError, TypeError):
        return None


# The run config a timing depends on, recorded in BENCH_full_r{N}.json.
CONFIG_KEYS = ("sf", "cpus", "shuffle_partitions")


def _same_config(config: dict | None) -> bool:
    """Whether the prior round ran this config. Only keys the prior
    records are compared (r12 and older carry sf only); no config means
    nothing to compare."""
    if not config:
        return True
    prior = _prior_round_doc()
    return all(prior.get(k) in (None, config[k]) for k in CONFIG_KEYS)


# Queries allowed to regress, each an accepted trade (the reasons are
# kept as history in PLANS.md's bench regression notes).
REGRESSION_OK = frozenset({
    # distributed dense-id vocabulary; fixed vocab-sized overhead,
    # scale-mandatory plan
    "sparse_vectors",
})


def _noted_regressions() -> set[str]:
    return set(REGRESSION_OK)


# Per-query regression gate vs the prior round (VERDICT r3 #6): warn at
# >1.25x, fail at >1.5x unless REGRESSION_OK names the query. Sub-second
# priors are skipped (scheduling jitter dominates).
#
# Ratios are HOST-NORMALIZED: rounds run on whatever machine the driver
# lands on, and a slower host moves every query by the same factor — raw
# wall-clock compare would fail the whole round on a hardware change
# (observed r3→r4: a uniform ~1.5x across pure scans and shuffles
# alike). The host factor is calibrated from a FIXED PROBE — a
# spark.range workload of built-ins that never touches engine code, so
# its round-over-round ratio measures the machine, not the engine
# (ADVICE r4 #2: a median-of-ratios normalization would absorb a
# uniform engine-wide regression into the 'host factor'; the probe
# cannot). The probe time is emitted in the bench JSON (probe_sec) so
# the next round can ratio against it.
WARN_RATIO = 1.25
FAIL_RATIO = 1.5
MIN_PRIOR_SEC = 0.5
# Absolute floor for FAILING (warns still print): per-query cold wall
# includes ~1-2s of codegen compile + scheduling jitter regardless of
# query size, so a ratio on a small delta is noise, not signal.
MIN_FAIL_DELTA_SEC = 2.0


def exec_totals(spark) -> dict | None:
    """Cumulative execution counters from the AppStatusStore (VERDICT
    r11 #2: put counters in the bench contract so perf verdicts stop
    hinging on the host probe): jobs, stages (every stage in
    stageList, skipped ones included), tasks, shuffle read/write bytes
    (executor totals). The jobs, tasks and shuffle-byte deltas match
    the query's own job-tag counts (perfbench.spans.tagged_counters);
    stages do not repeat run to run, since stageList also counts the
    stages AQE skips, and a query's first call in a session can run an
    extra build job. A counter claim therefore rests on jobs, tasks
    and shuffle bytes taken after one warm call, and on value sets
    over repeated calls for a query whose counts still move (an IVF
    stream twin's jobs moved by one between warm calls). Cheap by
    construction — two list-size calls plus the per-executor totals
    (one object in local mode), never a per-element iteration, so
    capturing between queries costs microseconds and nothing inside
    the timed region. Returns None if the py4j surface drifts
    (counters then just drop out of the JSON — additions-only
    contract)."""
    try:
        store = spark._jsc.sc().statusStore()
        n_jobs = store.jobsList(None).size()
        # Spark 4.1 stageList has no default-arg form in bytecode:
        # (statuses, details, withSummaries, unsortedQuantiles, taskStatus)
        jvm = spark._jvm
        n_stages = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            spark.sparkContext._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        ).size()
        tasks = shuf_r = shuf_w = 0
        eit = store.executorList(False).iterator()
        while eit.hasNext():
            e = eit.next()
            tasks += e.completedTasks()
            shuf_r += e.totalShuffleRead()
            shuf_w += e.totalShuffleWrite()
        return {
            "jobs": n_jobs,
            "stages": n_stages,
            "tasks": tasks,
            "shuffle_read": shuf_r,
            "shuffle_write": shuf_w,
        }
    except Exception:
        return None


def force(df) -> tuple[int, int]:
    """Materialize every value of `df` into one collected row: (row
    count, decimal sum of the per-row xxhash64 over all columns)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: long would overflow under ANSI mode
        F.sum(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return row.n, int(row.h or 0)


def measure(spark, name: str, sf_dir: str) -> tuple[float, int, dict | None]:
    """Build and force query `name` cold: (seconds, rows, counters).
    Query-scoped caches/checkpoints are released after the timed
    section, so each query is measured cold and memory stays flat; the
    counters are the exec_totals delta around the whole call, captured
    outside the timed window (None if the py4j surface drifts). A
    `stream_*` query runs under perfbench's stream listener and its
    counters gain a `stream` entry: `stream_totals` over its
    micro-batches (trigger/addBatch/state-commit seconds, state rows)."""
    query = entrymod.queries()[name]
    is_stream = name.startswith("stream_")
    before = exec_totals(spark)
    with (stream_listener(spark) if is_stream else contextlib.nullcontext()) as lis:
        t0 = time.perf_counter()
        rows, _ = force(query(spark, sf_dir))
        sec = round(time.perf_counter() - t0, 3)
    release_caches()
    after = exec_totals(spark)
    counters = {k: after[k] - before[k] for k in after} if before and after else None
    if counters is not None and lis is not None:
        counters["stream"] = stream_totals(lis.progress)
    return sec, rows, counters


def warm_up(spark, sf_dir: str, first_query: str | None) -> None:
    """Untimed warm-up, so no measured query absorbs one-time startup
    cost that is not query work."""
    # parquet footer reads, whole-stage codegen compilation, one
    # shuffle exchange and one broadcast
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    warm = spark.range(100_000).select(
        (F.col("id") % 97).alias("k"), F.md5(F.col("id").cast("string")).alias("s")
    )
    warm.groupBy("k").agg(F.count("*"), F.sum(F.xxhash64("s").cast("decimal(38,0)"))).collect()
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).count()
    # The first query's exact lineage: the generic warm-up compiles
    # range/join codegen but NOT the parquet+tokenize+explode classes
    # the first real query needs — the r5 driver run charged ~6s of
    # that one-time compilation to tf_per_doc and doc_stats and tripped
    # the regression gate on a measurement artifact, not a plan change.
    if first_query:
        force(entrymod.queries()[first_query](spark, sf_dir))
        release_caches()
    # The streaming machinery (r11): the first stream_* query used to
    # absorb the one-time micro-batch-planner / state-store /
    # streaming-codegen compilation — ~6-9 s of stream_ab_test's cold
    # time vs its own warm re-run. One stateful aggregation drained
    # through the stream harness compiles that path untimed; the cost
    # is one-time per session, not per query (OPTIMIZATION_r11.md).
    from capstone_etl_spark.streaming import drain_staged

    drain_staged(
        spark, sf_dir, "events", lambda stream, staged: stream.groupBy("event_type").count(),
        "complete",
    ).collect()
    # The Python workers: started here, so the first pandas-backed
    # query measured (mapInPandas, applyInPandasWithState) does not
    # absorb their start-up. One identity pass on every slot.
    spark.range(0, 64, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda batches: batches, "id long"
    ).collect()


def _host_probe(spark) -> float:
    """Fixed engine-independent workload (range → hash → groupBy →
    sort): its wall-clock depends on the machine only, so the ratio to
    the prior round's probe_sec IS the host factor. Min of two runs to
    damp scheduling jitter."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        df = spark.range(2_000_000).select(
            (F.col("id") % 1000).alias("k"),
            F.md5(F.col("id").cast("string")).alias("s"),
        )
        df.groupBy("k").agg(
            F.sum(F.xxhash64("s").cast("decimal(38,0)")).alias("h")
        ).orderBy("k").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _host_factor(timings: dict[str, float], probe_sec: float, emit: bool = True) -> float:
    """probe_sec / the prior round's probe_sec, floored at 1.0 — a
    faster host never excuses a regression. 1.0 without a prior probe."""
    import statistics

    prior_probe = _prior_probe_sec()
    if not prior_probe:
        return 1.0
    host = probe_sec / prior_probe
    if emit:
        print(
            f"# host factor {host:.2f}x (probe {prior_probe:.2f}s -> {probe_sec:.2f}s)",
            file=sys.stderr,
        )
        prior = _prior_round_timings()
        raw = [now / prior[k] for k, now in timings.items() if (prior.get(k) or 0) >= MIN_PRIOR_SEC]
        median = statistics.median(raw) if len(raw) >= 5 else 0.0
        if median > host * WARN_RATIO:
            print(
                f"# warn: median query ratio {median:.2f}x exceeds "
                f"probe-derived host factor {host:.2f}x — engine-wide slowdown, not hardware",
                file=sys.stderr,
            )
    return max(host, 1.0)


def _over_warn(
    timings: dict[str, float], probe_sec: float, config: dict | None, emit: bool
) -> list[tuple[str, float, float, float, bool]]:
    """(name, prior sec, sec, host-normalized ratio, fails) for every
    gated query past WARN_RATIO. Empty when the prior round ran another
    config: its timings are no baseline for this run (a scale-point
    corpus from tools/gen_scale_corpus.py, or the driver's 8-core run
    against a 32-core prior)."""
    if not _same_config(config):
        if emit:
            print("# regression gate skipped: the prior round ran another config", file=sys.stderr)
        return []
    prior = _prior_round_timings()
    noted = _noted_regressions()
    host = _host_factor(timings, probe_sec, emit=emit)
    out = []
    for name, now in timings.items():
        was = prior.get(name)
        if not was or was < MIN_PRIOR_SEC:
            continue
        ratio = (now / was) / host
        if ratio > WARN_RATIO:
            fails = ratio > FAIL_RATIO and (now - was) > MIN_FAIL_DELTA_SEC and name not in noted
            out.append((name, was, now, ratio, fails))
    return out


def _fail_candidates(
    timings: dict[str, float], probe_sec: float, config: dict | None = None
) -> list[str]:
    """Queries whose timing would trip the FAIL gate. Run BEFORE the
    JSON line is printed, so main() can re-measure each candidate once
    and keep the min — a one-off host stall (GC pause, page-cache
    eviction, a co-tenant burst) lands on one observation of one
    query, so a transient cannot strike the same query twice, while a
    genuine plan regression reproduces on the immediate re-run
    (VERDICT r6: a mid-sequence stall timed revenue_by_nation at 8.64s
    vs a clean 1.44s and failed the whole round)."""
    return [name for name, *_, fails in _over_warn(timings, probe_sec, config, False) if fails]


def _regression_gate(
    timings: dict[str, float], probe_sec: float, config: dict | None = None
) -> int:
    failures = 0
    for name, was, now, ratio, fails in _over_warn(timings, probe_sec, config, True):
        if fails:
            print(
                f"# REGRESSION {name}: {was:.3f}s -> {now:.3f}s ({ratio:.2f}x) "
                f"— add {name} to bench.REGRESSION_OK if intended",
                file=sys.stderr,
            )
            failures += 1
        else:
            print(f"# warn {name}: {was:.3f}s -> {now:.3f}s ({ratio:.2f}x)", file=sys.stderr)
    return failures


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    config = {
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0,
        "cpus": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [n for n in sys.argv[1:] if n in qs]
    warm_up(spark, sf_dir, names[0] if names else None)
    # the host-calibration probe runs warmed, before the timed queries
    probe_sec = _host_probe(spark)

    timings: dict[str, float] = {}
    # per-query deterministic counters (jobs/stages/tasks/shuffle
    # bytes): host-noise-free evidence the next round's PERF compare
    # can attribute deltas to plan changes vs hardware (VERDICT r11
    # produced 4 phantom regressions from a probe that swung 2.6x).
    counters: dict[str, dict] = {}
    for name in names:
        timings[name], n_rows, c = measure(spark, name, sf_dir)
        if c is not None:
            counters[name] = c
        print(f"# {name}: {timings[name]:.3f}s ({n_rows} rows)", file=sys.stderr)

    # transient screen (VERDICT r6): any query that would FAIL the
    # regression gate is re-measured once and the min kept — a host
    # transient lands on one observation and won't strike the same
    # query twice; a real plan regression reproduces immediately. Runs
    # BEFORE the JSON line so the recorded timings are the screened
    # ones (next round's gate compares against honest numbers).
    for name in _fail_candidates(timings, probe_sec, config):
        resec, _, _ = measure(spark, name, sf_dir)
        print(
            f"# retime {name}: {timings[name]:.3f}s -> {resec:.3f}s (min kept)",
            file=sys.stderr,
        )
        timings[name] = min(timings[name], resec)
    total = round(sum(timings.values()), 3)
    # Full-fidelity artifact: the driver keeps only a 2000-char stdout
    # tail, which a 95-query map outgrows (round 8's BENCH_r08.json came
    # back `parsed: null`). The complete per-query map therefore goes to
    # a committed BENCH_full_r{N}.json (N = latest driver round + 1);
    # the stdout JSON line stays small — totals plus the top-10 slowest.
    full_doc = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        **config,
        "probe_sec": probe_sec,
        "n_queries": len(timings),
    }
    if counters:
        # additions-only: a sibling key, never new entries in the
        # `queries` seconds map (the driver reads that map as per-query
        # seconds for its round-over-round speedups)
        full_doc["counters"] = counters
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_full_r{_latest_round_no() + 1}.json",
    )
    try:
        with open(full_path, "w") as f:
            json.dump(full_doc, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as exc:  # read-only checkout: still emit stdout line
        print(f"# BENCH_full write failed: {exc}", file=sys.stderr)
    slowest = dict(
        sorted(((k, round(v, 2)) for k, v in timings.items()), key=lambda kv: -kv[1])[:10]
    )
    line_doc = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": config["sf"],
        "probe_sec": round(probe_sec, 3),
        "n_queries": len(timings),
        "full": os.path.basename(full_path),
    }
    if counters:
        # compact counters for the top-10 only — the driver keeps a
        # bounded stdout tail, so the line must stay small; the full
        # per-query map lives in BENCH_full_r{N}.json. Array order:
        # [jobs, stages, tasks, shuffle_read, shuffle_write] (a stream
        # query's `stream` progress stays in BENCH_full only).
        line_doc["counters"] = {
            k: [v for c, v in counters[k].items() if c != "stream"]
            for k in slowest
            if k in counters
        }
    print(json.dumps(line_doc))
    # after the JSON line (driver contract kept): nonzero exit on an
    # unexplained per-query regression vs the prior round
    failures = _regression_gate(timings, probe_sec, config)
    if failures and os.environ.get("SPARK_GRAFT_BENCH_GATE", "1") != "0":
        sys.exit(2)


if __name__ == "__main__":
    main()
