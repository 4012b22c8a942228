"""Invariant tests for the round-7 session-5 operators: rendezvous
(HRW) sharding, leave-one-source-out LM influence, and the per-cell
medoid coreset — plus a full numpy third-engine recomputation of the
medoid table (independent of BOTH Spark and DuckDB)."""

from __future__ import annotations

import hashlib
import math


SF_01 = "/root/testdata/sf0.01"


# --------------------------------------------------- rendezvous sharding


def test_rendezvous_ledger_is_conservative(spark, sf_dir):
    """Both assignments cover every document exactly once, and the
    per-shard in/out columns reconcile with the before/after counts."""
    from capstone_etl_spark.operators.scaleaudit import rendezvous_sharding
    from capstone_etl_spark.sources.tables import load_table

    rows = {r.shard: r for r in rendezvous_sharding(spark, SF_01).collect()}
    n_docs = load_table(spark, SF_01, "documents").count()
    assert sum(r.n_before for r in rows.values()) == n_docs
    assert sum(r.n_after for r in rows.values()) == n_docs
    for r in rows.values():
        assert r.n_after == r.n_before + r.n_in - r.n_out


def test_rendezvous_minimal_churn_property(spark):
    """THE property rendezvous hashing is chosen for: growing S → S+1
    moves documents ONLY into the new shard (no old↔old migration),
    the new shard starts empty, and the moved fraction concentrates
    near 1/(S+1)."""
    from capstone_etl_spark.operators.scaleaudit import (
        HRW_SHARDS,
        HRW_SHARDS_AFTER,
        rendezvous_sharding,
    )

    rows = {r.shard: r for r in rendezvous_sharding(spark, SF_01).collect()}
    new = HRW_SHARDS_AFTER - 1
    assert rows[new].n_before == 0
    # no pre-existing shard gains a document; all moves target the new one
    for s in range(HRW_SHARDS):
        assert rows[s].n_in == 0
    assert rows[new].n_in == rows[new].n_after
    assert sum(rows[s].n_out for s in range(HRW_SHARDS)) == rows[new].n_after
    total = sum(r.n_after for r in rows.values())
    churn = rows[new].n_after / total
    expected = 1.0 / HRW_SHARDS_AFTER
    assert abs(churn - expected) < 3 * math.sqrt(expected * (1 - expected) / total)


def test_rendezvous_owner_matches_python_hrw(spark):
    """The Spark argmax owner for a sample of doc ids equals a direct
    python recomputation of the HRW rule (hashlib md5, smaller-shard
    tiebreak)."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.operators.scaleaudit import (
        HRW_SALT,
        HRW_SHARDS,
        _hrw_owner,
    )
    from capstone_etl_spark.sources.tables import load_table

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def owner_py(doc_id: int, n: int) -> int:
        scores = [(-h60(f"{HRW_SALT}{s}:{doc_id}"), s) for s in range(n)]
        return min(scores)[1]

    docs = load_table(spark, SF_01, "documents").select("doc_id").limit(64)
    got = {
        r.doc_id: r.b
        for r in docs.select("doc_id", _hrw_owner(HRW_SHARDS).alias("b")).collect()
    }
    for doc_id, b in got.items():
        assert b == owner_py(doc_id, HRW_SHARDS)


# ------------------------------------------- leave-one-source-out LM


def test_loso_accounts_every_token_and_novelty_nonneg(spark):
    """Per-source token counts sum to the corpus total (no token is
    dropped or double-counted), and removing a source never makes its
    own text MORE predictable: novelty ≥ 0 for every source."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.corpus import source_loso_influence
    from capstone_etl_spark.sources.tables import load_table

    out = source_loso_influence(spark, SF_01).collect()
    corpus_total = (
        load_table(spark, SF_01, "documents")
        .select(F.explode(tokenize("text")).alias("t"))
        .count()
    )
    assert sum(r.n_tokens for r in out) == corpus_total
    # -1e-6 absorbs the independent 6-decimal rounding of the two nll
    # columns; the unrounded quantity is provably observed ≥ 0 here
    assert all(r.novelty >= -1e-6 for r in out)
    assert all(math.isfinite(r.nll_self) and math.isfinite(r.nll_holdout) for r in out)


def test_loso_matches_python_lm(spark):
    """Full python recomputation of both NLL columns for every source
    at sf0.001 (third engine: collections.Counter + math.log)."""
    from collections import Counter

    from capstone_etl_spark.operators.corpus import LOSO_ALPHA, source_loso_influence
    from capstone_etl_spark.sources.tables import load_table
    from capstone_etl_spark.functions.text import tokenize
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "documents")
        .select("source", F.explode(tokenize("text")).alias("token"))
        .collect()
    )
    cst: dict[str, Counter] = {}
    for r in rows:
        cst.setdefault(r.source, Counter())[r.token] += 1
    ct = Counter()
    for c in cst.values():
        ct.update(c)
    n = sum(ct.values())
    v = len(ct)
    a = LOSO_ALPHA
    got = {r.source: r for r in source_loso_influence(spark, sf).collect()}
    assert set(got) == set(cst)
    for src, c in cst.items():
        n_s = sum(c.values())
        nll_self = -sum(
            cnt * math.log((ct[t] + a) / (n + a * v)) for t, cnt in c.items()
        ) / n_s
        nll_held = -sum(
            cnt * math.log((ct[t] - cnt + a) / (n - n_s + a * v))
            for t, cnt in c.items()
        ) / n_s
        assert abs(got[src].nll_self - nll_self) < 1e-4
        assert abs(got[src].nll_holdout - nll_held) < 1e-4
        assert got[src].n_tokens == n_s


# ----------------------------------------------------- A/B analysis


def test_ab_test_matches_python_recompute(spark, sf_dir):
    """Full python recomputation at sf0.001: hash assignment, first
    'view' exposure, strictly-post-exposure 'purchase' conversion, and
    the pooled two-proportion z."""
    from capstone_etl_spark.operators.events import (
        AB_SALT,
        AB_VARIANTS,
        ab_test_analysis,
    )
    from capstone_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").collect()
    first_view: dict[int, object] = {}
    for r in ev:
        if r.event_type == "view":
            if r.user_id not in first_view or r.ts < first_view[r.user_id]:
                first_view[r.user_id] = r.ts
    converted = {
        r.user_id
        for r in ev
        if r.event_type == "purchase"
        and r.user_id in first_view
        and r.ts > first_view[r.user_id]
    }

    def variant(uid: int) -> int:
        return int(hashlib.md5(f"{AB_SALT}{uid}".encode()).hexdigest()[:15], 16) % AB_VARIANTS

    n = {0: 0, 1: 0}
    c = {0: 0, 1: 0}
    for uid in first_view:
        v = variant(uid)
        n[v] += 1
        c[v] += uid in converted
    rows = {r.variant: r for r in ab_test_analysis(spark, sf_dir).collect()}
    for v in (0, 1):
        assert rows[v].n_exposed == n[v]
        assert rows[v].n_converted == c[v]
        assert abs(rows[v].conv_rate - c[v] / n[v]) < 1e-6
    p0, p1 = c[0] / n[0], c[1] / n[1]
    pooled = (c[0] + c[1]) / (n[0] + n[1])
    se = math.sqrt(pooled * (1 - pooled) * (1 / n[0] + 1 / n[1]))
    assert abs(rows[0].abs_lift - (p1 - p0)) < 1e-6
    if se > 0:
        assert abs(rows[0].z_score - (p1 - p0) / se) < 1e-4
        # the z and the lift must carry the same sign
        assert (rows[0].z_score >= 0) == (rows[0].abs_lift >= 0)
    else:  # nobody (or everybody) converted → z undefined → NULL
        assert rows[0].z_score is None


# ----------------------------------------------------- hubness audit


def test_hubness_histogram_reconciles_with_topk(spark, sf_dir):
    """The degree histogram's mass equals the served result set:
    Σ degree·count = |topk| rows, Σ count = distinct neighbors, and
    the constant columns match those sums."""
    from capstone_etl_spark.operators.similarity import ann_ivf_topk, hubness_audit

    rows = hubness_audit(spark, sf_dir).collect()
    topk = ann_ivf_topk(spark, sf_dir)
    n_results = topk.count()
    n_distinct = topk.select("neighbor_id").distinct().count()
    assert sum(r.in_degree * r.n_neighbors for r in rows) == n_results
    assert sum(r.n_neighbors for r in rows) == n_distinct
    assert all(r.n_results == n_results and r.n_distinct == n_distinct for r in rows)
    assert all(r.in_degree >= 1 for r in rows)


# ----------------------------------------------------- Hill tail index


def test_tail_index_matches_python_hill(spark, sf_dir):
    """Full python recomputation of the Hill estimator from the raw
    parquet at sf0.001."""
    import pyarrow.parquet as pq

    from capstone_etl_spark.operators.events import HILL_K, event_tail_index

    vals = sorted(
        (
            v
            for v in pq.read_table(f"{sf_dir}/events.parquet")["value"].to_pylist()
            if v is not None and v > 0
        ),
        reverse=True,
    )[: HILL_K + 1]
    assert len(vals) >= 2
    x_thresh = vals[-1]
    k = len(vals) - 1
    xi = sum(math.log(v) - math.log(x_thresh) for v in vals) / k
    rows = event_tail_index(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.k_used == k
    assert abs(r.x_threshold - x_thresh) < 1e-6
    assert abs(r.hill_xi - xi) < 1e-4
    if xi > 0:
        assert abs(r.tail_alpha - 1.0 / xi) < 1e-3
    else:
        assert r.tail_alpha is None


# ----------------------------------------------------- cell medoids


def _numpy_medoids(sf: str):
    """Independent recomputation of the full medoid table: quantize →
    hash-sample seeds → nearest-seed assignment → per-cell medoid, all
    in numpy/hashlib with the module's constants."""
    import numpy as np
    import pyarrow.parquet as pq

    from capstone_etl_spark.operators.similarity import (
        CENTROID_SCALE,
        HASH_SPACE_INT,
    )

    t = pq.read_table(f"{sf}/embeddings.parquet")
    vec_ids = t["vec_id"].to_numpy()
    emb = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    vq = np.floor(emb * CENTROID_SCALE + 0.5).astype(np.int64)

    h = np.array(
        [int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) for v in vec_ids],
        dtype=np.uint64,
    )
    thresh = int(HASH_SPACE_INT / math.sqrt(max(len(vec_ids), 1)))
    fallback = vec_ids[np.lexsort((vec_ids, h))][0]
    seed_mask = (h < thresh) | (vec_ids == fallback)
    seed_ids = vec_ids[seed_mask]
    seed_vq = vq[seed_mask]

    # nearest seed, tiebreak smaller cell id: iterate seeds in id order
    order = np.argsort(seed_ids)
    seed_ids, seed_vq = seed_ids[order], seed_vq[order]
    d2 = ((vq[:, None, :] - seed_vq[None, :, :]) ** 2).sum(axis=2)
    assign = seed_ids[np.argmin(d2, axis=1)]  # argmin takes first (smallest cell)

    out = {}
    for cell in np.unique(assign):
        m = assign == cell
        ids, pts = vec_ids[m], vq[m]
        tot = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2).sum(axis=1)
        best = np.lexsort((ids, tot))[0]
        out[int(cell)] = (int(ids[best]), int(m.sum()), round(tot[best] / m.sum(), 6))
    return out


def test_medoids_match_numpy(spark, sf_dir):
    """Spark's (cell, medoid, pop, mean_d2) equals the numpy engine's,
    row for row, at sf0.001."""
    from capstone_etl_spark.operators.similarity import ivf_cell_medoids

    want = _numpy_medoids(sf_dir)
    got = {
        r.cell: (r.medoid, r.pop, round(r.mean_d2, 6))
        for r in ivf_cell_medoids(spark, sf_dir).collect()
    }
    assert got == want


# ----------------------------------------------------- Heaps' law fit


def test_heaps_curve_is_monotone_and_complete(spark):
    """Both curve columns are nondecreasing in k, the last checkpoint
    equals the whole corpus (total tokens, full vocabulary), and the
    fitted β lands in the sublinear (0, 1] band with a high r² on the
    Zipf-ish synthetic corpus."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.textstats import heaps_law_fit
    from capstone_etl_spark.sources.tables import load_table

    rows = sorted(heaps_law_fit(spark, SF_01).collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a.cum_tokens <= b.cum_tokens and a.vocab <= b.vocab
    tok = load_table(spark, SF_01, "documents").select(
        F.explode(tokenize("text")).alias("t")
    )
    assert rows[-1].cum_tokens == tok.count()
    assert rows[-1].vocab == tok.distinct().count()
    # the synthetic corpus draws from a tiny fixed vocabulary, so the
    # full vocab is seen by the first checkpoint and the fit reports
    # saturation: β = 0 exactly (and r² NULL — vocab has no variance).
    # Natural text would land β in (0.4, 0.6); the invariant is the
    # sublinear band including the saturated floor.
    assert 0.0 <= rows[0].heaps_beta <= 1.0
    assert rows[0].r2 is None or 0.0 <= rows[0].r2 <= 1.0
    # fit columns are corpus constants: identical on every row
    assert len({(r.heaps_beta, r.heaps_k, r.r2) for r in rows}) == 1


def test_heaps_fit_matches_python_ols(spark):
    """The (β, K, r²) columns equal a direct python least-squares over
    the emitted (cum_tokens, vocab) checkpoints."""
    from capstone_etl_spark.operators.textstats import heaps_law_fit

    rows = heaps_law_fit(spark, "/root/testdata/sf0.001").collect()
    xs = [math.log(r.cum_tokens) for r in rows]
    ys = [math.log(r.vocab) for r in rows]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    k_coef = math.exp((sy - slope * sx) / n)
    assert abs(rows[0].heaps_beta - slope) < 1e-4
    assert abs(rows[0].heaps_k - k_coef) < 1e-3
    var_y = n * syy - sy * sy
    if var_y <= 1e-12:  # vocab constant across checkpoints → r² undefined
        assert rows[0].r2 is None
    else:
        r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * var_y)
        assert abs(rows[0].r2 - r2) < 1e-4


# ----------------------------------------------------- l-diversity


def test_l_diversity_reconciles_with_k_anonymity(spark, sf_dir):
    """Same table, same generalization: both audits must agree on the
    total row count; the l-audit's exposure is monotone in l and its
    coarser QI can never have MORE groups than the k-audit's finer
    (QI + band) grouping."""
    from capstone_etl_spark.operators.privacy import (
        k_anonymity_audit,
        l_diversity_audit,
    )

    lrows = sorted(l_diversity_audit(spark, sf_dir).collect(), key=lambda r: r.l)
    krows = k_anonymity_audit(spark, sf_dir).collect()
    assert lrows[0].n_rows == krows[0].n_rows
    assert lrows[0].n_groups <= krows[0].n_groups
    for a, b in zip(lrows, lrows[1:]):
        assert a.groups_below <= b.groups_below
        assert a.rows_below <= b.rows_below
    for r in lrows:
        assert 0.0 <= r.pct_rows_below <= 1.0


def test_medoids_partition_the_corpus(spark):
    """Cells partition the corpus: pops sum to N, every medoid id is a
    corpus member, cells are distinct, and each medoid is assigned to
    the cell it represents (pop ≥ 1 always includes the medoid)."""
    from capstone_etl_spark.operators.similarity import ivf_cell_medoids
    from capstone_etl_spark.sources.tables import load_table

    rows = ivf_cell_medoids(spark, SF_01).collect()
    n_vec = load_table(spark, SF_01, "embeddings").count()
    assert sum(r.pop for r in rows) == n_vec
    assert len({r.cell for r in rows}) == len(rows)
    assert all(r.pop >= 1 and r.mean_d2 >= 0.0 for r in rows)
    # singleton cells: the medoid is the sole member at distance 0
    for r in rows:
        if r.pop == 1:
            assert r.mean_d2 == 0.0


# ------------------------------------------- negative-sampling table


def test_negative_sampling_slots_partition_the_grid(spark, sf_dir):
    """Slot ranges tile [0, NEG_TABLE_SLOTS) contiguously in
    (tf desc, token) order: each row starts where the previous ended,
    the first starts at 0, the last ends exactly at the grid size, and
    probabilities sum to 1."""
    from capstone_etl_spark.operators.textstats import (
        NEG_TABLE_SLOTS,
        negative_sampling_table,
    )

    rows = sorted(
        negative_sampling_table(spark, SF_01).collect(),
        key=lambda r: (-r.tf, r.token),
    )
    assert rows[0].slot_lo == 0
    assert rows[-1].slot_hi == NEG_TABLE_SLOTS
    for a, b in zip(rows, rows[1:]):
        assert a.slot_hi == b.slot_lo
        assert a.slot_lo <= a.slot_hi
    assert abs(sum(r.prob for r in rows) - 1.0) < 1e-4
    # unigram^0.75 flattens the head: top token's slot share must be
    # strictly below its raw frequency share
    total_tf = sum(r.tf for r in rows)
    assert (rows[0].slot_hi - rows[0].slot_lo) / NEG_TABLE_SLOTS < rows[0].tf / total_tf


# ------------------------------------------------------- PSI drift


def test_psi_is_nonnegative_and_matches_python(spark, sf_dir):
    """PSI terms (p_cur−p_ref)·ln(p_cur/p_ref) are individually ≥ 0,
    so psi ≥ 0 for every type; a full python recomputation at sf0.001
    reproduces every row."""
    from capstone_etl_spark.operators.events import (
        PSI_ALPHA,
        PSI_BINS,
        event_psi_drift,
    )
    from capstone_etl_spark.sources.tables import load_table

    rows = {r.event_type: r for r in event_psi_drift(spark, sf_dir).collect()}
    assert rows and all(r.psi >= 0.0 for r in rows.values())

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts").collect()
    us = [int(r.ts.timestamp() * 1_000_000) for r in ev]
    t_mid = (min(us) + max(us)) / 2.0
    ref = [(r, u) for r, u in zip(ev, us) if u <= t_mid]
    v_lo = min(r.value for r, _ in ref)
    v_hi = max(r.value for r, _ in ref)
    width = (v_hi - v_lo) / PSI_BINS

    def bin_of(v: float) -> int:
        if width <= 0:
            return 0
        return int(max(0, min(PSI_BINS - 1, math.floor((v - v_lo) / width))))

    per: dict[str, list] = {}
    for r, u in zip(ev, us):
        h = per.setdefault(r.event_type, [[0] * PSI_BINS, [0] * PSI_BINS])
        h[0 if u <= t_mid else 1][bin_of(r.value)] += 1
    for et, (rb, cb) in per.items():
        n_ref, n_cur = sum(rb), sum(cb)
        psi = 0.0
        for b in range(PSI_BINS):
            # the engines only emit bins observed in EITHER half
            if rb[b] == 0 and cb[b] == 0:
                continue
            p_r = (rb[b] + PSI_ALPHA) / (n_ref + PSI_ALPHA * PSI_BINS)
            p_c = (cb[b] + PSI_ALPHA) / (n_cur + PSI_ALPHA * PSI_BINS)
            psi += (p_c - p_r) * math.log(p_c / p_r)
        assert rows[et].n_ref == n_ref and rows[et].n_cur == n_cur
        assert abs(rows[et].psi - psi) < 1e-4


# -------------------------------------------- split perplexity gap


def test_split_gap_matches_python_lm(spark, sf_dir):
    """Full python recomputation at sf0.001: salted-hash splits, add-α
    train LM with a +1 OOV class, per-split mean NLL, gap vs train.
    Train's gap is exactly 0."""
    from collections import Counter

    from pyspark.sql import functions as F

    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.quality import GAP_ALPHA, split_perplexity_gap
    from capstone_etl_spark.operators.sampling import split_column
    from capstone_etl_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "documents")
        .select(
            split_column(F.col("doc_id")).alias("split"),
            F.explode(tokenize("text")).alias("token"),
        )
        .collect()
    )
    cst: dict[str, Counter] = {}
    for r in rows:
        cst.setdefault(r.split, Counter())[r.token] += 1
    train = cst.get("train", Counter())
    n_t, v_t, a = sum(train.values()), len(train), GAP_ALPHA
    want = {}
    for split, c in cst.items():
        n_s = sum(c.values())
        nll = -sum(
            k * math.log((train.get(t, 0) + a) / (n_t + a * (v_t + 1)))
            for t, k in c.items()
        ) / n_s
        want[split] = (n_s, nll)
    got = {r.split: r for r in split_perplexity_gap(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for split, (n_s, nll) in want.items():
        assert got[split].n_tokens == n_s
        assert abs(got[split].nll - nll) < 1e-4
        assert abs(got[split].gap - (nll - want["train"][1])) < 1e-4
    assert got["train"].gap == 0.0


# ------------------------------------------------ association rules


def test_association_rules_match_python_model(spark, sf_dir):
    """Full python recomputation at sf0.001: distinct baskets, top-64
    df tokens, pair counts, both rule directions, (lift desc,
    confidence desc, antecedent, consequent) ranking."""
    from collections import Counter
    from itertools import combinations

    from pyspark.sql import functions as F

    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.textstats import (
        AR_TOP_RULES,
        AR_TOP_TOKENS,
        association_rules,
    )
    from capstone_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    rows = docs.select("doc_id", F.array_distinct(tokenize("text")).alias("toks")).collect()
    df = Counter(t for r in rows for t in r.toks)
    top = set(
        t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:AR_TOP_TOKENS]
    )
    n_ab = Counter()
    for r in rows:
        for a, b in combinations(sorted(t for t in r.toks if t in top), 2):
            n_ab[(a, b)] += 1
    rules = []
    for (a, b), n in n_ab.items():
        for ant, con in ((a, b), (b, a)):
            lift = n * float(n_docs) / (df[ant] * df[con])
            conf = n / df[ant]
            rules.append((-lift, -conf, ant, con, n))
    rules.sort()
    want = {
        (ant, con): (n, rnk + 1, round(-nl, 6), round(-nc, 6))
        for rnk, (nl, nc, ant, con, n) in enumerate(rules[:AR_TOP_RULES])
    }
    got = {
        (r.antecedent, r.consequent): (r.n_ab, r.rnk, r.lift, r.confidence)
        for r in association_rules(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (n, rnk, lift, conf) in want.items():
        gn, grnk, glift, gconf = got[k]
        assert gn == n and grnk == rnk
        assert abs(glift - lift) < 1e-5 and abs(gconf - conf) < 1e-5


# ------------------------------------------------ label propagation


def test_label_propagation_matches_python_model(spark, sf_dir):
    """Python recomputation of LP_ROUNDS synchronous mode-propagation
    rounds from the engine's own near-dup pair relation; singleton and
    community-size bookkeeping included."""
    from collections import Counter

    from capstone_etl_spark.operators.dedup import (
        LP_ROUNDS,
        label_propagation,
        ngram_jaccard_pairs,
    )
    from capstone_etl_spark.sources.tables import load_table

    pairs = [(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(spark, sf_dir).collect()]
    nodes = [r.doc_id for r in load_table(spark, sf_dir, "documents").collect()]
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {u: u for u in nodes}
    for _ in range(LP_ROUNDS):
        new = dict(label)
        for u in nodes:
            if u in nbrs:
                votes = Counter(label[v] for v in nbrs[u])
                best = min((-n, l) for l, n in votes.items())[1]
                new[u] = best
        label = new
    sizes = Counter(label.values())
    got = {r.doc_id: (r.community, r.n_members) for r in label_propagation(spark, sf_dir).collect()}
    assert got == {u: (label[u], sizes[label[u]]) for u in nodes}


# --------------------------------------------------------- token Gini


def test_token_gini_matches_python_and_bounds(spark, sf_dir):
    """Gini from the ascending-order formula recomputed in python;
    value in [0, 1); all-equal corpora give (n-1)/n-free ≈ 0."""
    from pyspark.sql import functions as F

    from capstone_etl_spark.functions.text import tokenize
    from capstone_etl_spark.operators.textstats import token_gini
    from capstone_etl_spark.sources.tables import load_table

    xs = sorted(
        r.n
        for r in load_table(spark, sf_dir, "documents")
        .select(F.size(tokenize("text")).alias("n"))
        .collect()
    )
    n, tot = len(xs), sum(xs)
    want = (2.0 * sum((i + 1) * x for i, x in enumerate(xs))) / (n * tot) - (n + 1) / n
    row = token_gini(spark, sf_dir).collect()[0]
    assert row.n_docs == n and row.total_tokens == tot
    assert abs(row.gini - want) < 1e-6
    assert 0.0 <= row.gini < 1.0


# --------------------------------------------- conversion survival


def test_conversion_survival_matches_python_km(spark, sf_dir):
    """Python Kaplan–Meier recomputation at sf0.001: per-user duration
    (first post-exposure purchase, else censor at last event), minute
    buckets, risk sets, stepwise product. Survival is nonincreasing
    and starts ≤ 1."""
    from collections import Counter

    from capstone_etl_spark.operators.events import (
        KM_BUCKET_US,
        conversion_survival,
    )
    from capstone_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").collect()

    def us(ts):
        return int(ts.timestamp() * 1_000_000)

    fv: dict[int, int] = {}
    last: dict[int, int] = {}
    for r in ev:
        t = us(r.ts)
        last[r.user_id] = max(last.get(r.user_id, t), t)
        if r.event_type == "view":
            fv[r.user_id] = min(fv.get(r.user_id, t), t)
    conv: dict[int, int] = {}
    for r in ev:
        t = us(r.ts)
        if r.event_type == "purchase" and r.user_id in fv and t > fv[r.user_id]:
            conv[r.user_id] = min(conv.get(r.user_id, t), t)
    d, c = Counter(), Counter()
    for uid, f in fv.items():
        end = conv.get(uid, last[uid])
        bucket = (end - f) // KM_BUCKET_US
        (d if uid in conv else c)[bucket] += 1
    total = len(fv)
    rows = sorted(conversion_survival(spark, sf_dir).collect(), key=lambda r: r.dur_min)
    assert [r.dur_min for r in rows] == sorted(set(d) | set(c))
    s, seen, absorbed = 1.0, 0, False
    prev_s = 1.0
    for r in rows:
        n_risk = total - seen
        assert r.n_risk == n_risk
        assert r.n_conv == d.get(r.dur_min, 0)
        assert r.n_censored == c.get(r.dur_min, 0)
        if r.n_conv == n_risk:
            absorbed = True
        if absorbed:
            s = 0.0
        elif r.n_conv:
            s *= 1.0 - r.n_conv / n_risk
        assert abs(r.survival - s) < 1e-6
        assert r.survival <= prev_s + 1e-9
        prev_s = r.survival
        seen += r.n_conv + r.n_censored


# ------------------------------------------------------- seasonality


def test_seasonality_shares_and_chi2(spark, sf_dir):
    """Shares sum to 1 per type; chi2 equals the python 24-bin
    recomputation (empty bins contribute their expectation)."""
    from collections import Counter

    from capstone_etl_spark.operators.events import event_seasonality
    from capstone_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").collect()
    obs: dict[str, Counter] = {}
    for r in ev:
        obs.setdefault(r.event_type, Counter())[r.ts.hour] += 1
    rows = event_seasonality(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert set(by_type) == set(obs)
    for et, rs in by_type.items():
        c = obs[et]
        n = sum(c.values())
        assert {r.hour: r.n for r in rs} == dict(c)
        assert abs(sum(r.share for r in rs) - 1.0) < 1e-4
        e = n / 24.0
        chi2 = sum((c.get(h, 0) - e) ** 2 / e for h in range(24))
        assert all(abs(r.chi2 - chi2) < 1e-4 for r in rs)
