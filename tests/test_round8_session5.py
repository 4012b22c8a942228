"""Round-8 session-5 operator tests: U-shaped multi-touch
attribution, the bot-traffic gap-regularity screen, and the in-engine
logistic conversion model — each checked against an independent pure
python model over the sf0.001 events."""

from __future__ import annotations

import math

import pytest


def _py_events(sf_dir):
    import duckdb

    return duckdb.sql(
        f"""SELECT user_id, event_id, epoch_us(ts) AS us,
                   FLOOR(epoch(ts))::BIGINT AS sec, event_type, value
            FROM '{sf_dir}/events.parquet'
            ORDER BY user_id, us, event_id"""
    ).fetchall()


def test_attribution_credit_matches_python(spark, sf_dir):
    """Per-channel credit equals a pure-python U-shaped model, and the
    total credit equals one unit per converting user with >=1 prior
    touch (credit is conserved)."""
    from capstone_etl_spark.operators.events import (
        AB_CONVERT_TYPE,
        ATTR_FIRST,
        ATTR_LAST,
        event_attribution_credit,
    )

    by_user: dict[int, list] = {}
    for u, eid, us, _sec, et, _v in _py_events(sf_dir):
        by_user.setdefault(u, []).append((us, eid, et))
    want: dict[str, list[float]] = {}
    n_convert_users = 0
    for rows in by_user.values():
        conv = [us for us, _, et in rows if et == AB_CONVERT_TYPE]
        if not conv:
            continue
        touches = [et for us, _, et in rows if us < min(conv)]
        if not touches:
            continue
        n_convert_users += 1
        n = len(touches)
        for pos, et in enumerate(touches, start=1):
            if n == 1:
                c = 1.0
            elif n == 2:
                c = 0.5
            elif pos == 1:
                c = ATTR_FIRST
            elif pos == n:
                c = ATTR_LAST
            else:
                c = (1.0 - ATTR_FIRST - ATTR_LAST) / (n - 2)
            want.setdefault(et, []).append(c)
    got = {r.event_type: r for r in event_attribution_credit(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for et, cs in want.items():
        assert got[et].n_touches == len(cs)
        assert got[et].credit == pytest.approx(sum(cs), abs=2e-6)
    total = sum(float(r.credit) for r in got.values())
    assert total == pytest.approx(n_convert_users, abs=1e-4)


def test_bot_score_matches_python(spark, sf_dir):
    """Per-user gap cv and the bot flag equal a pure-python recompute
    on integer-second gaps."""
    from capstone_etl_spark.operators.events import (
        BOT_CV_MAX,
        BOT_MIN_EVENTS,
        event_bot_score,
    )

    by_user: dict[int, list] = {}
    for u, eid, us, sec, _et, _v in _py_events(sf_dir):
        by_user.setdefault(u, []).append(sec)
    got = {r.user_id: r for r in event_bot_score(spark, sf_dir).collect()}
    assert set(got) == set(by_user)
    for u, secs in by_user.items():
        g = [b - a for a, b in zip(secs, secs[1:])]
        r = got[u]
        assert r.n_events == len(secs)
        if not g:
            assert r.mean_gap_sec is None and r.gap_cv is None and r.is_bot == 0
            continue
        assert r.mean_gap_sec == pytest.approx(sum(g) / len(g), abs=1e-6)
        sg, sg2, ng = sum(g), sum(x * x for x in g), len(g)
        if sg > 0:
            cv = math.sqrt(ng * sg2 - sg * sg) / sg
            assert r.gap_cv == pytest.approx(cv, abs=1e-6)
            assert r.is_bot == int(len(secs) >= BOT_MIN_EVENTS and cv < BOT_CV_MAX)
        else:
            assert r.gap_cv is None and r.is_bot == 0


def test_logistic_model_matches_python_gd(spark, sf_dir):
    """The learned weights, log-loss, and accuracy equal an
    independent full-batch GD implementation (float sums — the
    engine's 1e-12 decimal snapping is below the tolerance), and the
    loss actually went down from the w=0 start."""
    from capstone_etl_spark.operators.events import (
        AB_CONVERT_TYPE,
        LOGIT_FAST_SEC,
        LOGIT_LR,
        LOGIT_ROUNDS,
        logistic_conversion_model,
    )

    by_user: dict[int, list] = {}
    for u, _eid, _us, sec, et, v in _py_events(sf_dir):
        by_user.setdefault(u, []).append((sec, et, v))
    feats = []
    for rows in by_user.values():
        secs = [s for s, _, _ in rows]
        cents = sum(round(v * 100) for _, _, v in rows)
        fp = min((s for s, et, _ in rows if et == AB_CONVERT_TYPE), default=None)
        y = 1.0 if fp is not None and fp - min(secs) < LOGIT_FAST_SEC else 0.0
        feats.append(
            (
                y,
                math.log(1.0 + len(rows)),
                math.log(1.0 + cents / 100.0),
                float(len({et for _, et, _ in rows})),
                math.log(1.0 + (max(secs) - min(secs))),
            )
        )
    n = len(feats)
    # z-score each feature exactly as the engine does
    zcols = []
    for j in range(1, 5):
        xs = [f[j] for f in feats]
        m = sum(xs) / n
        var = sum(x * x for x in xs) / n - m * m
        sd = math.sqrt(var) if var > 0 else 1.0
        zcols.append([(x - m) / sd for x in xs])
    feats = [
        (f[0], zcols[0][i], zcols[1][i], zcols[2][i], zcols[3][i])
        for i, f in enumerate(feats)
    ]
    w = [0.0] * 5
    for _ in range(LOGIT_ROUNDS):
        grads = [0.0] * 5
        for y, *x in feats:
            xs = [1.0] + x
            p = 1.0 / (1.0 + math.exp(-sum(wj * xj for wj, xj in zip(w, xs))))
            for j in range(5):
                grads[j] += (p - y) * xs[j]
        w = [wj - LOGIT_LR * gj / n for wj, gj in zip(w, grads)]
    lls = ncorrect = 0.0
    for y, *x in feats:
        xs = [1.0] + x
        p = 1.0 / (1.0 + math.exp(-sum(wj * xj for wj, xj in zip(w, xs))))
        pc = min(max(p, 1e-12), 1.0 - 1e-12)
        lls += -(y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc))
        ncorrect += float(int(p >= 0.5) == int(y))
    got = {r.term: r.value for r in logistic_conversion_model(spark, sf_dir).collect()}
    for term, wj in zip(("bias", "ln_events", "ln_value", "n_types", "ln_span"), w):
        assert got[term] == pytest.approx(wj, abs=1e-5)
    assert got["logloss"] == pytest.approx(lls / n, abs=1e-5)
    assert got["accuracy"] == pytest.approx(ncorrect / n, abs=1e-6)
    assert got["n_users"] == n
    assert got["logloss"] < math.log(2.0)  # better than the w=0 start
    assert 0.0 < sum(y for y, *_x in feats) / n < 1.0  # label has variance


def test_naive_bayes_matches_python(spark, sf_dir):
    """The confusion matrix equals a pure-python multinomial NB with
    the same Laplace smoothing, factored score, and tie-break — and
    the classifier beats source-prior chance on the held-out half."""
    import re
    from collections import Counter

    import duckdb

    from capstone_etl_spark.operators.sampling import split_sql_case
    from capstone_etl_spark.operators.textstats import naive_bayes_source_model

    docs = duckdb.sql(
        f"""SELECT doc_id, source, text,
                   ({split_sql_case('doc_id')}) = 'train' AS is_train
            FROM '{sf_dir}/documents.parquet'"""
    ).fetchall()

    def toks(text):
        return [t for t in re.sub(r"[^a-zA-Z0-9 ]", "", text).lower().split() if t]

    cst: dict[str, Counter] = {}
    nd: Counter = Counter()
    n_tr = 0
    for _did, src, text, is_train in docs:
        if is_train:
            n_tr += 1
            nd[src] += 1
            cst.setdefault(src, Counter()).update(toks(text))
    vocab = {t for c in cst.values() for t in c}
    v = len(vocab)
    want: Counter = Counter()
    for _did, src, text, is_train in docs:
        if is_train:
            continue
        dt = Counter(t for t in toks(text) if t in vocab)
        m = sum(dt.values())
        best = None
        for cand in sorted(nd):
            sc = math.log(nd[cand] / n_tr)
            sc += sum(n * math.log(cst[cand].get(t, 0) + 1) for t, n in dt.items())
            sc -= m * math.log(sum(cst[cand].values()) + v)
            if best is None or sc > best[0] + 1e-9:
                best = (sc, cand)
        want[(src, best[1])] += 1
    got = {
        (r.true_source, r.predicted_source): r
        for r in naive_bayes_source_model(spark, sf_dir).collect()
    }
    assert {k: r.n_docs for k, r in got.items()} == dict(want)
    # note: this synthetic corpus draws text i.i.d. across sources, so
    # chance-level accuracy is the CORRECT answer — the oracle/python
    # agreement above is the semantic check, these are structural:
    assert sum(want.values()) == sum(1 for *_x, tr in docs if not tr)
    assert {p for _t, p in want} <= set(nd)  # predictions ⊆ train sources
    for (t, _p), r in got.items():
        row_total = sum(n for (tt, _), n in want.items() if tt == t)
        assert r.row_share == pytest.approx(r.n_docs / row_total, abs=1e-6)


def test_ks_source_drift_matches_python(spark, sf_dir):
    """Per-source KS statistic equals the classic merged-ECDF
    two-sample D computed in python over (source vs rest) n_chars."""
    import duckdb

    from capstone_etl_spark.operators.textstats import KS_CRIT_COEF, ks_source_drift

    rows = duckdb.sql(
        f"SELECT source, n_chars FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    by_src: dict[str, list[int]] = {}
    for src, L in rows:
        by_src.setdefault(src, []).append(L)
    all_lens = sorted({L for _s, L in rows})
    n_all = len(rows)
    got = {r.source: r for r in ks_source_drift(spark, sf_dir).collect()}
    assert set(got) == set(by_src)
    for src, lens in by_src.items():
        n = len(lens)
        m = n_all - n
        rest = [L for s2, L in rows if s2 != src]
        d = 0.0
        for x in all_lens:
            fs = sum(1 for v in lens if v <= x) / n
            fr = sum(1 for v in rest if v <= x) / m
            d = max(d, abs(fs - fr))
        r = got[src]
        assert r.n_docs == n
        assert r.ks_stat == pytest.approx(d, abs=1e-6)
        crit = KS_CRIT_COEF * math.sqrt(n_all / (n * m))
        assert r.ks_crit == pytest.approx(crit, abs=1e-6)
        assert r.drifted == (d > crit)


def test_woe_feature_bins_matches_python(spark, sf_dir):
    """Per-bin WoE and the feature-level IV equal a pure-python
    recompute over the same fast-conversion features, and bins
    partition each feature's user set."""
    import duckdb

    from capstone_etl_spark.operators.events import (
        _logit_feat_sql,
        WOE_BINS,
        woe_feature_bins,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    feats = con.execute(
        "WITH " + _logit_feat_sql().strip() + " SELECT y, x1, x2, x3, x4 FROM feat"
    ).fetchall()
    cols = {"ln_events": 1, "ln_value": 2, "n_types": 3, "ln_span": 4}
    got = {
        (r.feature, r.bin): r for r in woe_feature_bins(spark, sf_dir).collect()
    }
    pos_t = sum(y for y, *_ in feats)
    neg_t = len(feats) - pos_t
    assert 0 < pos_t < len(feats)
    for feature, ix in cols.items():
        xs = [row[ix] for row in feats]
        lo, hi = min(xs), max(xs)
        cells: dict[int, list[int]] = {}
        for row in feats:
            b = min(WOE_BINS - 1, int((row[ix] - lo) * WOE_BINS / (hi - lo))) if hi > lo else 0
            cells.setdefault(b, [0, 0])
            cells[b][0] += 1
            cells[b][1] += int(row[0])
        iv = sum(
            ((np + 0.5) / pos_t - (nu - np + 0.5) / neg_t)
            * math.log(((np + 0.5) / pos_t) / ((nu - np + 0.5) / neg_t))
            for nu, np in cells.values()
        )
        assert sum(nu for nu, _ in cells.values()) == len(feats)
        for b, (nu, np) in cells.items():
            r = got[(feature, b)]
            assert (r.n_users, r.n_pos) == (nu, np)
            woe = math.log(((np + 0.5) / pos_t) / ((nu - np + 0.5) / neg_t))
            assert r.woe == pytest.approx(woe, abs=1e-6)
            assert r.iv == pytest.approx(iv, abs=1e-6)
    assert len(got) == sum(1 for _ in got)  # no duplicate (feature, bin)


def test_calibration_matches_python(spark, sf_dir):
    """The reliability table equals the python GD model's binned
    predictions, and bucket counts conserve the cohort."""
    from capstone_etl_spark.operators.events import (
        AB_CONVERT_TYPE,
        CAL_BINS,
        LOGIT_FAST_SEC,
        LOGIT_LR,
        LOGIT_ROUNDS,
        conversion_model_calibration,
    )

    by_user: dict[int, list] = {}
    for u, _eid, _us, sec, et, v in _py_events(sf_dir):
        by_user.setdefault(u, []).append((sec, et, v))
    feats = []
    for rows in by_user.values():
        secs = [s for s, _, _ in rows]
        cents = sum(round(v * 100) for _, _, v in rows)
        fp = min((s for s, et, _ in rows if et == AB_CONVERT_TYPE), default=None)
        y = 1.0 if fp is not None and fp - min(secs) < LOGIT_FAST_SEC else 0.0
        feats.append(
            (
                y,
                math.log(1.0 + len(rows)),
                math.log(1.0 + cents / 100.0),
                float(len({et for _, et, _ in rows})),
                math.log(1.0 + (max(secs) - min(secs))),
            )
        )
    n = len(feats)
    zcols = []
    for j in range(1, 5):
        xs = [f[j] for f in feats]
        m = sum(xs) / n
        var = sum(x * x for x in xs) / n - m * m
        sd = math.sqrt(var) if var > 0 else 1.0
        zcols.append([(x - m) / sd for x in xs])
    zfeats = [
        (f[0], zcols[0][i], zcols[1][i], zcols[2][i], zcols[3][i])
        for i, f in enumerate(feats)
    ]
    w = [0.0] * 5
    for _ in range(LOGIT_ROUNDS):
        grads = [0.0] * 5
        for y, *x in zfeats:
            xs = [1.0] + x
            p = 1.0 / (1.0 + math.exp(-sum(wj * xj for wj, xj in zip(w, xs))))
            for j in range(5):
                grads[j] += (p - y) * xs[j]
        w = [wj - LOGIT_LR * gj / n for wj, gj in zip(w, grads)]
    cells: dict[int, list[float]] = {}
    for y, *x in zfeats:
        xs = [1.0] + x
        p = 1.0 / (1.0 + math.exp(-sum(wj * xj for wj, xj in zip(w, xs))))
        b = min(CAL_BINS - 1, int(p * CAL_BINS))
        c = cells.setdefault(b, [0, 0, 0.0])
        c[0] += 1
        c[1] += int(y)
        c[2] += p
    got = {r.bin: r for r in conversion_model_calibration(spark, sf_dir).collect()}
    assert set(got) == set(cells)
    assert sum(r.n_users for r in got.values()) == n
    for b, (nu, nc, sp) in cells.items():
        r = got[b]
        assert (r.n_users, r.n_conv) == (nu, nc)
        assert r.mean_p == pytest.approx(sp / nu, abs=1e-5)
        assert r.frac_conv == pytest.approx(nc / nu, abs=1e-6)
        assert r.gap == pytest.approx(sp / nu - nc / nu, abs=1e-5)


def test_quantile_normalization_matches_python(spark, sf_dir):
    """Each doc's normalized length equals the global value at its
    integer-mapped rank, normalization is monotone within source, and
    per-source normalized distributions span the global range."""
    import duckdb

    from capstone_etl_spark.operators.quality import quantile_normalization

    rows = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    glob = sorted((L, d) for d, _s, L in rows)
    n_all = len(rows)
    by_src: dict[str, list] = {}
    for d, s, L in rows:
        by_src.setdefault(s, []).append((L, d))
    want = {}
    for s, docs in by_src.items():
        docs.sort()
        ns = len(docs)
        for r0, (L, d) in enumerate(docs):
            t = (r0 * (n_all - 1)) // (ns - 1) if ns > 1 else (n_all - 1) // 2
            want[d] = (s, L, glob[t][0])
    got = {r.doc_id: (r.source, r.raw_len, r.norm_len)
           for r in quantile_normalization(spark, sf_dir).collect()}
    assert got == want
    # the lowest- and highest-ranked doc of every source hit the
    # global extremes — the calibration property
    for s, docs in by_src.items():
        if len(docs) > 1:
            norms = sorted(want[d][2] for _L, d in docs)
            assert norms[0] == glob[0][0] and norms[-1] == glob[-1][0]


def test_markov_next_accuracy_matches_python(spark, sf_dir):
    """The confusion rollup equals a pure-python first/second-half
    Markov fit, and every held-out pair is scored exactly once."""
    from capstone_etl_spark.operators.events import markov_next_accuracy

    by_user: dict[int, list] = {}
    for u, eid, us, _sec, et, _v in _py_events(sf_dir):
        by_user.setdefault(u, []).append(et)
    train: dict[str, dict[str, int]] = {}
    ev_pairs = []
    for types in by_user.values():
        n = len(types)
        for i in range(1, n):
            r = i + 1  # 1-based rank of the pair's second event
            if r <= n / 2:
                train.setdefault(types[i - 1], {}).setdefault(types[i], 0)
                train[types[i - 1]][types[i]] += 1
            else:
                ev_pairs.append((types[i - 1], types[i]))
    best = {
        ft: min(cs, key=lambda t: (-cs[t], t)) for ft, cs in train.items()
    }
    want: dict[str, list[int]] = {}
    for ft, tt in ev_pairs:
        if ft not in best:
            continue
        c = want.setdefault(ft, [0, 0])
        c[0] += 1
        c[1] += int(tt == best[ft])
    got = {r.from_type: r for r in markov_next_accuracy(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for ft, (np_, nc) in want.items():
        r = got[ft]
        assert (r.predicted, r.n_pairs, r.n_correct) == (best[ft], np_, nc)
        assert r.accuracy == pytest.approx(nc / np_, abs=1e-6)


def test_lm_greedy_decode_matches_python(spark, sf_dir):
    """The decoded chain equals a pure-python greedy walk over the
    same bigram argmax table, starting at the most frequent token."""
    import re
    from collections import Counter

    import duckdb

    from capstone_etl_spark.operators.textstats import DECODE_STEPS, lm_greedy_decode

    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    uni: Counter = Counter()
    bi: dict[str, Counter] = {}
    for text in texts:
        ws = [w for w in re.sub(r"[^a-zA-Z0-9 ]", "", text).lower().split() if w]
        uni.update(ws)
        for a, b in zip(ws, ws[1:]):
            bi.setdefault(a, Counter())[b] += 1
    cur = min(uni, key=lambda w: (-uni[w], w))
    want = [(0, cur)]
    for k in range(1, DECODE_STEPS + 1):
        if cur not in bi:
            break
        cur = min(bi[cur], key=lambda w: (-bi[cur][w], w))
        want.append((k, cur))
    got = sorted((r.step, r.token) for r in lm_greedy_decode(spark, sf_dir).collect())
    assert got == want


def test_pq_distortion_audit_consistent_with_pq(spark, sf_dir):
    """The audit's totals reconcile with embedding_pq: per-subspace
    MSE sums (scaled back) equal the per-vector reconstruction
    errors' squared sum, every vector appears in every subspace, and
    shares sum to 1."""
    from capstone_etl_spark.operators.similarity import (
        CENTROID_SCALE,
        PQ_M,
        embedding_pq,
        pq_distortion_audit,
    )

    audit = {r.m: r for r in pq_distortion_audit(spark, sf_dir).collect()}
    pq = embedding_pq(spark, sf_dir).collect()
    assert set(audit) == set(range(PQ_M))
    n_vec = len(pq)
    for r in audit.values():
        assert r.n_vectors == n_vec
        assert 0 < r.n_cells_used
        assert 0.0 < r.utilization <= 1.0
    shares = [r.err_share for r in audit.values() if r.err_share is not None]
    assert sum(shares) == pytest.approx(1.0, abs=5e-6)
    # total distortion reconciles with the per-vector recon errors
    total_mse = sum(r.mse * r.n_vectors for r in audit.values())
    total_err2 = sum(r.recon_err**2 for r in pq)
    assert total_mse == pytest.approx(total_err2, rel=1e-3)


def test_rfm_segments_matches_python(spark, sf_dir):
    """Scores equal a pure-python rank-quartile recompute, every score
    is in 1..4, and bucket sizes are balanced to within one rank step."""
    from capstone_etl_spark.operators.events import RFM_BUCKETS, rfm_segments

    by_user: dict[int, list] = {}
    for u, _eid, _us, sec, _et, v in _py_events(sf_dir):
        by_user.setdefault(u, []).append((sec, v))
    mx = max(s for rows in by_user.values() for s, _ in rows)
    base = {
        u: (
            mx - max(s for s, _ in rows),
            len(rows),
            sum(round(v * 100) for _, v in rows),
        )
        for u, rows in by_user.items()
    }
    n = len(base)

    def ranks(key, asc_best):
        order = sorted(base, key=lambda u: (base[u][key], u))
        out = {}
        for r0, u in enumerate(order):
            b = (r0 * RFM_BUCKETS) // n
            out[u] = RFM_BUCKETS - b if asc_best else 1 + b
        return out

    rs, fs, ms = ranks(0, True), ranks(1, False), ranks(2, False)
    got = {r.user_id: r for r in rfm_segments(spark, sf_dir).collect()}
    assert set(got) == set(base)
    for u, r in got.items():
        assert (r.r_score, r.f_score, r.m_score) == (rs[u], fs[u], ms[u])
        assert r.segment == f"{rs[u]}{fs[u]}{ms[u]}"
        assert r.recency_sec == base[u][0]
        assert r.n_events == base[u][1]
        assert r.monetary == pytest.approx(base[u][2] / 100.0, abs=1e-6)
        assert all(1 <= x <= RFM_BUCKETS for x in (r.r_score, r.f_score, r.m_score))


def test_bootstrap_ci_matches_python(spark, sf_dir):
    """The CI bounds equal a pure-python Poisson bootstrap with the
    same salted draws, and the interval brackets the point estimate."""
    import hashlib

    from capstone_etl_spark.operators.events import (
        _POIS_CUM,
        AB_CONVERT_TYPE,
        BOOT_B,
        BOOT_SALT,
        BOOT_UM,
        LOGIT_FAST_SEC,
        bootstrap_ci,
    )

    by_user: dict[int, list] = {}
    for u, _eid, _us, sec, et, _v in _py_events(sf_dir):
        by_user.setdefault(u, []).append((sec, et))
    ys = {}
    for u, rows in by_user.items():
        fp = min((s for s, et in rows if et == AB_CONVERT_TYPE), default=None)
        ys[u] = 1 if fp is not None and fp - min(s for s, _ in rows) < LOGIT_FAST_SEC else 0

    def draw(u, r):
        h = int(hashlib.md5(f"{BOOT_SALT}:{u}:{r}".encode()).hexdigest()[:15], 16)
        x = (h % BOOT_UM) / BOOT_UM
        for k, c in enumerate(_POIS_CUM):
            if x < c:
                return k
        return 8

    rates = []
    for r in range(BOOT_B):
        nw = cw = 0
        for u, y in ys.items():
            w = draw(u, r)
            nw += w
            cw += w * y
        rates.append(cw / nw if nw else 0.0)
    rates.sort()
    lo = rates[int(0.025 * (BOOT_B - 1))]
    hi = rates[int(0.975 * (BOOT_B - 1))]
    row = bootstrap_ci(spark, sf_dir).collect()[0]
    assert row.n_replicates == BOOT_B
    assert row.lo95 == pytest.approx(lo, abs=1e-6)
    assert row.hi95 == pytest.approx(hi, abs=1e-6)
    assert row.point == pytest.approx(sum(ys.values()) / len(ys), abs=1e-6)
    assert row.lo95 <= row.point <= row.hi95
    assert row.lo95 < row.hi95  # a real interval, not degenerate


def test_conformal_coverage_matches_python(spark):
    """q and coverage equal a pure-python split-conformal recompute
    (train-only GD fit, val-set corrected-rank quantile, test-set
    coverage). Runs at sf0.01: the sf0.001 cohort is 15 users and its
    salted val bucket is EMPTY (the operator then returns 0 rows —
    also pinned here)."""
    sf_dir = "/root/testdata/sf0.01"
    from capstone_etl_spark.operators.events import (
        AB_CONVERT_TYPE,
        CONF_ALPHA,
        LOGIT_FAST_SEC,
        LOGIT_LR,
        LOGIT_ROUNDS,
        conformal_coverage,
    )
    from capstone_etl_spark.operators.sampling import split_sql_case

    import duckdb

    splits = dict(
        duckdb.sql(
            f"""SELECT user_id, {split_sql_case('user_id')}
                FROM (SELECT DISTINCT user_id FROM '{sf_dir}/events.parquet')"""
        ).fetchall()
    )
    by_user: dict[int, list] = {}
    for u, _eid, _us, sec, et, v in _py_events(sf_dir):
        by_user.setdefault(u, []).append((sec, et, v))
    rows = {}
    for u, evs in by_user.items():
        secs = [s for s, _, _ in evs]
        cents = sum(round(v * 100) for _, _, v in evs)
        fp = min((s for s, et, _ in evs if et == AB_CONVERT_TYPE), default=None)
        y = 1.0 if fp is not None and fp - min(secs) < LOGIT_FAST_SEC else 0.0
        rows[u] = (
            y,
            math.log(1.0 + len(evs)),
            math.log(1.0 + cents / 100.0),
            float(len({et for _, et, _ in evs})),
            math.log(1.0 + (max(secs) - min(secs))),
        )
    train = [rows[u] for u in rows if splits[u] == "train"]
    n_tr = len(train)
    zs, ms, sds = [], [], []
    for j in range(1, 5):
        xs = [f[j] for f in train]
        m = sum(xs) / n_tr
        var = sum(x * x for x in xs) / n_tr - m * m
        ms.append(m)
        sds.append(math.sqrt(var) if var > 0 else 1.0)

    def zrow(f):
        return [1.0] + [(f[j] - ms[j - 1]) / sds[j - 1] for j in range(1, 5)]

    w = [0.0] * 5
    for _ in range(LOGIT_ROUNDS):
        g = [0.0] * 5
        for f in train:
            xs = zrow(f)
            pr = 1.0 / (1.0 + math.exp(-sum(a * b for a, b in zip(w, xs))))
            for j in range(5):
                g[j] += (pr - f[0]) * xs[j]
        w = [a - LOGIT_LR * b / n_tr for a, b in zip(w, g)]

    def score(f):
        pr = 1.0 / (1.0 + math.exp(-sum(a * b for a, b in zip(w, zrow(f)))))
        return abs(f[0] - pr)

    cal = sorted(
        (score(rows[u]), u) for u in rows if splits[u] == "val"
    )
    n_cal = len(cal)
    k = min(n_cal - 1, math.ceil((1 - CONF_ALPHA) * (n_cal + 1)) - 1)
    q = cal[k][0]
    test = [score(rows[u]) for u in rows if splits[u] == "test"]
    cov = sum(1.0 for s in test if s <= q) / len(test)
    got = conformal_coverage(spark, sf_dir).collect()[0]
    assert got.n_cal == n_cal and got.n_test == len(test)
    assert got.q == pytest.approx(q, abs=1e-6)
    assert got.coverage == pytest.approx(cov, abs=1e-6)
    assert got.alpha == CONF_ALPHA
    # empty calibration bucket -> empty (not wrong) result
    from capstone_etl_spark.operators.events import conformal_coverage as cc

    assert cc(spark, "/root/testdata/sf0.001").count() == 0


def test_cuped_matches_python(spark, sf_dir):
    """theta, adjusted means, and the variance reduction equal a pure
    python CUPED recompute, and the adjustment preserves the pooled
    mean (sum of n*mean_y_adj equals sum of n*mean_y)."""
    import hashlib

    from capstone_etl_spark.operators.events import (
        AB_SALT,
        AB_VARIANTS,
        event_cuped_adjustment,
    )

    by_user: dict[int, list] = {}
    for u, _eid, us, _sec, _et, v in _py_events(sf_dir):
        by_user.setdefault(u, []).append((us, v))
    all_us = [us for rows in by_user.values() for us, _ in rows]
    t_mid = (min(all_us) + max(all_us)) / 2
    pu = {}
    for u, rows in by_user.items():
        x = sum(round(v * 100) for us, v in rows if us <= t_mid) / 100.0
        y = sum(round(v * 100) for us, v in rows if us > t_mid) / 100.0
        var = int(hashlib.md5(f"{AB_SALT}{u}".encode()).hexdigest()[:15], 16) % AB_VARIANTS
        pu[u] = (var, x, y)
    n = len(pu)
    sx = sum(x for _v, x, _y in pu.values())
    sy = sum(y for _v, _x, y in pu.values())
    sxx = sum(x * x for _v, x, _y in pu.values())
    sxy = sum(x * y for _v, x, y in pu.values())
    den = sxx - sx * sx / n
    theta = (sxy - sx * sy / n) / den if den > 0 else 0.0
    x_bar = sx / n
    got = {r.variant: r for r in event_cuped_adjustment(spark, sf_dir).collect()}
    for var in got:
        grp = [(x, y) for v2, x, y in pu.values() if v2 == var]
        m = len(grp)
        xb = sum(x for x, _ in grp) / m
        yb = sum(y for _, y in grp) / m
        var_y = sum(y * y for _, y in grp) / m - yb * yb
        var_x = sum(x * x for x, _ in grp) / m - xb * xb
        cov = sum(x * y for x, y in grp) / m - xb * yb
        var_adj = var_y - 2 * theta * cov + theta * theta * var_x
        r = got[var]
        assert r.n_users == m
        assert r.mean_y == pytest.approx(yb, abs=1e-5)
        assert r.mean_y_adj == pytest.approx(yb - theta * (xb - x_bar), abs=1e-5)
        assert r.var_y == pytest.approx(var_y, rel=1e-5)
        assert r.var_y_adj == pytest.approx(var_adj, rel=1e-5)
        if var_y > 0:
            assert r.var_reduction == pytest.approx((var_y - var_adj) / var_y, abs=1e-4)
    # CUPED is mean-preserving in the pooled cohort
    tot = sum(r.n_users * r.mean_y for r in got.values())
    tot_adj = sum(r.n_users * r.mean_y_adj for r in got.values())
    assert tot_adj == pytest.approx(tot, rel=1e-6)


def test_pareto_frontier_matches_python(spark, sf_dir):
    """The frontier equals a brute-force O(N^2) dominance check in
    python — the naive definition the distributed cumulative-max plan
    must reproduce exactly (including all-ties-survive)."""
    import re

    import duckdb

    from capstone_etl_spark.operators.quality import pareto_frontier_docs

    rows = duckdb.sql(
        f"SELECT doc_id, n_chars, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    pts = []
    for d, L, text in rows:
        ws = {w for w in re.sub(r"[^a-zA-Z0-9 ]", "", text).lower().split() if w}
        pts.append((d, L, len(ws)))
    want = {
        d
        for d, x, y in pts
        if not any(
            (x2 >= x and y2 >= y and (x2 > x or y2 > y)) for _d2, x2, y2 in pts
        )
    }
    got = {r.doc_id: (r.n_chars, r.n_distinct_tokens)
           for r in pareto_frontier_docs(spark, sf_dir).collect()}
    assert set(got) == want
    by_id = {d: (x, y) for d, x, y in pts}
    for d, xy in got.items():
        assert xy == by_id[d]


def test_overdispersion_matches_python(spark, sf_dir):
    """Per-type VMR equals a pure-python recompute over active users,
    and the degenerate-events sweep picks this query up automatically
    (it is event_-prefixed)."""
    from capstone_etl_spark.operators.events import (
        VMR_THRESHOLD,
        event_overdispersion,
    )

    counts: dict[str, dict[int, int]] = {}
    for u, _eid, _us, _sec, et, _v in _py_events(sf_dir):
        counts.setdefault(et, {}).setdefault(u, 0)
        counts[et][u] += 1
    got = {r.event_type: r for r in event_overdispersion(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for et, cu in counts.items():
        cs = list(cu.values())
        n = len(cs)
        mean = sum(cs) / n
        var = sum(c * c for c in cs) / n - mean * mean
        r = got[et]
        assert r.n_users == n
        assert r.mean_count == pytest.approx(mean, abs=1e-6)
        assert r.var_count == pytest.approx(var, abs=1e-5)
        assert r.vmr == pytest.approx(var / mean, abs=1e-5)
        assert r.overdispersed == (var / mean > VMR_THRESHOLD)
