"""Round-11: pure-Python/numpy references for the new operators. Each
test re-derives the statistic from the raw sf0.001 parquet with an
INDEPENDENT formulation (numpy float64 ranks, no floor-scaling, no
shared SQL fragments) so a formula bug shared between the Spark build
and the DuckDB oracle cannot hide."""

import numpy as np
import pytest

from finance_etl_spark import plans
from refs import SF, _fetch, _midranks, _seg_daily_py


def _two_sample_py():
    rows = _fetch(
        "SELECT CAST(o_totalprice AS DECIMAL(12,2)),"
        " CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        f" FROM read_parquet('{SF}/orders.parquet')"
        " WHERE o_orderpriority IN ('1-URGENT', '5-LOW')"
    )
    x = np.array([float(r[0]) for r in rows])
    g = np.array([r[1] for r in rows])
    return x, g


def test_dixon_q_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("stat_dixon_q").build(spark, SF).collect()
    }
    per_seg = {}
    for seg, _, x in _seg_daily_py():
        per_seg.setdefault(seg, []).append(float(x))
    for seg, xs in per_seg.items():
        xs = np.sort(np.array(xs))
        row = got[seg]
        assert row["n_days"] == len(xs)
        gap = xs[-1] - xs[-2]
        rng = xs[-1] - xs[0]
        assert row["gap"] == pytest.approx(gap, rel=1e-12)
        assert row["xrange"] == pytest.approx(rng, rel=1e-12)
        if rng > 0:
            assert row["q_stat"] == pytest.approx(gap / rng, rel=1e-12)


def test_mood_median_matches_numpy(spark):
    row = plans.get("stat_mood_median_test").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(12,2))"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    grp = np.array([r[0] for r in rows])
    x = np.array([float(r[1]) for r in rows])
    n = len(x)
    med = np.sort(x)[(n + 1) // 2 - 1]  # lower median, rank ceil(n/2)
    assert row["pooled_median"] == pytest.approx(med, rel=1e-12)
    above = x > med
    a_tot = int(above.sum())
    assert (row["n"], row["a"]) == (n, a_tot)
    chi2 = 0.0
    for gname in sorted(set(grp)):
        m = grp == gname
        n_g, a_g = int(m.sum()), int(above[m].sum())
        e1 = n_g * a_tot / n
        e0 = n_g * (n - a_tot) / n
        chi2 += (a_g - e1) ** 2 / e1 + ((n_g - a_g) - e0) ** 2 / e0
    assert row["chi2"] == pytest.approx(chi2, rel=1e-9)
    assert row["df"] == len(set(grp)) - 1


def test_cochran_q_matches_reference(spark):
    row = plans.get("stat_cochran_q").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT DISTINCT user_id, event_type"
        f" FROM read_parquet('{SF}/events.parquet')"
    )
    k = len({et for _, et in rows})
    users = {}
    cols = {}
    for u, et in rows:
        users.setdefault(u, set()).add(et)
        cols[et] = cols.get(et, 0) + 1
    t = sum(cols.values())
    sum_cj2 = sum(c * c for c in cols.values())
    sum_ru2 = sum(len(s) ** 2 for s in users.values())
    assert (row["k"], row["t"], row["n_users"]) == (k, t, len(users))
    denom = k * t - sum_ru2
    if denom > 0:
        q = (k - 1) * (k * sum_cj2 - t * t) / denom
        assert row["q_stat"] == pytest.approx(q, rel=1e-12)
    else:
        assert row["q_stat"] is None


def test_bowker_matches_reference(spark):
    row = plans.get("stat_bowker_test").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT o_custkey, EXTRACT(year FROM o_orderdate), o_orderpriority,"
        " COUNT(*)"
        f" FROM read_parquet('{SF}/orders.parquet')"
        " WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)"
        " GROUP BY 1, 2, 3"
    )
    best = {}
    for ck, yr, p, cnt in rows:
        key = (ck, yr)
        cur = best.get(key)
        if cur is None or (-cnt, p) < cur[0]:
            best[key] = ((-cnt, p), p)
    cells = {}
    for ck in {k[0] for k in best}:
        a, b = best.get((ck, 1995)), best.get((ck, 1996))
        if a and b:
            cells[(a[1], b[1])] = cells.get((a[1], b[1]), 0) + 1
    chi2, df, nd = 0.0, 0, 0
    seen = set()
    for (i, j), nij in sorted(cells.items()):
        if i == j or (j, i) in seen:
            continue
        seen.add((i, j))
        nji = cells.get((j, i), 0)
        s = nij + nji
        if s > 0:
            chi2 += (nij - nji) ** 2 / s
            df += 1
            nd += s
    assert (row["df"], row["n_discordant_pairs"]) == (df, nd)
    assert row["chi2"] == pytest.approx(chi2, rel=1e-9)


def test_ansari_bradley_matches_numpy(spark):
    row = plans.get("stat_ansari_bradley").build(spark, SF).collect()[0]
    x, g = _two_sample_py()
    n = len(x)
    mr = _midranks(x)
    s = np.minimum(mr, n + 1 - mr)  # score-of-midrank definition
    ab = s[g == 1].sum()
    n1, n0 = int((g == 1).sum()), int((g == 0).sum())
    assert (row["n1"], row["n0"]) == (n1, n0)
    assert row["ab_stat"] == pytest.approx(ab, rel=1e-12)
    sbar = s.mean()
    var = n1 * n0 * (n * (s * s).sum() - s.sum() ** 2) / (n * n * (n - 1))
    z = (ab - n1 * sbar) / np.sqrt(var)
    assert row["z_stat"] == pytest.approx(z, rel=1e-9)


def test_page_trend_matches_numpy_and_mc_moments(spark):
    row = plans.get("stat_page_trend").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT event_type, CAST(ts AS DATE),"
        " SUM(CAST(FLOOR(value * 1e6) AS DECIMAL(38,0)))"
        f" FROM read_parquet('{SF}/events.parquet') GROUP BY 1, 2"
    )
    days = {}
    for et, d, v in rows:
        days.setdefault(d, []).append((et, int(v)))
    types = sorted({et for et, _, _ in rows})
    k = len(types)
    jidx = {t: i + 1 for i, t in enumerate(types)}
    rj = {t: 0.0 for t in types}
    for d, items in days.items():
        vals = np.array([v for _, v in items], dtype=np.float64)
        ranks = _midranks(vals)
        for (et, _), r in zip(items, ranks):
            rj[et] += r
    ell = sum(jidx[t] * rj[t] for t in types)
    assert row["k"] == k
    assert row["page_l"] == pytest.approx(ell, rel=1e-12)
    n = row["n"]
    mu = n * k * (k + 1) ** 2 / 4
    var = n * k * k * (k + 1) ** 2 * (k - 1) / 144
    assert row["z_stat"] == pytest.approx((ell - mu) / np.sqrt(var), rel=1e-9)
    # Monte-Carlo check of the moment formulas themselves (Page 1963):
    # L under random within-block rank permutations has mean mu and
    # variance var (no ties in the simulated blocks).
    rng = np.random.default_rng(7)
    sims = np.empty(4000)
    base = np.arange(1, k + 1, dtype=np.float64)
    weights = np.arange(1, k + 1, dtype=np.float64)
    for s_i in range(len(sims)):
        tot = 0.0
        for _ in range(int(n)):
            tot += float((weights * rng.permutation(base)).sum())
        sims[s_i] = tot
    assert sims.mean() == pytest.approx(mu, rel=0.01)
    assert sims.var() == pytest.approx(var, rel=0.15)


def test_anderson_darling_matches_numpy(spark):
    row = plans.get("stat_anderson_darling_2s").build(spark, SF).collect()[0]
    x, g = _two_sample_py()
    n1 = int((g == 1).sum())
    n0 = int((g == 0).sum())
    nt = n1 + n0
    vals = np.sort(np.unique(x))
    acc = 0.0
    for v in vals:
        le = x <= v
        b_cum = int(le.sum())
        if b_cum == nt:
            continue
        m_cum = int((le & (g == 1)).sum())
        t_v = int((x == v).sum())
        acc += t_v * (m_cum * nt - n1 * b_cum) ** 2 / (b_cum * (nt - b_cum))
    ad = acc / (n1 * n0)
    assert (row["n"], row["m"]) == (n1, n0)
    # the engine floor-quantizes each term at 1e-6 before the exact sum
    assert row["ad_stat"] == pytest.approx(ad, rel=1e-5, abs=1e-5)


def test_brunner_munzel_matches_scipy_formulation(spark):
    row = plans.get("stat_brunner_munzel").build(spark, SF).collect()[0]
    x, g = _two_sample_py()
    xs, ys = x[g == 1], x[g == 0]  # x = URGENT, y = LOW
    nx, ny = len(xs), len(ys)
    rank_all = _midranks(np.concatenate([xs, ys]))
    rx, ry = rank_all[:nx], rank_all[nx:]
    rank_x_own = _midranks(xs)
    rank_y_own = _midranks(ys)
    sx = ((rx - rank_x_own - rx.mean() + (nx + 1) / 2) ** 2).sum() / (nx - 1)
    sy = ((ry - rank_y_own - ry.mean() + (ny + 1) / 2) ** 2).sum() / (ny - 1)
    # scipy.stats.brunnermunzel's statistic (variance-stabilized form)
    wbfn = (
        nx * ny * (ry.mean() - rx.mean())
        / (nx + ny)
        / np.sqrt(nx * sx + ny * sy)
    )
    p_hat = (ry.mean() - (ny + 1) / 2) / nx
    assert (row["n1"], row["n0"]) == (nx, ny)
    assert row["p_hat"] == pytest.approx(p_hat, rel=1e-9)
    assert row["bm_stat"] == pytest.approx(wbfn, rel=1e-9)


def test_jonckheere_matches_bruteforce(spark):
    row = plans.get("stat_jonckheere_terpstra").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(12,2))"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    groups = {}
    for p, v in rows:
        groups.setdefault(p, []).append(float(v))
    names = sorted(groups)
    jt = 0.0
    for gi in range(len(names)):
        for hi in range(gi + 1, len(names)):
            a = np.array(groups[names[gi]])[:, None]
            b = np.array(groups[names[hi]])[None, :]
            jt += (a < b).sum() + 0.5 * (a == b).sum()
    n = sum(len(v) for v in groups.values())
    assert row["n"] == n
    assert row["jt_u"] == pytest.approx(jt, rel=1e-12)
    e = (n * n - sum(len(v) ** 2 for v in groups.values())) / 4
    var = (
        n * n * (2 * n + 3)
        - sum(len(v) ** 2 * (2 * len(v) + 3) for v in groups.values())
    ) / 72
    assert row["z_stat"] == pytest.approx((jt - e) / np.sqrt(var), rel=1e-9)


# --------------------------------------------------------------------------
# Finance wave


def test_bond_convexity_matches_numpy(spark):
    rows = plans.get("fin_bond_convexity_grid").build(spark, SF).collect()
    assert len(rows) == 25 * 3 * 4
    for r in rows[:40]:
        y, c, m = r["yld"], r["cpn"], r["mat"]
        t = np.arange(1, m + 1, dtype=np.float64)
        cf = np.full(m, c)
        cf[-1] += 1.0
        price = float((cf * (1 + y) ** -t).sum())
        cx = float((t * (t + 1) * cf * (1 + y) ** -(t + 2)).sum()) / price
        assert r["price_q8"] == pytest.approx(price * 1e8, abs=2)
        assert r["convexity_q6"] == pytest.approx(cx * 1e6, abs=2)
        # sanity: convexity positive and grows with maturity
        assert r["convexity_q6"] > 0


def test_twr_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("fin_twr_linked_returns").build(spark, SF).collect()
    }
    rows = _fetch(
        "SELECT c.c_mktsegment, strftime(o.o_orderdate, '%Y-%m'),"
        " SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey GROUP BY 1, 2"
    )
    per = {}
    for seg, ym, x in rows:
        per.setdefault(seg, []).append((ym, float(x)))
    for seg, series in per.items():
        series.sort()
        xs = np.array([v for _, v in series])
        lnk = xs[1:] / xs[:-1]
        twr = float(np.prod(lnk)) - 1
        r = got[seg]
        assert r["n_months"] == len(lnk)
        assert r["twr"] == pytest.approx(twr, rel=1e-9)
        ann = (1 + twr) ** (12.0 / len(lnk)) - 1
        assert r["twr_annualized_q8"] == pytest.approx(ann * 1e8, abs=2)


def test_rachev_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("fin_rachev_ratio").build(spark, SF).collect()
    }
    per_seg = {}
    for seg, d, x in sorted(_seg_daily_py(), key=lambda t: (t[0], t[1])):
        per_seg.setdefault(seg, []).append(float(x))
    for seg, xs in per_seg.items():
        xs = np.array(xs)
        r_int = np.floor((xs[1:] / xs[:-1] - 1) * 1e9).astype(np.int64)
        n = len(r_int)
        q = (n + 19) // 20
        srt = np.sort(r_int)
        top, bot = srt[-q:].sum(), srt[:q].sum()
        row = got[seg]
        assert (row["n"], row["q"]) == (n, q)
        assert row["etg"] == pytest.approx(top / q / 1e9, rel=1e-12)
        assert row["etl"] == pytest.approx(-bot / q / 1e9, rel=1e-12)
        if bot < 0:
            assert row["rachev"] == pytest.approx(top / -bot, rel=1e-12)


def test_risk_parity_matches_numpy(spark):
    rows = plans.get("fin_risk_parity_weights").build(spark, SF).collect()
    per_seg = {}
    for seg, d, x in sorted(_seg_daily_py(), key=lambda t: (t[0], t[1])):
        per_seg.setdefault(seg, []).append(float(x))
    sig = {}
    for seg, xs in per_seg.items():
        xs = np.array(xs)
        r_int = np.floor((xs[1:] / xs[:-1] - 1) * 1e9)
        sig[seg] = float(r_int.std(ddof=1)) / 1e9
    iv_sum = sum(1 / s for s in sig.values())
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert r["sigma"] == pytest.approx(sig[r["segment"]], rel=1e-9)
        assert r["weight"] == pytest.approx(
            (1 / sig[r["segment"]]) / iv_sum, rel=1e-9
        )


def test_drawdown_duration_matches_reference(spark):
    rows = {
        r["segment"]: r
        for r in plans.get("fin_drawdown_duration").build(spark, SF).collect()
    }
    raw = _fetch(
        "SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE),"
        " SUM((CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE -1 END)"
        "     * CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = o.o_custkey GROUP BY 1, 2"
    )
    per = {}
    for seg, d, pnl in raw:
        per.setdefault(seg, []).append((d, int(pnl)))
    for seg, series in per.items():
        series.sort()
        eq = np.cumsum([p for _, p in series])
        peak = np.maximum.accumulate(eq)
        under = eq < peak
        spells = []
        i = 0
        while i < len(under):
            if under[i]:
                j = i
                while j + 1 < len(under) and under[j + 1]:
                    j += 1
                spells.append((j - i + 1, i + 1))  # (len, start_rn 1-based)
                i = j + 1
            else:
                i += 1
        row = rows[seg]
        assert row["n_spells"] == len(spells)
        assert row["days_underwater"] == sum(s for s, _ in spells)
        if spells:
            best = max(spells, key=lambda t: (t[0], -t[1]))
            assert (
                row["longest_spell_days"],
                row["longest_spell_start_rn"],
            ) == best


# --------------------------------------------------------------------------
# Time-series wave


def _seg_daily_sorted():
    per = {}
    for seg, d, x in sorted(_seg_daily_py(), key=lambda t: (t[0], str(t[1]))):
        per.setdefault(seg, []).append((d, float(x)))
    return per


def test_calendar_effects_matches_numpy(spark):
    rows = plans.get("ts_calendar_effects").build(spark, SF).collect()
    per = {}
    for seg, d, x in _seg_daily_py():
        per.setdefault((seg, d.weekday()), []).append(float(x))
    seg_all = {}
    for (seg, wd), xs in per.items():
        seg_all.setdefault(seg, []).extend(xs)
    for r in rows:
        xs = per[(r["segment"], r["weekday"])]
        assert r["n_days"] == len(xs)
        assert r["avg_revenue"] == pytest.approx(np.mean(xs), rel=1e-9)
        assert r["rel_effect"] == pytest.approx(
            np.mean(xs) / np.mean(seg_all[r["segment"]]), rel=1e-9
        )


def test_wape_smape_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("ts_wape_smape").build(spark, SF).collect()
    }
    for seg, series in _seg_daily_sorted().items():
        y = np.array([v for _, v in series])
        yhat, yv = y[:-7], y[7:]
        err = np.abs(yv - yhat)
        wape = err.sum() / yv.sum()
        smape = float(np.mean(2 * err / (yv + yhat)))
        r = got[seg]
        assert r["n_eval"] == len(yv)
        assert r["wape"] == pytest.approx(wape, rel=1e-9)
        assert r["smape"] == pytest.approx(smape, rel=1e-5, abs=1e-6)


def test_dickey_fuller_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("ts_dickey_fuller_stat").build(spark, SF).collect()
    }
    for seg, series in _seg_daily_sorted().items():
        x = np.array([v for _, v in series]) * 100  # cents
        xl, dy = x[:-1], np.diff(x)
        n = len(xl)
        X = np.column_stack([np.ones(n), xl])
        coef, *_ = np.linalg.lstsq(X, dy, rcond=None)
        resid = dy - X @ coef
        sxx = ((xl - xl.mean()) ** 2).sum()
        se = np.sqrt(resid @ resid / (n - 2) / sxx)
        r = got[seg]
        assert r["n"] == n
        assert r["beta"] == pytest.approx(coef[1], rel=1e-6)
        assert r["df_stat"] == pytest.approx(coef[1] / se, rel=1e-6)


def test_seasonal_strength_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("ts_seasonal_strength").build(spark, SF).collect()
    }
    per = {}
    for seg, d, x in _seg_daily_py():
        per.setdefault(seg, []).append((d.weekday(), float(x) * 100))
    for seg, items in per.items():
        v = np.array([x for _, x in items])
        wd = np.array([w for w, _ in items])
        ss_total = ((v - v.mean()) ** 2).sum()
        resid = v.copy()
        for w in set(wd):
            resid[wd == w] -= v[wd == w].mean()
        ss_resid = (resid**2).sum()
        r = got[seg]
        assert r["n"] == len(v)
        assert r["ss_total_dollars2"] == pytest.approx(
            ss_total / 1e4, rel=1e-9
        )
        assert r["ss_resid_dollars2"] == pytest.approx(
            ss_resid / 1e4, rel=1e-9
        )
        assert r["seasonal_strength"] == pytest.approx(
            max(0.0, 1 - ss_resid / ss_total), rel=1e-9
        )


def test_intervention_step_matches_numpy(spark):
    import datetime as dt

    got = {
        r["segment"]: r
        for r in plans.get("ts_intervention_step").build(spark, SF).collect()
    }
    cut = dt.date(1995, 6, 1)
    per = {}
    for seg, d, x in _seg_daily_py():
        per.setdefault(seg, []).append((d >= cut, float(x) * 100))
    for seg, items in per.items():
        pre = np.array([v for p, v in items if not p])
        post = np.array([v for p, v in items if p])
        r = got[seg]
        assert (r["n_pre"], r["n_post"]) == (len(pre), len(post))
        assert r["pre_mean"] == pytest.approx(pre.mean() / 100, rel=1e-9)
        assert r["post_mean"] == pytest.approx(post.mean() / 100, rel=1e-9)
        assert r["lift"] == pytest.approx(
            post.mean() / pre.mean() - 1, rel=1e-9
        )
        t = (post.mean() - pre.mean()) / np.sqrt(
            pre.var(ddof=1) / len(pre) + post.var(ddof=1) / len(post)
        )
        assert r["welch_t"] == pytest.approx(t, rel=1e-9)


# --------------------------------------------------------------------------
# ML-eval wave


def _lineitem_score_label():
    rows = _fetch(
        "SELECT l_quantity, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    s = np.array([float(r[0]) for r in rows])
    y = np.array([r[1] for r in rows])
    return s, y


def test_score_ks_matches_numpy(spark):
    row = plans.get("ml_score_ks").build(spark, SF).collect()[0]
    s, y = _lineitem_score_label()
    pos, neg = np.sort(s[y == 1]), np.sort(s[y == 0])
    best, best_t = -1.0, None
    for t in np.unique(s):
        d = abs(
            (pos <= t).mean() - (neg <= t).mean()
        )
        if d > best + 1e-15:
            best, best_t = d, t
    assert (row["npos"], row["nneg"]) == (len(pos), len(neg))
    assert row["ks_stat"] == pytest.approx(best, rel=1e-12)
    assert float(row["ks_threshold"]) == pytest.approx(best_t)


def test_somers_d_matches_numpy(spark):
    row = plans.get("ml_somers_d").build(spark, SF).collect()[0]
    s, y = _lineitem_score_label()
    pos, neg = s[y == 1], s[y == 0]
    # O(n log n) via sorting unique scores
    c = d = t = 0
    neg_sorted = np.sort(neg)
    for v in pos:
        lo = np.searchsorted(neg_sorted, v, side="left")
        hi = np.searchsorted(neg_sorted, v, side="right")
        c += lo
        d += len(neg_sorted) - hi
        t += hi - lo
    assert (row["n_concordant"], row["n_discordant"], row["n_tied"]) == (
        c,
        d,
        t,
    )
    assert row["somers_d"] == pytest.approx(
        (c - d) / (len(pos) * len(neg)), rel=1e-12
    )
    assert row["gk_gamma"] == pytest.approx((c - d) / (c + d), rel=1e-12)


def test_hosmer_lemeshow_matches_numpy(spark):
    row = plans.get("ml_hosmer_lemeshow").build(spark, SF).collect()[0]
    s, y = _lineitem_score_label()
    p = s / 51.0
    bins = np.minimum(9, ((s - 1) // 5)).astype(int)
    hl = 0.0
    for b in sorted(set(bins)):
        m = bins == b
        n_g, o1, e1 = int(m.sum()), int(y[m].sum()), float(p[m].sum())
        hl += (o1 - e1) ** 2 / (e1 * (1 - e1 / n_g))
    assert row["n_bins"] == len(set(bins))
    assert row["hl_stat"] == pytest.approx(hl, rel=1e-6)


def test_mcc_multiclass_matches_numpy(spark):
    row = plans.get("ml_mcc_multiclass").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT l_returnflag, l_quantity"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    truth = np.array([r[0] for r in rows])
    q = np.array([float(r[1]) for r in rows])
    pred = np.where(q < 17, "A", np.where(q < 34, "N", "R"))
    classes = sorted(set(truth) | set(pred))
    s = len(truth)
    c = int((truth == pred).sum())
    tk = {k: int((truth == k).sum()) for k in classes}
    pk = {k: int((pred == k).sum()) for k in classes}
    sum_tp = sum(tk[k] * pk[k] for k in classes)
    sum_t2 = sum(v * v for v in tk.values())
    sum_p2 = sum(v * v for v in pk.values())
    mcc = (c * s - sum_tp) / np.sqrt((s * s - sum_t2) * (s * s - sum_p2))
    assert (row["n"], row["n_correct"]) == (s, c)
    assert row["mcc"] == pytest.approx(mcc, rel=1e-9)


def test_ips_offpolicy_matches_reference(spark):
    row = plans.get("ml_ips_offpolicy").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT c.c_mktsegment, o.o_orderpriority,"
        " CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = o.o_custkey"
    )
    n = len(rows)
    # per-row IPS with empirical propensities — the definitionally
    # independent formulation the engine's group-level identity must equal
    from collections import Counter

    ctx_n = Counter(r[0] for r in rows)
    act_n = Counter((r[0], r[1]) for r in rows)
    num = w_sum = 0.0
    for ctx, a, r in rows:
        if a == "2-HIGH":
            p = act_n[(ctx, a)] / ctx_n[ctx]
            num += r / p
            w_sum += 1 / p
    assert row["n"] == n
    assert row["ips_value"] == pytest.approx(num / n, rel=1e-9)
    assert row["snips_value"] == pytest.approx(num / w_sum, rel=1e-9)


def test_fbeta_grid_matches_numpy(spark):
    rows = plans.get("ml_fbeta_grid").build(spark, SF).collect()
    s, y = _lineitem_score_label()
    pred = s >= 25
    tp = int((pred & (y == 1)).sum())
    fp = int((pred & (y == 0)).sum())
    fn = int((~pred & (y == 1)).sum())
    p, r = tp / (tp + fp), tp / (tp + fn)
    for row in rows:
        b = row["beta"]
        fb = (1 + b * b) * p * r / (b * b * p + r)
        assert (row["tp"], row["fp"], row["fn"]) == (tp, fp, fn)
        assert row["precision_"] == pytest.approx(p, rel=1e-12)
        assert row["recall_"] == pytest.approx(r, rel=1e-12)
        assert row["fbeta"] == pytest.approx(fb, rel=1e-9)


# --------------------------------------------------------------------------
# Graph / text / misc wave


def _trade_graph_py():
    rows = _fetch(
        "WITH e AS (SELECT s.s_nationkey AS src, c.c_nationkey AS dst,"
        " COUNT(*) AS w"
        f" FROM read_parquet('{SF}/lineitem.parquet') l"
        f" JOIN read_parquet('{SF}/orders.parquet') o"
        " ON l.l_orderkey = o.o_orderkey"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey"
        f" JOIN read_parquet('{SF}/supplier.parquet') s"
        " ON l.l_suppkey = s.s_suppkey GROUP BY 1, 2),"
        " u AS (SELECT LEAST(src,dst) a, GREATEST(src,dst) b, SUM(w) w"
        " FROM e WHERE src <> dst GROUP BY 1, 2),"
        " thr AS (SELECT quantile_cont(w, 0.6) t FROM u)"
        " SELECT a, b FROM u, thr WHERE w >= t"
    )
    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _bfs_dists(adj):
    from collections import deque

    dist = {}
    for s in adj:
        d = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            if d[u] == 5:
                continue
            for v in adj[u]:
                if v not in d:
                    d[v] = d[u] + 1
                    dq.append(v)
        dist[s] = d
    return dist


def test_eccentricity_diameter_matches_bfs(spark):
    rows = {
        r["nationkey"]: r
        for r in plans.get("graph_eccentricity_diameter")
        .build(spark, SF)
        .collect()
    }
    adj = _trade_graph_py()
    dist = _bfs_dists(adj)
    eccs = {}
    for s, d in dist.items():
        reach = {v: dd for v, dd in d.items() if dd > 0}
        eccs[s] = max(reach.values()) if reach else None
    diam = max(e for e in eccs.values() if e is not None)
    rad = min(e for e in eccs.values() if e is not None)
    for s, r in rows.items():
        reach = sum(1 for v, dd in dist[s].items() if dd > 0)
        assert r["reached_5hop"] == reach
        assert r["ecc_5hop"] == eccs[s]
        assert (r["diameter_5hop"], r["radius_5hop"]) == (diam, rad)


def test_path_histogram_matches_bfs(spark):
    row = plans.get("graph_path_length_histogram").build(spark, SF).collect()[
        0
    ]
    adj = _trade_graph_py()
    dist = _bfs_dists(adj)
    n = len(adj)
    cnt = {k: 0 for k in range(1, 6)}
    d_sum = reached = 0
    for s, d in dist.items():
        for v, dd in d.items():
            if dd > 0:
                cnt[dd] += 1
                d_sum += dd
                reached += 1
    assert row["n_nodes"] == n
    assert row["ordered_pairs"] == n * (n - 1)
    for k in range(1, 6):
        assert row[f"d{k}"] == cnt[k]
    assert row["unreached_pairs"] == n * (n - 1) - reached
    assert row["avg_path_length"] == pytest.approx(d_sum / reached, rel=1e-12)


def _corpus_tokens():
    import re

    docs = _fetch(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    pat = re.compile(r"[a-zA-Z0-9_]+")
    return [(i, [t.lower() for t in pat.findall(txt)]) for i, txt in docs]


def test_heaps_curve_matches_reference(spark):
    rows = {
        r["decile"]: r
        for r in plans.get("text_heaps_curve").build(spark, SF).collect()
    }
    docs = sorted(_corpus_tokens())
    max_id = max(i for i, _ in docs)
    for dec in range(1, 11):
        cutoff = (max_id * dec) // 10
        toks = [t for i, ts in docs if i <= cutoff for t in ts]
        r = rows[dec]
        assert r["cum_tokens"] == len(toks)
        assert r["cum_vocab"] == len(set(toks))
    # monotone growth sanity
    assert rows[10]["cum_vocab"] >= rows[1]["cum_vocab"]


def test_ngram_entropy_matches_reference(spark):
    row = plans.get("text_ngram_entropy").build(spark, SF).collect()[0]
    from collections import Counter

    toks = [t for _, ts in _corpus_tokens() for t in ts]
    c = Counter(toks)
    n = len(toks)
    ent = -sum(v * np.log(v / n) for v in c.values()) / n
    simpson = sum(v * v for v in c.values()) / (n * n)
    assert (row["n_tokens"], row["vocab"]) == (n, len(c))
    # engine quantizes ln(p) at 1e-6 per type
    assert row["entropy_nats"] == pytest.approx(ent, abs=1e-5)
    assert row["simpson_repeat_prob"] == pytest.approx(simpson, rel=1e-12)


def test_cosine_histogram_matches_numpy(spark):
    rows = plans.get("vec_cosine_histogram").build(spark, SF).collect()
    recs = _fetch(
        f"SELECT vec_id, embedding FROM read_parquet('{SF}/embeddings.parquet')"
        " ORDER BY vec_id"
    )
    ids = [r[0] for r in recs]
    emb = {r[0]: np.array(r[1], dtype=np.float64) for r in recs}
    n = len(ids)
    bins = {}
    for i in ids:
        j = (i * 7 + 13) % n
        if j == i:
            continue
        a, b = emb[i], emb[j]
        cs = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        k = min(19, int(np.floor((cs + 1) * 10)))
        bins[k] = bins.get(k, 0) + 1
    got = {r["bin"]: r["n_pairs"] for r in rows}
    assert got == bins
    for r in rows:
        assert r["bin_lo"] == pytest.approx(r["bin"] / 10 - 1)


def test_wma_matches_numpy(spark):
    rows = plans.get("window_weighted_moving_avg").build(spark, SF).collect()
    per = _seg_daily_sorted()
    got = {}
    for r in rows:
        got[(r["segment"], str(r["d"]))] = r
    wts = np.arange(7, 0, -1, dtype=np.float64)
    for seg, series in per.items():
        vals = np.array([round(v * 100) for _, v in series])
        for idx in range(len(series)):
            r = got[(seg, str(series[idx][0]))]
            assert r["value"] == pytest.approx(vals[idx] / 100, rel=1e-12)
            if idx >= 6:
                window = vals[idx - 6 : idx + 1][::-1]  # newest first
                wma = float((wts * window).sum()) / 28 / 100
                assert r["wma7"] == pytest.approx(wma, rel=1e-12)
            else:
                assert r["wma7"] is None


def test_gap_audit_matches_reference(spark):
    row = plans.get("dq_sequential_gap_audit").build(spark, SF).collect()[0]
    keys = sorted(
        r[0]
        for r in _fetch(
            f"SELECT DISTINCT o_orderkey FROM read_parquet('{SF}/orders.parquet')"
        )
    )
    diffs = np.diff(keys)
    assert row["n_keys"] == len(keys)
    assert (row["k_min"], row["k_max"]) == (keys[0], keys[-1])
    assert row["missing_keys"] == keys[-1] - keys[0] + 1 - len(keys)
    assert row["largest_run_missing"] == int(diffs.max()) - 1
    assert row["coverage"] == pytest.approx(
        len(keys) / (keys[-1] - keys[0] + 1), rel=1e-12
    )


def test_values_inline_table_matches_reference(spark):
    rows = {
        r["tier"]: r
        for r in plans.get("sql_values_inline_table").build(spark, SF).collect()
    }
    raw = _fetch(
        "SELECT o_orderpriority, COUNT(*)"
        f" FROM read_parquet('{SF}/orders.parquet') GROUP BY 1"
    )
    tiers = {
        "1-URGENT": ("expedite", 3),
        "2-HIGH": ("expedite", 2),
        "3-MEDIUM": ("standard", 1),
        "4-NOT SPECIFIED": ("standard", 1),
        "5-LOW": ("economy", 1),
    }
    agg = {}
    for p, n in raw:
        t, w = tiers[p]
        c, ws = agg.get(t, (0, 0))
        agg[t] = (c + n, ws + w * n)
    for t, (c, ws) in agg.items():
        assert (rows[t]["n_orders"], rows[t]["weighted_orders"]) == (c, ws)
