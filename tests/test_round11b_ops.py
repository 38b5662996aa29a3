"""Round-11 continuation wave: pure-Python/numpy references for the
operators added after test_round11_ops.py froze (the snapshot's
Conover / Siegel-Tukey pair plus the part-2 wave). Same contract as
that file: each test re-derives the statistic from the raw sf0.001
parquet with an INDEPENDENT formulation (float64 ranks / two-pointer
rank assignment / regex tokenization in Python), so a formula bug
shared between the Spark build and the DuckDB oracle cannot hide."""

import datetime
import re

import numpy as np
import pytest

from finance_etl_spark import plans
from refs import SF, _fetch, _midranks, _seg_daily_py


def _seg_series(segment):
    """Date-sorted (dates, cents int array) for one segment."""
    rows = sorted(
        (d, int(x * 100)) for s, d, x in _seg_daily_py() if s == segment
    )
    return [r[0] for r in rows], np.array([r[1] for r in rows], dtype=np.int64)


# ---------------------------------------------------------------------------
# snapshot pair


def test_conover_squared_ranks_matches_numpy(spark):
    row = (
        plans.get("stat_conover_squared_ranks").build(spark, SF).collect()[0]
    )
    per_seg = {}
    for seg, _, x in _seg_daily_py():
        per_seg.setdefault(seg, []).append(int(x * 100))
    devs, labels = [], []
    for seg, vs in per_seg.items():
        vs = np.sort(np.array(vs, dtype=np.int64))
        med = vs[(len(vs) + 1) // 2 - 1]  # lower median
        devs.extend(abs(int(v) - int(med)) for v in vs)
        labels.extend([seg] * len(vs))
    a = np.array(devs, dtype=np.float64)
    lab = np.array(labels)
    r = _midranks(a)  # classical midranks, NOT the doubled-int trick
    n = len(a)
    k = len(per_seg)
    s2 = r * r
    ss = s2.sum()
    s4 = (s2 * s2).sum()
    num = sum(
        s2[lab == g].sum() ** 2 / (lab == g).sum() for g in sorted(per_seg)
    ) - ss * ss / n
    den = s4 - ss * ss / n
    t = (n - 1) * num / den
    assert row["n_days"] == n
    assert (row["k"], row["df"]) == (k, k - 1)
    # operator uses u = 2*midrank (exact ints); T is scale-invariant
    assert row["t_stat"] == pytest.approx(t, rel=1e-9)


def test_siegel_tukey_matches_two_pointer(spark):
    row = plans.get("stat_siegel_tukey").build(spark, SF).collect()[0]
    pooled = sorted(
        (int(x * 100), d, s)
        for s, d, x in _seg_daily_py()
        if s in ("BUILDING", "MACHINERY")
    )
    if len(pooled) % 2 == 1:  # classical: drop the middle value
        del pooled[(len(pooled) + 1) // 2 - 1]
    n = len(pooled)
    # independent two-pointer assignment: rank 1 to the smallest, 2-3
    # to the two largest (outermost first), 4-5 to the next two
    # smallest, alternating inward in bursts of two
    st = [0] * n
    lo, hi, r = 0, n - 1, 1
    st[lo] = 1
    lo += 1
    r = 2
    side_high = True
    while lo <= hi:
        if side_high:
            st[hi] = r
            if hi - 1 >= lo:
                st[hi - 1] = r + 1
            hi -= 2
        else:
            st[lo] = r
            if lo + 1 <= hi:
                st[lo + 1] = r + 1
            lo += 2
        r += 2
        side_high = not side_high
    w1 = sum(rank for rank, (_, _, s) in zip(st, pooled) if s == "BUILDING")
    n1 = sum(1 for _, _, s in pooled if s == "BUILDING")
    n0 = n - n1
    z = (2 * w1 - n1 * (n + 1)) / np.sqrt(n1 * n0 * (n + 1) / 3)
    assert (row["n_building"], row["n_machinery"]) == (n1, n0)
    assert row["w_rank_sum"] == w1
    assert row["z_scale"] == pytest.approx(z, rel=1e-12)


# ---------------------------------------------------------------------------
# part-2 wave


def test_sign_test_matches_reference(spark):
    row = plans.get("stat_sign_test").build(spark, SF).collect()[0]
    b = {d: x for s, d, x in _seg_daily_py() if s == "BUILDING"}
    m = {d: x for s, d, x in _seg_daily_py() if s == "MACHINERY"}
    both = sorted(set(b) & set(m))
    npos = sum(1 for d in both if b[d] > m[d])
    nneg = sum(1 for d in both if b[d] < m[d])
    assert row["n_pairs"] == len(both)
    assert (row["n_pos"], row["n_neg"]) == (npos, nneg)
    assert row["z_sign"] == pytest.approx(
        (npos - nneg) / np.sqrt(npos + nneg), rel=1e-12
    )


def test_quade_matches_numpy(spark):
    row = plans.get("stat_quade_test").build(spark, SF).collect()[0]
    per_month = {}
    for seg, d, x in _seg_daily_py():
        key = (d.year, d.month)
        per_month.setdefault(key, {}).setdefault(seg, 0)
        per_month[key][seg] += int(x * 100)
    segs = sorted({s for s, _, _ in _seg_daily_py()})
    k = len(segs)
    blocks = {m: v for m, v in per_month.items() if len(v) == k}
    n = len(blocks)
    months = sorted(blocks)
    # classical float midranks, NOT the doubled-int trick
    r = np.vstack(
        [
            _midranks(np.array([blocks[m][s] for s in segs], float))
            for m in months
        ]
    )
    dd = np.array(
        [max(blocks[m].values()) - min(blocks[m].values()) for m in months],
        dtype=np.float64,
    )
    qr = _midranks(dd)
    s = qr[:, None] * (r - (k + 1) / 2)
    a2 = (s * s).sum()
    b = (s.sum(axis=0) ** 2).sum() / n
    t3 = (n - 1) * b / (a2 - b)
    assert row["n_blocks"] == n
    assert (row["k"], row["df1"], row["df2"]) == (k, k - 1, (n - 1) * (k - 1))
    assert row["t3_stat"] == pytest.approx(t3, rel=1e-9)


def test_tukey_fences_match_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("dq_tukey_fences").build(spark, SF).collect()
    }
    per_seg = {}
    for seg, _, x in _seg_daily_py():
        per_seg.setdefault(seg, []).append(int(x * 100))
    for seg, vs in per_seg.items():
        v = np.sort(np.array(vs, dtype=np.int64))
        n = len(v)
        q1 = int(v[int(np.ceil(n / 4)) - 1])
        q3 = int(v[int(np.ceil(3 * n / 4)) - 1])
        iqr = q3 - q1
        lo = q1 - 1.5 * iqr
        hi = q3 + 1.5 * iqr
        row = got[seg]
        assert row["n_days"] == n
        assert (row["q1_cents"], row["q3_cents"]) == (q1, q3)
        assert row["iqr_cents"] == iqr
        assert row["n_low"] == int((v < lo).sum())
        assert row["n_high"] == int((v > hi).sum())


def test_cross_correlation_matches_numpy(spark):
    rows = {
        r["lag"]: r
        for r in plans.get("ts_cross_correlation").build(spark, SF).collect()
    }
    rets = {}
    for seg in ("BUILDING", "MACHINERY"):
        dates, v = _seg_series(seg)
        rets[seg] = {
            dates[i]: float(v[i]) / float(v[i - 1]) - 1.0
            for i in range(1, len(dates))
        }
    for lag in range(8):
        rb, rm = [], []
        for d, r in rets["BUILDING"].items():
            key = d - datetime.timedelta(days=lag)
            if key in rets["MACHINERY"]:
                rb.append(r)
                rm.append(rets["MACHINERY"][key])
        row = rows[lag]
        assert row["n_pairs"] == len(rb)
        rb, rm = np.array(rb), np.array(rm)
        if len(rb) >= 3 and rb.std() > 0 and rm.std() > 0:
            ref = np.corrcoef(rb, rm)[0, 1]
            # q9 return quantization perturbs corr at ~1e-6
            assert row["ccf"] == pytest.approx(ref, abs=5e-5)


def test_pain_index_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("fin_pain_index").build(spark, SF).collect()
    }
    per_seg = {}
    for seg, d, x in _seg_daily_py():
        per_seg.setdefault(seg, []).append((d, float(x)))
    for seg, rows in per_seg.items():
        xs = np.array([x for _, x in sorted(rows)])
        peak = np.maximum.accumulate(xs)
        dd = (peak - xs) / peak * 100
        row = got[seg]
        assert row["n_days"] == len(xs)
        assert row["pain_index_pct"] == pytest.approx(dd.mean(), abs=2e-6)
        assert row["underwater_frac"] == pytest.approx(
            (dd > 0).mean(), abs=1e-6
        )
        assert row["max_dd_pct"] == pytest.approx(dd.max(), abs=2e-6)


def test_treynor_matches_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("fin_treynor_ratio").build(spark, SF).collect()
    }
    daily = _seg_daily_py()
    segs = sorted({s for s, _, _ in daily})
    mkt = {}
    for _, d, x in daily:
        mkt[d] = mkt.get(d, 0.0) + float(x)
    mdates = sorted(mkt)
    mret = {
        mdates[i]: mkt[mdates[i]] / mkt[mdates[i - 1]] - 1.0
        for i in range(1, len(mdates))
    }
    for seg in segs:
        rows = sorted((d, float(x)) for s, d, x in daily if s == seg)
        sret = {
            rows[i][0]: rows[i][1] / rows[i - 1][1] - 1.0
            for i in range(1, len(rows))
        }
        common = [d for d in sret if d in mret]
        r = np.array([sret[d] for d in common])
        m = np.array([mret[d] for d in common])
        beta = ((r - r.mean()) * (m - m.mean())).sum() / (
            (m - m.mean()) ** 2
        ).sum()
        row = got[seg]
        assert row["n"] == len(common)
        assert row["treynor_daily"] == pytest.approx(
            r.mean() / beta, rel=2e-4
        )


def test_active_share_matches_numpy(spark):
    got = {
        r["year"]: r
        for r in plans.get("fin_active_share").build(spark, SF).collect()
    }
    daily = _seg_daily_py()
    tot = {}
    bench = {}
    for s, d, x in daily:
        tot.setdefault(d.year, {}).setdefault(s, 0)
        tot[d.year][s] += x  # Decimal-exact
        bench[s] = bench.get(s, 0) + x
    grand = sum(bench.values())
    for y, per_seg in tot.items():
        xy = sum(per_seg.values())
        # sum over the FULL benchmark segment set: a segment absent in
        # year y contributes |0 - w_s| (round-11 advisor fix)
        a_s = 0.5 * sum(
            abs(
                float(per_seg.get(s, 0)) / float(xy)
                - float(bench[s]) / float(grand)
            )
            for s in bench
        )
        row = got[y]
        assert row["n_segments"] == len(per_seg)
        assert row["active_share"] == pytest.approx(a_s, rel=1e-9)


def test_avg_neighbor_degree_matches_reference(spark):
    got = {
        r["k"]: r
        for r in plans.get("graph_avg_neighbor_degree")
        .build(spark, SF)
        .collect()
    }
    rows = _fetch(
        "SELECT s.s_nationkey, c.c_nationkey, COUNT(*)"
        f" FROM read_parquet('{SF}/lineitem.parquet') l"
        f" JOIN read_parquet('{SF}/orders.parquet') o"
        " ON l.l_orderkey = o.o_orderkey"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey"
        f" JOIN read_parquet('{SF}/supplier.parquet') s"
        " ON l.l_suppkey = s.s_suppkey"
        " GROUP BY 1, 2"
    )
    und = {}
    for a, b, w in rows:
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        und[key] = und.get(key, 0) + w
    thr = np.percentile(np.array(list(und.values()), dtype=np.float64), 60)
    edges = [e for e, w in und.items() if w >= thr]
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in nbrs.items()}
    by_k = {}
    for v, ns in nbrs.items():
        by_k.setdefault(deg[v], []).append(
            sum(deg[n] for n in ns) / deg[v]
        )
    assert set(got) == set(by_k)
    for k, knns in by_k.items():
        assert got[k]["n_nodes"] == len(knns)
        assert got[k]["avg_neighbor_degree"] == pytest.approx(
            float(np.mean(knns)), rel=1e-12
        )


def test_js_divergence_matches_numpy(spark):
    row = plans.get("text_js_divergence").build(spark, SF).collect()[0]
    docs = _fetch(
        f"SELECT lang, text FROM read_parquet('{SF}/documents.parquet')"
    )
    cp, cq = {}, {}
    for lang, text in docs:
        tgt = cp if lang == "en" else cq
        for tok in re.findall(r"[a-zA-Z0-9_]+", text or ""):
            tok = tok.lower()
            tgt[tok] = tgt.get(tok, 0) + 1
    tp = sum(cp.values())
    tq = sum(cq.values())
    assert (row["n_tokens_en"], row["n_tokens_other"]) == (tp, tq)
    assert (row["vocab_en"], row["vocab_other"]) == (len(cp), len(cq))
    jsd = 0.0
    for tok in set(cp) | set(cq):
        p = cp.get(tok, 0) / tp
        q = cq.get(tok, 0) / tq
        m = (p + q) / 2
        if p > 0:
            jsd += 0.5 * p * np.log(p / m)
        if q > 0:
            jsd += 0.5 * q * np.log(q / m)
    # per-term ln quantization at 1e-6 with unit total weight
    assert row["jsd_nats"] == pytest.approx(jsd, abs=5e-6)


def test_bartlett_matches_numpy(spark):
    row = plans.get("stat_bartlett_test").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT o_orderpriority,"
        " CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    grp = np.array([r[0] for r in rows])
    x = np.array([float(r[1]) for r in rows])
    groups = sorted(set(grp))
    k = len(groups)
    n = len(x)
    vs = [x[grp == g] for g in groups]
    ss = [v.var(ddof=1) for v in vs]
    sp2 = sum((len(v) - 1) * s for v, s in zip(vs, ss)) / (n - k)
    num = (n - k) * np.log(sp2) - sum(
        (len(v) - 1) * np.log(s) for v, s in zip(vs, ss)
    )
    c = 1 + (sum(1 / (len(v) - 1) for v in vs) - 1 / (n - k)) / (3 * (k - 1))
    assert (row["k"], row["n"], row["df"]) == (k, n, k - 1)
    # ln terms quantize at 1e-6 with integer weights ~n
    assert row["bartlett_chi2"] == pytest.approx(num / c, abs=max(
        1e-6 * n, 1e-9 * abs(num / c)
    ))


def test_cuzick_matches_numpy(spark):
    row = plans.get("stat_cuzick_trend").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT),"
        " CAST(o_totalprice AS DECIMAL(12,2))"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    l = np.array([r[0] for r in rows], dtype=np.float64)
    x = np.array([float(r[1]) for r in rows])
    r = _midranks(x)  # classical float midranks
    n = len(x)
    t = float((l * r).sum())
    et = l.sum() * r.sum() / n
    var = (
        ((l - l.mean()) ** 2).sum()
        * ((r - r.mean()) ** 2).sum()
        / (n - 1)
    )
    assert row["n"] == n
    assert row["t_stat"] == pytest.approx(t, rel=1e-12)
    assert row["z_trend"] == pytest.approx((t - et) / np.sqrt(var), rel=1e-9)


def test_jarque_bera_matches_numpy(spark):
    row = plans.get("stat_jarque_bera").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    v = np.array([float(r[0]) for r in rows])
    n = len(v)
    d = v - v.mean()
    m2 = (d**2).mean()
    sk = (d**3).mean() / m2**1.5
    ku = (d**4).mean() / m2**2
    jb = n * (sk**2 / 6 + (ku - 3) ** 2 / 24)
    assert row["n"] == n
    assert row["skewness"] == pytest.approx(sk, rel=1e-7)
    assert row["kurtosis"] == pytest.approx(ku, rel=1e-7)
    assert row["jb_stat"] == pytest.approx(jb, rel=1e-6)


def test_capture_ratios_match_numpy(spark):
    got = {
        r["segment"]: r
        for r in plans.get("fin_capture_ratios").build(spark, SF).collect()
    }
    daily = _seg_daily_py()
    mkt = {}
    for _, d, x in daily:
        mkt[d] = mkt.get(d, 0.0) + float(x)
    md = sorted(mkt)
    mret = {md[i]: mkt[md[i]] / mkt[md[i - 1]] - 1.0 for i in range(1, len(md))}
    for seg in sorted({s for s, _, _ in daily}):
        rows = sorted((d, float(x)) for s, d, x in daily if s == seg)
        sret = {
            rows[i][0]: rows[i][1] / rows[i - 1][1] - 1.0
            for i in range(1, len(rows))
        }
        common = [d for d in sret if d in mret]
        up = [d for d in common if mret[d] > 0]
        dn = [d for d in common if mret[d] < 0]
        row = got[seg]
        assert (row["n_up"], row["n_down"]) == (len(up), len(dn))
        if sum(mret[d] for d in up) != 0:
            assert row["upside_capture"] == pytest.approx(
                sum(sret[d] for d in up) / sum(mret[d] for d in up), rel=2e-6
            )
        if sum(mret[d] for d in dn) != 0:
            assert row["downside_capture"] == pytest.approx(
                sum(sret[d] for d in dn) / sum(mret[d] for d in dn), rel=2e-6
            )
