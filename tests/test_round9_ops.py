"""Round-9: pure-Python/numpy references for the new operators. Each
test re-derives the statistic from the raw sf0.001 parquet with an
INDEPENDENT formulation (numpy float64, no floor-scaling, no shared SQL
fragments) so a formula bug shared between the Spark build and the
DuckDB oracle cannot hide (the _GINI lesson)."""

import math

import numpy as np
import pytest

from finance_etl_spark import plans
from refs import SF, _fetch


@pytest.fixture(scope="module")
def orders_cents():
    rows = _fetch(
        "SELECT o_orderpriority,"
        " CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    groups = {}
    for g, xc in rows:
        groups.setdefault(g, []).append(xc)
    return {g: np.array(v, dtype=np.float64) for g, v in groups.items()}


def test_anova_oneway_matches_numpy(spark, orders_cents):
    row = plans.get("stat_anova_oneway").build(spark, SF).collect()[0]
    xs = list(orders_cents.values())
    grand = np.concatenate(xs)
    gm = grand.mean()
    ssb = sum(len(x) * (x.mean() - gm) ** 2 for x in xs)
    ssw = sum(((x - x.mean()) ** 2).sum() for x in xs)
    k, n = len(xs), len(grand)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k"] == k and row["n_total"] == n
    assert row["ss_between"] == pytest.approx(ssb, rel=1e-9)
    assert row["ss_within"] == pytest.approx(ssw, rel=1e-9)
    assert row["f_stat"] == pytest.approx(f, rel=1e-9)
    assert row["eta_sq"] == pytest.approx(ssb / (ssb + ssw), rel=1e-9)


def test_jackknife_ratio_se_matches_numpy(spark):
    got = {
        r["l_returnflag"]: r
        for r in plans.get("stat_jackknife_ratio_se").build(spark, SF).collect()
    }
    rows = _fetch(
        "SELECT l_returnflag,"
        " CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " CAST(l_quantity AS BIGINT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    groups = {}
    for g, y, x in rows:
        groups.setdefault(g, []).append((y, x))
    for g, pairs in groups.items():
        y = np.array([p[0] for p in pairs], dtype=np.float64)
        x = np.array([p[1] for p in pairs], dtype=np.float64)
        n, sy, sx = len(y), y.sum(), x.sum()
        loo = (sy - y) / (sx - x)
        se = math.sqrt((n - 1) / n * ((loo - loo.mean()) ** 2).sum())
        assert got[g]["n"] == n
        assert got[g]["ratio"] == pytest.approx(sy / sx, rel=1e-12)
        # the engine's 1e-6 floor-quantized fsum vs numpy's exact sum:
        # agreement to 1e-5 relative is the contract, not bit equality
        assert got[g]["jack_se"] == pytest.approx(se, rel=1e-5)


def test_isotonic_calibration_matches_sequential_pava(spark):
    got = plans.get("ml_isotonic_calibration").build(spark, SF).collect()
    rows = _fetch(
        "SELECT LEAST(9, CAST(FLOOR(l_quantity / 50.0 * 10.0) AS INT)),"
        " COUNT(*), SUM(CAST(l_returnflag = 'R' AS INT))"
        f" FROM read_parquet('{SF}/lineitem.parquet') GROUP BY 1 ORDER BY 1"
    )
    # independent formulation: the classic sequential pool-adjacent-
    # violators loop (not the minimax identity the engine uses)
    blocks = []  # [pos, n]
    for _, n, pos in rows:
        blocks.append([float(pos), float(n)])
        while len(blocks) > 1 and (
            blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):
            p, n2 = blocks.pop()
            blocks[-1][0] += p
            blocks[-1][1] += n2
    # expand blocks back onto bins: each block covers the next
    # `n_block` rows of bins walked in order
    bin_fit = {}
    means = [p / n2 for p, n2 in blocks]
    counts = [n2 for _, n2 in blocks]
    k, acc = 0, 0.0
    for b, n, _pos in rows:
        bin_fit[b] = means[k]
        acc += n
        if acc >= sum(counts[: k + 1]):
            k = min(k + 1, len(means) - 1)
    for r in got:
        assert r["iso_rate"] == pytest.approx(bin_fit[r["bin"]], rel=1e-12), (
            r["bin"],
            r["iso_rate"],
            bin_fit[r["bin"]],
        )
    # monotone non-decreasing in bin order
    iso = [r["iso_rate"] for r in sorted(got, key=lambda r: r["bin"])]
    assert all(a <= b + 1e-15 for a, b in zip(iso, iso[1:]))


def test_kaplan_meier_matches_pure_python(spark):
    got = plans.get("ml_kaplan_meier").build(spark, SF).collect()
    rows = _fetch(
        "WITH span AS (SELECT o_custkey, MIN(o_orderdate) f,"
        " MAX(o_orderdate) l FROM"
        f" read_parquet('{SF}/orders.parquet') GROUP BY 1),"
        " g AS (SELECT MAX(o_orderdate) gm FROM"
        f" read_parquet('{SF}/orders.parquet'))"
        " SELECT c.c_mktsegment, date_diff('day', s.f, s.l),"
        " date_diff('day', s.l, gm) FROM span s JOIN"
        f" read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = s.o_custkey CROSS JOIN g"
    )
    # independent formulation: per-segment dict walk, survival as the
    # running product computed sequentially (not a join + list fold)
    segs = {}
    for seg, tenure, gap in rows:
        bkt = min(7, tenure // 365)
        segs.setdefault(seg, []).append((bkt, 1 if gap > 180 else 0))
    expect = {}
    for seg, items in segs.items():
        buckets = sorted({b for b, _ in items})
        s = 1.0
        for b in buckets:
            n_risk = sum(1 for t, _ in items if t >= b)
            d = sum(e for t, e in items if t == b)
            s *= (n_risk - d) / n_risk
            expect[(seg, b)] = (n_risk, d, s)
    assert len(got) == len(expect)
    for r in got:
        n_risk, d, s = expect[(r["c_mktsegment"], r["tenure_years"])]
        assert r["n_at_risk"] == n_risk and r["d_events"] == d
        assert r["survival"] == pytest.approx(s, rel=1e-12)
    # survival is non-increasing within each segment
    for seg in segs:
        curve = [r["survival"] for r in got if r["c_mktsegment"] == seg]
        assert all(a >= b - 1e-15 for a, b in zip(curve, curve[1:]))


def test_feature_hashing_matches_hashlib(spark):
    import hashlib
    from collections import Counter, defaultdict

    got = {r["dim"]: r for r in plans.get("ml_feature_hashing").build(spark, SF).collect()}
    rows = _fetch(f"SELECT text FROM read_parquet('{SF}/documents.parquet')")
    tf = Counter(t for (text,) in rows for t in text.split(" ") if t)
    dims = defaultdict(lambda: [0, 0, 0])  # n_tokens, signed, total
    for tok, n in tf.items():
        h = hashlib.md5(tok.encode()).hexdigest()
        dim = int(h[:15], 16) % 32
        sgn = 1 if h[15] < "8" else -1
        dims[dim][0] += 1
        dims[dim][1] += sgn * n
        dims[dim][2] += n
    assert set(got) == set(dims)
    for dim, (nt, sw, tot) in dims.items():
        r = got[dim]
        assert (r["n_tokens"], r["signed_weight"], r["total_occurrences"]) == (
            nt, sw, tot,
        )


def test_cms_portable_guarantee_and_hashes(spark):
    import hashlib
    from collections import Counter

    got = plans.get("agg_cms_portable").build(spark, SF).collect()
    rows = _fetch(f"SELECT o_custkey FROM read_parquet('{SF}/orders.parquet')")
    counts = Counter(k for (k,) in rows)
    # rebuild the sketch independently with hashlib
    sketch = Counter()
    for k, n in counts.items():
        for r in range(4):
            b = int(hashlib.md5(f"{r}:{k}".encode()).hexdigest()[:15], 16) % 512
            sketch[(r, b)] += n
    assert len(got) == 5
    for row in got:
        k = row["o_custkey"]
        assert row["exact_n"] == counts[k]
        est = min(
            sketch[(r, int(hashlib.md5(f"{r}:{k}".encode()).hexdigest()[:15], 16) % 512)]
            for r in range(4)
        )
        assert row["cms_estimate"] == est
        # the CMS guarantee: estimate never undercounts
        assert row["cms_estimate"] >= row["exact_n"]


def test_kmv_portable_exact_small_and_estimator(spark):
    got = plans.get("agg_kmv_portable").build(spark, SF).collect()
    for r in got:
        if r["n_kept"] < 64:
            # fewer than k hashes kept -> the sketch is exact
            assert r["kmv_estimate"] == float(r["n_exact"])
        else:
            assert r["kmv_estimate"] == pytest.approx(
                r["n_exact"], rel=0.5
            )  # k=64 -> sigma ~ 12.5%; 4-sigma sanity bound


def test_hll_portable_rho_and_accuracy(spark):
    import hashlib

    # rho derivation must equal the bit-level definition
    for key in ("1", "42", "12345", "999983"):
        h15 = hashlib.md5(f"r:{key}".encode()).hexdigest()[:15]
        v = int(h15, 16)
        bit_rho = 61 if v == 0 else 60 - v.bit_length() + 1
        nz = len(h15) - len(h15.lstrip("0"))
        c = h15[nz] if nz < 15 else None
        table = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}
        str_rho = 61 if c is None else 4 * nz + table.get(c, 0) + 1
        assert str_rho == bit_rho, (key, h15, str_rho, bit_rho)
    got = plans.get("agg_hll_portable").build(spark, SF).collect()
    for r in got:
        # m=256 -> sigma ~ 6.5%; allow 4 sigma
        assert r["hll_estimate"] == pytest.approx(r["n_exact"], rel=0.3)


def test_readability_fk_matches_pure_python(spark):
    import re

    got = {r["lang"]: r for r in plans.get("text_readability_fk").build(spark, SF).collect()}
    rows = _fetch(f"SELECT lang, text FROM read_parquet('{SF}/documents.parquet')")
    agg = {}
    for lang, text in rows:
        w = len([t for t in text.split(" ") if t])
        if w == 0:
            continue
        s = max(1, len(re.findall(r"[.!?]+", text)))
        syl = len(re.findall(r"[aeiouy]+", text.lower()))
        fk = 0.39 * (w / s) + 11.8 * (syl / w) - 15.59
        a = agg.setdefault(lang, [0, 0, 0, 0.0])
        a[0] += 1
        a[1] += w
        a[2] += syl
        a[3] += fk
    for lang, (n, w, syl, fksum) in agg.items():
        r = got[lang]
        assert (r["n_docs"], r["total_words"], r["total_syllables"]) == (n, w, syl)
        assert r["mean_fk_grade"] == pytest.approx(fksum / n, rel=1e-6)


def test_gapfill_interpolate_pattern_and_lines(spark):
    got = plans.get("ts_gapfill_interpolate").build(spark, SF).collect()
    assert got, "no rows"
    by_series = {}
    for r in got:
        by_series.setdefault(r["event_type"], []).append(r)
    for series, rows in by_series.items():
        rows.sort(key=lambda r: r["day"])
        # interpolated exactly on the dropped-day pattern, endpoints observed
        assert not rows[0]["is_interpolated"] and not rows[-1]["is_interpolated"]
        for r in rows:
            assert r["is_interpolated"] == (r["day"].day % 3 == 0)
        # every interpolated value sits between (inclusive) its observed
        # neighbours — the line never over/undershoots
        for i, r in enumerate(rows):
            if not r["is_interpolated"]:
                continue
            prev = next(x for x in reversed(rows[:i]) if not x["is_interpolated"])
            nxt = next(x for x in rows[i + 1:] if not x["is_interpolated"])
            lo = min(prev["value_filled"], nxt["value_filled"])
            hi = max(prev["value_filled"], nxt["value_filled"])
            assert lo - 1e-9 <= r["value_filled"] <= hi + 1e-9
            # exact midpoint when the gap is one day on each side
            span = (nxt["day"] - prev["day"]).days
            off = (r["day"] - prev["day"]).days
            expect = prev["value_filled"] + (
                nxt["value_filled"] - prev["value_filled"]
            ) * off / span
            assert r["value_filled"] == pytest.approx(expect, abs=2e-6)


def test_pretrain_chunking_matches_sequential_walk(spark):
    got = {r["chunk_id"]: r for r in plans.get("cur_pretrain_chunking").build(spark, SF).collect()}
    rows = _fetch(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
        " ORDER BY doc_id"
    )
    # independent formulation: walk the concatenated token stream
    CTX = 512
    chunks = {}
    off = 0
    for doc_id, text in rows:
        n = len([t for t in text.split(" ") if t])
        if n == 0:
            continue
        lo, hi = off // CTX, (off + n - 1) // CTX
        for c in range(lo, hi + 1):
            st = chunks.setdefault(c, [0, 0, 0, None])
            st[0] += 1
            st[1] += 1 if (lo < c or hi > c) else 0
            st[2] += min(off + n, (c + 1) * CTX) - max(off, c * CTX)
            st[3] = doc_id if st[3] is None else min(st[3], doc_id)
        off += n
    assert set(got) == set(chunks)
    for c, (nd, nsp, fill, first) in chunks.items():
        r = got[c]
        assert (r["n_docs"], r["n_spanning"], r["fill_tokens"], r["first_doc_id"]) == (
            nd, nsp, fill, first,
        )
    # every chunk except the last is exactly full
    last = max(chunks)
    for c, r in got.items():
        if c != last:
            assert r["fill_tokens"] == CTX


def test_qq_deciles_matches_numpy_order_stats(spark):
    got = {r["decile"]: r for r in plans.get("stat_qq_deciles").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(12,2))"
        f" FROM read_parquet('{SF}/orders.parquet')"
        " WHERE o_orderpriority IN ('1-URGENT', '5-LOW')"
    )
    urgent = sorted(float(x) for g, x in rows if g == "1-URGENT")
    low = sorted(float(x) for g, x in rows if g == "5-LOW")
    for d in range(1, 10):
        ku = -(-d * len(urgent) // 10)  # ceil
        kl = -(-d * len(low) // 10)
        r = got[d]
        assert r["n_urgent"] == len(urgent) and r["n_low"] == len(low)
        assert r["q_urgent"] == pytest.approx(urgent[ku - 1], abs=1e-9)
        assert r["q_low"] == pytest.approx(low[kl - 1], abs=1e-9)


def test_modularity_matches_pure_python(spark):
    got = plans.get("graph_modularity_score").build(spark, SF).collect()
    rows = _fetch(
        "SELECT s.s_nationkey, c.c_nationkey, COUNT(*) FROM"
        f" read_parquet('{SF}/lineitem.parquet') l"
        f" JOIN read_parquet('{SF}/orders.parquet') o ON o.o_orderkey = l.l_orderkey"
        f" JOIN read_parquet('{SF}/customer.parquet') c ON c.c_custkey = o.o_custkey"
        f" JOIN read_parquet('{SF}/supplier.parquet') s ON s.s_suppkey = l.l_suppkey"
        " GROUP BY 1, 2"
    )
    region = dict(
        _fetch(f"SELECT n_nationkey, n_regionkey FROM read_parquet('{SF}/nation.parquet')")
    )
    edges = {}
    for src, dst, w in rows:
        if src == dst:
            continue
        key = (min(src, dst), max(src, dst))
        edges[key] = edges.get(key, 0) + w
    m = sum(edges.values())
    deg, e_c, d_c = {}, {}, {}
    for (a, b), w in edges.items():
        deg[a] = deg.get(a, 0) + w
        deg[b] = deg.get(b, 0) + w
        if region[a] == region[b]:
            e_c[region[a]] = e_c.get(region[a], 0) + w
    for v, d in deg.items():
        d_c[region[v]] = d_c.get(region[v], 0) + d
    q = sum(
        e_c.get(c, 0) / m - (d_c.get(c, 0) / (2 * m)) ** 2 for c in d_c
    )
    for r in got:
        c = r["regionkey"]
        assert r["intra_weight"] == e_c.get(c, 0)
        assert r["degree_sum"] == d_c.get(c, 0)
        assert r["modularity"] == pytest.approx(q, rel=1e-12)


@pytest.fixture(scope="module")
def daily_scaled():
    rows = _fetch(
        "SELECT event_type, CAST(ts AS DATE),"
        " CAST(SUM(CAST(FLOOR(value * 1e6) AS DECIMAL(38,0))) AS BIGINT)"
        f" FROM read_parquet('{SF}/events.parquet') GROUP BY 1, 2"
    )
    series = {}
    for et, day, v in rows:
        series.setdefault(et, []).append((day, v))
    for et in series:
        series[et].sort()
    return series


def test_theil_sen_matches_pure_python(spark, daily_scaled):
    got = {r["event_type"]: r for r in plans.get("ts_theil_sen").build(spark, SF).collect()}
    for et, pts in daily_scaled.items():
        slopes = sorted(
            (v2 - v1) / (d2 - d1).days
            for i, (d1, v1) in enumerate(pts)
            for d2, v2 in pts[i + 1:]
        )
        k = (len(slopes) + 1) // 2
        r = got[et]
        assert r["n_pairs"] == len(slopes)
        assert r["theil_sen_slope"] == pytest.approx(slopes[k - 1] / 1e6, rel=1e-12)


def test_mann_kendall_matches_pure_python(spark, daily_scaled):
    got = {r["event_type"]: r for r in plans.get("ts_mann_kendall").build(spark, SF).collect()}
    from collections import Counter

    for et, pts in daily_scaled.items():
        vals = [v for _, v in pts]
        n = len(vals)
        s = sum(
            (1 if v2 > v1 else -1 if v2 < v1 else 0)
            for i, v1 in enumerate(vals)
            for v2 in vals[i + 1:]
        )
        ties = Counter(vals)
        var18 = n * (n - 1) * (2 * n + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1
        )
        r = got[et]
        assert (r["n"], r["s_stat"], r["var_s_x18"]) == (n, s, var18)
        if var18 == 0:
            assert r["z_stat"] is None
        else:
            import math

            expect = (
                0.0
                if s == 0
                else (s - (1 if s > 0 else -1)) / math.sqrt(var18 / 18)
            )
            assert r["z_stat"] == pytest.approx(expect, rel=1e-12)


def test_levene_brown_forsythe_matches_numpy(spark, orders_cents):
    row = plans.get("stat_levene_brown_forsythe").build(spark, SF).collect()[0]
    zs = []
    for x in orders_cents.values():
        srt = np.sort(x)
        med = srt[(len(srt) + 1) // 2 - 1]  # lower median, engine contract
        zs.append(np.abs(x - med))
    grand = np.concatenate(zs)
    gm = grand.mean()
    ssb = sum(len(z) * (z.mean() - gm) ** 2 for z in zs)
    ssw = sum(((z - z.mean()) ** 2).sum() for z in zs)
    k, n = len(zs), len(grand)
    w = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k"] == k and row["n_total"] == n
    assert row["ss_between_z"] == pytest.approx(ssb, rel=1e-9)
    assert row["ss_within_z"] == pytest.approx(ssw, rel=1e-9)
    assert row["w_stat"] == pytest.approx(w, rel=1e-9)


def test_black_scholes_matches_erf_reference(spark):
    got = plans.get("fin_black_scholes_grid").build(spark, SF).collect()
    assert len(got) == 125

    def ncdf(d):
        return 0.5 * (1.0 + math.erf(d / math.sqrt(2.0)))

    for r in got:
        s, k, sig = r["spot"], r["strike"], r["sigma"]
        d1 = (math.log(s / k) + (0.02 + sig * sig / 2.0)) / sig
        d2 = d1 - sig
        call = s * ncdf(d1) - k * math.exp(-0.02) * ncdf(d2)
        put = call - s + k * math.exp(-0.02)
        # A&S 26.2.17 has |err| < 7.5e-8 in N(d) -> price err < 1e-2
        # at these spot magnitudes (~1.5e5); quantized at 1e-6
        assert r["call_q6"] / 1e6 == pytest.approx(call, abs=0.05)
        assert r["put_q6"] / 1e6 == pytest.approx(put, abs=0.05)
        # exact put-call parity of the quantized outputs (same
        # expression on both sides of the identity, so sub-1e-5 tight)
        parity = r["call_q6"] / 1e6 - s + k * math.exp(-0.02)
        assert r["put_q6"] / 1e6 == pytest.approx(parity, abs=1e-4)
        # monotone: calls decrease in strike
    by_nation = {}
    for r in got:
        by_nation.setdefault(r["n_nationkey"], []).append(r)
    for rows in by_nation.values():
        rows.sort(key=lambda r: r["k_pct"])
        calls = [r["call_q6"] for r in rows]
        assert all(a >= b for a, b in zip(calls, calls[1:]))


def test_brier_log_loss_matches_pure_python(spark):
    got = {r["l_linestatus"]: r for r in plans.get("ml_brier_log_loss").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT l_linestatus, CAST(l_quantity AS BIGINT),"
        " CAST(l_returnflag = 'R' AS INT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    groups = {}
    for g, q, y in rows:
        groups.setdefault(g, []).append(((2 * q - 1) / 100.0, y))
    for g, items in groups.items():
        n = len(items)
        brier = sum((p - y) ** 2 for p, y in items) / n
        ll = -sum(math.log(p if y else 1 - p) for p, y in items) / n
        r = got[g]
        assert r["n"] == n
        assert r["brier"] == pytest.approx(brier, rel=1e-12)
        assert r["log_loss"] == pytest.approx(ll, rel=1e-5)


def test_silhouette_matches_numpy(spark):
    got = {r["label"]: r for r in plans.get("vec_silhouette_simplified").build(spark, SF).collect()}
    rows = _fetch(
        f"SELECT vec_id, label, embedding FROM read_parquet('{SF}/embeddings.parquet')"
        " ORDER BY vec_id"
    )
    import numpy as np

    labels = sorted({r[1] for r in rows})
    X = {lab: np.array([r[2] for r in rows if r[1] == lab], dtype=np.float64) for lab in labels}
    cents = {lab: X[lab].mean(axis=0) for lab in labels}
    sums, counts = {}, {}
    for vid, lab, emb in rows:
        v = np.array(emb, dtype=np.float64)
        d = {cl: ((v - c) ** 2).sum() for cl, c in cents.items()}
        a = d[lab]
        b = min(val for cl, val in d.items() if cl != lab)
        s = (b - a) / max(a, b)
        sums[lab] = sums.get(lab, 0.0) + s
        counts[lab] = counts.get(lab, 0) + 1
    for lab in labels:
        r = got[lab]
        assert r["n_vectors"] == counts[lab]
        # engine centroids use a sequential fold and 1e-12 floors;
        # numpy means differ in last bits -> 1e-5 agreement contract
        assert r["mean_silhouette"] == pytest.approx(sums[lab] / counts[lab], abs=1e-5)


def test_multiclass_prf_matches_pure_python(spark):
    got = {r["cls"]: r for r in plans.get("ml_multiclass_prf").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT o_orderpriority, o_totalprice"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    bands = [
        (60000, "1-URGENT"), (120000, "2-HIGH"), (180000, "3-MEDIUM"),
        (240000, "4-NOT SPECIFIED"), (float("inf"), "5-LOW"),
    ]
    tp, pred_n, actual_n = {}, {}, {}
    for actual, price in rows:
        pred = next(lab for cut, lab in bands if price < cut)
        pred_n[pred] = pred_n.get(pred, 0) + 1
        actual_n[actual] = actual_n.get(actual, 0) + 1
        if pred == actual:
            tp[pred] = tp.get(pred, 0) + 1
    classes = set(pred_n) | set(actual_n)
    assert set(got) == classes
    for cls in classes:
        r = got[cls]
        t, p, a = tp.get(cls, 0), pred_n.get(cls, 0), actual_n.get(cls, 0)
        assert (r["tp"], r["pred_n"], r["actual_n"]) == (t, p, a)
        assert r["precision_c"] == (pytest.approx(t / p) if p else None)
        assert r["recall_c"] == (pytest.approx(t / a) if a else None)
        assert r["f1_c"] == (pytest.approx(2 * t / (p + a)) if p + a else None)


def test_granger_matches_numpy_lstsq(spark, daily_scaled):
    got = {
        (r["cause"], r["effect"]): r
        for r in plans.get("ts_granger_causality_1lag").build(spark, SF).collect()
    }
    types = sorted(daily_scaled)
    series = {et: dict(pts) for et, pts in daily_scaled.items()}
    days = {et: sorted(d for d, _ in daily_scaled[et]) for et in types}
    for xt in types:
        for yt in types:
            if xt == yt:
                continue
            # aligned triples: y_t, y_{t-1}, x_{t-1} on shared days
            ylag, xlag = {}, {}
            for prev, cur in zip(days[yt], days[yt][1:]):
                if (cur - prev).days == 1:
                    ylag[cur] = (series[yt][cur], series[yt][prev])
            for prev, cur in zip(days[xt], days[xt][1:]):
                if (cur - prev).days == 1:
                    xlag[cur] = series[xt][prev]
            common = sorted(set(ylag) & set(xlag))
            Y = np.array([ylag[d][0] for d in common], dtype=np.float64)
            Y1 = np.array([ylag[d][1] for d in common], dtype=np.float64)
            X1 = np.array([xlag[d] for d in common], dtype=np.float64)
            n = len(common)
            A_r = np.column_stack([np.ones(n), Y1])
            A_u = np.column_stack([np.ones(n), Y1, X1])
            rss = lambda A: float(
                ((Y - A @ np.linalg.lstsq(A, Y, rcond=None)[0]) ** 2).sum()
            )
            rss_r, rss_u = rss(A_r), rss(A_u)
            f = (rss_r - rss_u) * (n - 3) / rss_u
            r = got[(xt, yt)]
            assert r["n"] == n
            assert r["rss_r"] == pytest.approx(rss_r, rel=1e-6)
            assert r["rss_u"] == pytest.approx(rss_u, rel=1e-6)
            assert r["f_stat"] == pytest.approx(f, rel=1e-4)


def test_permutation_importance_collapses_r2(spark):
    row = plans.get("ml_permutation_importance").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " CAST(l_quantity AS BIGINT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    y = np.array([r[0] for r in rows], dtype=np.float64)
    x = np.array([r[1] for r in rows], dtype=np.float64)
    r2_base = float(np.corrcoef(x, y)[0, 1] ** 2)
    assert row["n"] == len(rows)
    assert row["r2_base"] == pytest.approx(r2_base, rel=1e-9)
    # a permutation destroys the coupling: permuted R2 must be noise
    # (chi2(1)/n scale), far below any real R2 and bounded by ~25/n
    assert 0.0 <= row["r2_perm"] < 25.0 / row["n"]
    assert row["importance"] == pytest.approx(
        row["r2_base"] - row["r2_perm"], abs=1e-15
    )


def test_kendall_tau_matches_pairwise_numpy(spark):
    row = plans.get("stat_kendall_tau").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    q = np.array([r[0] for r in rows], dtype=np.int64)
    d = np.array([r[1] for r in rows], dtype=np.int64)
    n = len(q)
    # brute-force over ALL ordered pairs (each unordered pair twice)
    dq = np.sign(q[:, None] - q[None, :]).astype(np.int8)
    dd = np.sign(d[:, None] - d[None, :]).astype(np.int8)
    prod = dq.astype(np.int16) * dd
    nc = int((prod > 0).sum()) // 2
    nd = int((prod < 0).sum()) // 2
    ties_x = (int((dq == 0).sum()) - n) // 2
    ties_y = (int((dd == 0).sum()) - n) // 2
    n0 = n * (n - 1) / 2.0
    tau = (nc - nd) / math.sqrt((n0 - ties_x) * (n0 - ties_y))
    assert row["n"] == n
    assert row["n_concordant"] == float(nc)
    assert row["n_discordant"] == float(nd)
    assert row["ties_x"] == float(ties_x)
    assert row["ties_y"] == float(ties_y)
    assert row["tau_b"] == pytest.approx(tau, rel=1e-12)


def test_kruskal_wallis_matches_direct_ranks(spark, orders_cents):
    row = plans.get("stat_kruskal_wallis").build(spark, SF).collect()[0]
    pooled = np.concatenate(list(orders_cents.values()))
    n = len(pooled)
    # direct midranks via argsort (independent of the bucket+carry
    # decomposition): rank = average position of equal values, 1-based
    order = np.argsort(pooled, kind="mergesort")
    ranks = np.empty(n, dtype=np.float64)
    sorted_v = pooled[order]
    i = 0
    while i < n:
        j = i
        while j + 1 < n and sorted_v[j + 1] == sorted_v[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    h = 0.0
    off = 0
    for g in orders_cents.values():
        # groups concatenated in dict order -> slice pooled ranks
        rj = ranks[off : off + len(g)].sum()
        h += rj * rj / len(g)
        off += len(g)
    h = 12.0 / (n * (n + 1)) * h - 3.0 * (n + 1)
    _, counts = np.unique(pooled, return_counts=True)
    corr = 1.0 - float((counts.astype(np.float64) ** 3 - counts).sum()) / (
        float(n) ** 3 - n
    )
    assert row["k"] == len(orders_cents) and row["n"] == n
    assert row["h_stat"] == pytest.approx(h, rel=1e-9)
    assert row["tie_correction"] == pytest.approx(corr, rel=1e-12)
    assert row["h_corrected"] == pytest.approx(h / corr, rel=1e-9)


def test_chi2_gof_matches_direct_formula(spark):
    got = plans.get("stat_chi2_gof").build(spark, SF).collect()
    rows = _fetch(
        "SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    days = np.array([r[0] for r in rows], dtype=np.int64)
    counts = np.bincount(days % 7, minlength=7)
    n, k = counts.sum(), 7
    e = n / k
    chi2 = float(((counts - e) ** 2 / e).sum())
    assert len(got) == 7
    for r in got:
        assert r["n_obs"] == counts[r["dow"]]
        assert r["expected"] == pytest.approx(e, rel=1e-12)
        assert r["chi2_term"] == pytest.approx(
            (counts[r["dow"]] - e) ** 2 / e, rel=1e-9
        )
        # the algebraic identity vs the textbook sum
        assert r["chi2_total"] == pytest.approx(chi2, rel=1e-9)
        assert r["df"] == 6


def test_bh_fdr_matches_erfc_reference(spark):
    got = plans.get("stat_bh_fdr").build(spark, SF).collect()
    rows = _fetch(
        "SELECT c.c_nationkey,"
        " CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = o.o_custkey"
    )
    by_nation = {}
    for nat, xc in rows:
        by_nation.setdefault(nat, []).append(xc)
    all_x = np.array([x for _, x in rows], dtype=np.float64)
    mu, sd = all_x.mean(), all_x.std()  # population sd, as pooled
    ps = {}
    for nat, v in by_nation.items():
        z = (np.mean(v) - mu) * math.sqrt(len(v)) / sd
        # exact erfc-based two-sided p (operator uses A&S 26.2.17,
        # |err| < 7.5e-8 -> decisions match unless a p sits within
        # 1e-7 of the step-up boundary)
        ps[nat] = (z, math.erfc(abs(z) / math.sqrt(2.0)))
    m = len(ps)
    order = sorted(ps, key=lambda nat: (ps[nat][1], nat))
    k_star = 0
    for i, nat in enumerate(order, start=1):
        if ps[nat][1] <= 0.05 * i / m:
            k_star = i
    assert len(got) == m
    for r in got:
        z_ref, p_ref = ps[r["nation"]]
        assert r["z"] == pytest.approx(z_ref, rel=1e-9)
        assert r["p_q9"] / 1e9 == pytest.approx(p_ref, abs=2e-7)
        assert r["k_star"] == k_star
        assert r["reject"] == (1 if r["rnk"] <= k_star else 0)
        assert r["nj"] == len(by_nation[r["nation"]])


@pytest.fixture(scope="module")
def daily_series():
    rows = _fetch(
        "SELECT event_type, CAST(ts AS DATE) AS d,"
        " CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))"
        "      AS DOUBLE)"
        f" FROM read_parquet('{SF}/events.parquet')"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    )
    series = {}
    for et, _, x in rows:
        series.setdefault(et, []).append(x)
    return {et: np.array(v, dtype=np.float64) for et, v in series.items()}


def test_ljung_box_matches_direct_acf(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_ljung_box").build(spark, SF).collect()}
    for et, x in daily_series.items():
        n = len(x)
        xc = x - x.mean()
        denom = float((xc * xc).sum())
        rs = [float((xc[k:] * xc[:-k]).sum()) / denom for k in (1, 2, 3)]
        q = n * (n + 2) * sum(r * r / (n - k) for k, r in zip((1, 2, 3), rs))
        r = got[et]
        assert r["n"] == n
        for i, rk in enumerate(rs, start=1):
            assert r[f"r{i}"] == pytest.approx(rk, rel=1e-9)
        assert r["q_stat"] == pytest.approx(q, rel=1e-9)
        assert r["df"] == 3


def test_bollinger_matches_rolling_numpy(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_bollinger_bands").build(spark, SF).collect()}
    for et, x in daily_series.items():
        nu = nl = 0
        bw = 0
        for i in range(6, len(x)):
            w = x[i - 6 : i + 1]
            mid, sig = w.mean(), w.std()
            if x[i] > mid + 2 * sig:
                nu += 1
            if x[i] < mid - 2 * sig:
                nl += 1
            bw += math.floor(4 * sig * 1e6)
        r = got[et]
        assert r["n_days"] == len(x) - 6
        assert r["n_upper"] == nu and r["n_lower"] == nl
        assert r["bandwidth_q6_sum"] == pytest.approx(bw, abs=2)


def test_sax_matches_direct_paa(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_sax_symbols").build(spark, SF).collect()}
    for et, x in daily_series.items():
        mu, sd = x.mean(), x.std()
        word = ""
        for s0 in range(0, len(x), 5):
            zm = (x[s0 : s0 + 5].mean() - mu) / sd
            word += (
                "a" if zm < -0.6745 else "b" if zm < 0 else "c" if zm < 0.6745 else "d"
            )
        r = got[et]
        assert r["n_segments"] == math.ceil(len(x) / 5)
        assert r["sax_word"] == word
        assert (r["n_a"], r["n_b"], r["n_c"], r["n_d"]) == (
            word.count("a"), word.count("b"), word.count("c"), word.count("d"),
        )


def _trade_graph():
    """(undirected edge set, directed edge set) of the thresholded
    trade graph, rebuilt independently from the raw parquet."""
    rows = _fetch(
        "SELECT s.s_nationkey, c.c_nationkey, COUNT(*)"
        f" FROM read_parquet('{SF}/lineitem.parquet') l"
        f" JOIN read_parquet('{SF}/orders.parquet') o ON l.l_orderkey = o.o_orderkey"
        f" JOIN read_parquet('{SF}/customer.parquet') c ON o.o_custkey = c.c_custkey"
        f" JOIN read_parquet('{SF}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey"
        " GROUP BY 1, 2"
    )
    und = {}
    for s, c, w in rows:
        if s != c:
            k = (min(s, c), max(s, c))
            und[k] = und.get(k, 0) + w
    uw = sorted(und.values())
    # quantile_cont(0.6) with linear interpolation
    def q60(ws):
        h = 0.6 * (len(ws) - 1)
        lo, hi = int(math.floor(h)), int(math.ceil(h))
        return ws[lo] + (h - lo) * (ws[hi] - ws[lo])
    ku = {k for k, w in und.items() if w >= q60(uw)}
    dire = {(s, c): w for s, c, w in rows if s != c}
    dw = sorted(dire.values())
    kd = {k for k, w in dire.items() if w >= q60(dw)}
    return ku, kd


@pytest.fixture(scope="module")
def trade_graph():
    return _trade_graph()


def test_clustering_coeff_matches_pure_python(spark, trade_graph):
    ku, _ = trade_graph
    nbrs = {}
    for a, b in ku:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    got = {r["nationkey"]: r for r in plans.get("graph_clustering_coeff").build(spark, SF).collect()}
    assert set(got) == set(nbrs)
    for v, ns in nbrs.items():
        deg = len(ns)
        tri = sum(
            1
            for x in ns
            for y in ns
            if x < y and (min(x, y), max(x, y)) in ku
        )
        r = got[v]
        assert r["deg"] == deg
        assert r["n_wedges"] == deg * (deg - 1) // 2
        assert r["n_tri"] == tri
        if deg >= 2:
            assert r["clustering_coeff"] == pytest.approx(
                2 * tri / (deg * (deg - 1)), rel=1e-12
            )
        else:
            assert r["clustering_coeff"] is None


def test_adamic_adar_matches_pure_python(spark, trade_graph):
    ku, _ = trade_graph
    nbrs = {}
    for a, b in ku:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    got = {(r["a"], r["b"]): r for r in plans.get("graph_adamic_adar").build(spark, SF).collect()}
    expect = {}
    vs = sorted(nbrs)
    for i, a in enumerate(vs):
        for b in vs[i + 1 :]:
            if (a, b) in ku:
                continue
            common = nbrs[a] & nbrs[b]
            if common:
                expect[(a, b)] = (
                    len(common),
                    sum(1.0 / math.log(len(nbrs[z])) for z in sorted(common)),
                )
    assert set(got) == set(expect)
    for k, (nc, aa) in expect.items():
        assert got[k]["n_common"] == nc
        assert got[k]["aa_score"] == pytest.approx(aa, rel=1e-12)


def test_hits_matches_integer_power_iteration(spark, trade_graph):
    _, kd = trade_graph
    nodes = sorted({v for e in kd for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
    for s, c in kd:
        A[idx[s], idx[c]] = 1
    h = np.ones(len(nodes), dtype=np.int64)
    for _ in range(4):
        a = A.T @ h
        h = A @ a
    got = {r["nationkey"]: r for r in plans.get("graph_hits").build(spark, SF).collect()}
    assert set(got) == set(nodes)
    na = math.sqrt(float((a.astype(object) ** 2).sum()))
    nh = math.sqrt(float((h.astype(object) ** 2).sum()))
    for v in nodes:
        r = got[v]
        assert r["auth_raw"] == a[idx[v]]
        assert r["hub_raw"] == h[idx[v]]
        assert r["authority"] == pytest.approx(a[idx[v]] / na, rel=1e-12)
        assert r["hub"] == pytest.approx(h[idx[v]] / nh, rel=1e-12)


def test_sharpe_sortino_matches_pure_python(spark):
    got = {r["segment"]: r for r in plans.get("fin_sharpe_sortino").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE),"
        " CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))"
        "      AS DECIMAL(18,2)) AS DOUBLE)"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    )
    series = {}
    for seg, _, x in rows:
        series.setdefault(seg, []).append(x)
    for seg, xs in series.items():
        rq = [
            math.floor((xs[i] / xs[i - 1] - 1.0) * 1e9)
            for i in range(1, len(xs))
        ]
        n = len(rq)
        mean = sum(rq) / n
        var = sum(v * v for v in rq) / n - mean * mean
        dvar = sum(v * v for v in rq if v < 0) / n
        r = got[seg]
        assert r["n"] == n
        assert r["mean_ret"] == pytest.approx(mean / 1e9, rel=1e-9)
        assert r["vol"] == pytest.approx(math.sqrt(var) / 1e9, rel=1e-9)
        assert r["downside_vol"] == pytest.approx(math.sqrt(dvar) / 1e9, rel=1e-9)
        assert r["sharpe_ann"] == pytest.approx(
            mean / math.sqrt(var) * math.sqrt(252.0), rel=1e-9
        )
        assert r["sortino_ann"] == pytest.approx(
            mean / math.sqrt(dvar) * math.sqrt(252.0), rel=1e-9
        )


def test_bond_grid_matches_cashflow_sum(spark):
    got = plans.get("fin_bond_duration_grid").build(spark, SF).collect()
    assert len(got) == 25 * 3 * 4
    for r in got:
        y, c, t = r["yld"], r["cpn"], r["mat"]
        cfs = [(k, c + (1.0 if k == t else 0.0)) for k in range(1, t + 1)]
        price = sum(cf / (1 + y) ** k for k, cf in cfs)
        mac = sum(k * cf / (1 + y) ** k for k, cf in cfs) / price
        # closed form vs explicit sum agree to float noise; q8 floor
        # can differ by 1 ulp-of-quantum at the boundary
        assert r["price_q8"] == pytest.approx(math.floor(price * 1e8), abs=2)
        assert r["macaulay_q8"] == pytest.approx(math.floor(mac * 1e8), abs=2)


def test_ecl_staging_matches_pure_python(spark):
    got = {r["stage"]: r for r in plans.get("fin_ecl_staging").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " CAST(DATE '1998-08-02' - CAST(o_orderdate AS DATE) AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
        " WHERE o_orderstatus = 'O'"
    )
    agg = {}
    for ead, dpd in rows:
        stage = 1 if dpd <= 180 else 2 if dpd <= 540 else 3
        pd_bp = {1: 200, 2: 1500, 3: 10000}[stage]
        n, e, num = agg.get(stage, (0, 0, 0))
        agg[stage] = (n + 1, e + ead, num + ead * pd_bp * 45)
    ead_all = sum(e for _, e, _ in agg.values())
    assert set(got) == set(agg)
    for stage, (n, e, num) in agg.items():
        r = got[stage]
        assert r["n_receivables"] == n
        assert r["ead"] == pytest.approx(e / 100, rel=1e-12)
        assert r["ecl"] == pytest.approx(num / 1e8, rel=1e-12)
        assert r["ead_share"] == pytest.approx(e / ead_all, rel=1e-12)


def test_bloom_portable_matches_hashlib(spark):
    import hashlib

    row = plans.get("agg_bloom_portable").build(spark, SF).collect()[0]
    buyers = {
        r[0]
        for r in _fetch(
            f"SELECT DISTINCT o_custkey FROM read_parquet('{SF}/orders.parquet')"
        )
    }
    custs = [
        r[0]
        for r in _fetch(
            f"SELECT c_custkey FROM read_parquet('{SF}/customer.parquet')"
        )
    ]

    def positions(k):
        return [
            int(hashlib.md5(f"{r}:{k}".encode()).hexdigest()[:15], 16) % 2048
            for r in range(3)
        ]

    bits = {p for k in buyers for p in positions(k)}
    fp = fn = pos_n = 0
    for k in custs:
        hit = all(p in bits for p in positions(k))
        if hit:
            pos_n += 1
            if k not in buyers:
                fp += 1
        elif k in buyers:
            fn += 1
    assert row["n_keys"] == len(buyers)
    assert row["n_set_bits"] == len(bits)
    assert row["n_probes"] == len(custs)
    assert row["n_true_members"] == len(buyers & set(custs))
    assert row["n_bloom_positive"] == pos_n
    assert row["n_false_positives"] == fp
    assert row["n_false_negatives"] == fn == 0  # structural


def test_c4_gopher_filters_matches_pure_python(spark):
    got = {r["doc_id"]: r for r in plans.get("text_c4_gopher_filters").build(spark, SF).collect()}
    docs = _fetch(f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')")
    assert len(got) == len(docs)
    import re as _re

    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        n = len(toks)
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        mean_len = sum(len(t) for t in toks) / n
        top = max(counts.values())
        alpha = sum(c for t, c in counts.items() if _re.search("[a-z]", t))
        r = got[doc_id]
        assert r["n_words"] == n
        assert r["mean_word_len"] == pytest.approx(mean_len, rel=1e-12)
        assert r["max_word_len"] == max(len(t) for t in toks)
        assert r["top_word_frac"] == pytest.approx(top / n, rel=1e-12)
        assert r["alpha_word_frac"] == pytest.approx(alpha / n, rel=1e-12)
        keep = (
            50 <= n <= 100000
            and 3 <= mean_len <= 10
            and max(len(t) for t in toks) <= 1000
            and top / n <= 0.10
            and alpha / n >= 0.80
            and "lorem ipsum" not in text
            and "{" not in text
            and "}" not in text
        )
        assert r["keep"] == keep


def test_adaboost_round_matches_numpy(spark):
    row = plans.get("ml_adaboost_round").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(l_extendedprice AS DOUBLE),"
        " CAST(l_returnflag = 'R' AS INT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    x = np.array([r[0] for r in rows])
    y = np.array([r[1] for r in rows])
    xmin, xmax = x.min(), x.max()
    bins = np.minimum(31, np.floor((x - xmin) / ((xmax - xmin) / 32.0)).astype(int))
    n_tot, n_pos_tot = len(x), int(y.sum())
    best = None
    for b in sorted(set(bins)):
        left = bins <= b
        if left.all():
            continue
        ln, lp = int(left.sum()), int(y[left].sum())
        for polarity in ("left_neg", "left_pos"):
            if polarity == "left_pos":
                wrong = (ln - lp) + (n_pos_tot - lp)
            else:
                wrong = lp + (n_tot - ln) - (n_pos_tot - lp)
            key = (wrong, b, polarity)
            if best is None or key < best:
                best = key
    wrong, b, polarity = best
    assert (row["split_bin"], row["polarity"], row["n_wrong"]) == (b, polarity, wrong)
    assert row["n"] == n_tot
    assert row["err"] == pytest.approx(wrong / n_tot, rel=1e-12)
    assert row["alpha"] == pytest.approx(
        0.5 * math.log((n_tot - wrong) / wrong), rel=1e-12
    )
    assert row["w_wrong"] == pytest.approx(1 / (2 * wrong), rel=1e-12)
    assert row["w_right"] == pytest.approx(1 / (2 * (n_tot - wrong)), rel=1e-12)


def test_retention_cohorts_matches_pure_python(spark):
    got = {
        (r["cohort"], r["week_offset"]): r
        for r in plans.get("ts_retention_cohorts").build(spark, SF).collect()
    }
    rows = _fetch(
        "SELECT user_id,"
        " CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT)"
        f" FROM read_parquet('{SF}/events.parquet')"
    )
    act = {}
    for u, w in rows:
        act.setdefault(u, set()).add(w)
    cells, sizes = {}, {}
    for u, ws in act.items():
        c = min(ws)
        sizes[c] = sizes.get(c, 0) + 1
        for w in ws:
            cells[(c, w - c)] = cells.get((c, w - c), 0) + 1
    assert set(got) == set(cells)
    for k, n in cells.items():
        r = got[k]
        assert r["n_active"] == n
        assert r["cohort_size"] == sizes[k[0]]
        assert r["retention"] == pytest.approx(n / sizes[k[0]], rel=1e-12)


def test_stl_decompose_matches_numpy(spark, daily_series):
    got = plans.get("ts_stl_decompose").build(spark, SF).collect()
    by_et = {}
    for r in got:
        by_et.setdefault(r["event_type"], []).append(r)
    for et, x in daily_series.items():
        rows = sorted(by_et[et], key=lambda r: r["d"])
        n = len(x)
        assert len(rows) == n - 6  # centered 7-day MA trims 3 each side
        trend = np.array(
            [x[i - 3 : i + 4].mean() for i in range(3, n - 3)]
        )
        detr = x[3 : n - 3] - trend
        dows = np.array([r["dow"] for r in rows])
        for i, r in enumerate(rows):
            assert r["x"] == pytest.approx(x[3 + i], rel=1e-12)
            assert r["trend"] == pytest.approx(trend[i], rel=1e-9)
            mask = dows == r["dow"]
            seas = detr[mask].mean()
            assert r["seasonal"] == pytest.approx(seas, rel=1e-9)
            assert r["residual"] == pytest.approx(detr[i] - seas, rel=1e-6)
        # decomposition identity: x = trend + seasonal + residual
        for r in rows:
            assert r["x"] == pytest.approx(
                r["trend"] + r["seasonal"] + r["residual"], abs=1e-9
            )


def test_viterbi_matches_pure_python_dp(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_viterbi_2state").build(spark, SF).collect()}
    for et, x in daily_series.items():
        mean = x.sum() / len(x)
        obs = [1 if v > mean else 0 for v in x]
        s0, s1, p0, p1 = 0, 0, "", ""
        for o in obs:
            e0 = 0 if o == 0 else -2
            e1 = 0 if o == 1 else -2
            ns0 = max(s0, s1 - 3) + e0
            ns1 = max(s1, s0 - 3) + e1
            np0 = (p0 if s0 >= s1 - 3 else p1) + "0"
            np1 = (p1 if s1 >= s0 - 3 else p0) + "1"
            s0, s1, p0, p1 = ns0, ns1, np0, np1
        state = 0 if s0 >= s1 else 1
        path = p0 if s0 >= s1 else p1
        switches = sum(1 for a, b in zip(path, path[1:]) if a != b)
        r = got[et]
        assert r["n"] == len(obs)
        assert r["final_state"] == state
        assert r["best_score"] == max(s0, s1)
        assert r["path"] == path
        assert r["n_switches"] == switches


def test_woe_iv_matches_pure_python(spark):
    got = plans.get("fin_woe_iv_binning").build(spark, SF).collect()
    rows = _fetch(
        "SELECT o_orderpriority, CAST(o_orderstatus = 'F' AS INT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    per = {}
    for b, bad in rows:
        g, d = per.get(b, (0, 0))
        per[b] = (g + (1 - bad), d + bad)
    G = sum(g for g, _ in per.values())
    B = sum(b for _, b in per.values())
    iv = sum(
        (g / G - b / B) * math.log((g / G) / (b / B))
        for _, (g, b) in sorted(per.items())
    )
    assert len(got) == len(per)
    for r in got:
        g, b = per[r["bin"]]
        assert (r["n_good"], r["n_bad"]) == (g, b)
        assert r["woe"] == pytest.approx(math.log((g / G) / (b / B)), rel=1e-12)
        assert r["iv_total"] == pytest.approx(iv, rel=1e-9)


def test_cusum_changepoint_matches_pure_python(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_cusum_changepoint").build(spark, SF).collect()}
    for et, x in daily_series.items():
        xq = [round(v * 1e6) for v in x]  # exact: values are 6-dp decimals
        n = len(xq)
        s = sum(xq)
        best = None
        for t in range(1, n):
            prefix = sum(xq[:t])
            d = abs(n * prefix - t * s)
            if best is None or d > best[0]:
                best = (d, t, prefix)
        d, t, prefix = best
        r = got[et]
        assert r["n"] == n and r["cp_index"] == t
        assert r["cusum_peak"] == pytest.approx(d / (n * 1e6), rel=1e-12)
        assert r["mean_before"] == pytest.approx(prefix / (t * 1e6), rel=1e-12)
        assert r["mean_after"] == pytest.approx((s - prefix) / ((n - t) * 1e6), rel=1e-12)


def test_dq_rule_engine_matches_pure_python(spark):
    got = {r["rule_id"]: r for r in plans.get("dq_rule_engine").build(spark, SF).collect()}
    (n_rows,) = _fetch(f"SELECT COUNT(*) FROM read_parquet('{SF}/orders.parquet')")[0]
    rows = _fetch(
        "SELECT o_custkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " o_orderstatus, o_orderdate"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    import datetime

    nulls = sum(1 for r in rows if r[0] is None)
    prices = [r[1] for r in rows]
    statuses = {r[2] for r in rows}
    oob = sum(
        1
        for r in rows
        if not (datetime.datetime(1990, 1, 1) <= r[3] < datetime.datetime(2000, 1, 1))
    )
    expect = {
        1: (n_rows, n_rows >= 100),
        2: (nulls, nulls <= 0),
        3: (min(prices), min(prices) >= 1),
        4: (max(prices), max(prices) <= 100000000),
        5: (len(statuses), len(statuses) <= 3),
        6: (oob, oob <= 0),
    }
    assert set(got) == set(expect)
    for rid, (obs, ok) in expect.items():
        assert got[rid]["observed"] == obs
        assert got[rid]["passed"] == ok


def test_item_item_cf_matches_pure_python(spark):
    got = plans.get("ml_item_item_cf").build(spark, SF).collect()
    rows = _fetch(
        "SELECT DISTINCT o.o_custkey, l.l_partkey"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/lineitem.parquet') l"
        " ON l.l_orderkey = o.o_orderkey"
    )
    baskets, n = {}, {}
    for u, i in rows:
        baskets.setdefault(u, set()).add(i)
        n[i] = n.get(i, 0) + 1
    co = {}
    for items in baskets.values():
        si = sorted(items)
        for ai in range(len(si)):
            for bi in range(ai + 1, len(si)):
                k = (si[ai], si[bi])
                co[k] = co.get(k, 0) + 1
    top = sorted(co.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert len(got) == 50
    for r, ((i1, i2), c) in zip(got, top):
        assert (r["i1"], r["i2"], r["co"]) == (i1, i2, c)
        assert (r["n1"], r["n2"]) == (n[i1], n[i2])
        assert r["cosine"] == pytest.approx(
            c / math.sqrt(n[i1] * n[i2]), rel=1e-12
        )


def test_peak_detection_matches_pure_python(spark, daily_series):
    got = {}
    for r in plans.get("ts_peak_detection").build(spark, SF).collect():
        got.setdefault(r["event_type"], []).append(r)
    for et, x in daily_series.items():
        mean = x.sum() / len(x)
        peaks = [
            (i, x[i], x[i] - max(x[i - 1], x[i + 1]))
            for i in range(1, len(x) - 1)
            if x[i] > x[i - 1] and x[i] > x[i + 1] and x[i] > mean
        ]
        rows = got.get(et, [])
        assert len(rows) == len(peaks)
        for r, (_, xv, prom) in zip(rows, peaks):
            assert r["x"] == pytest.approx(xv, rel=1e-12)
            assert r["prominence"] == pytest.approx(prom, abs=1e-9)


def test_kneser_ney_matches_pure_python(spark):
    got = plans.get("text_kneser_ney_bigram").build(spark, SF).collect()
    docs = _fetch(f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')")
    c12, c1, npost, npre = {}, {}, {}, {}
    for _, text in docs:
        toks = [t for t in text.split(" ") if t]
        for w1, w2 in zip(toks, toks[1:]):
            c12[(w1, w2)] = c12.get((w1, w2), 0) + 1
    for (w1, w2), c in c12.items():
        c1[w1] = c1.get(w1, 0) + c
    npost = {w1: sum(1 for (a, _) in c12 if a == w1) for w1 in c1}
    seen2 = {w2 for (_, w2) in c12}
    npre = {w2: sum(1 for (_, b) in c12 if b == w2) for w2 in seen2}
    T = len(c12)
    top = sorted(c12.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert len(got) == 20
    for r, ((w1, w2), c) in zip(got, top):
        assert (r["w1"], r["w2"], r["c12"]) == (w1, w2, c)
        assert (r["c1"], r["n_post"], r["n_pre"], r["n_types"]) == (
            c1[w1], npost[w1], npre[w2], T,
        )
        pkn = (c - 0.75) / c1[w1] + 0.75 * npost[w1] / c1[w1] * (npre[w2] / T)
        assert r["p_kn"] == pytest.approx(pkn, rel=1e-12)


def test_shapley_2feature_matches_numpy(spark):
    row = plans.get("ml_shapley_2feature").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE),"
        " CAST(l_extendedprice AS DOUBLE)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    X = np.array(rows)
    x1, x2, y = X[:, 0], X[:, 1], X[:, 2]

    def r2(*feats):
        A = np.column_stack([np.ones(len(y))] + list(feats))
        beta, *_ = np.linalg.lstsq(A, y, rcond=None)
        resid = y - A @ beta
        return 1 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))

    r1, r2_, r12 = r2(x1), r2(x2), r2(x1, x2)
    assert row["n"] == len(y)
    assert row["r2_1"] == pytest.approx(r1, rel=1e-9)
    assert row["r2_2"] == pytest.approx(r2_, rel=1e-9)
    assert row["r2_12"] == pytest.approx(r12, rel=1e-9)
    assert row["shapley_x1"] == pytest.approx(0.5 * (r1 + r12 - r2_), rel=1e-9)
    assert row["shapley_x2"] == pytest.approx(0.5 * (r2_ + r12 - r1), rel=1e-9)
    # efficiency axiom: contributions partition the full-model R2
    assert row["shapley_x1"] + row["shapley_x2"] == pytest.approx(
        row["r2_12"], abs=1e-12
    )


def test_conformal_interval_matches_numpy(spark):
    row = plans.get("ml_conformal_ols_interval").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(l_orderkey % 2 AS INT), CAST(l_quantity AS DOUBLE),"
        " CAST(l_extendedprice AS DOUBLE)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    tr = np.array([(x, y) for f, x, y in rows if f == 0])
    ca = np.array([(x, y) for f, x, y in rows if f == 1])
    n = len(tr)
    sx, sy = tr[:, 0].sum(), tr[:, 1].sum()
    sxx, sxy = (tr[:, 0] ** 2).sum(), (tr[:, 0] * tr[:, 1]).sum()
    b1 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    b0 = sy / n - b1 * sx / n
    rq = np.floor(np.abs(ca[:, 1] - b0 - b1 * ca[:, 0]) * 1e6).astype(np.int64)
    k = math.ceil(0.9 * (len(rq) + 1))
    q_hat = int(np.sort(rq)[k - 1])
    cov = float((rq <= q_hat).mean())
    assert (row["n_train"], row["n_cal"]) == (n, len(rq))
    assert row["beta1"] == pytest.approx(b1, rel=1e-9)
    assert row["beta0"] == pytest.approx(b0, rel=1e-9)
    assert row["q_hat_q6"] == q_hat
    assert row["coverage"] == pytest.approx(cov, rel=1e-12)
    assert cov >= 0.9  # split-conformal guarantee on the cal set


def test_velocity_flags_matches_pure_python(spark):
    got = {r["custkey"]: r for r in plans.get("fin_velocity_flags").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT o_custkey,"
        " CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet') ORDER BY 1, 2"
    )
    days = {}
    for c, d in rows:
        days.setdefault(c, []).append(d)
    expect = {}
    for c, ds in days.items():
        best, first = 0, None
        for d in ds:
            v = sum(1 for e in ds if d - 29 <= e <= d)
            if v > best:
                best, first = v, d
        if best >= 3:
            expect[c] = (len(ds), best, first)
    assert set(got) == set(expect)
    import datetime

    for c, (n, v, fd) in expect.items():
        r = got[c]
        assert (r["n_orders"], r["max_velocity"]) == (n, v)
        assert r["first_peak_date"] == datetime.date(1970, 1, 1) + datetime.timedelta(days=fd)


def test_partial_corr_matches_numpy(spark):
    row = plans.get("stat_partial_corr").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE),"
        " CAST(l_discount AS DOUBLE)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    X = np.array(rows)
    C = np.corrcoef(X.T)
    rxy, rxz, ryz = C[0, 1], C[0, 2], C[1, 2]
    part = (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2))
    assert row["n"] == len(rows)
    assert row["rxy"] == pytest.approx(rxy, rel=1e-9)
    assert row["rxz"] == pytest.approx(rxz, rel=1e-9)
    assert row["ryz"] == pytest.approx(ryz, rel=1e-9)
    assert row["partial_rxy_given_z"] == pytest.approx(part, rel=1e-9)


def test_hurst_rs_matches_pure_python(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_hurst_rs").build(spark, SF).collect()}
    for et, x in daily_series.items():
        xq = [round(v * 1e6) for v in x]
        pts = []
        rs_by_m = {}
        for m in (5, 10, 15, 30):
            rss = []
            for b0 in range(0, len(xq), m):
                blkv = xq[b0 : b0 + m]
                sb = sum(blkv)
                sq = sum(v * v for v in blkv)
                var_num = m * sq - sb * sb
                if var_num <= 0:
                    continue
                devs = []
                pref = 0
                for t, v in enumerate(blkv, start=1):
                    pref += v
                    devs.append(m * pref - t * sb)
                rss.append((max(devs) - min(devs)) / math.sqrt(var_num))
            mean_rs = sum(rss) / len(rss)
            rs_by_m[m] = mean_rs
            pts.append(
                (math.floor(math.log(m) * 1e9), math.floor(math.log(mean_rs) * 1e9))
            )
        k = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        hurst = (k * sxy - sx * sy) / (k * sxx - sx * sx)
        r = got[et]
        assert r["k"] == k
        assert r["rs_5"] == pytest.approx(rs_by_m[5], rel=1e-9)
        assert r["rs_30"] == pytest.approx(rs_by_m[30], rel=1e-9)
        assert r["hurst"] == pytest.approx(hurst, rel=1e-9)
        assert 0.0 < r["hurst"] < 1.0  # sane range for R/S on real data


def test_effect_sizes_match_numpy(spark):
    row = plans.get("stat_effect_sizes").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT o_orderpriority,"
        " CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
        " WHERE o_orderpriority IN ('1-URGENT', '5-LOW')"
    )
    a = np.array([x for p, x in rows if p == "1-URGENT"], dtype=np.float64)
    b = np.array([x for p, x in rows if p == "5-LOW"], dtype=np.float64)
    n1, n2 = len(a), len(b)
    pooled = math.sqrt(
        (a.var() * n1 + b.var() * n2) / (n1 + n2 - 2)
    )
    d = (a.mean() - b.mean()) / pooled
    g = d * (1 - 3 / (4 * (n1 + n2) - 9))
    gt = int((a[:, None] > b[None, :]).sum())
    lt = int((a[:, None] < b[None, :]).sum())
    delta = (gt - lt) / (n1 * n2)
    assert (row["n1"], row["n2"]) == (n1, n2)
    assert row["mean_diff"] == pytest.approx((a.mean() - b.mean()) / 100, rel=1e-9)
    assert row["cohens_d"] == pytest.approx(d, rel=1e-9)
    assert row["hedges_g"] == pytest.approx(g, rel=1e-9)
    assert row["cliffs_delta"] == pytest.approx(delta, rel=1e-12)


def test_mase_backtest_matches_pure_python(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_forecast_backtest_mase").build(spark, SF).collect()}
    for et, x in daily_series.items():
        xq = [round(v * 1e6) for v in x]
        se = [abs(xq[t] - xq[t - 7]) for t in range(7, len(xq))]
        sd = [abs(xq[t] - xq[t - 1]) for t in range(1, len(xq))]
        smape = [
            math.floor(2.0 * abs(xq[t] - xq[t - 7]) / (abs(xq[t]) + abs(xq[t - 7])) * 1e9)
            for t in range(7, len(xq))
        ]
        r = got[et]
        assert r["n_f"] == len(se)
        assert r["seasonal_mae"] == pytest.approx(sum(se) / len(se) / 1e6, rel=1e-12)
        assert r["naive_mae"] == pytest.approx(sum(sd) / len(sd) / 1e6, rel=1e-12)
        assert r["mase"] == pytest.approx(
            (sum(se) / len(se)) / (sum(sd) / len(sd)), rel=1e-12
        )
        assert r["smape"] == pytest.approx(sum(smape) / len(smape) / 1e9, rel=1e-12)


def test_stream_cusum_alarm_equals_batch(spark):
    live = {r["event_type"]: r for r in plans.get("stream_live_cusum_alarm").build(spark, SF).collect()}
    batch = {r["event_type"]: r for r in plans.get("ts_cusum_changepoint").build(spark, SF).collect()}
    assert set(live) == set(batch)
    for et, b in batch.items():
        l = live[et]
        assert (l["n"], l["cp_index"], l["cp_date"]) == (b["n"], b["cp_index"], b["cp_date"])
        assert l["cusum_peak"] == b["cusum_peak"]
        assert l["mean_before"] == b["mean_before"]
        assert l["mean_after"] == b["mean_after"]


def test_kmeans_unrolled2_matches_pure_python(spark):
    got = {r["cluster_id"]: r for r in plans.get("vec_kmeans_unrolled2").build(spark, SF).collect()}
    rows = _fetch(
        f"SELECT vec_id, embedding FROM read_parquet('{SF}/embeddings.parquet')"
        " ORDER BY vec_id"
    )
    vecs = {vid: [float(x) for x in emb] for vid, emb in rows}
    vids = sorted(vecs)
    cents = {i: vecs[vid][:] for i, vid in enumerate(vids[:8])}

    def dq(v, c):
        return sum(int(math.floor((a - b) * (a - b) * 1e12)) for a, b in zip(v, c))

    def assign(cents):
        out = {}
        for vid in vids:
            best = min(
                ((dq(vecs[vid], c), cid) for cid, c in cents.items())
            )
            out[vid] = (best[1], best[0])
        return out

    a1 = assign(cents)
    c1 = {}
    for cid in set(c for c, _ in a1.values()):
        members = [vid for vid in vids if a1[vid][0] == cid]
        dims = len(vecs[members[0]])
        # sequential left fold in vec_id order — the engine contract
        c1[cid] = [
            sum(vecs[vid][d] for vid in members) / len(members)
            for d in range(dims)
        ]
    a2 = assign(c1)
    expect = {}
    for vid in vids:
        cid, d = a2[vid]
        n, inert, moved = expect.get(cid, (0, 0, 0))
        expect[cid] = (n + 1, inert + d, moved + (a1[vid][0] != cid))
    assert set(got) == set(expect)
    for cid, (n, inert, moved) in expect.items():
        r = got[cid]
        assert r["n_vectors"] == n
        assert r["inertia"] == pytest.approx(inert / 1e12, rel=1e-12)
        assert r["n_moved_in"] == moved


def test_attribution_last_touch_matches_pure_python(spark):
    got = {r["channel"]: r for r in plans.get("ts_attribution_last_touch").build(spark, SF).collect()}
    rows = _fetch(
        f"SELECT user_id, event_id, event_type, ts FROM read_parquet('{SF}/events.parquet')"
    )
    import datetime

    buys = [(u, e, t) for u, e, ty, t in rows if ty == "purchase"]
    touches = [(u, ty, t) for u, e, ty, t in rows if ty in ("view", "click")]
    counts = {}
    for u, _, bt in buys:
        cand = [
            (t, ch)
            for (tu, ch, t) in touches
            if tu == u and t < bt and t >= bt - datetime.timedelta(days=7)
        ]
        if cand:
            # latest ts; ties broken by channel ascending
            latest = max(t for t, _ in cand)
            ch = min(ch for t, ch in cand if t == latest)
            counts[ch] = counts.get(ch, 0) + 1
    assert set(got) == set(counts)
    for ch, n in counts.items():
        r = got[ch]
        assert r["n_attributed"] == n
        assert r["n_buys"] == len(buys)
        assert r["share_of_purchases"] == pytest.approx(n / len(buys), rel=1e-12)


def test_rejection_sample_matches_hashlib(spark):
    import hashlib

    got = {r["lang"]: r for r in plans.get("cur_rejection_sample_md5").build(spark, SF).collect()}
    rows = _fetch(f"SELECT doc_id, lang, n_chars FROM read_parquet('{SF}/documents.parquet')")
    qmax = max(r[2] for r in rows)
    agg = {}
    for doc_id, lang, nc in rows:
        h = int(hashlib.md5(f"rej:{doc_id}".encode()).hexdigest()[:15], 16)
        acc = h * qmax < nc * (1 << 60)
        n, na, ch = agg.get(lang, (0, 0, 0))
        agg[lang] = (n + 1, na + acc, ch + (nc if acc else 0))
    assert set(got) == set(agg)
    for lang, (n, na, ch) in agg.items():
        r = got[lang]
        assert (r["n_docs"], r["n_accepted"], r["accepted_chars"]) == (n, na, ch)
        assert r["accept_rate"] == pytest.approx(na / n, rel=1e-12)


def test_class_weights_match_pure_python(spark):
    got = {r["label"]: r for r in plans.get("ml_class_weights").build(spark, SF).collect()}
    rows = _fetch(
        f"SELECT l_returnflag, COUNT(*) FROM read_parquet('{SF}/lineitem.parquet') GROUP BY 1"
    )
    n = sum(c for _, c in rows)
    k = len(rows)
    for label, c in rows:
        r = got[label]
        assert r["n_c"] == c
        assert r["w_inverse_freq"] == pytest.approx(n / (k * c), rel=1e-12)
        bq = math.floor(0.9999**c * 1e12)
        assert r["w_effective_number"] == pytest.approx(
            0.0001 * 1e12 / (1e12 - bq), rel=1e-9
        )


def test_geo_grid_knn_matches_brute_force(spark):
    got = {}
    for r in plans.get("geo_grid_knn_join").build(spark, SF).collect():
        got.setdefault(r["probe_id"], []).append((r["rnk"], r["cand_id"], r["d2"]))
    ids = [r[0] for r in _fetch(f"SELECT c_custkey FROM read_parquet('{SF}/customer.parquet')")]
    pts = {
        i: ((i * 7919) % 18000000 - 9000000, (i * 104729) % 36000000 - 18000000)
        for i in ids
    }
    cell = {i: (p[0] // 1000000, p[1] // 1000000) for i, p in pts.items()}
    for pid in [i for i in ids if i % 100 == 1]:
        plat, plon = pts[pid]
        pcy, pcx = cell[pid]
        cands = sorted(
            (
                ((plat - lat) ** 2 + (plon - lon) ** 2, i)
                for i, (lat, lon) in pts.items()
                if i != pid
                and abs(cell[i][0] - pcy) <= 1
                and abs(cell[i][1] - pcx) <= 1
            )
        )[:3]
        rows = sorted(got.get(pid, []))
        assert len(rows) == len(cands)
        for (rnk, cid, d2), (ed2, eid) in zip(rows, cands):
            assert (cid, d2) == (eid, ed2)


def test_diff_in_diff_matches_numpy(spark):
    row = plans.get("stat_diff_in_diff").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT event_type, CAST(ts AS DATE) >= DATE '2024-01-16',"
        " CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
        f" FROM read_parquet('{SF}/events.parquet')"
    )
    cells = {}
    for et, post, xq in rows:
        key = (1 if et in ("purchase", "click") else 0, 1 if post else 0)
        cells.setdefault(key, []).append(xq)
    m = {k: np.mean(v) for k, v in cells.items()}
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    n_all = sum(len(v) for v in cells.values())
    ssw = sum(float(((np.array(v) - np.mean(v)) ** 2).sum()) for v in cells.values())
    se = math.sqrt(
        ssw / (n_all - 4) * sum(1 / len(cells[k]) for k in cells)
    )
    assert row["n_all"] == n_all
    assert row["did_estimate"] == pytest.approx(did / 1e6, rel=1e-9)
    assert row["treated_delta"] == pytest.approx((m[(1, 1)] - m[(1, 0)]) / 1e6, rel=1e-9)
    assert row["control_delta"] == pytest.approx((m[(0, 1)] - m[(0, 0)]) / 1e6, rel=1e-9)
    assert row["did_se"] == pytest.approx(se / 1e6, rel=1e-9)


def test_cuped_matches_numpy(spark):
    import hashlib

    row = plans.get("ml_ab_cuped").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT o_custkey,"
        " SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'"
        "     THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))*100 AS BIGINT)"
        "     ELSE 0 END),"
        " SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'"
        "     THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))*100 AS BIGINT)"
        "     ELSE 0 END)"
        f" FROM read_parquet('{SF}/orders.parquet') GROUP BY 1 ORDER BY 1"
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    n = len(x)
    cxy = ((x - x.mean()) * (y - y.mean())).sum()
    cxx = ((x - x.mean()) ** 2).sum()
    cyy = ((y - y.mean()) ** 2).sum()
    th = cxy / cxx
    assert row["n"] == n
    assert row["theta"] == pytest.approx(th, rel=1e-9)
    assert row["var_y"] == pytest.approx(cyy / (n - 1) / 1e4, rel=1e-9)
    assert row["var_cuped"] == pytest.approx(
        (cyy - cxy * cxy / cxx) / (n - 1) / 1e4, rel=1e-9
    )
    assert row["var_reduction"] == pytest.approx(cxy**2 / (cxx * cyy), rel=1e-9)
    # adjusted means per md5 arm
    adj = y - th * (x - x.mean())
    arms = np.array(
        [
            int(hashlib.md5(f"arm:{r[0]}".encode()).hexdigest()[:15], 16) % 2
            for r in rows
        ]
    )
    assert row["adj_mean_treat"] == pytest.approx(adj[arms == 1].mean() / 100, rel=1e-9)
    assert row["adj_mean_control"] == pytest.approx(adj[arms == 0].mean() / 100, rel=1e-9)


def test_spc_rules_match_pure_python(spark, daily_series):
    got = {}
    for r in plans.get("dq_spc_western_electric").build(spark, SF).collect():
        got.setdefault(r["event_type"], []).append(r)
    for et, x in daily_series.items():
        mu, sd = x.mean(), x.std()
        z = (x - mu) / sd
        side = np.where(z > 0, 1, -1)
        rows = got[et]
        assert len(rows) == len(x)
        run = 0
        prev = 0
        for i, r in enumerate(rows):
            assert r["z"] == pytest.approx(z[i], rel=1e-9)
            assert r["rule1"] == (abs(z[i]) > 3)
            lo = max(0, i - 2)
            assert r["rule2"] == (
                (z[lo : i + 1] > 2).sum() >= 2 or (z[lo : i + 1] < -2).sum() >= 2
            )
            run = run + 1 if side[i] == prev else 1
            prev = side[i]
            assert r["rule8"] == (run >= 8)
            assert r["alarm"] == (r["rule1"] or r["rule2"] or r["rule8"])


def test_vwap_benchmark_matches_pure_python(spark):
    got = {r["part"]: r for r in plans.get("fin_vwap_benchmark").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT l_partkey,"
        " CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " CAST(l_quantity AS BIGINT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    agg = {}
    for p, nc, q in rows:
        n, tq, tn = agg.get(p, (0, 0, 0))
        agg[p] = (n + 1, tq + q, tn + nc)
    top = sorted(agg.items(), key=lambda kv: (-kv[1][2], kv[0]))[:25]
    assert set(got) == {p for p, _ in top}
    for p, (n, tq, tn) in top:
        vwap_c = tn / tq
        above = sum(1 for pp, nc, q in rows if pp == p and nc / q > vwap_c)
        r = got[p]
        assert (r["n_fills"], r["total_qty"]) == (n, tq)
        assert r["vwap"] == pytest.approx(vwap_c / 100, rel=1e-12)
        assert r["n_above_vwap"] == above
        assert r["frac_above_vwap"] == pytest.approx(above / n, rel=1e-12)


def test_ratio_delta_method_matches_numpy(spark):
    row = plans.get("stat_ratio_delta_method").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT o_custkey, COUNT(*),"
        " SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
        f" FROM read_parquet('{SF}/orders.parquet') GROUP BY 1"
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    n = len(x)
    R = y.sum() / x.sum()
    var_y = y.var(ddof=1)
    var_x = x.var(ddof=1)
    cov = float(((x - x.mean()) * (y - y.mean())).sum() / (n - 1))
    se = math.sqrt((var_y + R * R * var_x - 2 * R * cov) / n) / x.mean()
    assert row["n"] == n
    assert row["revenue_per_order"] == pytest.approx(R / 100, rel=1e-9)
    assert row["se_delta_method"] == pytest.approx(se / 100, rel=1e-9)


def test_join_fanout_audit_matches_pure_python(spark):
    got = {r["relationship"]: r for r in plans.get("dq_join_fanout_audit").build(spark, SF).collect()}
    for rel, left_t, lkey, right_t, rkey in (
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ):
        lvals = [r[0] for r in _fetch(f"SELECT {lkey} FROM read_parquet('{SF}/{left_t}.parquet')")]
        rvals = [r[0] for r in _fetch(f"SELECT {rkey} FROM read_parquet('{SF}/{right_t}.parquet')")]
        counts = {}
        for v in rvals:
            counts[v] = counts.get(v, 0) + 1
        orphans = sum(1 for v in lvals if v not in counts)
        r = got[rel]
        assert r["left_rows"] == len(lvals)
        assert r["right_keys"] == len(counts)
        assert r["max_key_dup"] == max(counts.values())
        assert r["n_orphans"] == orphans
        assert r["holds_n_to_1"] == (max(counts.values()) == 1 and orphans == 0)


def test_wilson_ci_matches_pure_python(spark):
    got = {r["segment"]: r for r in plans.get("stat_wilson_ci").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT c.c_mktsegment, COUNT(*),"
        " SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = o.o_custkey GROUP BY 1"
    )
    z = 1.9599639845400545
    for seg, n, k in rows:
        p = k / n
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        denom = 1 + z * z / n
        r = got[seg]
        assert (r["n"], r["k"]) == (n, k)
        assert r["wilson_lo"] == pytest.approx((center - half) / denom, rel=1e-12)
        assert r["wilson_hi"] == pytest.approx((center + half) / denom, rel=1e-12)
        assert r["wilson_lo"] < p < r["wilson_hi"]


def test_stress_delta_gamma_approx_quality(spark):
    got = plans.get("fin_stress_delta_gamma").build(spark, SF).collect()
    assert len(got) == 25 * 4 * 6
    for r in got:
        exact = r["pnl_exact_q8"]
        approx = r["pnl_delta_gamma_q8"]
        # second-order approximation: relative error vs exact repricing
        # stays small for +-50bp and is bounded for the big shocks
        if abs(exact) > 1000:
            rel = abs(approx - exact) / abs(exact)
            if abs(r["dy_bp"]) <= 50:
                assert rel < 0.02
            else:
                assert rel < 0.35
        # sign agreement: rate up -> price down and vice versa
        if abs(exact) > 1000 and abs(r["dy_bp"]) <= 100:
            assert (exact < 0) == (r["dy_bp"] > 0)


def test_logrank_matches_pure_python(spark):
    row = plans.get("ml_logrank_test").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT c.c_mktsegment = 'BUILDING',"
        " LEAST(7, CAST(FLOOR(CAST(date_diff('day', s.f, s.l) AS BIGINT)"
        "   / 365.0) AS BIGINT)),"
        " CAST(date_diff('day', s.l, g.gm) AS BIGINT) > 180"
        " FROM (SELECT o_custkey, MIN(o_orderdate) f, MAX(o_orderdate) l"
        f"      FROM read_parquet('{SF}/orders.parquet') GROUP BY 1) s"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = s.o_custkey"
        f" CROSS JOIN (SELECT MAX(o_orderdate) gm"
        f"             FROM read_parquet('{SF}/orders.parquet')) g"
    )
    buckets = sorted({b for _, b, _ in rows})
    o1 = 0
    e1 = v = 0.0
    for bkt in buckets:
        n1 = sum(1 for g, b, _ in rows if g and b >= bkt)
        n2 = sum(1 for g, b, _ in rows if not g and b >= bkt)
        d1 = sum(1 for g, b, ev in rows if g and b == bkt and ev)
        d2 = sum(1 for g, b, ev in rows if not g and b == bkt and ev)
        n, d = n1 + n2, d1 + d2
        o1 += d1
        e1 += d * n1 / n
        if n > 1:
            v += d * (n1 / n) * (n2 / n) * ((n - d) / (n - 1))
    assert row["o1"] == o1
    assert row["e1"] == pytest.approx(e1, rel=1e-9)
    assert row["v"] == pytest.approx(v, rel=1e-9)
    assert row["chi2_logrank"] == pytest.approx((o1 - e1) ** 2 / v, rel=1e-9)


def test_netting_sets_matches_pure_python(spark):
    got = {(r["a"], r["b"]): r for r in plans.get("fin_netting_sets").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT s.s_nationkey, c.c_nationkey,"
        " SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
        f" FROM read_parquet('{SF}/lineitem.parquet') l"
        f" JOIN read_parquet('{SF}/orders.parquet') o ON l.l_orderkey = o.o_orderkey"
        f" JOIN read_parquet('{SF}/customer.parquet') c ON o.o_custkey = c.c_custkey"
        f" JOIN read_parquet('{SF}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey"
        " WHERE s.s_nationkey <> c.c_nationkey GROUP BY 1, 2"
    )
    pairs = {}
    for dr, cr, cents in rows:
        k = (min(dr, cr), max(dr, cr))
        g, sgn = pairs.get(k, (0, 0))
        pairs[k] = (g + cents, sgn + (cents if dr < cr else -cents))
    assert set(got) == set(pairs)
    for k, (g, sgn) in pairs.items():
        r = got[k]
        assert r["gross_cents"] == g
        assert r["net_cents"] == abs(sgn)
        assert r["netting_benefit"] == pytest.approx(1 - abs(sgn) / g, rel=1e-12)


def test_revenue_recognition_conserves_totals(spark):
    got = plans.get("fin_revenue_recognition").build(spark, SF).collect()
    rows = _fetch(
        "SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
        " WHERE o_orderdate >= TIMESTAMP '1998-01-01'"
    )
    total = sum(r[0] for r in rows)
    # the integer-division waterfall must conserve every contract's cents
    assert sum(r["recognized_cents"] for r in got) == total
    import datetime

    months = [r["rec_month"] for r in got]
    assert months == sorted(months)
    # per-month re-derivation
    sched = {}
    detail = _fetch(
        "SELECT date_trunc('month', CAST(o_orderdate AS DATE)),"
        " CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
        " WHERE o_orderdate >= TIMESTAMP '1998-01-01'"
    )
    def add_months(d, k):
        mo = d.month - 1 + k
        return datetime.date(d.year + mo // 12, mo % 12 + 1, 1)
    for m0, cents in detail:
        base = cents // 6
        for i in range(6):
            rec = base if i < 5 else cents - 5 * base
            key = add_months(m0, i)
            sched[key] = sched.get(key, 0) + rec
    for r in got:
        assert r["recognized_cents"] == sched[r["rec_month"]]


def test_reciprocity_matches_pure_python(spark, trade_graph):
    # rebuild the directed distinct edge set independently
    rows = _fetch(
        "SELECT DISTINCT s.s_nationkey, c.c_nationkey"
        f" FROM read_parquet('{SF}/lineitem.parquet') l"
        f" JOIN read_parquet('{SF}/orders.parquet') o ON l.l_orderkey = o.o_orderkey"
        f" JOIN read_parquet('{SF}/customer.parquet') c ON o.o_custkey = c.c_custkey"
        f" JOIN read_parquet('{SF}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey"
        " WHERE s.s_nationkey <> c.c_nationkey"
    )
    edges = set(map(tuple, rows))
    recip = sum(1 for (a, b) in edges if (b, a) in edges)
    row = plans.get("graph_reciprocity").build(spark, SF).collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["n_recip"] == recip
    assert row["reciprocity"] == pytest.approx(recip / len(edges), rel=1e-12)


def test_luhn_matches_pure_python(spark):
    got = plans.get("scalar_luhn_validate").build(spark, SF).collect()
    assert len(got) > 0
    for r in got:
        pan15 = f"4{r['c_custkey'] * 37 % 100000000:08d}{r['c_custkey'] * 101 % 1000000:06d}"
        total = 0
        for i, ch in enumerate(reversed(pan15), start=1):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        check = (10 - total % 10) % 10
        assert r["pan"] == pan15 + str(check)
        assert r["check_digit"] == check
        assert r["luhn_valid"] is True
        # the completed PAN passes the standard full-number Luhn check
        full = 0
        for i, ch in enumerate(reversed(r["pan"]), start=1):
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            full += d
        assert full % 10 == 0


def test_decayed_counters_match_pure_python(spark):
    got = {r["segment"]: r for r in plans.get("agg_decayed_counters").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT c.c_mktsegment,"
        " CAST((SELECT MAX(CAST(o_orderdate AS DATE))"
        f"       FROM read_parquet('{SF}/orders.parquet'))"
        "      - CAST(o.o_orderdate AS DATE) AS BIGINT),"
        " CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = o.o_custkey"
    )
    agg = {}
    for seg, days, cents in rows:
        w = math.floor(0.999**days * 1e12)
        n, cq, rev = agg.get(seg, (0, 0, 0))
        agg[seg] = (n + 1, cq + w, rev + w * cents)
    assert set(got) == set(agg)
    for seg, (n, cq, rev) in agg.items():
        r = got[seg]
        assert r["n_raw"] == n
        assert r["decayed_count_q12"] == cq
        assert r["decayed_revenue"] == pytest.approx(rev / 1e14, rel=1e-12)
        assert r["decayed_count"] == pytest.approx(cq / 1e12, rel=1e-12)


def test_code_detect_matches_pure_python(spark):
    import re as _re

    got = {r["doc_id"]: r for r in plans.get("text_code_detect").build(spark, SF).collect()}
    docs = _fetch(f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')")
    for doc_id, text in docs:
        r = got[doc_id]
        assert r["n_braces"] == text.count("{") + text.count("}")
        assert r["n_semicolons"] == text.count(";")
        assert r["n_camel"] == len(_re.findall("[a-z]+[A-Z][a-zA-Z]*", text))
        assert r["n_snake"] == len(_re.findall("[a-z0-9]+_[a-z0-9_]+", text))
        assert r["n_digits"] == sum(ch.isdigit() for ch in text)
        looks = (
            (text.count("{") + text.count("}") + text.count(";")) / len(text) > 0.01
            or len(_re.findall("[a-z]+[A-Z][a-zA-Z]*", text)) / len(text.split(" ")) > 0.05
        )
        assert r["looks_like_code"] == looks


def test_lttb_unrolled_matches_pure_python(spark):
    got = plans.get("ts_lttb_unrolled").build(spark, SF).collect()
    rows = _fetch(
        "SELECT CAST(ts AS DATE) d,"
        " CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))"
        "      * 1000000 AS BIGINT)"
        f" FROM read_parquet('{SF}/events.parquet')"
        " WHERE event_type = 'click' GROUP BY 1 ORDER BY 1"
    )
    yq = [r[1] for r in rows]
    n = len(yq)
    bounds = [1 + (i * (n - 2)) // 6 for i in range(7)]
    sel = [(1, yq[0])]
    arn, ayq = 1, yq[0]
    for b in range(6):
        lo, hi = bounds[b] + 1, bounds[b + 1]
        if b == 5:
            nlo, nhi = n, n
        else:
            nlo, nhi = bounds[b + 1] + 1, bounds[b + 2]
        m = nhi - nlo + 1
        sx = sum(range(nlo, nhi + 1))
        sy = sum(yq[i - 1] for i in range(nlo, nhi + 1))
        best = None
        for rn in range(lo, hi + 1):
            a2 = abs(
                (m * arn - sx) * (yq[rn - 1] - ayq)
                - (arn - rn) * (m * ayq - sy)
            )
            if best is None or a2 > best[0]:
                best = (a2, rn)
        arn, ayq = best[1], yq[best[1] - 1]
        sel.append((arn, ayq))
    sel.append((n, yq[-1]))
    assert [(r["rn"], r["yq"]) for r in sorted(got, key=lambda r: r["ord"])] == sel


def test_mmr_unrolled_matches_pure_python(spark):
    got = {}
    for r in plans.get("vec_mmr_unrolled").build(spark, SF).collect():
        got.setdefault(r["query_id"], []).append((r["pick"], r["vec_id"], r["relq"]))
    rows = _fetch(
        f"SELECT vec_id, embedding FROM read_parquet('{SF}/embeddings.parquet')"
    )
    vecs = {vid: [float(x) for x in emb] for vid, emb in rows}

    def iq(u, v):
        return sum(int(math.floor(a * b * 1e12)) for a, b in zip(u, v))

    for q in (1, 100, 250):
        rel = {
            vid: iq(vecs[vid], vecs[q]) for vid in vecs if vid != q
        }
        pool = sorted(rel, key=lambda v: (-rel[v], v))[:8]
        selected = []
        picks = []
        for step in range(4):
            if step == 0:
                best = min(pool, key=lambda v: (-rel[v], v))
            else:
                cands = [v for v in pool if v not in selected]
                def score(v):
                    return 7 * rel[v] - 3 * max(
                        iq(vecs[v], vecs[s]) for s in selected
                    )
                best = min(cands, key=lambda v: (-score(v), v))
            selected.append(best)
            picks.append((step + 1, best, rel[best]))
        assert sorted(got[q]) == picks


def test_calibration_ece_matches_numpy(spark):
    row = plans.get("ml_calibration_ece").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(l_quantity AS DOUBLE), CAST(l_returnflag = 'R' AS INT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    q = np.array([r[0] for r in rows])
    y = np.array([r[1] for r in rows])
    bins = np.minimum(9, np.floor(q / 50.0 * 10).astype(int))
    n = len(q)
    ece = 0.0
    mce = 0.0
    n_bins = 0
    for b in sorted(set(bins)):
        m = bins == b
        nb = int(m.sum())
        acc = y[m].mean()
        conf = q[m].mean() / 50.0
        gap = abs(acc - conf)
        ece += nb / n * gap
        mce = max(mce, gap)
        n_bins += 1
    assert row["n"] == n and row["n_bins"] == n_bins
    assert row["ece"] == pytest.approx(ece, rel=1e-9)
    assert row["mce"] == pytest.approx(mce, rel=1e-9)


def test_zero_curve_bootstrap_matches_pure_python(spark):
    got = {r["n_nationkey"]: r for r in plans.get("fin_zero_curve_bootstrap").build(spark, SF).collect()}
    for nk in range(25):
        p1 = 0.01 + (nk % 10) * 0.004
        ps = [p1, p1 + 0.0020, p1 + 0.0035, p1 + 0.0045, p1 + 0.0050]
        ds = []
        for t, p in enumerate(ps, start=1):
            d = (1 - p * sum(ds)) / (1 + p)
            ds.append(d)
        r = got[nk]
        assert r["d1_q8"] == math.floor(ds[0] * 1e8)
        assert r["d5_q8"] == math.floor(ds[4] * 1e8)
        for t in range(1, 6):
            z = ds[t - 1] ** (-1.0 / t) - 1
            assert r[f"z{t}_q8"] == pytest.approx(math.floor(z * 1e8), abs=1)
        # sanity: par bond at each tenor reprices to 1 under the curve
        for t, p in enumerate(ps, start=1):
            pv = p * sum(ds[:t]) + ds[t - 1]
            assert pv == pytest.approx(1.0, abs=1e-12)


def test_ttest_paired_matches_numpy(spark):
    row = plans.get("stat_ttest_paired").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'"
        " THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))*100 AS BIGINT) ELSE 0 END)"
        " - SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'"
        " THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))*100 AS BIGINT) ELSE 0 END)"
        f" FROM read_parquet('{SF}/orders.parquet') GROUP BY o_custkey"
    )
    d = np.array([r[0] for r in rows], dtype=np.float64)
    n = len(d)
    t = d.mean() / (d.std(ddof=1) / math.sqrt(n))
    assert row["n"] == n and row["df"] == n - 1
    assert row["mean_diff"] == pytest.approx(d.mean() / 100, rel=1e-9)
    assert row["sd_diff"] == pytest.approx(d.std(ddof=1) / 100, rel=1e-9)
    assert row["t_stat"] == pytest.approx(t, rel=1e-9)


def test_kpss_matches_numpy(spark, daily_series):
    got = {r["event_type"]: r for r in plans.get("ts_kpss_level").build(spark, SF).collect()}
    for et, x in daily_series.items():
        xq = np.array([round(v * 1e6) for v in x], dtype=np.float64)
        n = len(xq)
        e = xq - xq.mean()
        s_t = np.cumsum(e)
        num = (s_t**2).sum() / n**2
        g0 = (e * e).sum() / n
        s2 = g0
        for l in (1, 2, 3):
            g = (e[l:] * e[:-l]).sum() / n
            s2 += 2 * (1 - l / 4) * g
        # canonical: eta = n^-2 * sum S_t^2 / s2_lr
        kpss = num / s2
        r = got[et]
        assert r["long_run_var"] == pytest.approx(s2 / 1e12, rel=1e-9)
        assert r["kpss_stat"] == pytest.approx(kpss, rel=1e-9)


def test_bagging_oob_matches_pure_python(spark):
    import hashlib

    got = plans.get("ml_bagging_oob").build(spark, SF).collect()
    assert len(got) == 16
    rows = _fetch(
        "SELECT CAST(l_orderkey AS VARCHAR) || '-'"
        " || CAST(l_linenumber AS VARCHAR) || '-'"
        " || CAST(l_partkey AS VARCHAR),"
        " CAST(l_extendedprice AS DOUBLE), CAST(l_returnflag = 'R' AS INT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    xs = np.array([r[1] for r in rows])
    xmin, xmax = xs.min(), xs.max()
    TH = (24109, 48218, 60273, 64291, 65296, 65497, 65530, 65535)

    def pois(k, b):
        u = int(hashlib.md5(f"{k}#{b}".encode()).hexdigest()[:4], 16)
        for i, t in enumerate(TH):
            if u < t:
                return i
        return len(TH)

    recs = [
        (k, min(31, int(math.floor((x - xmin) / ((xmax - xmin) / 32.0)))), y)
        for k, x, y in rows
    ]
    stumps = {}
    for b in range(16):
        hist = np.zeros((32, 2), dtype=np.int64)
        for k, bi, y in recs:
            w = pois(k, b)
            hist[bi, 0] += w
            hist[bi, 1] += w * y
        tot_n, tot_pos = hist[:, 0].sum(), hist[:, 1].sum()
        best = None
        cn = cp = 0
        for bi in range(32):
            cn += hist[bi, 0]
            cp += hist[bi, 1]
            if cn >= tot_n:
                continue
            for pol in ("left_neg", "left_pos"):
                if pol == "left_pos":
                    wrong = (cn - cp) + (tot_pos - cp)
                else:
                    wrong = cp + (tot_n - cn) - (tot_pos - cp)
                key = (wrong, bi, pol)
                if best is None or key < best:
                    best = key
        stumps[b] = best
        g = got[b]
        assert (g["b"], g["weighted_wrong"], g["split_bin"], g["polarity"]) == (
            b, best[0], best[1], best[2],
        )
    n_oob_rows = n_err = 0
    for k, bi, y in recs:
        oob_bs = [b for b in range(16) if pois(k, b) == 0]
        if not oob_bs:
            continue
        votes = sum(
            1
            for b in oob_bs
            if (bi <= stumps[b][1]) == (stumps[b][2] == "left_pos")
        )
        pred = 1 if 2 * votes > len(oob_bs) else 0
        n_oob_rows += 1
        n_err += pred != y
    assert got[0]["n_oob_rows"] == n_oob_rows
    assert got[0]["oob_error"] == pytest.approx(n_err / n_oob_rows, rel=1e-12)


def test_ols_influence_matches_numpy(spark):
    got = plans.get("ml_ols_influence").build(spark, SF).collect()
    rows = _fetch(
        "SELECT o_orderkey,"
        " CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    keys = np.array([r[0] for r in rows])
    y = np.array([r[1] for r in rows], dtype=np.float64)
    x = np.array([r[2] for r in rows], dtype=np.float64)
    n = len(x)
    cxx = ((x - x.mean()) ** 2).sum()
    b1 = ((x - x.mean()) * (y - y.mean())).sum() / cxx
    e = y - (y.mean() + b1 * (x - x.mean()))
    mse = (e**2).sum() / (n - 2)
    h = 1.0 / n + (x - x.mean()) ** 2 / cxx
    cook = np.floor((e**2 / (2 * mse)) * (h / (1 - h) ** 2) * 1e12).astype(np.int64)
    order = sorted(range(n), key=lambda i: (-cook[i], keys[i]))[:20]
    assert [(r["o_orderkey"], r["cook_q12"]) for r in got] == [
        (int(keys[i]), int(cook[i])) for i in order
    ]
    for r, i in zip(got, order):
        assert r["leverage"] == pytest.approx(h[i], rel=1e-9)


def test_uplift_qini_matches_pure_python(spark):
    import hashlib

    got = {r["decile"]: r for r in plans.get("ml_uplift_qini").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT o_orderkey,"
        " CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
        " CAST(o_orderstatus = 'F' AS INT)"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    n = len(rows)
    vals = {}
    for _, v, _ in rows:
        vals[v] = vals.get(v, 0) + 1
    cum = 0
    dec_of = {}
    for v in sorted(vals, reverse=True):
        cum += vals[v]
        dec_of[v] = (10 * cum + n - 1) // n
    cells = {}
    for k, v, y in rows:
        arm = int(hashlib.md5(f"arm:{k}".encode()).hexdigest()[:15], 16) % 2
        d = dec_of[v]
        nt, nc, yt, yc = cells.get(d, (0, 0, 0, 0))
        cells[d] = (nt + arm, nc + 1 - arm, yt + arm * y, yc + (1 - arm) * y)
    cnt = cnc = cyt = cyc = 0
    for d in sorted(cells):
        nt, nc, yt, yc = cells[d]
        cnt += nt; cnc += nc; cyt += yt; cyc += yc
        r = got[d]
        assert (r["cn_t"], r["cn_c"], r["cy_t"], r["cy_c"]) == (cnt, cnc, cyt, cyc)
        assert r["qini"] == pytest.approx(cyt - cyc * cnt / cnc, rel=1e-12)
        assert r["uplift_rate"] == pytest.approx(cyt / cnt - cyc / cnc, rel=1e-12)


def test_stratified_ate_matches_pure_python(spark):
    import hashlib

    got = {r["stratum"]: r for r in plans.get("ml_stratified_ate").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT c.c_mktsegment, o.o_orderkey,"
        " CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = o.o_custkey"
    )
    per = {}
    for seg, k, yc in rows:
        arm = int(hashlib.md5(f"arm:{k}".encode()).hexdigest()[:15], 16) % 2
        ns, nt, nc, yt, ycs = per.get(seg, (0, 0, 0, 0, 0))
        per[seg] = (ns + 1, nt + arm, nc + 1 - arm, yt + arm * yc, ycs + (1 - arm) * yc)
    n = sum(v[0] for v in per.values())
    ate = sum(
        v[0] / n * (v[3] / v[1] - v[4] / v[2]) / 100
        for _, v in sorted(per.items())
    )
    for seg, (ns, nt, nc, yt, yc) in per.items():
        r = got[seg]
        assert (r["n_s"], r["n_t"], r["n_c"]) == (ns, nt, nc)
        assert r["effect_s"] == pytest.approx((yt / nt - yc / nc) / 100, rel=1e-12)
        assert r["w_s"] == pytest.approx(ns / n, rel=1e-12)
        assert r["ate"] == pytest.approx(ate, rel=1e-9)


def test_cost_optimal_threshold_matches_pure_python(spark):
    row = plans.get("ml_cost_optimal_threshold").build(spark, SF).collect()[0]
    rows = _fetch(
        "SELECT CAST(l_quantity AS BIGINT), CAST(l_returnflag = 'R' AS INT)"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    n = len(rows)
    p = sum(y for _, y in rows)
    best = None
    for t in sorted({q for q, _ in rows}, reverse=True):
        tp = sum(y for q, y in rows if q >= t)
        pred = sum(1 for q, _ in rows if q >= t)
        cost = 5 * (p - tp) + (pred - tp)
        key = (cost, -t)
        if best is None or key < best[0]:
            best = (key, t, tp, pred - tp, p - tp, cost)
    _, t, tp, fp, fn, cost = best
    assert row["optimal_threshold"] == t
    assert (row["tp"], row["fp"], row["fn"], row["total_cost"]) == (tp, fp, fn, cost)
    assert row["cost_reject_all"] == 5 * p
    assert row["cost_accept_all"] == n - p
    assert cost <= min(5 * p, n - p)  # beats both degenerate policies


def test_lr_grid_one_step_matches_numpy(spark):
    got = {r["lr"]: r for r in plans.get("ml_lr_grid_one_step").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE) * 10"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    x = np.array([r[0] for r in rows])
    y = np.array([r[1] for r in rows])
    n = len(x)
    for lr in (0.0001, 0.0005, 0.001, 0.005):
        w1 = lr * 2 * (x * y).sum() / n
        loss0 = (y**2).sum() / n
        loss1 = ((y - w1 * x) ** 2).sum() / n
        r = got[lr]
        assert r["n"] == n
        assert r["w1"] == pytest.approx(w1, rel=1e-9)
        assert r["loss0"] == pytest.approx(loss0, rel=1e-9)
        assert r["loss1"] == pytest.approx(loss1, rel=1e-9)
        assert r["improvement"] == pytest.approx((loss0 - loss1) / loss0, rel=1e-6)


def test_type_inference_audit_matches_pure_python(spark):
    import re as _re

    got = {r["col_name"]: r for r in plans.get("ingest_type_inference_audit").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT CAST(o_orderkey AS VARCHAR), CAST(o_totalprice AS VARCHAR),"
        " strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )
    cols = {"c_key": 0, "c_amount": 1, "c_date": 2, "c_text": 3}
    for name, idx in cols.items():
        vals = [r[idx] for r in rows]
        n_int = sum(1 for v in vals if _re.fullmatch(r"-?[0-9]+", v))
        n_float = sum(1 for v in vals if _re.fullmatch(r"-?[0-9]+\.[0-9]+", v))
        n_date = sum(
            1 for v in vals if _re.fullmatch(r"[0-9]{4}-[0-9]{2}-[0-9]{2}", v)
        )
        n_num = sum(1 for v in vals if _re.fullmatch(r"-?[0-9]+(\.[0-9]+)?", v))
        n = len(vals)
        inferred = (
            "date" if n_date == n
            else "bigint" if n_int == n
            else "double" if n_num == n
            else "string"
        )
        r = got[name]
        assert r["n_values"] == n
        assert (r["n_int_like"], r["n_float_like"], r["n_date_like"]) == (
            n_int, n_float, n_date,
        )
        assert r["inferred_type"] == inferred
    assert got["c_key"]["inferred_type"] == "bigint"
    assert got["c_date"]["inferred_type"] == "date"
    assert got["c_text"]["inferred_type"] == "string"


def test_cusum_tabular_matches_sequential_recursion(spark, daily_series):
    got = {}
    for r in plans.get("ts_cusum_tabular").build(spark, SF).collect():
        got.setdefault(r["event_type"], []).append(r)
    for et, x in daily_series.items():
        xq = [round(v * 1e6) for v in x]
        n = len(xq)
        s = sum(xq)
        # sequential: C_t = max(0, C_{t-1} + (x_t - mean) - mean/2),
        # everything scaled by 2n to stay integral
        c = 0
        rows = got[et]
        assert len(rows) == n
        for i, r in enumerate(rows):
            zk = 2 * n * xq[i] - 3 * s
            c = max(0, c + zk)
            assert r["cusum_hi"] == pytest.approx(c / (2 * n * 1e6), rel=1e-12)
            assert r["alarm"] == (c > 8 * n * 1000000)


def test_max_drawdown_matches_pure_python(spark):
    got = {r["segment"]: r for r in plans.get("fin_max_drawdown").build(spark, SF).collect()}
    rows = _fetch(
        "SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE),"
        " SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE -1 END"
        "     * CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON c.c_custkey = o.o_custkey GROUP BY 1, 2 ORDER BY 1, 2"
    )
    series = {}
    for seg, d, pnl in rows:
        series.setdefault(seg, []).append((d, pnl))
    for seg, pts in series.items():
        eq = peak = 0
        best = None
        first = True
        for d, pnl in pts:
            eq += pnl
            peak = eq if first else max(peak, eq)
            first = False
            dd = peak - eq
            if best is None or dd > best[0]:
                best = (dd, d, peak)
        r = got[seg]
        assert r["max_drawdown_cents"] == best[0]
        assert r["trough_date"] == best[1]
        assert r["peak_equity_cents"] == best[2]
        assert r["drawdown_frac"] == pytest.approx(best[0] / best[2], rel=1e-12)
