"""Round-14: independent references for this round's additions. Each
test re-derives the expected answer from the raw sf0.001 parquet with
an INDEPENDENT formulation (numpy / plain-Python, no shared SQL
fragments) so a formula bug shared between the Spark build and the
DuckDB oracle cannot hide."""

import math
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from finance_etl_spark import plans
from refs import SF, _docs, _fetch, _midranks


_TOK = re.compile(r"[A-Za-z0-9_]+")


class TestCliffsDelta:
    def test_matches_numpy(self, spark):
        rows = _fetch(
            "SELECT l_returnflag, l_quantity"
            f" FROM read_parquet('{SF}/lineitem.parquet')"
            " WHERE l_returnflag IN ('R', 'N')"
        )
        # quantize like the engine's DECIMAL(12,2) cast
        qa = np.sort(
            np.array(
                [round(q * 100) for g, q in rows if g == "R"], dtype=np.int64
            )
        )
        qb = np.sort(
            np.array(
                [round(q * 100) for g, q in rows if g == "N"], dtype=np.int64
            )
        )
        # counting via searchsorted — a different algorithm than the
        # engine's cell cross join
        gt = int(np.searchsorted(qb, qa, side="left").sum())
        le = int(np.searchsorted(qb, qa, side="right").sum())
        lt = len(qa) * len(qb) - le
        delta = (gt - lt) / (len(qa) * len(qb))
        row = plans.get("stat_cliffs_delta").build(spark, SF).collect()[0]
        assert (row.n1, row.n2) == (len(qa), len(qb))
        assert (row.n_gt, row.n_lt) == (gt, lt)
        assert abs(row.cliffs_delta - delta) < 1e-12
        assert -1.0 <= row.cliffs_delta <= 1.0


class TestDunnPosthoc:
    def test_matches_python(self, spark):
        rows = _fetch(
            "SELECT o_orderpriority, o_totalprice"
            f" FROM read_parquet('{SF}/orders.parquet')"
        )
        vals = [round(p * 100) for _, p in rows]  # DECIMAL(18,2) grid
        groups = [g for g, _ in rows]
        ranks = _midranks(vals)
        n = len(vals)
        by_g = defaultdict(list)
        for g, r in zip(groups, ranks):
            by_g[g].append(r)
        tie = Counter(vals)
        tt = sum(t**3 - t for t in tie.values())
        a_term = n * (n + 1) / 12.0 - tt / (12.0 * (n - 1))
        got = {
            (r.g_a, r.g_b): r
            for r in plans.get("stat_dunn_posthoc").build(spark, SF).collect()
        }
        gs = sorted(by_g)
        n_pairs = 0
        for i in range(len(gs)):
            for j in range(i + 1, len(gs)):
                ga, gb = gs[i], gs[j]
                ra = sum(by_g[ga]) / len(by_g[ga])
                rb = sum(by_g[gb]) / len(by_g[gb])
                z = (ra - rb) / math.sqrt(
                    a_term * (1.0 / len(by_g[ga]) + 1.0 / len(by_g[gb]))
                )
                r = got[(ga, gb)]
                assert (r.n_a, r.n_b) == (len(by_g[ga]), len(by_g[gb]))
                assert abs(r.mean_rank_a - ra) < 1e-9
                assert abs(r.mean_rank_b - rb) < 1e-9
                assert abs(r.z - z) < 1e-9
                n_pairs += 1
        assert n_pairs == len(got)


def _daily_q6_py():
    rows = _fetch(
        "SELECT event_type, CAST(ts AS DATE), value"
        f" FROM read_parquet('{SF}/events.parquet')"
    )
    daily = defaultdict(int)
    for et, d, v in rows:
        daily[(et, d)] += math.floor(v * 1e6)
    return daily


class TestSeasonalMannKendall:
    def test_matches_python(self, spark):
        daily = _daily_q6_py()
        per_season = defaultdict(list)  # (et, wd) -> [(d, v)]
        for (et, d), v in daily.items():
            per_season[(et, d.weekday())].append((d, v))
        agg = defaultdict(lambda: [0, 0, 0])  # et -> [n, s, varnum]
        for (et, wd), pts in per_season.items():
            pts.sort()
            s = 0
            for i in range(len(pts)):
                for j in range(i + 1, len(pts)):
                    dv = pts[j][1] - pts[i][1]
                    s += (dv > 0) - (dv < 0)
            n = len(pts)
            ties = Counter(v for _, v in pts)
            tt = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
            agg[et][0] += n
            agg[et][1] += s
            agg[et][2] += n * (n - 1) * (2 * n + 5) - tt
        got = {
            r.event_type: r
            for r in plans.get("ts_seasonal_mann_kendall")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(agg)
        for et, (n, s, varnum) in agg.items():
            r = got[et]
            assert (r.n_days, r.s_total, r.varnum_total) == (n, s, varnum)
            if varnum > 0:
                s_adj = s - 1 if s > 0 else (s + 1 if s < 0 else 0)
                z = s_adj / math.sqrt(varnum / 18.0)
                assert abs(r.z - z) < 1e-9


class TestHampelFilter:
    def test_matches_python(self, spark):
        daily = _daily_q6_py()
        series = defaultdict(list)
        for (et, d), v in daily.items():
            series[et].append((d, v))
        expected = {}
        for et, pts in series.items():
            pts.sort()
            vs = [v for _, v in pts]
            for i in range(3, len(pts) - 3):
                frame = sorted(vs[i - 3 : i + 4])
                med = frame[3]
                mad = sorted(abs(x - med) for x in vs[i - 3 : i + 4])[3]
                expected[(et, pts[i][0])] = (
                    vs[i],
                    med,
                    mad,
                    abs(vs[i] - med) > 3 * mad,
                )
        got = {
            (r.event_type, r.d): (r.v, r.med, r.mad, r.is_outlier)
            for r in plans.get("window_hampel_filter")
            .build(spark, SF)
            .collect()
        }
        assert got == expected
        assert len(expected) > 0
        # the sf0.001 series contains genuine spikes: the filter must
        # actually flag at least one outlier or the threshold is broken
        assert any(flag for *_, flag in expected.values())


class TestSimpsonDiversity:
    def test_matches_python(self, spark):
        per_src = defaultdict(Counter)
        for _, text, _, source in _docs():
            per_src[source].update(t.lower() for t in _TOK.findall(text))
        got = {
            r.source: r
            for r in plans.get("text_simpson_diversity")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(per_src)
        for src, cnt in per_src.items():
            n = sum(cnt.values())
            nn1 = sum(c * (c - 1) for c in cnt.values())
            r = got[src]
            assert (r.n_tokens, r.vocab, r.nn1) == (n, len(cnt), nn1)
            if n > 1:
                assert abs(r.simpson_d - nn1 / (n * (n - 1))) < 1e-15
            if nn1 > 0:
                assert abs(r.inv_simpson - n * (n - 1) / nn1) < 1e-9


class TestBurstiness:
    def test_matches_python(self, spark):
        docs = _docs()
        nd = len(docs)
        percell = defaultdict(Counter)  # tok -> {doc: c}
        for doc_id, text, *_ in docs:
            for t in _TOK.findall(text):
                percell[t.lower()][doc_id] += 1
        stats = []
        for tok, bydoc in percell.items():
            t_total = sum(bydoc.values())
            s2 = sum(c * c for c in bydoc.values())
            stats.append((tok, t_total, len(bydoc), s2))
        stats.sort(key=lambda r: (-r[1], r[0]))
        got = sorted(
            plans.get("text_burstiness").build(spark, SF).collect(),
            key=lambda r: r.rk,
        )
        assert len(got) == min(40, len(stats))
        for r, (tok, t_total, df, s2) in zip(got, stats[:40]):
            assert (r.tok, r.t_total, r.df, r.s2) == (tok, t_total, df, s2)
            vmr = (nd * s2 - t_total * t_total) / ((nd - 1) * t_total)
            assert abs(r.vmr - vmr) < 1e-12
            assert r.vmr >= 0.0


class TestClusterARI:
    def test_matches_python(self, spark):
        cells = Counter((lang, src) for _, _, lang, src in _docs())
        a = Counter()
        b = Counter()
        for (lang, src), n in cells.items():
            a[lang] += n
            b[src] += n
        c2 = lambda x: x * (x - 1) // 2  # noqa: E731
        sum_ij = sum(c2(n) for n in cells.values())
        sum_a = sum(c2(n) for n in a.values())
        sum_b = sum(c2(n) for n in b.values())
        n = sum(cells.values())
        e = sum_a * sum_b / c2(n)
        m = (sum_a + sum_b) / 2
        ari = (sum_ij - e) / (m - e)
        row = plans.get("ml_cluster_ari").build(spark, SF).collect()[0]
        assert (row.n, row.sum_ij, row.sum_a, row.sum_b, row.c2n) == (
            n,
            sum_ij,
            sum_a,
            sum_b,
            c2(n),
        )
        assert abs(row.ari - ari) < 1e-12
        assert -1.0 <= row.ari <= 1.0


class TestClusterNMI:
    def test_matches_python(self, spark):
        cells = Counter((lang, src) for _, _, lang, src in _docs())
        a = Counter()
        b = Counter()
        for (lang, src), n in cells.items():
            a[lang] += n
            b[src] += n
        n = sum(cells.values())
        mi = sum(
            nij / n * math.log(nij * n / (a[l] * b[s]))
            for (l, s), nij in cells.items()
        )
        hx = -sum(ai / n * math.log(ai / n) for ai in a.values())
        hy = -sum(bj / n * math.log(bj / n) for bj in b.values())
        row = plans.get("ml_cluster_nmi").build(spark, SF).collect()[0]
        # the engine quantizes each ln to 1e-6 — loose comparison
        assert row.n == n
        assert abs(row.mi - mi) < 1e-5
        assert abs(row.hx - hx) < 1e-5
        assert abs(row.hy - hy) < 1e-5
        assert abs(row.nmi - 2 * mi / (hx + hy)) < 1e-4
        assert 0.0 <= row.nmi <= 1.0 + 1e-9


def _trade_edges_py():
    """Undirected nation trade edges via plain-Python dict joins."""
    orders = dict(
        _fetch(
            "SELECT o_orderkey, o_custkey"
            f" FROM read_parquet('{SF}/orders.parquet')"
        )
    )
    cust = dict(
        _fetch(
            "SELECT c_custkey, c_nationkey"
            f" FROM read_parquet('{SF}/customer.parquet')"
        )
    )
    supp = dict(
        _fetch(
            "SELECT s_suppkey, s_nationkey"
            f" FROM read_parquet('{SF}/supplier.parquet')"
        )
    )
    w = Counter()
    for okey, skey in _fetch(
        f"SELECT l_orderkey, l_suppkey FROM read_parquet('{SF}/lineitem.parquet')"
    ):
        src = supp[skey]
        dst = cust[orders[okey]]
        if src != dst:
            w[(min(src, dst), max(src, dst))] += 1
    return w


class TestKtrussPeel2:
    def test_matches_python(self, spark):
        w = _trade_edges_py()
        thr = np.percentile(
            np.array(sorted(w.values()), dtype=np.float64), 60
        )  # quantile_cont = linear interpolation
        edges = {e for e, wt in w.items() if wt >= thr}

        def supports(es):
            adj = defaultdict(set)
            for a, b in es:
                adj[a].add(b)
                adj[b].add(a)
            return {
                (a, b): len(adj[a] & adj[b]) for a, b in es
            }

        g = set(edges)
        for _ in range(2):
            sup = supports(g)
            g = {e for e in g if sup[e] >= 2}
        final = supports(g)
        got = {
            (r.a, r.b): r.support
            for r in plans.get("graph_ktruss_peel2").build(spark, SF).collect()
        }
        assert got == final
        assert len(g) < len(edges)  # peeling actually removed edges


class TestRRFFusion:
    def test_matches_python(self, spark):
        rows = _fetch(
            "SELECT vec_id, embedding"
            f" FROM read_parquet('{SF}/embeddings.parquet')"
        )
        embs = {vid: [float(x) for x in e] for vid, e in rows}

        def seq_dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        def seq_l2sq(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += (x - y) * (x - y)
            return acc

        def norm(a):
            acc = 0.0
            for x in a:
                acc += x * x
            return math.sqrt(acc)

        expected = {}
        for q in [v for v in embs if v < 5]:
            cands = [c for c in embs if c != q]
            cos = {
                c: seq_dot(embs[q], embs[c]) / (norm(embs[q]) * norm(embs[c]))
                for c in cands
            }
            l2 = {c: seq_l2sq(embs[q], embs[c]) for c in cands}
            ra = {
                c: i + 1
                for i, c in enumerate(
                    sorted(cands, key=lambda c: (-cos[c], c))[:20]
                )
            }
            rb = {
                c: i + 1
                for i, c in enumerate(
                    sorted(cands, key=lambda c: (l2[c], c))[:20]
                )
            }
            scores = {
                c: (1.0 / (60 + ra[c]) if c in ra else 0.0)
                + (1.0 / (60 + rb[c]) if c in rb else 0.0)
                for c in set(ra) | set(rb)
            }
            fused = sorted(scores, key=lambda c: (-scores[c], c))[:10]
            for rk, c in enumerate(fused, 1):
                expected[(q, c)] = (
                    ra.get(c),
                    rb.get(c),
                    scores[c],
                    rk,
                )
        got = {
            (r.query_id, r.cand_id): (
                r.rank_cos,
                r.rank_l2,
                r.rrf_score,
                r.fused_rank,
            )
            for r in plans.get("vec_rrf_fusion").build(spark, SF).collect()
        }
        assert set(got) == set(expected)
        for k, (ra_e, rb_e, sc_e, rk_e) in expected.items():
            ra_g, rb_g, sc_g, rk_g = got[k]
            assert (ra_g, rb_g, rk_g) == (ra_e, rb_e, rk_e)
            assert abs(sc_g - sc_e) < 1e-15


class TestTailRatio:
    def test_matches_python(self, spark):
        orders = _fetch(
            "SELECT o_custkey, CAST(o_orderdate AS DATE), o_totalprice"
            f" FROM read_parquet('{SF}/orders.parquet')"
        )
        seg = dict(
            _fetch(
                "SELECT c_custkey, c_mktsegment"
                f" FROM read_parquet('{SF}/customer.parquet')"
            )
        )
        cents = Decimal("0.01")
        daily = defaultdict(lambda: Decimal(0))
        for ck, d, p in orders:
            daily[(seg[ck], d)] += Decimal(p).quantize(
                cents, rounding=ROUND_HALF_UP
            )
        series = defaultdict(list)
        for (s, d), x in daily.items():
            series[s].append((d, x))
        got = {
            r.segment: r
            for r in plans.get("fin_tail_ratio").build(spark, SF).collect()
        }
        for s, pts in series.items():
            pts.sort()
            rets = []
            for (d0, x0), (d1, x1) in zip(pts, pts[1:]):
                rets.append(
                    (math.floor((float(x1) / float(x0) - 1.0) * 1e9), d1)
                )
            rets.sort()
            n = len(rets)
            p5 = rets[(n + 19) // 20 - 1][0]
            p95 = rets[(19 * (n + 1)) // 20 - 1][0]
            r = got[s]
            assert r.n == n
            assert abs(r.p5_ret - p5 / 1e9) < 1e-15
            assert abs(r.p95_ret - p95 / 1e9) < 1e-15
            if p5 < 0:
                assert abs(r.tail_ratio - p95 / (-p5)) < 1e-12
            else:
                assert r.tail_ratio is None


class TestSRMCheck:
    def test_matches_python(self, spark):
        import hashlib

        keys = [
            k
            for (k,) in _fetch(
                f"SELECT c_custkey FROM read_parquet('{SF}/customer.parquet')"
            )
        ]
        arms = Counter(
            int(hashlib.md5(f"srm0#{k}".encode()).hexdigest()[:15], 16) % 4
            for k in keys
        )
        n = len(keys)
        chi2 = sum((4 * arms[a] - n) ** 2 for a in range(4)) / (4 * n)
        got = {
            r.arm: r for r in plans.get("dq_srm_check").build(spark, SF).collect()
        }
        assert set(got) == set(arms)
        for a, cnt in arms.items():
            r = got[a]
            assert (r.n_arm, r.n, r.dev_num) == (cnt, n, (4 * cnt - n) ** 2)
            assert abs(r.chi2 - chi2) < 1e-12
            assert r.srm_flag == (chi2 > 16.266)


class TestFunctionalDependency:
    def test_matches_python(self, spark):
        def fd_violations(pairs):
            by_x = defaultdict(Counter)
            for x, y in pairs:
                by_x[x][y] += 1
            viol = sum(
                sum(c.values()) - max(c.values()) for c in by_x.values()
            )
            return len(by_x), sum(len(list(c.elements())) for c in by_x.values()), viol

        expected = {}
        expected["orders: o_custkey -> o_orderpriority"] = fd_violations(
            _fetch(
                "SELECT o_custkey, o_orderpriority"
                f" FROM read_parquet('{SF}/orders.parquet')"
            )
        )
        expected["lineitem: l_partkey -> l_returnflag"] = fd_violations(
            _fetch(
                "SELECT l_partkey, l_returnflag"
                f" FROM read_parquet('{SF}/lineitem.parquet')"
            )
        )
        expected["documents: doc_id -> lang"] = fd_violations(
            _fetch(
                f"SELECT doc_id, lang FROM read_parquet('{SF}/documents.parquet')"
            )
        )
        got = {
            r.fd: (r.n_lhs, r.n_rows, r.violations, r.holds)
            for r in plans.get("dq_functional_dependency")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(expected)
        for name, (n_lhs, n_rows, viol) in expected.items():
            assert got[name] == (n_lhs, n_rows, viol, viol == 0)
        # the key FD must hold, at least one non-key FD must fail
        assert got["documents: doc_id -> lang"][3] is True
        assert not all(v[3] for v in got.values())


class TestCramersVCorrected:
    def test_matches_numpy(self, spark):
        rows = _fetch(
            "SELECT l_returnflag, l_linestatus"
            f" FROM read_parquet('{SF}/lineitem.parquet')"
        )
        cells = Counter(rows)
        rs = sorted({r for r, _ in cells})
        cs = sorted({c for _, c in cells})
        n = sum(cells.values())
        obs = np.array(
            [[cells.get((r, c), 0) for c in cs] for r in rs], dtype=np.float64
        )
        pr = obs.sum(axis=1) / n
        pc = obs.sum(axis=0) / n
        po = obs / n
        exp = np.outer(pr, pc)
        phi2 = float((((po - exp) ** 2) / exp).sum())
        r_, c_ = len(rs), len(cs)
        phi2c = max(0.0, phi2 - (r_ - 1) * (c_ - 1) / (n - 1))
        rc = r_ - (r_ - 1) ** 2 / (n - 1)
        cc = c_ - (c_ - 1) ** 2 / (n - 1)
        v = math.sqrt(phi2c / min(rc - 1, cc - 1))
        row = (
            plans.get("stat_cramers_v_corrected").build(spark, SF).collect()[0]
        )
        assert (row.n, row.n_rows, row.n_cols) == (n, r_, c_)
        # engine phi2 is floor-scaled at 1e-15 per cell — near-exact
        assert abs(row.phi2 - phi2) < 1e-9
        assert abs(row.phi2_corr - phi2c) < 1e-9
        assert abs(row.cramers_v_corrected - v) < 1e-6
        assert 0.0 <= row.cramers_v_corrected <= 1.0


class TestHypergeomSurprise:
    def test_matches_lgamma(self, spark):
        cells = Counter((lang, src) for _, _, lang, src in _docs())
        a = Counter()
        b = Counter()
        for (lang, src), nij in cells.items():
            a[lang] += nij
            b[src] += nij
        n = sum(cells.values())

        def lnC(m, k):
            return (
                math.lgamma(m + 1)
                - math.lgamma(k + 1)
                - math.lgamma(m - k + 1)
            )

        got = {
            (r.lang, r.source): r
            for r in plans.get("stat_hypergeom_surprise")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(cells)
        for (lang, src), nij in cells.items():
            r = got[(lang, src)]
            assert (r.nij, r.ai, r.bj, r.n) == (nij, a[lang], b[src], n)
            lnp = (
                lnC(a[lang], nij)
                + lnC(n - a[lang], b[src] - nij)
                - lnC(n, b[src])
            )
            # engine ln-factorials quantize per-k at 1e-6 and the 9-term
            # combination sums ~N quantized terms — loose bound
            assert abs(r.log_p - lnp) < 5e-3
            assert r.log_p <= 0.0 + 5e-3


def _md5_uniform_ks():
    import hashlib

    keys = [
        k
        for (k,) in _fetch(
            f"SELECT o_orderkey FROM read_parquet('{SF}/orders.parquet')"
        )
    ]
    ks = sorted(
        (int(hashlib.md5(str(k).encode()).hexdigest()[:6], 16), k)
        for k in keys
    )
    return [kv for kv, _ in ks]


class TestCvmUniform:
    def test_matches_python(self, spark):
        ks = _md5_uniform_ks()
        n = len(ks)
        w2 = 1.0 / (12 * n) + sum(
            (kv / 16777216.0 - (2 * (i + 1) - 1) / (2.0 * n)) ** 2
            for i, kv in enumerate(ks)
        )
        row = plans.get("stat_cvm_uniform").build(spark, SF).collect()[0]
        assert row.n == n
        assert abs(row.w2_stat - w2) < 1e-9
        # the ladder IS uniform: W2 must sit well under the 1% critical
        # value 0.743 (Anderson & Darling 1952)
        assert row.w2_stat < 0.743


class TestAdUniform:
    def test_matches_python(self, spark):
        ks = _md5_uniform_ks()
        n = len(ks)
        a2 = -n - (1.0 / n) * sum(
            (2 * (i + 1) - 1) * math.log((2 * kv + 1) / 33554432.0)
            + (2 * (n - (i + 1)) + 1)
            * math.log((33554432 - (2 * kv + 1)) / 33554432.0)
            for i, kv in enumerate(ks)
        )
        row = plans.get("stat_ad_uniform").build(spark, SF).collect()[0]
        assert row.n == n
        # quantized-ln drift bound ~ sqrt(n)*3e-7 typical; loose abs
        assert abs(row.a2_stat - a2) < 5e-3
        # uniform draws: A2 under the 1% critical value 3.857
        assert row.a2_stat < 3.857


class TestPeriodogram:
    def test_matches_python(self, spark):
        daily = _daily_q6_py()
        series = defaultdict(list)
        for (et, d), v in daily.items():
            series[et].append((d, v))
        got = {
            (r.event_type, r.kf): r
            for r in plans.get("ts_periodogram").build(spark, SF).collect()
        }
        for et, pts in series.items():
            pts.sort()
            vs = [v for _, v in pts]
            n = len(vs)
            mean = sum(vs) / n
            for kf in (1, 2, 3, 7, 14):
                sc = sum(
                    (v - mean) * math.cos(2 * math.pi * kf * t / n)
                    for t, v in enumerate(vs)
                )
                ss = sum(
                    (v - mean) * math.sin(2 * math.pi * kf * t / n)
                    for t, v in enumerate(vs)
                )
                power = (sc * sc + ss * ss) / n / 1e12
                r = got[(et, kf)]
                assert r.n_days == n
                # engine quantizes cos/sin at 1e-6 with q6 BIGINT
                # values ~1e9 per term — relative comparison
                denom = max(abs(power), 1e3)
                assert abs(r.power - power) / denom < 1e-2
        assert len(got) == len(series) * 5


class TestTransitivityGlobal:
    def test_matches_python(self, spark):
        w = _trade_edges_py()
        thr = np.percentile(
            np.array(sorted(w.values()), dtype=np.float64), 60
        )
        edges = {e for e, wt in w.items() if wt >= thr}
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        wedges = sum(len(nb) * (len(nb) - 1) // 2 for nb in adj.values())
        tris = 0
        for a, b in edges:
            for c in adj[a] & adj[b]:
                tris += 1
        tris //= 3  # each triangle seen from its 3 edges
        row = (
            plans.get("graph_transitivity_global").build(spark, SF).collect()[0]
        )
        assert (row.n_nodes, row.n_edges) == (len(adj), len(edges))
        assert (row.wedges, row.triangles) == (wedges, tris)
        if wedges:
            assert abs(row.transitivity - 3 * tris / wedges) < 1e-12
            assert 0.0 <= row.transitivity <= 1.0


class TestBoilerplateNgrams:
    def test_matches_python(self, spark):
        grams_by_doc = {}
        src_of = {}
        for doc_id, text, _, source in _docs():
            toks = [w for w in text.split(" ") if w != ""]
            src_of[doc_id] = source
            if len(toks) < 5:
                continue
            grams_by_doc[doc_id] = {
                " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
            }
        df = Counter()
        for gs in grams_by_doc.values():
            df.update(gs)
        stats = defaultdict(lambda: [0, 0, set()])
        for doc_id, gs in grams_by_doc.items():
            s = src_of[doc_id]
            for g in gs:
                stats[s][0] += 1
                if df[g] >= 3:
                    stats[s][1] += 1
                    stats[s][2].add(g)
        got = {
            r.source: r
            for r in plans.get("text_boilerplate_ngrams")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(stats)
        for s, (inst, boiler, distinct) in stats.items():
            r = got[s]
            assert (r.n_gram_instances, r.n_boiler_instances) == (inst, boiler)
            assert r.n_boiler_distinct == len(distinct)
            assert abs(r.boiler_ratio - boiler / inst) < 1e-12
        # the synthetic corpus genuinely contains repeated shingles at
        # sf0.001 — the detector must fire, not trivially report zeros
        assert any(r.n_boiler_instances > 0 for r in got.values())
        assert any(len(v[2]) > 0 for v in stats.values())


class TestMonotonicityAudit:
    def test_matches_python(self, spark):
        rows = _fetch(
            "SELECT user_id, event_id, event_type, ts"
            f" FROM read_parquet('{SF}/events.parquet')"
        )
        by_user = defaultdict(list)
        for u, eid, et, ts in rows:
            by_user[u].append((eid, et, ts))
        stats = defaultdict(lambda: [0, 0, 0])  # et -> [events, pairs, viol]
        for u, evs in by_user.items():
            evs.sort()
            prev_ts = None
            for _, et, ts in evs:
                stats[et][0] += 1
                if prev_ts is not None:
                    stats[et][1] += 1
                    if ts < prev_ts:
                        stats[et][2] += 1
                prev_ts = ts
        got = {
            r.event_type: r
            for r in plans.get("dq_monotonicity_audit")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(stats)
        for et, (n, pairs, viol) in stats.items():
            r = got[et]
            assert (r.n_events, r.n_pairs, r.n_violations) == (n, pairs, viol)
            if pairs:
                assert abs(r.violation_rate - viol / pairs) < 1e-12


class TestCagrLog:
    def test_matches_python(self, spark):
        orders = _fetch(
            "SELECT o_custkey, CAST(o_orderdate AS DATE), o_totalprice"
            f" FROM read_parquet('{SF}/orders.parquet')"
        )
        seg = dict(
            _fetch(
                "SELECT c_custkey, c_mktsegment"
                f" FROM read_parquet('{SF}/customer.parquet')"
            )
        )
        cents_q = Decimal("0.01")
        daily = defaultdict(lambda: Decimal(0))
        for ck, d, p in orders:
            daily[(seg[ck], d)] += Decimal(p).quantize(
                cents_q, rounding=ROUND_HALF_UP
            )
        series = defaultdict(list)
        for (s, d), x in daily.items():
            series[s].append((d, int(x * 100)))
        got = {
            r.segment: r
            for r in plans.get("fin_cagr_log").build(spark, SF).collect()
        }
        for s, pts in series.items():
            pts.sort()
            (d0, c0), (d1, c1) = pts[0], pts[-1]
            days = (d1 - d0).days
            r = got[s]
            assert (r.start_cents, r.end_cents, r.days) == (c0, c1, days)
            if days > 0:
                expect = (
                    (math.log(c1) - math.log(c0)) * 365.25 / days
                )
                # two quantized lns at 1e-6 -> bound ~2e-6 * 365.25/days
                assert abs(r.log_cagr - expect) < 1e-5
