"""Round-15: independent references for this round's additions. Each
test re-derives the expected answer from the raw sf0.001 parquet with
an INDEPENDENT formulation (numpy / plain-Python, no shared SQL
fragments) so a formula bug shared between the Spark build and the
DuckDB oracle cannot hide."""

import math
import re
from collections import Counter, defaultdict

import numpy as np

from finance_etl_spark import plans
from refs import SF, _docs, _fetch, _midranks, _trade_graph_py


def _orders():
    return _fetch(
        "SELECT o_orderpriority, o_totalprice, o_custkey, o_orderdate"
        f" FROM read_parquet('{SF}/orders.parquet')"
    )


def _daily_by_type():
    """(event_type -> [(date, q6_total)]) replicating _daily_q6."""
    rows = _fetch(
        "SELECT event_type, CAST(ts AS DATE) AS d, value"
        f" FROM read_parquet('{SF}/events.parquet')"
    )
    acc = defaultdict(lambda: defaultdict(int))
    for et, d, v in rows:
        acc[et][d] += math.floor(v * 1e6)
    return {
        et: sorted(days.items()) for et, days in acc.items()
    }


class TestMoodsMedian:
    def test_matches_python(self, spark):
        rows = _orders()
        cents = sorted(round(p * 100) for _, p, _, _ in rows)
        n = len(cents)
        med = cents[(n + 1) // 2 - 1]  # lower median, 1-based pin
        by_g = defaultdict(lambda: [0, 0])  # g -> [n_g, above]
        for g, p, _, _ in rows:
            xc = round(p * 100)
            by_g[g][0] += 1
            by_g[g][1] += int(xc > med)
        a_tot = sum(v[1] for v in by_g.values())
        chi2 = 0.0
        for g in sorted(by_g):
            ng, ag = by_g[g]
            e = ng * a_tot / n
            chi2 += (ag - e) ** 2 / e + ((ng - ag) - (ng - e)) ** 2 / (
                ng - e
            )
        got = {
            r.g: r
            for r in plans.get("stat_moods_median").build(spark, SF).collect()
        }
        assert set(got) == set(by_g)
        for g, (ng, ag) in by_g.items():
            assert (got[g].n_g, got[g].n_above) == (ng, ag)
            assert abs(got[g].exp_above - ng * a_tot / n) < 1e-9
            assert abs(got[g].chi2 - chi2) < 1e-9


class TestBartelsRankVN:
    def test_matches_python(self, spark):
        daily = _daily_by_type()
        got = {
            r.event_type: r
            for r in plans.get("stat_bartels_rank_vn")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(daily)
        for et, series in daily.items():
            vals = [v for _, v in series]  # already in date order
            n = len(vals)
            ranks = _midranks(vals)
            num = sum(
                (ranks[i] - ranks[i + 1]) ** 2 for i in range(n - 1)
            )
            rbar = (n + 1) / 2.0
            den = sum((r - rbar) ** 2 for r in ranks)
            rvn = num / den
            r = got[et]
            assert r.n == n
            # doubled-rank integers are exactly 4x the float sums
            assert r.num4 == round(4 * num)
            assert r.den4 == round(4 * den)
            assert abs(r.rvn - rvn) < 1e-12
            var = (
                4.0
                * (n - 2)
                * (5 * n * n - 2 * n - 9)
                / (5.0 * n * (n + 1) * (n - 1) * (n - 1))
            )
            assert abs(r.z - (rvn - 2.0) / math.sqrt(var)) < 1e-9


class TestCoxStuart:
    def test_matches_python(self, spark):
        daily = _daily_by_type()
        got = {
            r.event_type: r
            for r in plans.get("ts_cox_stuart").build(spark, SF).collect()
        }
        for et, series in daily.items():
            vals = [v for _, v in series]
            n = len(vals)
            m = n // 2
            shift = n - m
            pos = neg = 0
            for i in range(m):
                a, b = vals[i], vals[i + shift]
                pos += int(b > a)
                neg += int(b < a)
            r = got[et]
            assert (r.n_pairs, r.n_up, r.n_down) == (m, pos, neg)
            nt = pos + neg
            if nt > 0:
                z = (pos - nt / 2.0) / math.sqrt(nt / 4.0)
                assert abs(r.z - z) < 1e-12
            else:
                assert r.z is None


def _seg_daily_py():
    """segment -> [(date, revenue_cents)], replicating _seg_daily."""
    cust = dict(
        _fetch(
            "SELECT c_custkey, c_mktsegment"
            f" FROM read_parquet('{SF}/customer.parquet')"
        )
    )
    acc = defaultdict(lambda: defaultdict(int))
    for _, p, ck, d in _orders():
        acc[cust[ck]][d] += round(p * 100)
    return {s: sorted(days.items()) for s, days in acc.items()}


def _q9_returns(series_cents):
    out = []
    for (d0, x0), (d1, x1) in zip(series_cents, series_cents[1:]):
        out.append(math.floor(((x1 / 100) / (x0 / 100) - 1.0) * 1e9))
    return out


class TestGainToPain:
    def test_matches_python(self, spark):
        segs = _seg_daily_py()
        got = {
            r.segment: r
            for r in plans.get("fin_gain_to_pain").build(spark, SF).collect()
        }
        assert set(got) == set(segs)
        for s, series in segs.items():
            rs = _q9_returns(series)
            pain = sum(-r for r in rs if r < 0)
            r = got[s]
            assert (r.n, r.sum_r_q9, r.pain_q9) == (len(rs), sum(rs), pain)
            if pain > 0:
                assert abs(r.gain_to_pain - sum(rs) / pain) < 1e-12


class TestJensenAlpha:
    def test_matches_python(self, spark):
        segs = _seg_daily_py()
        # market = all-segment daily total, from the same spine
        mkt = defaultdict(int)
        for series in segs.values():
            for d, x in series:
                mkt[d] += x
        mkt_series = sorted(mkt.items())
        mr = {
            d1: math.floor(((x1 / 100) / (x0 / 100) - 1.0) * 1e9)
            for (d0, x0), (d1, x1) in zip(mkt_series, mkt_series[1:])
        }
        rf = 0.03 / 365
        got = {
            r.segment: r
            for r in plans.get("fin_jensen_alpha").build(spark, SF).collect()
        }
        for s, series in segs.items():
            pairs = [
                (
                    math.floor(
                        ((x1 / 100) / (x0 / 100) - 1.0) * 1e9
                    ),
                    mr[d1],
                )
                for (d0, x0), (d1, x1) in zip(series, series[1:])
                if d1 in mr
            ]
            n = len(pairs)
            sr = sum(r for r, _ in pairs)
            sm = sum(m for _, m in pairs)
            srm = sum(r * m for r, m in pairs)
            smm = sum(m * m for _, m in pairs)
            var_m = n * smm - sm * sm
            beta = (n * srm - sr * sm) / var_m
            alpha = (
                (sr / n / 1e9 - rf) - beta * (sm / n / 1e9 - rf)
            ) * 365
            r = got[s]
            assert r.n == n
            assert abs(r.jensen_alpha_annual - alpha) < 1e-9


class TestMartinRatio:
    def test_matches_python(self, spark):
        segs = _seg_daily_py()
        got = {
            r.segment: r
            for r in plans.get("fin_martin_ratio").build(spark, SF).collect()
        }
        for s, series in segs.items():
            mx = 0
            dds = []
            for d, x in series:
                mx = max(mx, x)
                dds.append(
                    math.floor((mx / 100 - x / 100) / (mx / 100) * 100 * 1e6)
                )
            ulcer = math.sqrt(
                sum(q * q for q in dds) / len(dds)
            ) / 1e6
            first = series[0][1] / 100
            last = series[-1][1] / 100
            tot = (last / first - 1.0) * 100
            r = got[s]
            assert r.n_days == len(series)
            assert abs(r.ulcer - ulcer) < 1e-9
            assert abs(r.total_ret_pct - tot) < 1e-9
            if ulcer > 0:
                assert abs(r.martin_ratio - tot / ulcer) < 1e-9


_SENT = re.compile(r"[.!?]+")
_VOWELS = re.compile(r"[aeiouy]+")
_ALNUM = re.compile(r"[A-Za-z0-9]")


class TestSmogAri:
    def test_matches_python(self, spark):
        per_lang = defaultdict(list)
        for _, text, lang, _ in _docs():
            words = [t for t in text.split(" ") if t]
            if not words:
                continue
            s = max(1, len(_SENT.findall(text)))
            poly = sum(
                1
                for t in words
                if len(_VOWELS.findall(t.lower())) >= 3
            )
            ch = len(_ALNUM.findall(text))
            smog = 1.043 * math.sqrt(poly * 30 / s) + 3.1291
            ari = 4.71 * (ch / len(words)) + 0.5 * (len(words) / s) - 21.43
            per_lang[lang].append((poly, ch, smog, ari))
        smog_got = {
            r.lang: r
            for r in plans.get("text_smog_index").build(spark, SF).collect()
        }
        ari_got = {
            r.lang: r
            for r in plans.get("text_ari_index").build(spark, SF).collect()
        }
        assert set(smog_got) == set(per_lang)
        for lang, rows in per_lang.items():
            n = len(rows)
            mean_smog = (
                sum(math.floor(s * 1e6) for _, _, s, _ in rows) / 1e6 / n
            )
            mean_ari = (
                sum(math.floor(a * 1e6) for _, _, _, a in rows) / 1e6 / n
            )
            rs, ra = smog_got[lang], ari_got[lang]
            assert rs.n_docs == n and ra.n_docs == n
            assert rs.total_polysyllables == sum(p for p, _, _, _ in rows)
            assert ra.total_alnum_chars == sum(c for _, c, _, _ in rows)
            assert abs(rs.mean_smog_grade - mean_smog) < 1e-9
            assert abs(ra.mean_ari_grade - mean_ari) < 1e-9
        # SMOG should actually see polysyllables in a text corpus
        assert sum(r.total_polysyllables for r in smog_got.values()) > 0


class TestPmiBigrams:
    def test_matches_python(self, spark):
        uni = Counter()
        big = Counter()
        for _, text, _, _ in _docs():
            toks = [t for t in text.split(" ") if t]
            uni.update(toks)
            big.update(zip(toks, toks[1:]))
        n_uni = sum(uni.values())
        n_bi = sum(big.values())
        scored = []
        for (w1, w2), cxy in big.items():
            if cxy < 5:
                continue
            pmi = math.log(
                cxy * n_uni / n_bi * (n_uni / uni[w1]) / uni[w2]
            )
            # engine sorts/reports the q6-quantized value
            scored.append((round(pmi, 6), w1, w2, cxy))
        scored.sort(key=lambda r: (-r[0], r[1], r[2]))
        got = plans.get("text_pmi_bigrams").build(spark, SF).collect()
        assert len(got) == min(20, len(scored))
        for exp, r in zip(scored[:20], got):
            assert (r.w1, r.w2, r.cxy) == (exp[1], exp[2], exp[3])
            assert (r.c1, r.c2) == (uni[r.w1], uni[r.w2])
            assert abs(r.pmi - exp[0]) < 2e-6
        # monotone non-increasing PMI down the list
        pmis = [r.pmi for r in got]
        assert all(a >= b for a, b in zip(pmis, pmis[1:]))


class TestBenfordSecondDigit:
    def test_matches_python(self, spark):
        rows = _orders()
        counts = Counter()
        for _, p, _, _ in rows:
            if p < 10:
                continue
            digits = re.sub(r"[^0-9]", "", f"{p:.2f}")
            counts[digits[1]] += 1
        nt = sum(counts.values())
        exp = {
            str(d): sum(
                math.log10(1 + 1 / (10 * k + d)) for k in range(1, 10)
            )
            for d in range(10)
        }
        chi2 = sum(
            (counts.get(d, 0) - nt * p) ** 2 / (nt * p)
            for d, p in sorted(exp.items())
            if d in counts
        )
        got = {
            r.second_digit: r
            for r in plans.get("dq_benford_second_digit")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(counts)
        for d, c in counts.items():
            r = got[d]
            assert r.n == c
            assert abs(r.observed_frac - c / nt) < 1e-12
            assert abs(r.benford_frac - exp[d]) < 1e-12
            assert abs(r.chi2 - chi2) < 1e-9


class TestBalancedAccuracy:
    def test_matches_python(self, spark):
        rows = _fetch(
            "SELECT l_linestatus, l_discount, l_returnflag"
            f" FROM read_parquet('{SF}/lineitem.parquet')"
        )
        conf = defaultdict(lambda: [0, 0, 0, 0])  # tp fp fn tn
        for st, disc, flag in rows:
            pred = disc >= 0.05
            pos = flag == "R"
            c = conf[st]
            if pred and pos:
                c[0] += 1
            elif pred:
                c[1] += 1
            elif pos:
                c[2] += 1
            else:
                c[3] += 1
        got = {
            r.status: r
            for r in plans.get("ml_balanced_accuracy")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(conf)
        for st, (tp, fp, fn, tn) in conf.items():
            r = got[st]
            assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
            if tp + fn > 0 and tn + fp > 0:
                bacc = (tp / (tp + fn) + tn / (tn + fp)) / 2
                assert abs(r.balanced_accuracy - bacc) < 1e-12


class TestCommonNeighbors:
    def test_matches_python(self, spark):
        edges = _trade_graph_py()
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        exp = {}
        nodes = sorted(adj)
        for i, a in enumerate(nodes):
            for b in nodes[i + 1 :]:
                if (a, b) in edges:
                    continue
                cn = len(adj[a] & adj[b])
                if cn > 0:
                    exp[(a, b)] = cn
        got = {
            (r.a, r.b): r.common_neighbors
            for r in plans.get("graph_common_neighbors")
            .build(spark, SF)
            .collect()
        }
        assert got == exp


class TestTheilIndex:
    def test_matches_python(self, spark):
        vals = [
            round(p * 100) / 100
            for _, p, _, _ in _orders()
            if p > 0
        ]
        n = len(vals)
        mean = sum(round(v * 100) for v in vals) / 100 / n
        theil_t = sum(
            (v / mean) * math.log(v / mean) for v in vals
        ) / n
        theil_l = sum(math.log(mean / v) for v in vals) / n
        r = plans.get("stat_theil_index").build(spark, SF).collect()[0]
        assert r.n == n
        assert abs(r.mean_value - mean) < 1e-9
        # quantized-ln drift bound: each per-row ln is within 5e-7 of
        # exact, weights sum to 1 in T and 1 in L
        assert abs(r.theil_t - theil_t) < 1e-4
        assert abs(r.theil_l - theil_l) < 1e-4
        assert r.theil_t >= 0 and r.theil_l >= 0


class TestSpectralEntropy:
    def test_matches_numpy(self, spark):
        daily = _daily_by_type()
        got = {
            r.event_type: r
            for r in plans.get("ts_spectral_entropy")
            .build(spark, SF)
            .collect()
        }
        for et, series in daily.items():
            v = np.array([x for _, x in series], dtype=float)
            n = len(v)
            vc = v - v.mean()
            powers = []
            for kf in (1, 2, 3, 7, 14):
                ang = 2 * np.pi * kf * np.arange(n) / n
                sc = float((vc * np.cos(ang)).sum())
                ss = float((vc * np.sin(ang)).sum())
                powers.append((sc * sc + ss * ss) / n / 1e12)
            p = np.array(powers)
            q = p / p.sum()
            h = float(-(q * np.log(q)).sum())
            r = got[et]
            assert r.n_freqs == 5
            assert abs(r.spectral_entropy - h) < 1e-3
            assert abs(
                r.spectral_entropy_norm - r.spectral_entropy / math.log(5)
            ) < 1e-9
            assert 0.0 <= r.spectral_entropy_norm <= 1.0 + 1e-9


class TestPermutationEntropy:
    def test_matches_python(self, spark):
        daily = _daily_by_type()
        got = {
            r.event_type: r
            for r in plans.get("ts_permutation_entropy")
            .build(spark, SF)
            .collect()
        }
        for et, series in daily.items():
            vals = [v for _, v in series]
            pats = Counter()
            for a, b, c in zip(vals, vals[1:], vals[2:]):
                # stable argsort of (value, position) — earlier index
                # wins ties, matching the engine's <= comparisons
                order = tuple(
                    i
                    for _, i in sorted(
                        [(a, 0), (b, 1), (c, 2)], key=lambda p: (p[0], p[1])
                    )
                )
                pats[order] += 1
            n = sum(pats.values())
            h = -sum(
                (c / n) * math.log(c / n) for c in pats.values()
            )
            r = got[et]
            assert r.n_windows == n
            assert abs(r.perm_entropy - h) < 1e-4
            assert abs(
                r.perm_entropy_norm - r.perm_entropy / math.log(6)
            ) < 1e-9
            assert 0.0 <= r.perm_entropy_norm <= 1.0 + 1e-9


class TestSampleEntropy:
    def test_matches_python(self, spark):
        daily = _daily_by_type()
        got = {
            r.event_type: r
            for r in plans.get("ts_sample_entropy").build(spark, SF).collect()
        }
        for et, series in daily.items():
            vals = [v for _, v in series]
            tmpl = [
                (vals[i], vals[i + 1], vals[i + 2])
                for i in range(len(vals) - 2)
            ]
            nt = len(tmpl)
            xs = [t[0] for t in tmpl]
            mean = sum(xs) / nt
            var = sum((x - mean) ** 2 for x in xs) / nt
            rr = 0.2 * math.sqrt(var)
            b_cnt = a_cnt = 0
            for i in range(nt):
                for j in range(i + 1, nt):
                    if (
                        abs(tmpl[i][0] - tmpl[j][0]) <= rr
                        and abs(tmpl[i][1] - tmpl[j][1]) <= rr
                    ):
                        b_cnt += 1
                        if abs(tmpl[i][2] - tmpl[j][2]) <= rr:
                            a_cnt += 1
            r = got[et]
            assert r.n_templates == nt
            assert (r.b_cnt, r.a_cnt) == (b_cnt, a_cnt)
            if a_cnt > 0 and b_cnt > 0:
                assert abs(r.sampen - (-math.log(a_cnt / b_cnt))) < 2e-6
                assert r.sampen >= -1e-9  # A <= B by construction


class TestLepage:
    def test_matches_python(self, spark):
        rows = _fetch(
            "SELECT l_returnflag, l_quantity"
            f" FROM read_parquet('{SF}/lineitem.parquet')"
            " WHERE l_returnflag IN ('R', 'N')"
        )
        vals = [round(q * 100) for _, q in rows]
        is_x = [g == "R" for g, _ in rows]
        n = len(vals)
        m = sum(is_x)
        ranks = _midranks(vals)  # float midranks, independent route
        # Wilcoxon z via the classical tie-corrected formula — an
        # INDEPENDENT derivation from the engine's general-moments
        s_w = sum(r for r, x in zip(ranks, is_x) if x)
        e_w = m * (n + 1) / 2.0
        ties = Counter(vals)
        tie_term = sum(t**3 - t for t in ties.values()) / (n * (n - 1))
        var_w = m * (n - m) / 12.0 * ((n + 1) - tie_term)
        zw = (s_w - e_w) / math.sqrt(var_w)
        # Ansari z via permutation moments over per-row float scores
        ab = [min(r, n + 1 - r) for r in ranks]
        s_a = sum(a for a, x in zip(ab, is_x) if x)
        t1 = sum(ab)
        t2 = sum(a * a for a in ab)
        e_a = m * t1 / n
        var_a = m * (n - m) * (n * t2 - t1 * t1) / (n * n * (n - 1))
        za = (s_a - e_a) / math.sqrt(var_a)
        r = plans.get("stat_lepage").build(spark, SF).collect()[0]
        assert (r.n_x, r.n_y) == (m, n - m)
        assert abs(r.z_wilcoxon - zw) < 1e-9
        assert abs(r.z_ansari - za) < 1e-9
        assert abs(r.lepage_l - (zw * zw + za * za)) < 1e-9


class TestTheilDecomposition:
    def test_matches_python_and_adds_up(self, spark):
        cust = dict(
            _fetch(
                "SELECT c_custkey, c_mktsegment"
                f" FROM read_parquet('{SF}/customer.parquet')"
            )
        )
        by_seg = defaultdict(list)
        for _, p, ck, _ in _orders():
            if p > 0:
                by_seg[cust[ck]].append(round(p * 100) / 100)
        tot_n = sum(len(v) for v in by_seg.values())
        tot_s = sum(sum(v) for v in by_seg.values())
        mean = tot_s / tot_n
        within = between = 0.0
        exp = {}
        for seg in sorted(by_seg):
            v = by_seg[seg]
            mg = sum(v) / len(v)
            tg = sum((x / mg) * math.log(x / mg) for x in v) / len(v)
            share = sum(v) / tot_s
            within += share * tg
            between += share * math.log(mg / mean)
            exp[seg] = (len(v), mg, tg, share)
        got = {
            r.seg: r
            for r in plans.get("stat_theil_decomposition")
            .build(spark, SF)
            .collect()
        }
        assert set(got) == set(exp)
        for seg, (ng, mg, tg, share) in exp.items():
            r = got[seg]
            assert r.n_g == ng
            assert abs(r.mean_g - mg) < 1e-6
            assert abs(r.theil_within_g - tg) < 1e-4
            assert abs(r.value_share - share) < 1e-12
            assert abs(r.t_within - within) < 1e-4
            assert abs(r.t_between - between) < 1e-4
        # decomposition must reconcile with the single-scan index
        single = (
            plans.get("stat_theil_index").build(spark, SF).collect()[0]
        )
        any_r = next(iter(got.values()))
        assert abs(any_r.theil_total - single.theil_t) < 1e-3
