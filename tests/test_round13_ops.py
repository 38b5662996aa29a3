"""Round-13: independent references for this round's changes. Each
test re-derives the expected answer from the raw sf0.001 parquet with
an INDEPENDENT formulation (numpy / plain-Python, no shared SQL
fragments) so a formula bug shared between the Spark build and the
DuckDB oracle cannot hide."""

import hashlib

import numpy as np

from finance_etl_spark import plans
from refs import SF, _fetch


def _docs_py():
    return _fetch(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )


class TestMinhashMd5Twin:
    """Pure-Python re-derivation of the md5-based MinHash-LSH pair
    pipeline: shingles via str.split, base hash via hashlib.md5,
    permutation minima via numpy, band buckets via hashlib.md5 of the
    joined signature slice, candidate pairs via a dict of buckets,
    exact Jaccard via set intersection. No Spark expressions, no SQL."""

    def _expected(self):
        from finance_etl_spark.operators.dedup import (
            N_BANDS,
            N_PERM,
            ROWS_PER_BAND,
            _A,
            _B,
            _MERSENNE,
        )

        a = np.array(_A, dtype=np.int64)[:, None]
        b = np.array(_B, dtype=np.int64)[:, None]
        shingles, sigs = {}, {}
        for doc_id, text in _docs_py():
            toks = [t for t in text.split(" ") if t != ""]
            if len(toks) < 3:
                continue
            grams = list(
                dict.fromkeys(
                    " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                )
            )
            shingles[doc_id] = set(grams)
            hs = np.array(
                [
                    int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
                    & 0x7FFFFFFF
                    for g in grams
                ],
                dtype=np.int64,
            )
            sigs[doc_id] = ((a * hs[None, :] + b) % _MERSENNE).min(axis=1)
        buckets = {}
        for doc_id, sig in sigs.items():
            for band in range(N_BANDS):
                sl = sig[band * ROWS_PER_BAND : (band + 1) * ROWS_PER_BAND]
                key = hashlib.md5(
                    "-".join(str(int(x)) for x in sl).encode()
                ).hexdigest()
                buckets.setdefault((band, key), []).append(doc_id)
        n_bands = {}
        for members in buckets.values():
            members = sorted(members)
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    pair = (members[i], members[j])
                    n_bands[pair] = n_bands.get(pair, 0) + 1
        rows = []
        for (ia, ib), nb in n_bands.items():
            common = len(shingles[ia] & shingles[ib])
            if common == 0:
                continue
            jac = common / (len(shingles[ia]) + len(shingles[ib]) - common)
            if jac >= 0.5:
                rows.append((ia, ib, nb, common, jac))
        return sorted(rows)

    def test_matches_spark(self, spark):
        got = sorted(
            tuple(r)
            for r in plans.get("text_minhash_md5_twin").build(spark, SF).collect()
        )
        expected = self._expected()
        assert len(got) == len(expected) and len(got) > 0
        for g, e in zip(got, expected):
            assert g[:4] == e[:4]
            assert abs(g[4] - e[4]) < 1e-12

    def test_candidates_superset_intuition(self):
        """Every emitted pair shares at least one full band (n_bands
        >= 1) and at most all of them."""
        from finance_etl_spark.operators.dedup import N_BANDS

        for _, _, nb, _, _ in self._expected():
            assert 1 <= nb <= N_BANDS


class TestPQReplay:
    """Pure-numpy replay of the promoted vec_ann_pq_topk pipeline —
    md5-ordered sample, floor-quantized Lloyd codebooks, pinned-order
    folds, DIRECT per-pair ADC distances (no LUT gather — a different
    computation route than the Spark side), shortlist, exact-cosine
    re-rank — asserting the registered query's final output matches."""

    def _expected(self):
        M, DSUB, K, ITERS, SHORT, NSAMP = 16, 4, 16, 5, 50, 256
        rows = _fetch(
            f"SELECT vec_id, embedding FROM"
            f" read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
        )
        ids = np.array([r[0] for r in rows])
        V = np.array([r[1] for r in rows], dtype=np.float64)

        def norm_rows(W):
            acc = W[:, 0] * W[:, 0]
            for d in range(1, W.shape[1]):
                acc = acc + W[:, d] * W[:, d]
            return np.sqrt(acc)

        def d4(a, b):
            t = (a - b) ** 2
            return ((t[..., 0] + t[..., 1]) + t[..., 2]) + t[..., 3]

        N = V / norm_rows(V)[:, None]
        order = sorted(
            range(len(ids)),
            key=lambda i: (
                hashlib.md5(str(ids[i]).encode()).hexdigest(),
                ids[i],
            ),
        )
        X = N[order[:NSAMP]]
        books = []
        for j in range(M):
            sub = X[:, j * DSUB : (j + 1) * DSUB]
            cents = sub[:K].copy()
            for _ in range(ITERS):
                assign = d4(sub[:, None, :], cents[None, :, :]).argmin(
                    axis=1
                )
                new = cents.copy()
                for k in range(K):
                    pts = sub[assign == k]
                    if len(pts):
                        for r in range(DSUB):
                            new[k, r] = np.floor(pts[:, r] * 1e9).sum() / (
                                len(pts) * 1e9
                            )
                cents = new
            books.append(cents)
        B = np.stack(books)
        codes = np.empty((len(ids), M), dtype=np.int64)
        for j in range(M):
            codes[:, j] = d4(
                N[:, None, j * DSUB : (j + 1) * DSUB], B[j][None, :, :]
            ).argmin(axis=1)
        out = []
        for qi in np.where(ids < 5)[0]:
            q = N[qi]
            # direct route: adc(c) = fold_j d4(q_j, centroid[code_cj])
            adc = d4(
                q.reshape(M, DSUB)[0][None, :], B[0][codes[:, 0]]
            )
            for j in range(1, M):
                adc = adc + d4(
                    q.reshape(M, DSUB)[j][None, :], B[j][codes[:, j]]
                )
            cand = [
                (adc[ci], int(ids[ci]), ci)
                for ci in range(len(ids))
                if ids[ci] != ids[qi]
            ]
            cand.sort()
            short = cand[:SHORT]
            rescored = []
            for _, cid, ci in short:
                a, b = V[qi], V[ci]
                dot = a[0] * b[0]
                na, nb = a[0] * a[0], b[0] * b[0]
                for d in range(1, len(a)):
                    dot = dot + a[d] * b[d]
                    na = na + a[d] * a[d]
                    nb = nb + b[d] * b[d]
                rescored.append(
                    (-(dot / (np.sqrt(na) * np.sqrt(nb))), cid)
                )
            rescored.sort()
            for rank, (negcos, cid) in enumerate(rescored[:5], start=1):
                out.append((int(ids[qi]), cid, rank, -negcos))
        return sorted(out)

    def test_matches_spark(self, spark):
        got = sorted(
            tuple(r)
            for r in plans.get("vec_ann_pq_topk").build(spark, SF).collect()
        )
        expected = self._expected()
        assert len(got) == len(expected) == 25
        for g, e in zip(got, expected):
            assert g[:3] == e[:3]
            assert abs(g[3] - e[3]) < 1e-12


class TestBaggingOobV2:
    """Pure-Python re-derivation of ml_bagging_oob_v2 (the 2-digest
    md5 ladder): draws via hashlib slices, stumps via a dict-based
    histogram sweep, OOB census via per-key vote counting."""

    POIS = (24109, 48218, 60273, 64291, 65296, 65497, 65530, 65535)
    B = 16

    def _expected(self):
        rows = _fetch(
            "SELECT l_orderkey, l_linenumber, l_partkey,"
            " CAST(l_extendedprice AS DOUBLE), l_returnflag"
            f" FROM read_parquet('{SF}/lineitem.parquet')"
        )
        xs = [r[3] for r in rows]
        xmin, xmax = min(xs), max(xs)
        base = {}
        for ok, ln, pk, x, rf in rows:
            b = min(31, int(np.floor((x - xmin) / ((xmax - xmin) / 32.0))))
            key = (f"{ok}-{ln}-{pk}", b, 1 if rf == "R" else 0)
            base[key] = base.get(key, 0) + 1

        def w_of(k, b):
            dig = hashlib.md5(f"{k}#{b // 8}".encode()).hexdigest()
            u = int(dig[4 * (b % 8) : 4 * (b % 8) + 4], 16)
            for w, t in enumerate(self.POIS):
                if u < t:
                    return w
            return len(self.POIS)

        weights = {
            (k, b): w_of(k[0], b) for k in base for b in range(self.B)
        }
        stumps = {}
        for b in range(self.B):
            hist = {}
            for (k, bn, y), cnt in base.items():
                w = weights[((k, bn, y), b)]
                n, p = hist.get(bn, (0, 0))
                hist[bn] = (n + w * cnt, p + w * cnt * y)
            bins = sorted(hist)
            tot_n = sum(n for n, _ in hist.values())
            tot_p = sum(p for _, p in hist.values())
            cands = []
            cum_n = cum_p = 0
            for bn in bins:
                cum_n += hist[bn][0]
                cum_p += hist[bn][1]
                if cum_n >= tot_n:
                    continue
                wrong_lp = (cum_n - cum_p) + (tot_p - cum_p)
                wrong_ln = cum_p + (tot_n - cum_n) - (tot_p - cum_p)
                cands.append((wrong_ln, bn, "left_neg"))
                cands.append((wrong_lp, bn, "left_pos"))
            cands.sort()
            stumps[b] = cands[0]
        n_oob_rows = n_err = 0
        for (k, bn, y), cnt in base.items():
            n_oob = votes = 0
            for b in range(self.B):
                if weights[((k, bn, y), b)] != 0:
                    continue
                n_oob += 1
                _, sb, pol = stumps[b]
                if (bn <= sb) == (pol == "left_pos"):
                    votes += 1
            if n_oob > 0:
                pred = 1 if 2 * votes > n_oob else 0
                n_oob_rows += cnt
                if pred != y:
                    n_err += cnt
        return {
            b: (stumps[b][1], stumps[b][2], stumps[b][0], n_oob_rows,
                n_err / n_oob_rows)
            for b in range(self.B)
        }

    def test_matches_spark(self, spark):
        got = {
            r.b: (r.split_bin, r.polarity, r.weighted_wrong, r.n_oob_rows,
                  r.oob_error)
            for r in plans.get("ml_bagging_oob_v2").build(spark, SF).collect()
        }
        expected = self._expected()
        assert set(got) == set(range(self.B))
        for b in range(self.B):
            assert got[b][:4] == expected[b][:4], (b, got[b], expected[b])
            assert abs(got[b][4] - expected[b][4]) < 1e-12

    def test_draws_differ_from_v1(self, spark):
        """The slicing is NOT a drop-in: at least one stump differs
        from v1's on the fixture (guards against silently aliasing
        the two ladders)."""
        v1 = {
            r.b: (r.split_bin, r.polarity, r.weighted_wrong)
            for r in plans.get("ml_bagging_oob").build(spark, SF).collect()
        }
        v2 = {
            r.b: (r.split_bin, r.polarity, r.weighted_wrong)
            for r in plans.get("ml_bagging_oob_v2").build(spark, SF).collect()
        }
        assert v1 != v2


def _orders_cells():
    return _fetch(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) FROM"
        f" read_parquet('{SF}/orders.parquet') GROUP BY 1, 2"
    )


class TestGKLambda:
    def test_matches_spark(self, spark):
        cells = {(x, y): n for x, y, n in _orders_cells()}
        xs = sorted({x for x, _ in cells})
        ys = sorted({y for _, y in cells})
        n = sum(cells.values())
        col_tot = {y: sum(cells.get((x, y), 0) for x in xs) for y in ys}
        row_tot = {x: sum(cells.get((x, y), 0) for y in ys) for x in xs}
        max_col, max_row = max(col_tot.values()), max(row_tot.values())
        sum_row_max = sum(
            max(cells.get((x, y), 0) for y in ys) for x in xs
        )
        sum_col_max = sum(
            max(cells.get((x, y), 0) for x in xs) for y in ys
        )
        lam_yx = (sum_row_max - max_col) / (n - max_col)
        lam_xy = (sum_col_max - max_row) / (n - max_row)
        row = plans.get("stat_gk_lambda").build(spark, SF).collect()[0]
        assert (row.n, row.max_col, row.max_row) == (n, max_col, max_row)
        assert (row.sum_row_max, row.sum_col_max) == (sum_row_max, sum_col_max)
        assert abs(row.lambda_y_given_x - lam_yx) < 1e-12
        assert abs(row.lambda_x_given_y - lam_xy) < 1e-12


class TestUncertaintyCoeff:
    def test_matches_spark(self, spark):
        import math

        cells = {(x, y): n for x, y, n in _orders_cells()}
        n = sum(cells.values())

        def h(counts):
            return -sum(c * math.log(c / n) for c in counts) / n

        xs = sorted({x for x, _ in cells})
        ys = sorted({y for _, y in cells})
        hx = h([sum(cells.get((x, y), 0) for y in ys) for x in xs])
        hy = h([sum(cells.get((x, y), 0) for x in xs) for y in ys])
        hxy = h(list(cells.values()))
        row = plans.get("stat_uncertainty_coeff").build(spark, SF).collect()[0]
        # the engine pipeline quantizes each ln to 1e-6; the bound on
        # each H is 1e-6, amplified through the ratio — compare loosely
        assert row.n == n
        assert abs(row.h_x - hx) < 1e-5
        assert abs(row.h_y - hy) < 1e-5
        assert abs(row.h_xy - hxy) < 1e-5
        assert abs(row.u_y_given_x - (hx + hy - hxy) / hy) < 1e-4
        assert abs(row.u_x_given_y - (hx + hy - hxy) / hx) < 1e-4
        assert 0.0 <= row.u_y_given_x <= 1.0


class TestChowTest:
    def test_matches_numpy(self, spark):
        rows = _fetch(
            "SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT),"
            " CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
            " CAST(l_shipdate AS DATE) < DATE '1998-07-01'"
            f" FROM read_parquet('{SF}/lineitem.parquet')"
        )
        import numpy as np

        def rss_of(seg):
            x = np.array([r[0] for r in seg], dtype=np.float64)
            y = np.array([r[1] for r in seg], dtype=np.float64)
            # independent route: explicit OLS residuals
            xm, ym = x.mean(), y.mean()
            beta = ((x - xm) * (y - ym)).sum() / ((x - xm) ** 2).sum()
            resid = y - (ym + beta * (x - xm))
            return (resid**2).sum()

        pre = [r for r in rows if r[2]]
        post = [r for r in rows if not r[2]]
        rss_p = rss_of(rows)
        rss_s = rss_of(pre) + rss_of(post)
        f_ref = ((rss_p - rss_s) / 2) / (rss_s / (len(rows) - 4))
        row = plans.get("stat_chow_test").build(spark, SF).collect()[0]
        assert (row.n_pre, row.n_post) == (len(pre), len(post))
        assert abs(row.rss_pooled - rss_p) / rss_p < 1e-9
        assert abs(row.rss_segmented - rss_s) / rss_s < 1e-9
        assert abs(row.f_stat - f_ref) / max(abs(f_ref), 1e-9) < 1e-6


class TestYuleK:
    def test_matches_python(self, spark):
        import re
        from collections import Counter

        docs = _fetch(
            f"SELECT text FROM read_parquet('{SF}/documents.parquet')"
        )
        freq = Counter()
        for (t,) in docs:
            freq.update(w.lower() for w in re.findall(r"[a-zA-Z0-9_]+", t))
        n = sum(freq.values())
        s2 = sum(f * f for f in freq.values())
        k_ref = 1e4 * (s2 - n) / (n * n)
        row = plans.get("text_yule_k").build(spark, SF).collect()[0]
        assert (row.n_tokens, row.vocab, row.sum_freq_sq) == (n, len(freq), s2)
        assert abs(row.yule_k - k_ref) < 1e-9


class TestLangidConfusion:
    def test_matches_python(self, spark):
        from collections import Counter, defaultdict

        docs = _fetch(
            f"SELECT doc_id, text, lang FROM"
            f" read_parquet('{SF}/documents.parquet')"
        )
        toks = {d: [w for w in t.split(" ") if w != ""] for d, t, _ in docs}
        lang_of = {d: lang for d, _, lang in docs}
        prof = defaultdict(Counter)
        for d, ws in toks.items():
            prof[lang_of[d]].update(ws)
        weights = {}
        for lang, cnt in prof.items():
            total = sum(cnt.values())
            for w, c in cnt.items():
                weights[(lang, w)] = (c * 1000000) // total
        cells = Counter()
        for d, ws in toks.items():
            scores = Counter()
            for w in ws:
                for lang in prof:
                    wt = weights.get((lang, w))
                    if wt is not None:
                        scores[lang] += wt
            if not scores:
                continue
            pred = min(scores, key=lambda L: (-scores[L], L))
            cells[(lang_of[d], pred)] += 1
        truetot = Counter()
        for (t, _), c in cells.items():
            truetot[t] += c
        got = {
            (r.true_lang, r.pred_lang): (r.n_docs, r.cell_share)
            for r in plans.get("text_langid_confusion").build(spark, SF).collect()
        }
        assert set(got) == set(cells)
        for k, (nd, share) in got.items():
            assert nd == cells[k]
            assert abs(share - cells[k] / truetot[k[0]]) < 1e-12


def _daily_series():
    """Exact daily DECIMAL(18,6) sums per event_type, in date order."""
    return _fetch(
        "SELECT event_type, CAST(ts AS DATE) AS d,"
        " CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))"
        f" FROM read_parquet('{SF}/events.parquet')"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    )


class TestTheilU2:
    def test_matches_python(self, spark):
        import math
        from collections import defaultdict

        series = defaultdict(list)
        for et, _, x in _daily_series():
            series[et].append(float(x))
        expected = {}
        for et, xs in series.items():
            num = den = 0.0
            cnt = 0
            for t in range(7, len(xs)):
                l1, l7, x = xs[t - 1], xs[t - 7], xs[t]
                if l1 == 0:
                    continue
                num += ((l7 - x) / l1) ** 2
                den += ((x - l1) / l1) ** 2
                cnt += 1
            expected[et] = (cnt, math.sqrt(num) / math.sqrt(den))
        got = {
            r.event_type: (r.n_terms, r.theil_u2)
            for r in plans.get("ts_theil_u2").build(spark, SF).collect()
        }
        assert set(got) == set(expected)
        for et, (cnt, u2) in expected.items():
            assert got[et][0] == cnt
            assert abs(got[et][1] - u2) < 1e-9
            assert got[et][1] > 0


class TestStochasticOscillator:
    def test_matches_python(self, spark):
        import math
        from collections import defaultdict

        series = defaultdict(list)
        for et, _, x in _daily_series():
            series[et].append(float(x))
        expected = {}
        for et, xs in series.items():
            ks = []
            for t in range(13, len(xs)):
                win = xs[t - 13 : t + 1]
                hi, lo = max(win), min(win)
                ks.append((xs[t] - lo) / (hi - lo) if hi > lo else None)
            n_ob = sum(1 for k in ks if k is not None and k > 0.8)
            n_os = sum(1 for k in ks if k is not None and k < 0.2)
            kq = sum(
                int(math.floor(k * 1e6)) for k in ks if k is not None
            )
            dq = 0
            for i in range(2, len(ks)):
                if all(k is not None for k in ks[i - 2 : i + 1]):
                    dq += int(
                        math.floor(((ks[i] + ks[i - 1]) + ks[i - 2]) / 3.0 * 1e6)
                    )
            expected[et] = (len(ks), n_ob, n_os, kq, dq)
        got = {
            r.event_type: (r.n_days, r.n_overbought, r.n_oversold,
                           r.k_q6_sum, r.d_q6_sum)
            for r in plans.get("ts_stochastic_oscillator").build(spark, SF).collect()
        }
        assert got == expected


class TestEdgeTriangleSupport:
    def test_matches_python(self, spark):
        edges = _fetch(
            "SELECT LEAST(s.s_nationkey, c.c_nationkey),"
            " GREATEST(s.s_nationkey, c.c_nationkey), COUNT(*)"
            f" FROM read_parquet('{SF}/lineitem.parquet') l"
            f" JOIN read_parquet('{SF}/orders.parquet') o"
            " ON l.l_orderkey = o.o_orderkey"
            f" JOIN read_parquet('{SF}/customer.parquet') c"
            " ON o.o_custkey = c.c_custkey"
            f" JOIN read_parquet('{SF}/supplier.parquet') s"
            " ON l.l_suppkey = s.s_suppkey"
            " WHERE s.s_nationkey <> c.c_nationkey GROUP BY 1, 2"
        )
        ws = sorted(w for _, _, w in edges)
        t = float(np.percentile(ws, 60, method="linear"))
        ku = {(a, b) for a, b, w in edges if w >= t}
        nbrs = {}
        for a, b in ku:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        expected = {
            (a, b): len(nbrs[a] & nbrs[b]) for a, b in ku
        }
        got = {
            (r.a, r.b): (r.support, r.in_4truss)
            for r in plans.get("graph_edge_triangle_support").build(spark, SF).collect()
        }
        assert set(got) == set(expected)
        for k, sup in expected.items():
            assert got[k] == (sup, sup >= 2)


class TestWindowDistFunctions:
    def test_matches_python(self, spark):
        import math
        from collections import defaultdict

        rows = _fetch(
            "SELECT o_orderpriority,"
            " CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
            " o_orderkey"
            f" FROM read_parquet('{SF}/orders.parquet')"
        )
        groups = defaultdict(list)
        for pri, cents, okey in rows:
            groups[pri].append((cents, okey))
        expected = {}
        for pri, lst in groups.items():
            lst.sort()
            n = len(lst)
            nlq = sum(1 for i in range(n) if (i + 1) / n <= 0.25)
            prq = sum(int(math.floor(i / (n - 1) * 1e6)) for i in range(n))
            expected[pri] = (n, nlq, prq, lst[2][0])
        got = {
            r.pri: (r.n, r.n_lower_quartile, r.pr_q6_sum, r.third_lowest_cents)
            for r in plans.get("window_dist_functions").build(spark, SF).collect()
        }
        assert got == expected


class TestGTest:
    def test_matches_python(self, spark):
        import math

        cells = {(x, y): n for x, y, n in _orders_cells()}
        n = sum(cells.values())
        xs = sorted({x for x, _ in cells})
        ys = sorted({y for _, y in cells})
        r = {x: sum(cells.get((x, y), 0) for y in ys) for x in xs}
        c = {y: sum(cells.get((x, y), 0) for x in xs) for y in ys}
        g = 2.0 * sum(
            o * math.log(o * n / (r[x] * c[y]))
            for (x, y), o in cells.items()
        )
        row = plans.get("stat_g_test").build(spark, SF).collect()[0]
        assert row.n == n
        assert row.df == (len(xs) - 1) * (len(ys) - 1)
        # engine quantizes each ln at 1e-6: bound = 2 * n * 1e-6
        assert abs(row.g_stat - g) < 2 * n * 1e-6 + 1e-9
        assert row.g_stat >= 0


class TestPSI:
    def test_matches_python(self, spark):
        import math

        rows = _fetch(
            "SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),"
            " EXTRACT(year FROM CAST(o_orderdate AS DATE))"
            f" FROM read_parquet('{SF}/orders.parquet')"
            " WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE))"
            " IN (1995, 1996)"
        )
        lo = min(cc for cc, _ in rows)
        hi = max(cc for cc, _ in rows)
        cref = [0] * 10
        ccur = [0] * 10
        for cc, yr in rows:
            b = 0 if hi == lo else min(9, ((cc - lo) * 10) // (hi - lo + 1))
            (cref if yr == 1995 else ccur)[b] += 1
        n_ref, n_cur = sum(cref), sum(ccur)
        psi = sum(
            ((cref[b] + 1) / (n_ref + 10) - (ccur[b] + 1) / (n_cur + 10))
            * math.log(
                ((cref[b] + 1) / (n_ref + 10))
                / ((ccur[b] + 1) / (n_cur + 10))
            )
            for b in range(10)
        )
        row = plans.get("ml_psi_stability").build(spark, SF).collect()[0]
        assert (row.n_ref, row.n_cur) == (n_ref, n_cur)
        assert abs(row.psi - psi) < 1e-5  # 10 quantized-ln terms
        assert row.verdict in ("stable", "moderate_shift", "major_shift")


class TestWeightedKappa:
    def test_matches_python(self, spark):
        rows = _fetch(
            "SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT),"
            " CAST(o_totalprice AS DOUBLE)"
            f" FROM read_parquet('{SF}/orders.parquet')"
        )
        import math

        pmin = min(p for _, p in rows)
        pmax = max(p for _, p in rows)
        cells = {}
        for i, p in rows:
            j = (
                1
                if pmax == pmin
                else min(4, int(math.floor((p - pmin) / ((pmax - pmin) / 5.0))))
                + 1
            )
            cells[(i, j)] = cells.get((i, j), 0) + 1
        n = sum(cells.values())
        ri = {}
        cj = {}
        for (i, j), o in cells.items():
            ri[i] = ri.get(i, 0) + o
            cj[j] = cj.get(j, 0) + o
        sum_od = sum(o * abs(i - j) for (i, j), o in cells.items())
        sum_ed = sum(
            r * c * abs(i - j) for i, r in ri.items() for j, c in cj.items()
        )
        kappa = 1.0 - (n * sum_od) / sum_ed
        row = plans.get("ml_weighted_kappa").build(spark, SF).collect()[0]
        assert (row.n, row.obs_disagree) == (n, sum_od)
        assert row.exp_disagree_xn == float(sum_ed)
        assert abs(row.weighted_kappa - kappa) < 1e-12


class TestKupiecPOF:
    def test_matches_python(self, spark):
        import math
        from collections import defaultdict
        from datetime import date

        daily = defaultdict(list)
        for seg, d, x in _fetch(
            "SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE),"
            " SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))"
            f" FROM read_parquet('{SF}/orders.parquet') o"
            f" JOIN read_parquet('{SF}/customer.parquet') c"
            " ON o.o_custkey = c.c_custkey GROUP BY 1, 2 ORDER BY 1, 2"
        ):
            daily[seg].append((d, float(x)))
        expected = {}
        cut = date(1998, 1, 1)
        for seg, series in daily.items():
            rets = [
                (d, int(math.floor((x / xp - 1.0) * 1e9)))
                for (dp, xp), (d, x) in zip(series, series[1:])
            ]
            est = sorted(
                (r, d) for d, r in rets if d < cut
            )
            n1 = len(est)
            var_q9 = est[(n1 + 19) // 20 - 1][0]
            test = [(d, r) for d, r in rets if d >= cut]
            n, x = len(test), sum(1 for _, r in test if r < var_q9)
            fr = x / n
            lr = -2.0 * (
                (n - x) * math.log(0.95)
                + x * math.log(0.05)
                - ((n - x) * math.log(1 - fr) if x < n else 0.0)
                - (x * math.log(fr) if x > 0 else 0.0)
            )
            expected[seg] = (n, x, lr)
        got = {
            r.segment: (r.n_test, r.exceptions, r.lr_pof, r.reject_95)
            for r in plans.get("fin_kupiec_pof").build(spark, SF).collect()
        }
        assert set(got) == set(expected)
        for seg, (n, x, lr) in expected.items():
            assert got[seg][:2] == (n, x)
            # four quantized-ln terms, each weighted by <= n counts
            assert abs(got[seg][2] - lr) < 2 * 4 * n * 1e-6 + 1e-9
            assert got[seg][3] == (got[seg][2] > 3.841459)
