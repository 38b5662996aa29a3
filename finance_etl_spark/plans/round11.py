"""Round-11 operator wave: classical nonparametric / diagnostic
statistics, portfolio analytics, forecast-accuracy metrics, and graph
distance diagnostics the earlier waves left uncovered — every query
hash-oracled on arrival (round-10 verdict directive: additions <= the
driver sampling rate, oracle-checked from day one).

House rules applied throughout (see plans/registry.py docstring):
exact integer/decimal accumulation with doubles only at the
presentation edge; order-pinned folds (array_sort + aggregate vs
list(... ORDER BY) + list_reduce) wherever >1 double term is summed;
string-routed shared constants; NULL-guarded degenerate divisions
identical on both engines; bucket+carry instead of unpartitioned
corpus windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import (
    as_d,
    fsum,
    o_fsum,
    o_ordered_fold_sum,
    ordered_fold_sum,
)
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.recipes import (
    DAILY_SCALED_SQL,
    GRAPH_EDGE_CTE,
    MARKET_MODEL_SQL,
    MKT_RET_SQL,
    SEG_DAILY_SQL,
    SEG_PNL_DAILY_SQL,
    SEG_RET_SQL,
    daily_scaled,
    dd_q6,
    market_model_sums,
    midranks2,
    mkt_returns,
    o_dd_q6,
    o_ret_q9,
    ret_q9,
    seg_daily,
    seg_returns,
    trade_edges_undirected,
)
from finance_etl_spark.plans.registry import register




# ---------------------------------------------------------------------------
# stat_dixon_q — single-outlier screen on bounded per-segment series


@register(
    "stat_dixon_q",
    tags=("stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        mx AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   MAX(x) AS xmax, MIN(x) AS xmin
            FROM daily GROUP BY segment
        ),
        mx2 AS (
            SELECT d.segment, MAX(d.x) AS xmax2
            FROM daily d JOIN mx ON mx.segment = d.segment
            WHERE d.x < mx.xmax
            GROUP BY d.segment
        )
        SELECT mx.segment, mx.n_days,
               CAST(CAST(mx.xmax - mx2.xmax2 AS VARCHAR) AS DOUBLE) AS gap,
               CAST(CAST(mx.xmax - mx.xmin AS VARCHAR) AS DOUBLE) AS xrange,
               CASE WHEN mx.xmax > mx.xmin THEN
                 CAST(CAST(mx.xmax - mx2.xmax2 AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(mx.xmax - mx.xmin AS VARCHAR) AS DOUBLE)
               END AS q_stat
        FROM mx LEFT JOIN mx2 ON mx2.segment = mx.segment
        ORDER BY mx.segment
    """,
)
def stat_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q for the largest observation of each segment's daily
    revenue series: Q = (x_(n) - x_(n-1)) / (x_(n) - x_(1)) — the
    classical small-sample single-outlier screen (Dean & Dixon 1951),
    here as a per-segment data-quality diagnostic. Max/min/second-max
    are exact DECIMAL aggregates (second max = max of values strictly
    below the max, one broadcast-joined second pass over the bounded
    daily relation); differences stay decimal-exact and convert to
    double once, via the VARCHAR route. Degenerate all-equal series
    (range 0) NULL the statistic identically on both engines; a tied
    maximum makes gap 0 (Q = 0), not NULL, matching the order-statistic
    definition. Corpus-scale work is only the daily aggregation."""
    daily = seg_daily(spark, sf_dir)
    mx = daily.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("x").alias("xmax"),
        F.min("x").alias("xmin"),
    )
    mx2 = (
        daily.join(F.broadcast(mx.select("segment", "xmax")), "segment")
        .filter(F.col("x") < F.col("xmax"))
        .groupBy("segment")
        .agg(F.max("x").alias("xmax2"))
    )
    gap = as_d(F.col("xmax") - F.col("xmax2"))
    rng = as_d(F.col("xmax") - F.col("xmin"))
    return (
        mx.join(mx2, "segment", "left")
        .select(
            "segment",
            "n_days",
            gap.alias("gap"),
            rng.alias("xrange"),
            F.when(F.col("xmax") > F.col("xmin"), gap / rng).alias("q_stat"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# stat_mood_median_test — k-sample location test on counts above the
# pooled median


@register(
    "stat_mood_median_test",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH cents AS (
            SELECT o_orderpriority AS grp,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS v
            FROM orders
        ),
        per_val AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM cents GROUP BY v
        ),
        cum AS (
            SELECT v, SUM(t) OVER (ORDER BY v) AS c,
                   SUM(t) OVER () AS n
            FROM per_val
        ),
        med AS (
            SELECT CAST(MIN(n) AS BIGINT) AS n,
                   CAST(MIN(CASE WHEN c >= (n + 1) // 2 THEN v END)
                        AS BIGINT) AS med_v
            FROM cum
        ),
        grp AS (
            SELECT cents.grp,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(CASE WHEN cents.v > med.med_v THEN 1 ELSE 0 END)
                        AS BIGINT) AS a_g
            FROM cents CROSS JOIN med
            GROUP BY cents.grp
        ),
        tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(SUM(a_g) AS BIGINT) AS a,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM grp
        )
        SELECT tot.n, tot.k, tot.a,
               CAST(med.med_v AS DOUBLE) / 100 AS pooled_median,
               CASE WHEN tot.a > 0 AND tot.a < tot.n THEN
                 list_reduce(
                     list(
                         CAST(grp.a_g * tot.n - grp.n_g * tot.a AS DOUBLE)
                           * CAST(grp.a_g * tot.n - grp.n_g * tot.a
                                  AS DOUBLE)
                           / (CAST(grp.n_g AS DOUBLE) * tot.a
                              * (tot.n - tot.a))
                         ORDER BY grp.grp),
                     (acc, x) -> acc + x)
               END AS chi2,
               (tot.k - 1) AS df
        FROM grp CROSS JOIN tot CROSS JOIN med
        GROUP BY tot.n, tot.k, tot.a, med.med_v
    """,
)
def stat_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities: does each
    priority class place the same share of orders above the POOLED
    median price? The k-sample location test that stays valid under
    wildly non-normal money distributions. The pooled lower median is
    an exact order statistic (rank ceil(N/2)) found by bucket+carry
    cumulative counts over the distinct-cents relation — no global
    sort, no unpartitioned corpus window; above-median counts are one
    grouped agg against the broadcast median. chi2 folds the k
    per-group terms in PINNED group order (array_sort fold ==
    list_reduce ORDER BY) since k doubles summed in engine order would
    diverge 1 ulp; each term uses the exact-integer identity
    (a_g*N - n_g*A)^2 / (n_g * A * B). Degenerate all-above/all-below
    splits (A=0 or A=N) NULL the statistic on both engines."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    per_val = cents.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    # bucket+carry cumulative over distinct cents values
    bkt = per_val.withColumn("bkt", F.floor(F.col("v") / F.lit(1000000)))
    w_in = Window.partitionBy("bkt").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    within = bkt.select("bkt", "v", "t", F.sum("t").over(w_in).alias("wc"))
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        bkt.groupBy("bkt")
        .agg(F.sum("t").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    cum = within.join(F.broadcast(carry), "bkt").select(
        "v", (F.col("wc") + F.col("cb")).alias("c")
    )
    n_tot = per_val.agg(F.sum("t").cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(n_tot))
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.min(
                F.when(
                    F.col("c") >= F.expr("CAST((n + 1) DIV 2 AS BIGINT)"),
                    F.col("v"),
                )
            )
            .cast("bigint")
            .alias("med_v"),
        )
    )
    grp = (
        cents.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum(F.when(F.col("v") > F.col("med_v"), 1).otherwise(0))
            .cast("bigint")
            .alias("a_g"),
        )
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("a_g").cast("bigint").alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    # Difference exact in bigint; SQUARE in double (the bigint square
    # would overflow past sf1 — a_g*n ~ 4.5e11 there, squared 2e23).
    num = (
        (F.col("a_g") * F.col("n") - F.col("n_g") * F.col("a"))
    ).cast("double")
    term = (num * num) / (
        F.col("n_g").cast("double")
        * F.col("a").cast("double")
        * (F.col("n") - F.col("a")).cast("double")
    )
    return (
        grp.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(med.select(F.col("med_v"))))
        .groupBy("n", "k", "a", "med_v")
        .agg(ordered_fold_sum(F.col("grp"), term).alias("chi2_raw"))
        .select(
            "n",
            "k",
            "a",
            (F.col("med_v").cast("double") / 100).alias("pooled_median"),
            F.when(
                (F.col("a") > 0) & (F.col("a") < F.col("n")),
                F.col("chi2_raw"),
            ).alias("chi2"),
            (F.col("k") - 1).alias("df"),
        )
    )


# ---------------------------------------------------------------------------
# stat_cochran_q — k related binary outcomes


@register(
    "stat_cochran_q",
    tags=("stats", "agg"),
    oracle="""
        WITH x AS (
            SELECT user_id, event_type, 1 AS f
            FROM events GROUP BY user_id, event_type
        ),
        k AS (
            SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
            FROM events
        ),
        cols AS (
            SELECT CAST(SUM(CAST(cj AS DECIMAL(38,0)) * cj) AS BIGINT)
                       AS sum_cj2,
                   CAST(SUM(cj) AS BIGINT) AS t
            FROM (SELECT event_type, COUNT(*) AS cj FROM x GROUP BY event_type)
        ),
        rows_ AS (
            SELECT CAST(SUM(CAST(ru AS DECIMAL(38,0)) * ru) AS BIGINT)
                       AS sum_ru2,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM (SELECT user_id, COUNT(*) AS ru FROM x GROUP BY user_id)
        )
        SELECT k.k, rows_.n_users, cols.t,
               CASE WHEN k.k * cols.t - rows_.sum_ru2 > 0 THEN
                 CAST(k.k - 1 AS DOUBLE)
                   * (CAST(k.k AS DOUBLE) * cols.sum_cj2
                      - CAST(cols.t AS DOUBLE) * cols.t)
                   / (CAST(k.k AS DOUBLE) * cols.t - rows_.sum_ru2)
               END AS q_stat,
               (k.k - 1) AS df
        FROM k CROSS JOIN cols CROSS JOIN rows_
    """,
)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across the event types: treating each USER as a
    block and each event type as a treatment with the binary outcome
    "did this user ever fire this event type", do the k types have
    equal incidence? The k-sample extension of McNemar, and the
    engagement-breadth test behind feature-adoption dashboards.
    Q = (k-1) * (k*sum(C_j^2) - T^2) / (k*T - sum(R_u^2)) needs only
    column totals (k values), row totals (one per user, map-side
    combining agg) and their exact integer square sums — squares
    accumulate in DECIMAL(38,0) so the sf1-scale user counts cannot
    overflow the pre-cast sum. The degenerate all-rows-complete case
    (every user fired every type: denominator 0) NULLs Q identically
    on both engines. Blocks with all-zero rows never enter x and
    cancel from Q algebraically, so the distinct-pair relation is the
    full computation."""
    e = load_table(spark, sf_dir, "events")
    x = e.groupBy("user_id", "event_type").agg(F.lit(1).alias("f"))
    k = e.agg(F.countDistinct("event_type").cast("bigint").alias("k"))
    cj = x.groupBy("event_type").agg(F.count(F.lit(1)).alias("cj"))
    cols = cj.agg(
        F.sum(F.col("cj").cast("decimal(38,0)") * F.col("cj"))
        .cast("bigint")
        .alias("sum_cj2"),
        F.sum("cj").cast("bigint").alias("t"),
    )
    ru = x.groupBy("user_id").agg(F.count(F.lit(1)).alias("ru"))
    rows_ = ru.agg(
        F.sum(F.col("ru").cast("decimal(38,0)") * F.col("ru"))
        .cast("bigint")
        .alias("sum_ru2"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    kd = F.col("k").cast("double")
    td = F.col("t").cast("double")
    return (
        k.crossJoin(F.broadcast(cols))
        .crossJoin(F.broadcast(rows_))
        .select(
            "k",
            "n_users",
            "t",
            F.when(
                F.col("k") * F.col("t") - F.col("sum_ru2") > 0,
                (kd - 1)
                * (kd * F.col("sum_cj2") - td * F.col("t"))
                / (kd * F.col("t") - F.col("sum_ru2")),
            ).alias("q_stat"),
            (F.col("k") - 1).alias("df"),
        )
    )


# ---------------------------------------------------------------------------
# stat_bowker_test — symmetry of paired categorical outcomes


@register(
    "stat_bowker_test",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH pref AS (
            SELECT o_custkey,
                   EXTRACT(year FROM o_orderdate) AS yr,
                   o_orderpriority AS p,
                   COUNT(*) AS cnt
            FROM orders
            WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
            GROUP BY 1, 2, 3
        ),
        modal AS (
            SELECT o_custkey, yr, p FROM (
                SELECT o_custkey, yr, p,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey, yr
                                          ORDER BY cnt DESC, p) AS rn
                FROM pref
            ) WHERE rn = 1
        ),
        pairs AS (
            SELECT a.p AS p95, b.p AS p96
            FROM modal a JOIN modal b
              ON a.o_custkey = b.o_custkey AND a.yr = 1995 AND b.yr = 1996
        ),
        cells AS (
            SELECT p95, p96, CAST(COUNT(*) AS BIGINT) AS n
            FROM pairs GROUP BY p95, p96
        ),
        offdiag AS (
            SELECT LEAST(p95, p96) AS i, GREATEST(p95, p96) AS j,
                   CAST(SUM(CASE WHEN p95 < p96 THEN n ELSE 0 END)
                        AS BIGINT) AS nij,
                   CAST(SUM(CASE WHEN p95 > p96 THEN n ELSE 0 END)
                        AS BIGINT) AS nji
            FROM cells WHERE p95 <> p96
            GROUP BY 1, 2
        )
        SELECT CAST(SUM(nij + nji) AS BIGINT) AS n_discordant_pairs,
               CAST(COUNT(*) AS BIGINT) AS df,
               list_reduce(
                   list(CAST((nij - nji) * (nij - nji) AS DOUBLE)
                        / (nij + nji) ORDER BY i, j),
                   (acc, x) -> acc + x) AS chi2
        FROM offdiag
        WHERE nij + nji > 0
    """,
)
def stat_bowker_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's symmetry test on the 5x5 transition table of each
    customer's MODAL order priority, 1995 -> 1996: is the preference
    migration symmetric, or is there a directed drift (the k-category
    generalization of McNemar)? The modal priority per (customer,
    year) uses the deterministic mode (count desc, priority asc
    tiebreak) via a customer-partitioned row_number — corpus-scale but
    partitioned; everything after the per-customer pair is a <=25-row
    contingency relation. chi2 = sum over unordered off-diagonal pairs
    of (n_ij - n_ji)^2 / (n_ij + n_ji), folded in PINNED (i, j) order;
    zero-sum pairs are excluded (they contribute 0/0) and df counts
    the pairs actually summed, per the classical definition. Rows-only
    degenerate: a perfectly diagonal table leaves no off-diagonal
    pairs — then the query returns an empty relation, which check.py
    would flag; the fixture's mixed preferences guarantee non-empty
    (documented, verified at all three SFs)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    pref = o.groupBy(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("o_custkey", "yr").orderBy(
        F.col("cnt").desc(), F.col("p")
    )
    modal = (
        pref.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "yr", "p")
    )
    a = modal.filter(F.col("yr") == 1995).select(
        "o_custkey", F.col("p").alias("p95")
    )
    b = modal.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("p").alias("p96")
    )
    cells = a.join(b, "o_custkey").groupBy("p95", "p96").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # Fold BOTH orientations onto the unordered pair key so an
    # (i, j) pair observed only as (j, i) still contributes its
    # (0 - n_ji)^2 / n_ji term — a one-sided left join from the i<j
    # cells would silently drop it.
    offdiag = (
        cells.filter(F.col("p95") != F.col("p96"))
        .groupBy(
            F.least("p95", "p96").alias("i"),
            F.greatest("p95", "p96").alias("j"),
        )
        .agg(
            F.sum(F.when(F.col("p95") < F.col("p96"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("nij"),
            F.sum(F.when(F.col("p95") > F.col("p96"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("nji"),
        )
        .filter(F.col("nij") + F.col("nji") > 0)
    )
    term = ((F.col("nij") - F.col("nji")) * (F.col("nij") - F.col("nji"))).cast(
        "double"
    ) / (F.col("nij") + F.col("nji"))
    return offdiag.agg(
        F.sum(F.col("nij") + F.col("nji")).cast("bigint").alias(
            "n_discordant_pairs"
        ),
        F.count(F.lit(1)).cast("bigint").alias("df"),
        ordered_fold_sum(
            F.concat(F.col("i"), F.lit("|"), F.col("j")), term
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# stat_ansari_bradley — two-sample scale (dispersion) test


@register(
    "stat_ansari_bradley",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH ts AS (
            SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS x,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS g
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        per_val AS (
            SELECT x, CAST(SUM(g) AS BIGINT) AS a,
                   CAST(SUM(1 - g) AS BIGINT) AS b
            FROM ts GROUP BY x
        ),
        cum AS (
            SELECT x, a, b,
                   SUM(a + b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS cum_t
            FROM per_val
        ),
        tot AS (
            SELECT CAST(SUM(a) AS BIGINT) AS n1,
                   CAST(SUM(b) AS BIGINT) AS n0,
                   CAST(SUM(a + b) AS BIGINT) AS n
            FROM per_val
        ),
        scored AS (
            SELECT a, (a + b) AS t,
                   LEAST(2 * cum_t - (a + b) + 1,
                         2 * (tot.n + 1) - (2 * cum_t - (a + b) + 1)) AS s2
            FROM cum CROSS JOIN tot
        ),
        s AS (
            SELECT CAST(SUM(a * s2) AS BIGINT) AS ab2,
                   CAST(SUM(CAST(t AS DECIMAL(38,0)) * s2) AS DECIMAL(38,0))
                       AS sts2,
                   CAST(SUM(CAST(t AS DECIMAL(38,0)) * s2 * s2)
                        AS DECIMAL(38,0)) AS sts2sq
            FROM scored
        )
        SELECT tot.n1, tot.n0,
               CAST(s.ab2 AS DOUBLE) / 2 AS ab_stat,
               CASE WHEN tot.n > 1 AND tot.n1 > 0 AND tot.n0 > 0 THEN
                 (CAST(CAST(CAST(s.ab2 AS DECIMAL(38,0)) * tot.n
                            - CAST(tot.n1 AS DECIMAL(38,0)) * s.sts2
                        AS VARCHAR) AS DOUBLE) / (2 * CAST(tot.n AS DOUBLE)))
                 / sqrt(CAST(tot.n1 AS DOUBLE) * tot.n0
                        * CAST(CAST(CAST(tot.n AS DECIMAL(38,0)) * s.sts2sq
                                    - s.sts2 * s.sts2
                               AS VARCHAR) AS DOUBLE)
                        / (4 * CAST(tot.n AS DOUBLE) * tot.n
                           * (CAST(tot.n AS DOUBLE) - 1)))
               END AS z_stat
        FROM s CROSS JOIN tot
    """,
)
def stat_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test on URGENT-vs-LOW order
    prices: are the two priority classes equally dispersed around a
    common center? Scores fold the pooled ranks inward — s = min(r,
    N+1-r) — so extreme observations get LOW scores and a small
    group-1 score sum flags wider dispersion. Ties take the
    score-of-midrank (documented definition: s2 = min(mr2,
    2(N+1)-mr2) on doubled midranks, exact integers; this equals the
    classical mean-of-scores for every tie block not spanning the
    fold point). The z uses the EXACT finite-population moments of
    the realized score multiset (tie-adjusted by construction):
    Var(AB) = n1*n0*(N*Sum t*s^2 - (Sum t*s)^2) / (N^2 (N-1)), all
    accumulated in DECIMAL(38,0) off the shared bucket+carry pooled
    cumulative — no global sort, one distinct-value relation.
    Class-5: z NULLs when either group is empty or N=1 (the fixture's
    priority filter guarantees both populated; guarded anyway)."""
    cum = _pooled_cumulative_ab(spark, sf_dir)
    tot = cum.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n0"),
        F.sum(F.col("a") + F.col("b")).cast("bigint").alias("n"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "a",
        (F.col("a") + F.col("b")).alias("t"),
        F.least(
            2 * F.col("cum_t") - (F.col("a") + F.col("b")) + 1,
            2 * (F.col("n") + 1)
            - (2 * F.col("cum_t") - (F.col("a") + F.col("b")) + 1),
        ).alias("s2"),
    )
    s = scored.agg(
        F.sum(F.col("a") * F.col("s2")).cast("bigint").alias("ab2"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("s2"))
        .cast("decimal(38,0)")
        .alias("sts2"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("s2") * F.col("s2"))
        .cast("decimal(38,0)")
        .alias("sts2sq"),
    )
    n_d = F.col("n").cast("double")
    num = as_d(
        F.col("ab2").cast("decimal(38,0)") * F.col("n")
        - F.col("n1").cast("decimal(38,0)") * F.col("sts2")
    ) / (2 * n_d)
    var = (
        F.col("n1").cast("double")
        * F.col("n0")
        * as_d(
            F.col("n").cast("decimal(38,0)") * F.col("sts2sq")
            - F.col("sts2") * F.col("sts2")
        )
        / (4 * n_d * F.col("n") * (n_d - 1))
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n0",
        (F.col("ab2").cast("double") / 2).alias("ab_stat"),
        F.when(
            (F.col("n") > 1) & (F.col("n1") > 0) & (F.col("n0") > 0),
            num / F.sqrt(var),
        ).alias("z_stat"),
    )


def _pooled_cumulative_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x, a, b, cum_a, cum_b, cum_t): URGENT-vs-LOW distinct-price
    counts with INCLUSIVE per-group and pooled cumulatives, bucket +
    carry (no corpus-scale unpartitioned window). Shared by the
    Ansari-Bradley, Anderson-Darling and Brunner-Munzel rank tests."""
    o = load_table(spark, sf_dir, "orders")
    ts = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g"),
    )
    per_val = ts.groupBy("x").agg(
        F.sum("g").cast("bigint").alias("a"),
        F.sum(F.lit(1) - F.col("g")).cast("bigint").alias("b"),
    )
    per_val = per_val.withColumn(
        "bkt", F.floor(F.col("x") / F.lit(10000)).cast("long")
    ).persist()
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = per_val.select(
        "bkt", "x", "a", "b",
        F.sum("a").over(w_in).alias("wa"),
        F.sum("b").over(w_in).alias("wb"),
    )
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        per_val.groupBy("bkt")
        .agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("ta").over(w_carry), F.lit(0)).alias("ca"),
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    return within.join(F.broadcast(carry), "bkt").select(
        "x",
        "a",
        "b",
        (F.col("wa") + F.col("ca")).alias("cum_a"),
        (F.col("wb") + F.col("cb")).alias("cum_b"),
        (F.col("wa") + F.col("ca") + F.col("wb") + F.col("cb")).alias(
            "cum_t"
        ),
    )


# ---------------------------------------------------------------------------
# stat_page_trend — ordered-alternative trend across treatments


@register(
    "stat_page_trend",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        ranked AS (
            SELECT event_type, day,
                   2 * (RANK() OVER (PARTITION BY day ORDER BY v))
                     + (COUNT(*) OVER (PARTITION BY day, v)) - 1 AS mr2
            FROM daily
        ),
        tj AS (
            SELECT event_type,
                   ROW_NUMBER() OVER (ORDER BY event_type) AS j
            FROM (SELECT DISTINCT event_type FROM daily)
        ),
        rj AS (
            SELECT r.event_type, tj.j,
                   CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(r.mr2) AS BIGINT) AS r2j
            FROM ranked r JOIN tj ON tj.event_type = r.event_type
            GROUP BY 1, 2
        ),
        dims AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(MIN(nb) AS BIGINT) AS n,
                   CAST(MAX(nb) AS BIGINT) AS mx,
                   CAST(SUM(j * r2j) AS BIGINT) AS l2
            FROM rj
        )
        SELECT k, n,
               CAST(l2 AS DOUBLE) / 2 AS page_l,
               CASE WHEN n = mx AND k > 1 THEN
                 (CAST(l2 AS DOUBLE) / 2
                  - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1) * (k + 1)
                        * (k - 1) / 144)
               END AS z_stat
        FROM dims
    """,
)
def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test for ordered alternatives across the five
    event streams: with each DAY a block and treatments ordered
    alphabetically by type, L = sum_j j * R_j rises when activity
    level increases monotonically along the treatment order — the
    rank test that detects a TREND Friedman's omnibus Q dilutes.
    Within-day doubled midranks reuse the Friedman machinery (k rows
    per day partition, embarrassingly parallel); the treatment index
    comes from a k-row ranked relation; L and the per-treatment rank
    sums are exact integers, halved once at the edge. z uses the
    classical no-tie moments E[L] = nk(k+1)^2/4, Var[L] =
    nk^2(k+1)^2(k-1)/144 (Page 1963; midranks keep L well-defined
    under ties, documented approximation). Complete-block guard as in
    stat_friedman_test: unequal block counts NULL the z identically
    on both engines."""
    daily = daily_scaled(spark, sf_dir)
    wd = Window.partitionBy("day").orderBy("v")
    wt = Window.partitionBy("day", "v")
    ranked = daily.select(
        "event_type",
        (2 * F.rank().over(wd) + F.count(F.lit(1)).over(wt) - 1).alias("mr2"),
    )
    types = daily.select("event_type").distinct()
    wj = Window.orderBy("event_type")  # k rows — bounded by type domain
    tj = types.select("event_type", F.row_number().over(wj).alias("j"))
    rj = (
        ranked.join(F.broadcast(tj), "event_type")
        .groupBy("event_type", "j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nb"),
            F.sum("mr2").cast("bigint").alias("r2j"),
        )
    )
    dims = rj.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("nb").cast("bigint").alias("n"),
        F.max("nb").cast("bigint").alias("mx"),
        F.sum(F.col("j") * F.col("r2j")).cast("bigint").alias("l2"),
    )
    k_d = F.col("k").cast("double")
    n_d = F.col("n").cast("double")
    mu = n_d * k_d * (k_d + 1) * (k_d + 1) / 4
    var = n_d * k_d * k_d * (k_d + 1) * (k_d + 1) * (k_d - 1) / 144
    return dims.select(
        "k",
        "n",
        (F.col("l2").cast("double") / 2).alias("page_l"),
        F.when(
            (F.col("n") == F.col("mx")) & (F.col("k") > 1),
            (F.col("l2").cast("double") / 2 - mu) / F.sqrt(var),
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# stat_anderson_darling_2s — integral ECDF test, tail-weighted

_AB_SAMPLE_SQL = """
            SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS x,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS g
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
"""


@register(
    "stat_anderson_darling_2s",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH ts AS ({_AB_SAMPLE_SQL}),
        per_val AS (
            SELECT x, CAST(SUM(g) AS BIGINT) AS a,
                   CAST(SUM(1 - g) AS BIGINT) AS b
            FROM ts GROUP BY x
        ),
        cum AS (
            SELECT x, a, b,
                   SUM(a) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_a,
                   SUM(a + b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS cum_t
            FROM per_val
        ),
        tot AS (
            SELECT CAST(SUM(a) AS BIGINT) AS n,
                   CAST(SUM(b) AS BIGINT) AS m,
                   CAST(SUM(a + b) AS BIGINT) AS nt
            FROM per_val
        ),
        terms AS (
            SELECT (a + b) *
                   CAST(CAST(CAST(CAST(cum_a * tot.nt - tot.n * cum_t
                                       AS DECIMAL(19,0))
                                  * CAST(cum_a * tot.nt - tot.n * cum_t
                                         AS DECIMAL(19,0)) AS DECIMAL(38,0))
                        AS VARCHAR) AS DOUBLE)
                     / (CAST(cum_t AS DOUBLE) * (tot.nt - cum_t)) AS ratio
            FROM cum CROSS JOIN tot
            WHERE cum_t < tot.nt
        ),
        s AS (
            SELECT {o_fsum('ratio')} AS sq
            FROM terms
        )
        SELECT tot.n, tot.m,
               s.sq / (CAST(tot.n AS DOUBLE) * CAST(tot.m AS DOUBLE))
                   AS ad_stat
        FROM s CROSS JOIN tot
    """,
)
def stat_anderson_darling_2s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling statistic on the URGENT-vs-LOW
    pooled price sample — the TAIL-WEIGHTED sibling of stat_ks (sup)
    and stat_cvm (integral): A2 = (1/(nm)) * sum over distinct pooled
    values below the top of t_v * (M_v*N - n*B_v)^2 / (B_v*(N - B_v))
    (Pettitt 1976 discrete form; midrank-consistent under ties). The
    gap numerator is an exact integer off the shared bucket+carry
    cumulative, squared in width-pinned DECIMAL (19,0)^2 -> (38,0)
    then VARCHAR-routed to double ONCE per distinct value; the
    tail weight 1/(B(N-B)) makes the per-value terms unequal, so the
    reduction floor-quantizes each double ratio at 1e6 and sums EXACT
    DECIMAL(38,0) (the o_fsum recipe — engine-order-free by
    construction, quantization error <= rows*1e-6/(nm)). The B=N top
    row is excluded on both engines (0/0 by construction); n,m >= 1
    by the fixture's priority contract."""
    cum = _pooled_cumulative_ab(spark, sf_dir)
    tot = cum.agg(
        F.sum("a").cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("m"),
        F.sum(F.col("a") + F.col("b")).cast("bigint").alias("nt"),
    )
    gap = (
        F.col("cum_a") * F.col("nt") - F.col("n") * F.col("cum_t")
    ).cast("decimal(19,0)")
    ratio = (
        (F.col("a") + F.col("b"))
        * as_d((gap * gap).cast("decimal(38,0)"))
        / (F.col("cum_t").cast("double") * (F.col("nt") - F.col("cum_t")))
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_t") < F.col("nt"))
        .select(ratio.alias("ratio"))
    )
    s = terms.agg(fsum(F.col("ratio")).alias("sq"))
    return s.crossJoin(F.broadcast(tot)).select(
        "n",
        "m",
        (
            F.col("sq")
            / (F.col("n").cast("double") * F.col("m").cast("double"))
        ).alias("ad_stat"),
    )


# ---------------------------------------------------------------------------
# stat_brunner_munzel — rank-based Behrens-Fisher test


@register(
    "stat_brunner_munzel",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH ts AS ({_AB_SAMPLE_SQL}),
        per_val AS (
            SELECT x, CAST(SUM(g) AS BIGINT) AS a,
                   CAST(SUM(1 - g) AS BIGINT) AS b
            FROM ts GROUP BY x
        ),
        cum AS (
            SELECT x, a, b,
                   SUM(a) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_a,
                   SUM(b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_b,
                   SUM(a + b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS cum_t
            FROM per_val
        ),
        tot AS (
            SELECT CAST(SUM(a) AS BIGINT) AS n1,
                   CAST(SUM(b) AS BIGINT) AS n0
            FROM per_val
        ),
        dev AS (
            SELECT a, b,
                   (2 * cum_t - (a + b) + 1) AS mr2p,
                   (2 * cum_t - (a + b) + 1) - (2 * cum_a - a + 1) AS d1,
                   (2 * cum_t - (a + b) + 1) - (2 * cum_b - b + 1) AS d0
            FROM cum
        ),
        s AS (
            SELECT CAST(SUM(a * CAST(mr2p AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS r2sum1,
                   CAST(SUM(b * CAST(mr2p AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS r2sum0,
                   CAST(SUM(a * CAST(d1 AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS s1,
                   CAST(SUM(b * CAST(d0 AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS s0,
                   CAST(SUM(a * CAST(d1 AS DECIMAL(38,0)) * d1)
                        AS DECIMAL(38,0)) AS q1,
                   CAST(SUM(b * CAST(d0 AS DECIMAL(38,0)) * d0)
                        AS DECIMAL(38,0)) AS q0
            FROM dev
        )
        SELECT tot.n1, tot.n0,
               (CAST(CAST(s.r2sum0 AS VARCHAR) AS DOUBLE)
                  / (2 * CAST(tot.n0 AS DOUBLE))
                - (CAST(tot.n0 AS DOUBLE) + 1) / 2) / tot.n1 AS p_hat,
               CASE WHEN tot.n1 > 1 AND tot.n0 > 1
                         AND (CAST(tot.n1 AS DOUBLE)
                              * (CAST(CAST(s.q1 * tot.n1 - s.s1 * s.s1
                                      AS VARCHAR) AS DOUBLE)
                                 / (4.0 * tot.n1 * (tot.n1 - 1)))
                              + CAST(tot.n0 AS DOUBLE)
                              * (CAST(CAST(s.q0 * tot.n0 - s.s0 * s.s0
                                      AS VARCHAR) AS DOUBLE)
                                 / (4.0 * tot.n0 * (tot.n0 - 1))))
                             > 0 THEN
                 CAST(tot.n1 AS DOUBLE) * tot.n0
                   * (CAST(CAST(s.r2sum0 AS VARCHAR) AS DOUBLE)
                        / (2 * CAST(tot.n0 AS DOUBLE))
                      - CAST(CAST(s.r2sum1 AS VARCHAR) AS DOUBLE)
                        / (2 * CAST(tot.n1 AS DOUBLE)))
                   / (CAST(tot.n1 AS DOUBLE) + tot.n0)
                   / sqrt(CAST(tot.n1 AS DOUBLE)
                          * (CAST(CAST(s.q1 * tot.n1 - s.s1 * s.s1
                                  AS VARCHAR) AS DOUBLE)
                             / (4.0 * tot.n1 * (tot.n1 - 1)))
                          + CAST(tot.n0 AS DOUBLE)
                          * (CAST(CAST(s.q0 * tot.n0 - s.s0 * s.s0
                                  AS VARCHAR) AS DOUBLE)
                             / (4.0 * tot.n0 * (tot.n0 - 1))))
               END AS bm_stat
        FROM s CROSS JOIN tot
    """,
)
def stat_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel rank test (the nonparametric Behrens-Fisher
    problem) on URGENT-vs-LOW prices: tests P(X < Y) + P(X = Y)/2 =
    1/2 WITHOUT assuming equal variances — the modern replacement for
    Mann-Whitney when dispersions differ. Everything reduces to exact
    integers on the distinct-value relation: pooled doubled midranks
    mr2p = 2*cum_t - t + 1, within-group doubled midranks from the
    per-group cumulatives, and the deviation sums S_i = sum
    cnt*(mr2p - mr2own), Q_i = sum cnt*(...)^2 in DECIMAL(38,0). The
    rank variances S_i^2 = (Q_i*n_i - S_i^2)/(4 n_i^2 (n_i-1)) and
    the scipy-consistent statistic W = n1*n0*(Rbar0 - Rbar1)/((n1+n0)
    * sqrt(n1*S1^2 + n0*S0^2)) take doubles only at the edge (VARCHAR
    route). p_hat = (Rbar0 - (n0+1)/2)/n1 estimates P(URGENT < LOW) +
    ties/2. Guards: W NULLs when either group has < 2 observations or
    both rank variances are 0 (identical constant samples)."""
    cum = _pooled_cumulative_ab(spark, sf_dir)
    tot = cum.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n0"),
    )
    t_v = F.col("a") + F.col("b")
    mr2p = 2 * F.col("cum_t") - t_v + 1
    d1 = mr2p - (2 * F.col("cum_a") - F.col("a") + 1)
    d0 = mr2p - (2 * F.col("cum_b") - F.col("b") + 1)
    dev = cum.select(
        "a",
        "b",
        mr2p.alias("mr2p"),
        d1.alias("d1"),
        d0.alias("d0"),
    )
    s = dev.agg(
        F.sum(F.col("a") * F.col("mr2p").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("r2sum1"),
        F.sum(F.col("b") * F.col("mr2p").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("r2sum0"),
        F.sum(F.col("a") * F.col("d1").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.col("b") * F.col("d0").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s0"),
        F.sum(F.col("a") * F.col("d1").cast("decimal(38,0)") * F.col("d1"))
        .cast("decimal(38,0)")
        .alias("q1"),
        F.sum(F.col("b") * F.col("d0").cast("decimal(38,0)") * F.col("d0"))
        .cast("decimal(38,0)")
        .alias("q0"),
    )
    n1d = F.col("n1").cast("double")
    n0d = F.col("n0").cast("double")
    rbar1 = as_d(F.col("r2sum1")) / (2 * n1d)
    rbar0 = as_d(F.col("r2sum0")) / (2 * n0d)
    var1 = as_d(F.col("q1") * F.col("n1") - F.col("s1") * F.col("s1")) / (
        F.lit(4.0) * F.col("n1") * (F.col("n1") - 1)
    )
    var0 = as_d(F.col("q0") * F.col("n0") - F.col("s0") * F.col("s0")) / (
        F.lit(4.0) * F.col("n0") * (F.col("n0") - 1)
    )
    denom = n1d * var1 + n0d * var0
    return s.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n0",
        ((rbar0 - (n0d + 1) / 2) / F.col("n1")).alias("p_hat"),
        F.when(
            (F.col("n1") > 1) & (F.col("n0") > 1) & (denom > 0),
            n1d * F.col("n0") * (rbar0 - rbar1) / (n1d + F.col("n0"))
            / F.sqrt(denom),
        ).alias("bm_stat"),
    )


# ---------------------------------------------------------------------------
# stat_jonckheere_terpstra — ordered-alternative k-sample test

_JT_PRIOS = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)


def _jt_pair_sql() -> str:
    terms = []
    for g in range(1, 6):
        for h in range(g + 1, 6):
            terms.append(
                f"(2 * c{h} * (cc{g} - c{g}) + c{h} * c{g})"
            )
    return " + ".join(terms)


@register(
    "stat_jonckheere_terpstra",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH cents AS (
            SELECT o_orderpriority AS grp,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS v
            FROM orders
        ),
        pv AS (
            SELECT v,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN grp = '{p}' THEN 1 ELSE 0 END) "
                       f"AS BIGINT) AS c{i}"
                       for i, p in enumerate(_JT_PRIOS, start=1)
                   )}
            FROM cents GROUP BY v
        ),
        cum AS (
            SELECT v,
                   {", ".join(f"c{i}" for i in range(1, 6))},
                   {", ".join(
                       f"SUM(c{i}) OVER (ORDER BY v ROWS UNBOUNDED "
                       f"PRECEDING) AS cc{i}"
                       for i in range(1, 6)
                   )}
            FROM pv
        ),
        jt AS (
            SELECT CAST(SUM({_jt_pair_sql()}) AS BIGINT) AS jt2
            FROM cum
        ),
        sizes AS (
            SELECT CAST(SUM({" + ".join(f"c{i}" for i in range(1, 6))})
                        AS BIGINT) AS n,
                   {", ".join(
                       f"CAST(SUM(c{i}) AS BIGINT) AS n{i}"
                       for i in range(1, 6)
                   )}
            FROM pv
        ),
        mom AS (
            SELECT n,
                   CAST(CAST(n AS DECIMAL(38,0)) * n
                        - ({" + ".join(
                               f"CAST(n{i} AS DECIMAL(38,0)) * n{i}"
                               for i in range(1, 6)
                           )}) AS DECIMAL(38,0)) AS e2_num,
                   CAST(CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3)
                        - ({" + ".join(
                            f"CAST(n{i} AS DECIMAL(38,0)) * n{i} "
                            f"* (2 * n{i} + 3)"
                            for i in range(1, 6)
                        )}) AS DECIMAL(38,0)) AS var72
            FROM sizes
        )
        SELECT mom.n,
               CAST(jt.jt2 AS DOUBLE) / 2 AS jt_u,
               CASE WHEN mom.var72 > 0 THEN
                 (CAST(jt.jt2 AS DOUBLE)
                  - CAST(CAST(mom.e2_num AS VARCHAR) AS DOUBLE) / 2)
                 / (2 * sqrt(CAST(CAST(mom.var72 AS VARCHAR) AS DOUBLE)
                             / 72))
               END AS z_stat
        FROM jt CROSS JOIN mom
    """,
)
def stat_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across the
    five order priorities (1-URGENT < ... < 5-LOW): do prices trend
    monotonically with declining urgency? JT = sum over group pairs
    g < h of the Mann-Whitney count #{x_g < x_h} (+ ties/2) — more
    powerful than Kruskal-Wallis when the alternative is a trend. The
    2-scaled statistic is one exact integer pass over the distinct-
    cents relation: per value, the 10 pair terms combine the per-group
    counts c_g with EXCLUSIVE per-group cumulatives (from bucket+carry
    inclusive cumulatives), i.e. 2*JT = sum_v sum_(g<h) (2 c_h (C_g -
    c_g) + c_h c_g). Moments E[2JT] = (N^2 - sum n_g^2)/2 and 72*Var =
    N^2(2N+3) - sum n_g^2(2n_g+3) (no-tie form, Jonckheere 1954;
    midtie halves keep JT well-defined) accumulate in DECIMAL(38,0) —
    N^2(2N+3) ~ 7e18 already at sf1, past bigint at sf10. z NULLs on
    zero variance (all data in one group)."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    pv = cents.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("grp") == p, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{i}")
            for i, p in enumerate(_JT_PRIOS, start=1)
        ]
    )
    bkt = pv.withColumn("bkt", F.floor(F.col("v") / F.lit(1000000)))
    w_in = Window.partitionBy("bkt").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    within = bkt.select(
        "bkt",
        "v",
        *[F.col(f"c{i}") for i in range(1, 6)],
        *[F.sum(f"c{i}").over(w_in).alias(f"w{i}") for i in range(1, 6)],
    )
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        bkt.groupBy("bkt")
        .agg(*[F.sum(f"c{i}").alias(f"t{i}") for i in range(1, 6)])
        .select(
            "bkt",
            *[
                F.coalesce(F.sum(f"t{i}").over(w_carry), F.lit(0)).alias(
                    f"k{i}"
                )
                for i in range(1, 6)
            ],
        )
    )
    cum = within.join(F.broadcast(carry), "bkt").select(
        "v",
        *[F.col(f"c{i}") for i in range(1, 6)],
        *[
            (F.col(f"w{i}") + F.col(f"k{i}")).alias(f"cc{i}")
            for i in range(1, 6)
        ],
    )
    pair_term = None
    for g in range(1, 6):
        for h in range(g + 1, 6):
            t = 2 * F.col(f"c{h}") * (F.col(f"cc{g}") - F.col(f"c{g}")) + F.col(
                f"c{h}"
            ) * F.col(f"c{g}")
            pair_term = t if pair_term is None else pair_term + t
    jt = cum.agg(F.sum(pair_term).cast("bigint").alias("jt2"))
    sizes = pv.agg(
        F.sum(sum(F.col(f"c{i}") for i in range(1, 6)))
        .cast("bigint")
        .alias("n"),
        *[
            F.sum(f"c{i}").cast("bigint").alias(f"n{i}")
            for i in range(1, 6)
        ],
    )
    nD = F.col("n").cast("decimal(38,0)")
    e2_num = (nD * F.col("n")) - sum(
        F.col(f"n{i}").cast("decimal(38,0)") * F.col(f"n{i}")
        for i in range(1, 6)
    )
    var72 = (nD * F.col("n") * (2 * F.col("n") + 3)) - sum(
        F.col(f"n{i}").cast("decimal(38,0)")
        * F.col(f"n{i}")
        * (2 * F.col(f"n{i}") + 3)
        for i in range(1, 6)
    )
    mom = sizes.select(
        "n",
        e2_num.cast("decimal(38,0)").alias("e2_num"),
        var72.cast("decimal(38,0)").alias("var72"),
    )
    return jt.crossJoin(F.broadcast(mom)).select(
        "n",
        (F.col("jt2").cast("double") / 2).alias("jt_u"),
        F.when(
            F.col("var72") > 0,
            (F.col("jt2").cast("double") - as_d(F.col("e2_num")) / 2)
            / (2 * F.sqrt(as_d(F.col("var72")) / 72)),
        ).alias("z_stat"),
    )


# ===========================================================================
# Finance wave


@register(
    "fin_bond_convexity_grid",
    tags=("finance", "closed-form"),
    oracle="""
        WITH y AS (
            SELECT n_nationkey,
                   CAST(0.01 AS DOUBLE)
                     + CAST(n_nationkey % 10 AS DOUBLE) * CAST(0.005 AS DOUBLE)
                       AS yld
            FROM nation
        ),
        grid AS (
            SELECT n_nationkey, yld, c.cpn, m.mat
            FROM y
            CROSS JOIN (SELECT unnest([CAST(0.02 AS DOUBLE),
                                       CAST(0.04 AS DOUBLE),
                                       CAST(0.06 AS DOUBLE)]) AS cpn) c
            CROSS JOIN (SELECT unnest([2, 5, 10, 30]) AS mat) m
        ),
        priced AS (
            SELECT n_nationkey, cpn, mat, yld,
                   list_reduce(
                       list_transform(range(1, mat + 1), t ->
                           (CASE WHEN t = mat THEN 1 + cpn ELSE cpn END)
                             * pow(1 + yld, -CAST(t AS DOUBLE))),
                       (a, x) -> a + x) AS price,
                   list_reduce(
                       list_transform(range(1, mat + 1), t ->
                           CAST(t AS DOUBLE) * (t + 1)
                             * (CASE WHEN t = mat THEN 1 + cpn ELSE cpn END)
                             * pow(1 + yld, -CAST(t + 2 AS DOUBLE))),
                       (a, x) -> a + x) AS cx_num
            FROM grid
        )
        SELECT n_nationkey, cpn, mat, yld,
               CAST(FLOOR(price * 1e8) AS BIGINT) AS price_q8,
               CAST(FLOOR(cx_num / price * 1e6) AS BIGINT) AS convexity_q6
        FROM priced
        ORDER BY n_nationkey, cpn, mat
    """,
)
def fin_bond_convexity_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond CONVEXITY over the same (nation-yield x coupon x maturity)
    grid as fin_bond_duration_grid — the second-order rate sensitivity
    risk desks pair with duration: Cx = sum_t t(t+1) CF_t (1+y)^-(t+2)
    / P. The cash-flow sum folds a sequence(1..mat) IN ORDER on both
    engines (<= 30 terms per grid row, model-sized fan-out of 300
    rows), so the double accumulation order is pinned; price and
    convexity floor-quantize at 1e8/1e6 per the transcendental-output
    recipe (pow is libm territory — quantization makes the comparison
    engine-exact, same as the sibling grid). Zero corpus involvement
    beyond the 25-row nation spine."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    y = n.select(
        "n_nationkey",
        (
            F.lit(0.01).cast("double")
            + (F.col("n_nationkey") % 10).cast("double")
            * F.lit(0.005).cast("double")
        ).alias("yld"),
    )
    cpn = spark.createDataFrame([(0.02,), (0.04,), (0.06,)], "cpn double")
    mat = spark.createDataFrame([(2,), (5,), (10,), (30,)], "mat int")
    grid = y.crossJoin(F.broadcast(cpn)).crossJoin(F.broadcast(mat))

    def _cf(t):
        return F.when(t == F.col("mat"), 1 + F.col("cpn")).otherwise(
            F.col("cpn")
        )

    seq = F.sequence(F.lit(1), F.col("mat"))
    price = F.aggregate(
        seq,
        F.lit(0.0),
        lambda a, t: a
        + _cf(t) * F.pow(1 + F.col("yld"), -t.cast("double")),
    )
    cx_num = F.aggregate(
        seq,
        F.lit(0.0),
        lambda a, t: a
        + t.cast("double")
        * (t + 1)
        * _cf(t)
        * F.pow(1 + F.col("yld"), -(t + 2).cast("double")),
    )
    return (
        grid.select(
            "n_nationkey",
            "cpn",
            "mat",
            "yld",
            F.floor(price * F.lit(1e8)).cast("bigint").alias("price_q8"),
            F.floor(cx_num / price * F.lit(1e6))
            .cast("bigint")
            .alias("convexity_q6"),
        )
        .orderBy("n_nationkey", "cpn", "mat")
    )


@register(
    "fin_twr_linked_returns",
    tags=("finance", "window"),
    oracle="""
        WITH monthly AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(strftime(o.o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS x
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ret AS (
            SELECT segment, ym,
                   CAST(CAST(x AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(xp AS VARCHAR) AS DOUBLE) AS lnk
            FROM (SELECT segment, ym, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY ym) AS xp
                  FROM monthly)
            WHERE xp IS NOT NULL
        )
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_months,
               list_reduce(list(lnk ORDER BY ym), (a, x) -> a * x) - 1
                   AS twr,
               CAST(FLOOR((pow(list_reduce(list(lnk ORDER BY ym),
                                           (a, x) -> a * x),
                               12.0 / COUNT(*)) - 1) * 1e8) AS BIGINT)
                   AS twr_annualized_q8
        FROM ret
        GROUP BY segment
        ORDER BY segment
    """,
)
def fin_twr_linked_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted return per segment: geometric linking of monthly
    revenue growth factors, TWR = prod_m (x_m / x_{m-1}) - 1 — the
    GIPS-mandated performance number that strips flow timing out of
    the return. Monthly factors are exact-decimal ratios converted to
    double once (VARCHAR route); the product folds IN MONTH ORDER on
    both engines (array_sort fold == list(... ORDER BY) reduce) so the
    float multiplication order is pinned — a plain PRODUCT aggregate
    would be partition-order-dependent. The annualization needs pow
    (libm), so it ships floor-quantized at 1e8 per the transcendental
    recipe; the raw TWR is libm-free and exact-comparable. Calendar-
    bounded months per segment; corpus work is one hash agg."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
    )
    w = Window.partitionBy("segment").orderBy("ym")
    ret = (
        monthly.withColumn("xp", F.lag("x").over(w))
        .filter(F.col("xp").isNotNull())
        .select(
            "segment", "ym", (as_d(F.col("x")) / as_d(F.col("xp"))).alias("lnk")
        )
    )
    prod = F.aggregate(
        F.array_sort(
            F.collect_list(F.struct(F.col("ym").alias("o"), F.col("lnk").alias("t")))
        ),
        F.lit(1.0),
        lambda a, s: a * s["t"],
    )
    return (
        ret.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            prod.alias("prod_raw"),
        )
        .select(
            "segment",
            "n_months",
            (F.col("prod_raw") - 1).alias("twr"),
            F.floor(
                (
                    F.pow(
                        F.col("prod_raw"),
                        F.lit(12.0) / F.col("n_months").cast("double"),
                    )
                    - 1
                )
                * F.lit(1e8)
            )
            .cast("bigint")
            .alias("twr_annualized_q8"),
        )
        .orderBy("segment")
    )


@register(
    "fin_rachev_ratio",
    tags=("finance", "window", "risk"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        ret AS (
            SELECT segment, d,
                   {o_ret_q9('x', 'xp')} AS r
            FROM (SELECT segment, d, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily)
            WHERE xp IS NOT NULL
        ),
        ranked AS (
            SELECT segment, r,
                   ROW_NUMBER() OVER (PARTITION BY segment
                                      ORDER BY r DESC, d) AS rk_hi,
                   ROW_NUMBER() OVER (PARTITION BY segment
                                      ORDER BY r, d) AS rk_lo,
                   COUNT(*) OVER (PARTITION BY segment) AS n
            FROM ret
        ),
        tails AS (
            SELECT segment,
                   CAST(MIN(n) AS BIGINT) AS n,
                   CAST((MIN(n) + 19) // 20 AS BIGINT) AS q,
                   CAST(SUM(CASE WHEN rk_hi <= (n + 19) // 20
                                 THEN r ELSE 0 END) AS BIGINT) AS top_sum,
                   CAST(SUM(CASE WHEN rk_lo <= (n + 19) // 20
                                 THEN r ELSE 0 END) AS BIGINT) AS bot_sum
            FROM ranked GROUP BY segment
        )
        SELECT segment, n, q,
               CAST(top_sum AS DOUBLE) / q / 1e9 AS etg,
               CAST(-bot_sum AS DOUBLE) / q / 1e9 AS etl,
               CASE WHEN bot_sum < 0 THEN
                 CAST(top_sum AS DOUBLE) / CAST(-bot_sum AS DOUBLE)
               END AS rachev
        FROM tails
        ORDER BY segment
    """,
)
def fin_rachev_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rachev ratio per segment at 5%/5%: expected tail GAIN over
    expected tail LOSS — the reward-to-risk number that compares the
    best 5% of days against the worst 5% instead of mean/variance
    (Rachev et al. 2004). Daily returns quantize to exact 1e-9
    integers (the VaR-family recipe) so both tails are exact integer
    sums of the top/bottom ceil(n/20) order statistics — ranks from
    per-segment windows over calendar-bounded rows, tail size in
    exact integer arithmetic ((n+19) div 20, never a double rank).
    The ratio NULLs when the lower tail sums to a non-negative value
    (no losses — degenerate, documented); tail means are presented in
    return units. Same deterministic (r, d) tiebreak as
    fin_var_exception_backtest."""
    daily = seg_daily(spark, sf_dir)
    ret = seg_returns(daily)
    w_hi = Window.partitionBy("segment").orderBy(F.col("r").desc(), "d")
    w_lo = Window.partitionBy("segment").orderBy("r", "d")
    w_n = Window.partitionBy("segment")
    ranked = ret.select(
        "segment",
        "r",
        F.row_number().over(w_hi).alias("rk_hi"),
        F.row_number().over(w_lo).alias("rk_lo"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    qexpr = F.expr("CAST((n + 19) DIV 20 AS BIGINT)")
    tails = ranked.groupBy("segment").agg(
        F.min("n").cast("bigint").alias("n"),
        F.min(F.expr("CAST((n + 19) DIV 20 AS BIGINT)")).alias("q"),
        F.sum(F.when(F.col("rk_hi") <= qexpr, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("top_sum"),
        F.sum(F.when(F.col("rk_lo") <= qexpr, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("bot_sum"),
    )
    return tails.select(
        "segment",
        "n",
        "q",
        (F.col("top_sum").cast("double") / F.col("q") / F.lit(1e9)).alias(
            "etg"
        ),
        ((-F.col("bot_sum")).cast("double") / F.col("q") / F.lit(1e9)).alias(
            "etl"
        ),
        F.when(
            F.col("bot_sum") < 0,
            F.col("top_sum").cast("double") / (-F.col("bot_sum")).cast("double"),
        ).alias("rachev"),
    ).orderBy("segment")


@register(
    "fin_risk_parity_weights",
    tags=("finance", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        ret AS (
            SELECT segment,
                   {o_ret_q9('x', 'xp')} AS r
            FROM (SELECT segment, d, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily)
            WHERE xp IS NOT NULL
        ),
        vol AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   sqrt((CAST(CAST(SUM(CAST(r AS DECIMAL(38,0)) * r)
                              AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(SUM(CAST(r AS DECIMAL(38,0)))
                                AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(SUM(CAST(r AS DECIMAL(38,0)))
                                  AS VARCHAR) AS DOUBLE) / COUNT(*))
                        / (COUNT(*) - 1)) / 1e9 AS sigma
            FROM ret GROUP BY segment
        ),
        inv AS (
            SELECT segment, n, sigma, 1.0 / sigma AS iv FROM vol
        ),
        tot AS (
            SELECT {o_ordered_fold_sum('segment', 'iv')}
                       AS iv_sum
            FROM inv
        )
        SELECT inv.segment, inv.n, inv.sigma,
               inv.iv / tot.iv_sum AS weight
        FROM inv CROSS JOIN tot
        ORDER BY inv.segment
    """,
)
def fin_risk_parity_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive risk-parity (inverse-volatility) portfolio weights across
    the five market segments: w_i = (1/sigma_i) / sum_j (1/sigma_j) —
    the equal-risk-contribution first approximation every allocation
    desk starts from. Daily-return volatility comes from exact
    DECIMAL(38,0) sums of the 1e-9-quantized returns (sum r, sum r^2,
    VARCHAR-routed to double at the edge; sample variance with n-1);
    the inverse-vol normalizer folds the five terms in PINNED segment
    order. sigma > 0 is guaranteed by the fixture's daily revenue
    variation at every SF (a zero-variance segment would make iv
    infinite — the weight column would propagate inf identically on
    both engines rather than silently diverging). One corpus hash agg;
    everything after is a 5-row relation."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d")
    ret = (
        daily.withColumn("xp", F.lag("x").over(w))
        .filter(F.col("xp").isNotNull())
        .select(
            "segment",
            ret_q9(F.col("x"), F.col("xp")).alias("r"),
        )
    )
    vol = ret.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sqrt(
                (
                    as_d(
                        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r"))
                    )
                    - as_d(F.sum(F.col("r").cast("decimal(38,0)")))
                    * as_d(F.sum(F.col("r").cast("decimal(38,0)")))
                    / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            )
            / F.lit(1e9)
        ).alias("sigma"),
    )
    inv = vol.select(
        "segment", "n", "sigma", (F.lit(1.0) / F.col("sigma")).alias("iv")
    )
    tot = inv.agg(
        ordered_fold_sum(F.col("segment"), F.col("iv")).alias("iv_sum")
    )
    return (
        inv.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n",
            "sigma",
            (F.col("iv") / F.col("iv_sum")).alias("weight"),
        )
        .orderBy("segment")
    )


@register(
    "fin_drawdown_duration",
    tags=("finance", "window", "risk"),
    oracle=f"""
        WITH daily AS ({SEG_PNL_DAILY_SQL}),
        eq AS (
            SELECT segment, d,
                   CAST(SUM(pnl_cents) OVER w AS BIGINT) AS equity,
                   ROW_NUMBER() OVER (PARTITION BY segment ORDER BY d) AS rn
            FROM daily
            WINDOW w AS (PARTITION BY segment ORDER BY d
                         ROWS UNBOUNDED PRECEDING)
        ),
        dd AS (
            SELECT segment, d, rn, equity,
                   CAST(MAX(equity) OVER (PARTITION BY segment ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
            FROM eq
        ),
        flagged AS (
            SELECT segment, rn,
                   CASE WHEN equity < peak THEN 1 ELSE 0 END AS under
            FROM dd
        ),
        islands AS (
            SELECT segment, rn, under,
                   rn - CAST(SUM(under) OVER (PARTITION BY segment ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp_key
            FROM flagged
        ),
        spells AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS len,
                   CAST(MIN(rn) AS BIGINT) AS start_rn
            FROM islands WHERE under = 1
            GROUP BY segment, grp_key
        ),
        best AS (
            SELECT segment, len, start_rn,
                   ROW_NUMBER() OVER (PARTITION BY segment
                       ORDER BY len DESC, start_rn) AS pk
            FROM spells
        ),
        agg AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n_spells,
                   CAST(SUM(len) AS BIGINT) AS days_underwater
            FROM spells GROUP BY segment
        )
        SELECT agg.segment, agg.n_spells, agg.days_underwater,
               best.len AS longest_spell_days,
               best.start_rn AS longest_spell_start_rn
        FROM agg JOIN best ON best.segment = agg.segment AND best.pk = 1
        ORDER BY agg.segment
    """,
)
def fin_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown DURATION per segment — the time dimension
    fin_max_drawdown's depth number misses: how many trading days the
    equity curve spends below its running peak, how many distinct
    underwater spells there are, and the length/start of the longest
    one (the lost-decade diagnostic; two portfolios with equal max
    drawdown differ enormously in recovery time). Equity and running
    peak are the same exact-cents stacked windows as fin_max_drawdown;
    spells are gaps-and-islands on the below-peak flag (rn - running
    count of flags keys each island, a pure window identity — no
    iterative state), with the deterministic longest-spell tiebreak on
    earliest start. All windows per-segment over calendar-bounded
    rows; every output is an exact integer."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1)
                .otherwise(-1)
                * (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("pnl_cents")
        )
    )
    w_eq = Window.partitionBy("segment").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_rn = Window.partitionBy("segment").orderBy("d")
    eq = daily.select(
        "segment",
        "d",
        F.sum("pnl_cents").over(w_eq).cast("bigint").alias("equity"),
        F.row_number().over(w_rn).alias("rn"),
    )
    w_pk = Window.partitionBy("segment").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = eq.select(
        "segment",
        "rn",
        (F.col("equity") < F.max("equity").over(w_pk).cast("bigint"))
        .cast("int")
        .alias("under"),
    )
    w_cum = Window.partitionBy("segment").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = dd.select(
        "segment",
        "rn",
        "under",
        (F.col("rn") - F.sum("under").over(w_cum).cast("bigint")).alias(
            "grp_key"
        ),
    )
    spells = (
        islands.filter(F.col("under") == 1)
        .groupBy("segment", "grp_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("len"),
            F.min("rn").cast("bigint").alias("start_rn"),
        )
    )
    w_best = Window.partitionBy("segment").orderBy(
        F.col("len").desc(), "start_rn"
    )
    best = (
        spells.withColumn("pk", F.row_number().over(w_best))
        .filter(F.col("pk") == 1)
        .select(
            "segment",
            F.col("len").alias("longest_spell_days"),
            F.col("start_rn").alias("longest_spell_start_rn"),
        )
    )
    agg = spells.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spells"),
        F.sum("len").cast("bigint").alias("days_underwater"),
    )
    return (
        agg.join(best, "segment")
        .select(
            "segment",
            "n_spells",
            "days_underwater",
            "longest_spell_days",
            "longest_spell_start_rn",
        )
        .orderBy("segment")
    )


# ===========================================================================
# Time-series wave


@register(
    "ts_calendar_effects",
    tags=("timeseries", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        dow AS (
            SELECT segment, isodow(d) - 1 AS wd,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(CAST(x AS DECIMAL(18,2)) * 100) AS DECIMAL(38,0))
                       AS cents
            FROM daily GROUP BY 1, 2
        ),
        seg AS (
            SELECT segment,
                   CAST(SUM(n_days) AS BIGINT) AS n_all,
                   CAST(SUM(cents) AS DECIMAL(38,0)) AS cents_all
            FROM dow GROUP BY segment
        )
        SELECT dow.segment, CAST(dow.wd AS INT) AS weekday, dow.n_days,
               CAST(CAST(dow.cents AS VARCHAR) AS DOUBLE)
                 / dow.n_days / 100 AS avg_revenue,
               (CAST(CAST(dow.cents AS VARCHAR) AS DOUBLE) / dow.n_days)
                 / (CAST(CAST(seg.cents_all AS VARCHAR) AS DOUBLE)
                    / seg.n_all) AS rel_effect
        FROM dow JOIN seg ON seg.segment = dow.segment
        ORDER BY dow.segment, weekday
    """,
)
def ts_calendar_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week calendar effect per segment: mean daily revenue by
    ISO weekday relative to the segment's all-days mean — the
    seasonality fingerprint behind staffing curves and anomaly
    baselines (rel_effect 1.0 = no effect). Weekday uses the ISO
    convention on BOTH engines (Spark weekday() == DuckDB isodow()-1
    == 0 for Monday; the default dayofweek() functions disagree
    across engines and are avoided). Revenue accumulates as exact
    integer cents in DECIMAL(38,0); means divide out as doubles at
    the edge via the VARCHAR route. One corpus agg, then a 35-row
    relation."""
    daily = seg_daily(spark, sf_dir)
    dow = daily.groupBy(
        "segment", F.weekday("d").alias("wd")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("x").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    seg = dow.groupBy("segment").agg(
        F.sum("n_days").cast("bigint").alias("n_all"),
        F.sum("cents").cast("decimal(38,0)").alias("cents_all"),
    )
    return (
        dow.join(F.broadcast(seg), "segment")
        .select(
            "segment",
            F.col("wd").cast("int").alias("weekday"),
            "n_days",
            (as_d(F.col("cents")) / F.col("n_days") / 100).alias(
                "avg_revenue"
            ),
            (
                (as_d(F.col("cents")) / F.col("n_days"))
                / (as_d(F.col("cents_all")) / F.col("n_all"))
            ).alias("rel_effect"),
        )
        .orderBy("segment", "weekday")
    )


@register(
    "ts_wape_smape",
    tags=("timeseries", "window", "ml-eval"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        fc AS (
            SELECT segment, d,
                   CAST(x AS DECIMAL(18,2)) AS y,
                   LAG(x, 7) OVER (PARTITION BY segment ORDER BY d) AS yhat
            FROM daily
        ),
        ev AS (
            SELECT segment, y, yhat,
                   CAST(ABS(CAST(y AS DECIMAL(18,2)) * 100
                        - CAST(yhat AS DECIMAL(18,2)) * 100)
                        AS DECIMAL(38,0)) AS abs_err_cents,
                   2 * CAST(CAST(ABS(CAST(y AS DECIMAL(18,2)) * 100
                            - CAST(yhat AS DECIMAL(18,2)) * 100)
                            AS VARCHAR) AS DOUBLE)
                     / (CAST(CAST(CAST(y AS DECIMAL(18,2)) * 100
                             AS VARCHAR) AS DOUBLE)
                        + CAST(CAST(CAST(yhat AS DECIMAL(18,2)) * 100
                               AS VARCHAR) AS DOUBLE)) AS smape_term
            FROM fc WHERE yhat IS NOT NULL
        )
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(CAST(SUM(abs_err_cents) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(CAST(y AS DECIMAL(18,2)) * 100
                        AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS wape,
               {o_fsum('smape_term', 9)} / COUNT(*) AS smape
        FROM ev GROUP BY segment
        ORDER BY segment
    """,
)
def ts_wape_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAPE and sMAPE of the seasonal-naive forecast (same weekday
    last week) per segment — the two workhorse forecast-accuracy
    metrics that complement ts_forecast_backtest_mase's scaled error:
    WAPE = sum|y - yhat| / sum|y| is an EXACT ratio of integer-cents
    sums (revenue is positive, so no abs needed on the denominator);
    sMAPE's per-row ratio 2|e|/(y + yhat) is IEEE-deterministic per
    row and reduces through the floor-1e9 exact-decimal sum (o_fsum
    recipe) so the engine summation order cannot matter. The lag-7
    forecast is one per-segment calendar-bounded window; evaluation
    rows are those with a 7-day-old same-weekday observation.
    Denominator degeneracy (all-zero actuals) is impossible on this
    fixture (positive prices, documented)."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d")
    fc = daily.select(
        "segment",
        "d",
        F.col("x").alias("y"),
        F.lag("x", 7).over(w).alias("yhat"),
    ).filter(F.col("yhat").isNotNull())
    y_c = (F.col("y").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    yh_c = (F.col("yhat").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    abs_err = F.abs(y_c - yh_c).cast("decimal(38,0)")
    smape_term = 2 * as_d(abs_err) / (as_d(y_c) + as_d(yh_c))
    ev = fc.select(
        "segment",
        y_c.alias("y_cents"),
        abs_err.alias("abs_err_cents"),
        smape_term.alias("smape_term"),
    )
    return (
        ev.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            (
                as_d(F.sum("abs_err_cents").cast("decimal(38,0)"))
                / as_d(F.sum("y_cents").cast("decimal(38,0)"))
            ).alias("wape"),
            (
                as_d(
                    F.sum(
                        F.floor(F.col("smape_term") * F.lit(1e9)).cast(
                            "decimal(38,0)"
                        )
                    ).cast("decimal(38,0)")
                )
                / F.lit(1e9)
                / F.count(F.lit(1))
            ).alias("smape"),
        )
        .orderBy("segment")
    )


@register(
    "ts_dickey_fuller_stat",
    tags=("timeseries", "stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        pairs AS (
            SELECT segment,
                   CAST(CAST(x AS DECIMAL(18,2)) * 100
                        - CAST(xp AS DECIMAL(18,2)) * 100 AS BIGINT) AS dy,
                   CAST(CAST(xp AS DECIMAL(18,2)) * 100 AS BIGINT) AS xl
            FROM (SELECT segment, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily)
            WHERE xp IS NOT NULL
        ),
        s AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xl) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(dy) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(xl AS DECIMAL(38,0)) * xl)
                        AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(xl AS DECIMAL(38,0)) * dy)
                        AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(dy AS DECIMAL(38,0)) * dy)
                        AS DECIMAL(38,0)) AS syy
            FROM pairs GROUP BY segment
        )
        SELECT segment, n,
               (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS beta,
               CASE WHEN n > 2 THEN
                 ((CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(sx AS VARCHAR) AS DOUBLE)))
                 / sqrt(
                     ((CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / n)
                      - ((CAST(n AS DOUBLE)
                          * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                          - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                            * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                         / (CAST(n AS DOUBLE)
                            * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                            - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                              * CAST(CAST(sx AS VARCHAR) AS DOUBLE)))
                        * (CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                           - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                             * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / n))
                     / (n - 2)
                     / (CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                        - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                          * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n))
               END AS df_stat
        FROM s ORDER BY segment
    """,
)
def ts_dickey_fuller_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root statistic (constant, no augmentation)
    per segment: regress the daily revenue CHANGE on the lagged level,
    DF = beta_hat / se(beta_hat) — large negative values reject a unit
    root (mean reversion), the stationarity screen that pairs with
    ts_kpss_level's reversed null. Sufficient statistics are exact
    DECIMAL(38,0) sums of integer cents (the CAPM/OLS recipe:
    n*Sxy - Sx*Sy forms, VARCHAR-routed once); the slope and its
    standard error se^2 = (SSE/(n-2)) / Sxx_centered come out in
    closed form with no per-row doubles at all. Class-5: df_stat
    NULLs for n <= 2; Sxx_centered > 0 holds on any series with two
    distinct levels (fixture contract, all SFs)."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d")
    pairs = (
        daily.withColumn("xp", F.lag("x").over(w))
        .filter(F.col("xp").isNotNull())
        .select(
            "segment",
            (
                (F.col("x").cast("decimal(18,2)") * 100)
                - (F.col("xp").cast("decimal(18,2)") * 100)
            )
            .cast("bigint")
            .alias("dy"),
            (F.col("xp").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("xl"),
        )
    )
    s = pairs.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xl").cast("decimal(38,0)").alias("sx"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("xl").cast("decimal(38,0)") * F.col("xl"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("xl").cast("decimal(38,0)") * F.col("dy"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("dy").cast("decimal(38,0)") * F.col("dy"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx, sy = as_d(F.col("sx")), as_d(F.col("sy"))
    sxx, sxy, syy = (
        as_d(F.col("sxx")),
        as_d(F.col("sxy")),
        as_d(F.col("syy")),
    )
    beta = (n_d * sxy - sx * sy) / (n_d * sxx - sx * sx)
    sse = (syy - sy * sy / F.col("n")) - beta * (sxy - sx * sy / F.col("n"))
    se2 = sse / (F.col("n") - 2) / (sxx - sx * sx / F.col("n"))
    return s.select(
        "segment",
        "n",
        beta.alias("beta"),
        F.when(F.col("n") > 2, beta / F.sqrt(se2)).alias("df_stat"),
    ).orderBy("segment")


@register(
    "ts_seasonal_strength",
    tags=("timeseries", "stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment, isodow(d) - 1 AS wd,
                   CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM daily
        ),
        dowm AS (
            SELECT segment, wd,
                   CAST(COUNT(*) AS BIGINT) AS n_wd,
                   CAST(SUM(v) AS DECIMAL(38,0)) AS s_wd,
                   CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0))
                       AS ss_wd
            FROM cents GROUP BY 1, 2
        ),
        seg AS (
            SELECT segment,
                   CAST(SUM(n_wd) AS BIGINT) AS n,
                   CAST(SUM(s_wd) AS DECIMAL(38,0)) AS s,
                   CAST(SUM(ss_wd) AS DECIMAL(38,0)) AS ss,
                   {o_ordered_fold_sum(
                       'wd',
                       'CAST(CAST(s_wd AS VARCHAR) AS DOUBLE) * CAST(CAST(s_wd AS'
                       ' VARCHAR) AS DOUBLE) / n_wd',
                   )} AS within_ms
            FROM dowm GROUP BY segment
        )
        SELECT segment, n,
               (CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(s AS VARCHAR) AS DOUBLE) / n) / 1e4
                   AS ss_total_dollars2,
               (CAST(CAST(ss AS VARCHAR) AS DOUBLE) - within_ms) / 1e4
                   AS ss_resid_dollars2,
               CASE WHEN CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(s AS VARCHAR) AS DOUBLE) / n > 0 THEN
                 GREATEST(CAST(0 AS DOUBLE),
                   1 - (CAST(CAST(ss AS VARCHAR) AS DOUBLE) - within_ms)
                     / (CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                        - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                          * CAST(CAST(s AS VARCHAR) AS DOUBLE) / n))
               END AS seasonal_strength
        FROM seg ORDER BY segment
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal strength per segment: F_s = max(0, 1 -
    SS_resid/SS_total), where the seasonal fit is the per-weekday mean
    — the one-number answer to "is this series weekly-seasonal enough
    to model?" (the STL-strength heuristic of Wang-Hyndman-Smith,
    computed against the weekday-means fit instead of a full STL).
    Integer-cents sums and squares accumulate in DECIMAL(38,0); the
    within-weekday mean squares sum_wd (S_wd^2 / n_wd) folds the <= 7
    weekday terms in PINNED order, so both SS decompositions are
    engine-identical; SS_resid = SS - sum_wd S_wd^2/n_wd is the
    standard one-way-ANOVA identity (no per-row residual pass).
    Output in dollars^2 (cents^2 / 1e4). Strength NULLs on a constant
    series (SS_total = 0)."""
    daily = seg_daily(spark, sf_dir)
    cents = daily.select(
        "segment",
        F.weekday("d").alias("wd"),
        (F.col("x").cast("decimal(18,2)") * 100).cast("bigint").alias("v"),
    )
    dowm = cents.groupBy("segment", "wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_wd"),
        F.sum("v").cast("decimal(38,0)").alias("s_wd"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss_wd"),
    )
    within_term = as_d(F.col("s_wd")) * as_d(F.col("s_wd")) / F.col("n_wd")
    seg = dowm.groupBy("segment").agg(
        F.sum("n_wd").cast("bigint").alias("n"),
        F.sum("s_wd").cast("decimal(38,0)").alias("s"),
        F.sum("ss_wd").cast("decimal(38,0)").alias("ss"),
        ordered_fold_sum(F.col("wd"), within_term).alias("within_ms"),
    )
    ss_d = as_d(F.col("ss"))
    s_d = as_d(F.col("s"))
    ss_total = ss_d - s_d * s_d / F.col("n")
    ss_resid = ss_d - F.col("within_ms")
    return seg.select(
        "segment",
        "n",
        (ss_total / F.lit(1e4)).alias("ss_total_dollars2"),
        (ss_resid / F.lit(1e4)).alias("ss_resid_dollars2"),
        F.when(
            ss_total > 0,
            F.greatest(F.lit(0.0), 1 - ss_resid / ss_total),
        ).alias("seasonal_strength"),
    ).orderBy("segment")


@register(
    "ts_intervention_step",
    tags=("timeseries", "stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment,
                   CASE WHEN d >= DATE '1995-06-01' THEN 1 ELSE 0 END AS post,
                   CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM daily
        ),
        s AS (
            SELECT segment,
                   CAST(SUM(1 - post) AS BIGINT) AS n_pre,
                   CAST(SUM(post) AS BIGINT) AS n_post,
                   CAST(SUM((1 - post) * v) AS DECIMAL(38,0)) AS s_pre,
                   CAST(SUM(post * v) AS DECIMAL(38,0)) AS s_post,
                   CAST(SUM((1 - post) * CAST(v AS DECIMAL(38,0)) * v)
                        AS DECIMAL(38,0)) AS ss_pre,
                   CAST(SUM(post * CAST(v AS DECIMAL(38,0)) * v)
                        AS DECIMAL(38,0)) AS ss_post
            FROM cents GROUP BY segment
        )
        SELECT segment, n_pre, n_post,
               CAST(CAST(s_pre AS VARCHAR) AS DOUBLE) / n_pre / 100
                   AS pre_mean,
               CAST(CAST(s_post AS VARCHAR) AS DOUBLE) / n_post / 100
                   AS post_mean,
               (CAST(CAST(s_post AS VARCHAR) AS DOUBLE) / n_post)
                 / (CAST(CAST(s_pre AS VARCHAR) AS DOUBLE) / n_pre) - 1
                   AS lift,
               CASE WHEN n_pre > 1 AND n_post > 1 THEN
                 (CAST(CAST(s_post AS VARCHAR) AS DOUBLE) / n_post
                  - CAST(CAST(s_pre AS VARCHAR) AS DOUBLE) / n_pre)
                 / sqrt(
                     ((CAST(CAST(ss_pre AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(s_pre AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(s_pre AS VARCHAR) AS DOUBLE) / n_pre)
                      / (n_pre - 1)) / n_pre
                     + ((CAST(CAST(ss_post AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(s_post AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(s_post AS VARCHAR) AS DOUBLE)
                           / n_post)
                        / (n_post - 1)) / n_post)
               END AS welch_t
        FROM s ORDER BY segment
    """,
)
def ts_intervention_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intervention (step-change) analysis per segment at the fixed
    1995-06-01 cut: pre/post level means, relative lift, and the
    Welch t for the level shift — the before/after scorecard of every
    launch and pricing change, on the daily revenue series. Exact
    integer-cents sufficient statistics per arm in one grouped agg
    (conditional sums — no second scan, no join); means/variances
    divide out at the double edge via the VARCHAR route. Welch (not
    pooled) because an intervention that shifts the level usually
    shifts the variance too. t NULLs when either arm has < 2 days
    (class-5 guard, identical both engines)."""
    daily = seg_daily(spark, sf_dir)
    cents = daily.select(
        "segment",
        F.when(F.col("d") >= F.lit("1995-06-01").cast("date"), 1)
        .otherwise(0)
        .alias("post"),
        (F.col("x").cast("decimal(18,2)") * 100).cast("bigint").alias("v"),
    )
    vD = F.col("v").cast("decimal(38,0)")
    s = cents.groupBy("segment").agg(
        F.sum(1 - F.col("post")).cast("bigint").alias("n_pre"),
        F.sum("post").cast("bigint").alias("n_post"),
        F.sum((1 - F.col("post")) * F.col("v"))
        .cast("decimal(38,0)")
        .alias("s_pre"),
        F.sum(F.col("post") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("s_post"),
        F.sum((1 - F.col("post")) * vD * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss_pre"),
        F.sum(F.col("post") * vD * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss_post"),
    )
    pre_m = as_d(F.col("s_pre")) / F.col("n_pre")
    post_m = as_d(F.col("s_post")) / F.col("n_post")
    var_pre = (
        as_d(F.col("ss_pre"))
        - as_d(F.col("s_pre")) * as_d(F.col("s_pre")) / F.col("n_pre")
    ) / (F.col("n_pre") - 1)
    var_post = (
        as_d(F.col("ss_post"))
        - as_d(F.col("s_post")) * as_d(F.col("s_post")) / F.col("n_post")
    ) / (F.col("n_post") - 1)
    return s.select(
        "segment",
        "n_pre",
        "n_post",
        (pre_m / 100).alias("pre_mean"),
        (post_m / 100).alias("post_mean"),
        (post_m / pre_m - 1).alias("lift"),
        F.when(
            (F.col("n_pre") > 1) & (F.col("n_post") > 1),
            (post_m - pre_m)
            / F.sqrt(var_pre / F.col("n_pre") + var_post / F.col("n_post")),
        ).alias("welch_t"),
    ).orderBy("segment")


# ===========================================================================
# ML-eval wave (score = l_quantity, label = l_returnflag 'R', the
# family convention of ml_roc_auc / ml_threshold_sweep)


@register(
    "ml_score_ks",
    tags=("ml", "eval", "window"),
    oracle="""
        WITH grp AS (
            SELECT l_quantity AS score,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS pos,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R')
                        AS BIGINT) AS neg
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT score,
                   SUM(pos) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                       AS cpos,
                   SUM(neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                       AS cneg
            FROM grp
        ),
        tot AS (
            SELECT CAST(SUM(pos) AS BIGINT) AS npos,
                   CAST(SUM(neg) AS BIGINT) AS nneg
            FROM grp
        ),
        gaps AS (
            SELECT score,
                   CAST(ABS(cpos * tot.nneg - cneg * tot.npos) AS BIGINT)
                       AS gap
            FROM cum CROSS JOIN tot
        ),
        best AS (
            SELECT score, gap,
                   ROW_NUMBER() OVER (ORDER BY gap DESC, score) AS pk
            FROM gaps
        )
        SELECT tot.npos, tot.nneg,
               CAST(best.gap AS DOUBLE)
                 / (CAST(tot.npos AS DOUBLE) * tot.nneg) AS ks_stat,
               best.score AS ks_threshold
        FROM best CROSS JOIN tot WHERE best.pk = 1
    """,
)
def ml_score_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS separation of the model score between classes — credit
    scoring's favorite single number: D = max over thresholds of
    |F_pos(s) - F_neg(s)|, with the argmax threshold (the score cut a
    rule-based policy would deploy). The gap is the exact integer
    |cpos*nneg - cneg*npos| on the value-domain-bounded distinct-score
    relation (l_quantity has <= 50 distinct values at any SF, so the
    unpartitioned cumulative window rides a bounded relation — the
    bucket+carry exemption documented in session.py); division by
    npos*nneg happens once at the edge. Deterministic earliest-score
    argmax tiebreak. Class balance is a fixture invariant (both
    classes populated at every SF)."""
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("score")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
        .cast("bigint")
        .alias("neg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = grp.select(
        "score",
        F.sum("pos").over(w).alias("cpos"),
        F.sum("neg").over(w).alias("cneg"),
    )
    tot = grp.agg(
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum("neg").cast("bigint").alias("nneg"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "score",
        F.abs(F.col("cpos") * F.col("nneg") - F.col("cneg") * F.col("npos"))
        .cast("bigint")
        .alias("gap"),
        "npos",
        "nneg",
    )
    wbest = Window.orderBy(F.col("gap").desc(), "score")
    return (
        gaps.withColumn("pk", F.row_number().over(wbest))
        .filter(F.col("pk") == 1)
        .select(
            "npos",
            "nneg",
            (
                F.col("gap").cast("double")
                / (F.col("npos").cast("double") * F.col("nneg"))
            ).alias("ks_stat"),
            F.col("score").alias("ks_threshold"),
        )
    )


@register(
    "ml_somers_d",
    tags=("ml", "eval", "window"),
    oracle="""
        WITH grp AS (
            SELECT l_quantity AS score,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS pos,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R')
                        AS BIGINT) AS neg
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT score, pos, neg,
                   CAST(COALESCE(SUM(neg) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS neg_below,
                   CAST(COALESCE(SUM(pos) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS pos_below
            FROM grp
        ),
        tot AS (
            SELECT CAST(SUM(pos) AS BIGINT) AS npos,
                   CAST(SUM(neg) AS BIGINT) AS nneg
            FROM grp
        ),
        pairs AS (
            SELECT CAST(SUM(CAST(pos AS DECIMAL(38,0)) * neg_below)
                        AS DECIMAL(38,0)) AS concordant,
                   CAST(SUM(CAST(pos AS DECIMAL(38,0))
                            * (tot.nneg - neg_below - neg))
                        AS DECIMAL(38,0)) AS discordant,
                   CAST(SUM(CAST(pos AS DECIMAL(38,0)) * neg)
                        AS DECIMAL(38,0)) AS tied_score
            FROM cum CROSS JOIN tot
        )
        SELECT tot.npos, tot.nneg,
               CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                   AS n_concordant,
               CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE)
                   AS n_discordant,
               CAST(CAST(pairs.tied_score AS VARCHAR) AS DOUBLE) AS n_tied,
               (CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                - CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE))
                 / (CAST(tot.npos AS DOUBLE) * tot.nneg) AS somers_d,
               CASE WHEN CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                         + CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE)
                         > 0 THEN
                 (CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE))
                 / (CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                    + CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE))
               END AS gk_gamma
        FROM pairs CROSS JOIN tot
    """,
)
def ml_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D (and Goodman-Kruskal gamma) of score vs binary label
    — the pair-concordance view of discrimination: D = (C - D') /
    (npos*nneg) = 2*AUC - 1, but reported WITH the raw concordant /
    discordant / score-tied pair censuses that model-risk reviews ask
    for (gamma excludes ties, D charges them). All three pair counts
    are exact DECIMAL(38,0) sums over the <= 50-value distinct-score
    relation (pos_v * negatives-below etc., cumulative window on a
    value-domain-bounded relation); npos*nneg ~ 1e11 at sf1 so counts
    are decimal38, VARCHAR-routed to double for presentation. gamma
    NULLs if every pair is score-tied (degenerate single-score
    fixture — impossible here, guarded anyway)."""
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("score")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
        .cast("bigint")
        .alias("neg"),
    )
    w_prev = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grp.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_prev), F.lit(0)).alias("neg_below"),
    )
    tot = grp.agg(
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum("neg").cast("bigint").alias("nneg"),
    )
    posD = F.col("pos").cast("decimal(38,0)")
    pairs = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(posD * F.col("neg_below")).cast("decimal(38,0)").alias(
            "concordant"
        ),
        F.sum(posD * (F.col("nneg") - F.col("neg_below") - F.col("neg")))
        .cast("decimal(38,0)")
        .alias("discordant"),
        F.sum(posD * F.col("neg")).cast("decimal(38,0)").alias("tied_score"),
    )
    c_d = as_d(F.col("concordant"))
    d_d = as_d(F.col("discordant"))
    t_d = as_d(F.col("tied_score"))
    return pairs.crossJoin(F.broadcast(tot)).select(
        "npos",
        "nneg",
        c_d.alias("n_concordant"),
        d_d.alias("n_discordant"),
        t_d.alias("n_tied"),
        ((c_d - d_d) / (F.col("npos").cast("double") * F.col("nneg"))).alias(
            "somers_d"
        ),
        F.when(c_d + d_d > 0, (c_d - d_d) / (c_d + d_d)).alias("gk_gamma"),
    )


@register(
    "ml_hosmer_lemeshow",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH scored AS (
            SELECT CAST(LEAST(9, FLOOR((l_quantity - 1) / 5)) AS BIGINT)
                       AS bin,
                   l_quantity / 51.0 AS p,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem
        ),
        bins AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(y) AS BIGINT) AS o1,
                   {o_fsum('p', 9)} AS e1
            FROM scored GROUP BY bin
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(n_g) AS BIGINT) AS n,
               {o_ordered_fold_sum(
                   'bin',
                   '(CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / (e1 * (1 -'
                   ' e1 / n_g))',
               )} AS hl_stat,
               CAST(COUNT(*) - 2 AS BIGINT) AS df
        FROM bins
    """,
)
def ml_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit for the family's deterministic
    probability model p = quantity/51 against the observed return
    flag, over 10 fixed score bins: HL = sum_g (O_g - E_g)^2 /
    (E_g (1 - E_g/n_g)) — the calibration CHI-SQUARE that complements
    ml_calibration_bins (per-bin table) and ml_calibration_ece
    (weighted gap) with an actual test statistic, df = bins - 2.
    Expected counts sum the per-row p through the floor-1e9 exact
    reduction (engine-order-free); observed counts are exact ints;
    the 10 bin terms fold in PINNED bin order. Fixed-width quantity
    bins (not quantile bins) keep the binning engine-exact. E_g in
    (0, n_g) by construction of p (quantity 1..50 over 51), so the
    denominator never degenerates."""
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.least(F.lit(9), F.floor((F.col("l_quantity") - 1) / 5))
        .cast("bigint")
        .alias("bin"),
        (F.col("l_quantity") / F.lit(51.0)).alias("p"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y").cast("bigint").alias("o1"),
        (
            as_d(
                F.sum(
                    F.floor(F.col("p") * F.lit(1e9)).cast("decimal(38,0)")
                ).cast("decimal(38,0)")
            )
            / F.lit(1e9)
        ).alias("e1"),
    )
    term = (F.col("o1").cast("double") - F.col("e1")) * (
        F.col("o1").cast("double") - F.col("e1")
    ) / (F.col("e1") * (1 - F.col("e1") / F.col("n_g")))
    return bins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n_g").cast("bigint").alias("n"),
        ordered_fold_sum(F.col("bin"), term).alias("hl_stat"),
        (F.count(F.lit(1)) - 2).cast("bigint").alias("df"),
    )


@register(
    "ml_mcc_multiclass",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH labeled AS (
            SELECT l_returnflag AS truth,
                   CASE WHEN l_quantity < 17 THEN 'A'
                        WHEN l_quantity < 34 THEN 'N'
                        ELSE 'R' END AS pred
            FROM lineitem
        ),
        cells AS (
            SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n
            FROM labeled GROUP BY truth, pred
        ),
        t AS (SELECT truth AS k, CAST(SUM(n) AS BIGINT) AS tk
              FROM cells GROUP BY truth),
        p AS (SELECT pred AS k, CAST(SUM(n) AS BIGINT) AS pk
              FROM cells GROUP BY pred),
        marg AS (
            SELECT COALESCE(t.k, p.k) AS k,
                   COALESCE(t.tk, 0) AS tk,
                   COALESCE(p.pk, 0) AS pk
            FROM t FULL OUTER JOIN p ON p.k = t.k
        ),
        m AS (
            SELECT CAST(SUM(CAST(tk AS DECIMAL(38,0)) * pk)
                        AS DECIMAL(38,0)) AS sum_tp,
                   CAST(SUM(CAST(tk AS DECIMAL(38,0)) * tk)
                        AS DECIMAL(38,0)) AS sum_t2,
                   CAST(SUM(CAST(pk AS DECIMAL(38,0)) * pk)
                        AS DECIMAL(38,0)) AS sum_p2
            FROM marg
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS s,
                   CAST(SUM(CASE WHEN truth = pred THEN n ELSE 0 END)
                        AS BIGINT) AS c
            FROM cells
        )
        SELECT tot.s AS n, tot.c AS n_correct,
               CAST(tot.c AS DOUBLE) / tot.s AS accuracy,
               CASE WHEN (CAST(tot.s AS DOUBLE) * tot.s
                          - CAST(CAST(m.sum_t2 AS VARCHAR) AS DOUBLE)) > 0
                         AND (CAST(tot.s AS DOUBLE) * tot.s
                              - CAST(CAST(m.sum_p2 AS VARCHAR) AS DOUBLE)) > 0
               THEN
                 (CAST(tot.c AS DOUBLE) * tot.s
                  - CAST(CAST(m.sum_tp AS VARCHAR) AS DOUBLE))
                 / sqrt((CAST(tot.s AS DOUBLE) * tot.s
                         - CAST(CAST(m.sum_t2 AS VARCHAR) AS DOUBLE))
                        * (CAST(tot.s AS DOUBLE) * tot.s
                           - CAST(CAST(m.sum_p2 AS VARCHAR) AS DOUBLE)))
               END AS mcc
        FROM tot CROSS JOIN m
    """,
)
def ml_mcc_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass Matthews correlation (Gorodkin's R_K) of a fixed
    quantity-threshold classifier against the 3-class return flag:
    R_K = (c*s - sum_k t_k p_k) / sqrt((s^2 - sum t_k^2)(s^2 - sum
    p_k^2)) — the chance-corrected accuracy that stays honest under
    class imbalance, generalizing ml_mcc_binary to the full confusion
    matrix. Marginals live on the <= 3-row class relation (full outer
    join of truth/pred counts so a class never predicted still enters
    p_k = 0); products accumulate in DECIMAL(38,0) (s^2 ~ 3.6e13 at
    sf1, safe past sf100) and convert once. The degenerate
    single-class edges (either marginal concentrated on one class)
    NULL R_K identically on both engines. One corpus hash agg on the
    9-cell confusion."""
    li = load_table(spark, sf_dir, "lineitem")
    labeled = li.select(
        F.col("l_returnflag").alias("truth"),
        F.when(F.col("l_quantity") < 17, "A")
        .when(F.col("l_quantity") < 34, "N")
        .otherwise("R")
        .alias("pred"),
    )
    cells = labeled.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = cells.groupBy(F.col("truth").alias("k")).agg(
        F.sum("n").cast("bigint").alias("tk")
    )
    p = cells.groupBy(F.col("pred").alias("k2")).agg(
        F.sum("n").cast("bigint").alias("pk")
    )
    marg = t.join(p, t.k == p.k2, "full").select(
        F.coalesce(F.col("tk"), F.lit(0)).alias("tk"),
        F.coalesce(F.col("pk"), F.lit(0)).alias("pk"),
    )
    m = marg.agg(
        F.sum(F.col("tk").cast("decimal(38,0)") * F.col("pk"))
        .cast("decimal(38,0)")
        .alias("sum_tp"),
        F.sum(F.col("tk").cast("decimal(38,0)") * F.col("tk"))
        .cast("decimal(38,0)")
        .alias("sum_t2"),
        F.sum(F.col("pk").cast("decimal(38,0)") * F.col("pk"))
        .cast("decimal(38,0)")
        .alias("sum_p2"),
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.when(F.col("truth") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    s_d = F.col("s").cast("double")
    den_t = s_d * F.col("s") - as_d(F.col("sum_t2"))
    den_p = s_d * F.col("s") - as_d(F.col("sum_p2"))
    return tot.crossJoin(F.broadcast(m)).select(
        F.col("s").alias("n"),
        F.col("c").alias("n_correct"),
        (F.col("c").cast("double") / F.col("s")).alias("accuracy"),
        F.when(
            (den_t > 0) & (den_p > 0),
            (F.col("c").cast("double") * F.col("s") - as_d(F.col("sum_tp")))
            / F.sqrt(den_t * den_p),
        ).alias("mcc"),
    )


@register(
    "ml_ips_offpolicy",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH logged AS (
            SELECT c.c_mktsegment AS ctx,
                   o.o_orderpriority AS action,
                   CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS r
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        ctx_tot AS (
            SELECT ctx, CAST(COUNT(*) AS BIGINT) AS n_ctx
            FROM logged GROUP BY ctx
        ),
        tgt AS (
            SELECT l.ctx,
                   CAST(COUNT(*) AS BIGINT) AS n_a,
                   CAST(SUM(r) AS BIGINT) AS r_a
            FROM logged l WHERE l.action = '2-HIGH'
            GROUP BY l.ctx
        ),
        n AS (SELECT CAST(SUM(n_ctx) AS BIGINT) AS n FROM ctx_tot),
        terms AS (
            SELECT ct.ctx,
                   CAST(ct.n_ctx AS DOUBLE) * tgt.r_a / tgt.n_a AS wr,
                   CAST(ct.n_ctx AS DOUBLE) AS w
            FROM ctx_tot ct JOIN tgt ON tgt.ctx = ct.ctx
        )
        SELECT n.n,
               {o_ordered_fold_sum('ctx', 'wr')} / n.n
                   AS ips_value,
               {o_ordered_fold_sum('ctx', 'wr')}
                 / {o_ordered_fold_sum('ctx', 'w')}
                   AS snips_value
        FROM terms CROSS JOIN n
        GROUP BY n.n
    """,
)
def ml_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring: what
    fulfillment rate WOULD the deterministic policy "always 2-HIGH"
    have achieved, estimated from logs where priorities were assigned
    by the historical process? Context = market segment; empirical
    propensity p(a|ctx) = n_a/n_ctx; IPS = (1/n) sum 1{a=target} r /
    p(a|ctx), which reduces EXACTLY to (1/n) sum_ctx n_ctx * r_a/n_a
    — group-level integer arithmetic, no per-row weights. SNIPS
    (self-normalized) divides by sum of weights instead of n, the
    variance-reduced estimator production OPE uses. The 5 context
    terms fold in pinned order. A context with no target-action logs
    drops out of BOTH estimators identically (inner join) — the
    standard undefined-propensity exclusion, documented."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    logged = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("ctx"),
        F.col("o_orderpriority").alias("action"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("r"),
    )
    ctx_tot = logged.groupBy("ctx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ctx")
    )
    tgt = (
        logged.filter(F.col("action") == "2-HIGH")
        .groupBy("ctx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_a"),
            F.sum("r").cast("bigint").alias("r_a"),
        )
    )
    n = ctx_tot.agg(F.sum("n_ctx").cast("bigint").alias("n"))
    terms = ctx_tot.join(tgt, "ctx").select(
        "ctx",
        (F.col("n_ctx").cast("double") * F.col("r_a") / F.col("n_a")).alias(
            "wr"
        ),
        F.col("n_ctx").cast("double").alias("w"),
    )
    agg = terms.agg(
        ordered_fold_sum(F.col("ctx"), F.col("wr")).alias("sum_wr"),
        ordered_fold_sum(F.col("ctx"), F.col("w")).alias("sum_w"),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "n",
        (F.col("sum_wr") / F.col("n")).alias("ips_value"),
        (F.col("sum_wr") / F.col("sum_w")).alias("snips_value"),
    )


@register(
    "ml_fbeta_grid",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH conf AS (
            SELECT CAST(COUNT(*) FILTER (WHERE l_quantity >= 25
                        AND l_returnflag = 'R') AS BIGINT) AS tp,
                   CAST(COUNT(*) FILTER (WHERE l_quantity >= 25
                        AND l_returnflag <> 'R') AS BIGINT) AS fp,
                   CAST(COUNT(*) FILTER (WHERE l_quantity < 25
                        AND l_returnflag = 'R') AS BIGINT) AS fn
            FROM lineitem
        )
        SELECT b.beta, conf.tp, conf.fp, conf.fn,
               CAST(conf.tp AS DOUBLE) / (conf.tp + conf.fp) AS precision_,
               CAST(conf.tp AS DOUBLE) / (conf.tp + conf.fn) AS recall_,
               CASE WHEN (1 + b.beta * b.beta) * conf.tp
                         + b.beta * b.beta * conf.fn + conf.fp > 0 THEN
                 (1 + b.beta * b.beta) * CAST(conf.tp AS DOUBLE)
                   / ((1 + b.beta * b.beta) * conf.tp
                      + b.beta * b.beta * conf.fn + conf.fp)
               END AS fbeta
        FROM conf
        CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                                   CAST(1.0 AS DOUBLE),
                                   CAST(2.0 AS DOUBLE)]) AS beta) b
        ORDER BY b.beta
    """,
)
def ml_fbeta_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-beta scores at beta in {0.5, 1, 2} for the fixed
    quantity >= 25 classifier against the return flag — the
    precision-weighted / balanced / recall-weighted triple every
    precision-recall tradeoff review wants side by side
    (ml_threshold_sweep sweeps thresholds at F1; this sweeps beta at
    one threshold). The smoothed form Fb = (1+b^2)tp / ((1+b^2)tp +
    b^2 fn + fp) avoids the P,R intermediate divisions; the confusion
    cells are exact integers from one agg, fanned over a broadcast
    3-row beta grid. Fb NULLs only when tp=fp=fn=0 (no positives
    anywhere — impossible on this fixture, guarded identically)."""
    li = load_table(spark, sf_dir, "lineitem")
    conf = li.agg(
        F.sum(
            F.when(
                (F.col("l_quantity") >= 25) & (F.col("l_returnflag") == "R"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.sum(
            F.when(
                (F.col("l_quantity") >= 25) & (F.col("l_returnflag") != "R"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 25) & (F.col("l_returnflag") == "R"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fn"),
    )
    betas = spark.createDataFrame([(0.5,), (1.0,), (2.0,)], "beta double")
    b2 = F.col("beta") * F.col("beta")
    denom = (1 + b2) * F.col("tp") + b2 * F.col("fn") + F.col("fp")
    return (
        conf.crossJoin(F.broadcast(betas))
        .select(
            "beta",
            "tp",
            "fp",
            "fn",
            (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
                "precision_"
            ),
            (F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias(
                "recall_"
            ),
            F.when(
                denom > 0,
                (1 + b2) * F.col("tp").cast("double") / denom,
            ).alias("fbeta"),
        )
        .orderBy("beta")
    )


# ===========================================================================
# Graph wave (strong-trade graph, shared BFS machinery)



def _bfs5_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, v, d): min-distance pairs within 5 hops on the strong-trade
    graph — the shared 5-round broadcast-join BFS of
    graph_harmonic_closeness (|V|^2-bounded state, exact integers)."""
    ku = trade_edges_undirected(spark, sf_dir)
    nbr = (
        ku.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .unionAll(ku.select(F.col("b").alias("v"), F.col("a").alias("n")))
        .localCheckpoint()
    )
    nodes = nbr.select("v").distinct()
    state = nodes.select(
        F.col("v").alias("s"), F.col("v"), F.lit(0).cast("bigint").alias("d")
    )
    for _ in range(5):
        expanded = (
            state.alias("p")
            .join(F.broadcast(nbr.alias("e")), F.col("p.v") == F.col("e.v"))
            .select(
                F.col("p.s").alias("s"),
                F.col("e.n").alias("v"),
                (F.col("p.d") + 1).alias("d"),
            )
        )
        state = (
            state.unionByName(expanded)
            .groupBy("s", "v")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    return state


_BFS5_SQL_ROUNDS = "".join(
    f"""
        r{i} AS MATERIALIZED (
            SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, v, d FROM r{i - 1}
                UNION ALL
                SELECT p.s, nbr.n AS v, p.d + 1 AS d
                FROM r{i - 1} p JOIN nbr ON nbr.v = p.v
            ) GROUP BY s, v
        ),"""
    for i in range(1, 6)
)


@register(
    "graph_eccentricity_diameter",
    tags=("graph", "join", "iterative"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        nodes AS MATERIALIZED (SELECT DISTINCT v FROM nbr),
        r0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS d FROM nodes),
        {_BFS5_SQL_ROUNDS}
        ecc AS (
            SELECT s,
                   CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS reached,
                   CAST(MAX(d) AS BIGINT) AS ecc
            FROM r5 GROUP BY s
        ),
        gstats AS (
            SELECT CAST(MAX(ecc) AS BIGINT) AS diameter,
                   CAST(MIN(ecc) AS BIGINT) AS radius
            FROM ecc WHERE reached > 0
        )
        SELECT ecc.s AS nationkey, ecc.reached AS reached_5hop,
               CASE WHEN ecc.reached > 0 THEN ecc.ecc END AS ecc_5hop,
               gstats.diameter AS diameter_5hop, gstats.radius AS radius_5hop
        FROM ecc CROSS JOIN gstats
        ORDER BY nationkey
    """,
)
def graph_eccentricity_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity per nation plus graph diameter and radius on the
    strong-trade graph, within the 5-hop BFS horizon: ecc(s) = max
    shortest-path distance from s, diameter = max ecc, radius = min
    ecc — the topology report (is the trade network a tight core or a
    long chain?) that complements harmonic closeness' per-node
    average-distance view with worst-case distances. Same
    |V|^2-bounded 5-round broadcast-join BFS, exact integers
    everywhere, isolated nodes NULL their eccentricity and are
    excluded from diameter/radius on both engines (classical
    convention for disconnected graphs)."""
    state = _bfs5_state(spark, sf_dir)
    ecc = state.groupBy("s").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("reached"),
        F.max("d").cast("bigint").alias("ecc"),
    )
    glob = ecc.filter(F.col("reached") > 0).agg(
        F.max("ecc").cast("bigint").alias("diameter"),
        F.min("ecc").cast("bigint").alias("radius"),
    )
    return (
        ecc.crossJoin(F.broadcast(glob))
        .select(
            F.col("s").alias("nationkey"),
            F.col("reached").alias("reached_5hop"),
            F.when(F.col("reached") > 0, F.col("ecc")).alias("ecc_5hop"),
            F.col("diameter").alias("diameter_5hop"),
            F.col("radius").alias("radius_5hop"),
        )
        .orderBy("nationkey")
    )


@register(
    "graph_path_length_histogram",
    tags=("graph", "join", "iterative"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        nodes AS MATERIALIZED (SELECT DISTINCT v FROM nbr),
        r0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS d FROM nodes),
        {_BFS5_SQL_ROUNDS}
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
        hist AS (
            SELECT CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d1,
                   CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d2,
                   CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d3,
                   CAST(SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d4,
                   CAST(SUM(CASE WHEN d = 5 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d5,
                   CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT)
                       AS d_sum,
                   CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS reached_pairs
            FROM r5
        )
        SELECT n.n_nodes,
               CAST(n.n_nodes * (n.n_nodes - 1) AS BIGINT) AS ordered_pairs,
               hist.d1, hist.d2, hist.d3, hist.d4, hist.d5,
               CAST(n.n_nodes * (n.n_nodes - 1) - hist.reached_pairs
                    AS BIGINT) AS unreached_pairs,
               CASE WHEN hist.reached_pairs > 0 THEN
                 CAST(hist.d_sum AS DOUBLE) / hist.reached_pairs
               END AS avg_path_length
        FROM n CROSS JOIN hist
    """,
)
def graph_path_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path length distribution of the strong-trade graph
    within the 5-hop horizon: how many ordered node pairs sit at
    distance 1..5, how many are unreachable, and the average path
    length over reached pairs — the small-world diagnostic (compare
    avg to ln(V)) and the denominator audit for every distance-based
    centrality. Shares the exact-integer 5-round BFS state; outputs
    are integer counts plus one guarded edge division."""
    state = _bfs5_state(spark, sf_dir)
    nodes = state.filter(F.col("d") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    hist = state.agg(
        *[
            F.sum(F.when(F.col("d") == k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"d{k}")
            for k in range(1, 6)
        ],
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0))
        .cast("bigint")
        .alias("d_sum"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("reached_pairs"),
    )
    return nodes.crossJoin(F.broadcast(hist)).select(
        "n_nodes",
        (F.col("n_nodes") * (F.col("n_nodes") - 1))
        .cast("bigint")
        .alias("ordered_pairs"),
        "d1",
        "d2",
        "d3",
        "d4",
        "d5",
        (
            F.col("n_nodes") * (F.col("n_nodes") - 1) - F.col("reached_pairs")
        )
        .cast("bigint")
        .alias("unreached_pairs"),
        F.when(
            F.col("reached_pairs") > 0,
            F.col("d_sum").cast("double") / F.col("reached_pairs"),
        ).alias("avg_path_length"),
    )


# ===========================================================================
# Text wave

from finance_etl_spark.io.readers import load_table_parallel  # noqa: E402


@register(
    "text_heaps_curve",
    tags=("text", "tokenize", "window"),
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, lower(tok) AS tok
            FROM (SELECT doc_id,
                         unnest(regexp_extract_all(text, '[a-zA-Z0-9_]+'))
                             AS tok
                  FROM documents)
        ),
        firsts AS (
            SELECT MIN(doc_id) AS first_doc FROM toks GROUP BY tok
        ),
        nt AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM toks GROUP BY doc_id
        ),
        nd AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS max_id FROM nt),
        deciles AS (
            SELECT CAST(dec AS INT) AS decile,
                   CAST((max_id * dec) // 10 AS BIGINT) AS cutoff_id
            FROM nd CROSS JOIN (SELECT unnest(range(1, 11)) AS dec)
        )
        SELECT d.decile,
               CAST(SUM(nt.n_tok) AS BIGINT) AS cum_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts f
                WHERE f.first_doc <= d.cutoff_id) AS cum_vocab
        FROM deciles d JOIN nt ON nt.doc_id <= d.cutoff_id
        GROUP BY d.decile, d.cutoff_id
        ORDER BY d.decile
    """,
)
def text_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve over the corpus in
    doc-id order: cumulative distinct vocabulary vs cumulative token
    count at ten corpus prefixes — the curve whose log-log slope is
    Heaps' beta, the number that predicts how much NEW vocabulary the
    next 10x of data buys (flattening = diminishing data returns, THE
    dedup/curation planning signal). Exact integers: each type's
    FIRST document (one token-key agg — the corpus never re-scans per
    decile), per-doc token counts, and decile cutoffs in integer
    arithmetic; vocab-at-cutoff probes the 10-row decile spine
    against the first-doc relation. Fitting the exponent needs logs
    and is left to the consumer — the curve itself is engine-exact."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9_]+', 0)")
        ).alias("tok"),
    ).select("doc_id", F.lower("tok").alias("tok"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    nt = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    max_id = nt.agg(F.max("doc_id").cast("bigint").alias("max_id"))
    decs = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
    deciles = decs.crossJoin(F.broadcast(max_id)).select(
        "decile",
        F.expr("CAST((max_id * decile) DIV 10 AS BIGINT)").alias("cutoff_id"),
    )
    tok_cum = (
        nt.crossJoin(F.broadcast(deciles))
        .filter(F.col("doc_id") <= F.col("cutoff_id"))
        .groupBy("decile", "cutoff_id")
        .agg(F.sum("n_tok").cast("bigint").alias("cum_tokens"))
    )
    voc_cum = (
        firsts.crossJoin(F.broadcast(deciles))
        .filter(F.col("first_doc") <= F.col("cutoff_id"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cum_vocab"))
    )
    return (
        tok_cum.join(voc_cum, "decile")
        .select("decile", "cum_tokens", "cum_vocab")
        .orderBy("decile")
    )


@register(
    "text_ngram_entropy",
    tags=("text", "tokenize", "agg"),
    oracle=r"""
        WITH toks AS (
            SELECT lower(tok) AS tok
            FROM (SELECT unnest(regexp_extract_all(text, '[a-zA-Z0-9_]+'))
                      AS tok
                  FROM documents)
        ),
        uni AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_v FROM toks GROUP BY tok
        ),
        tot AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n FROM uni)
        SELECT tot.n AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               -CAST(CAST(SUM(n_v * CAST(ln(CAST(n_v AS DOUBLE)
                        / CAST(tot.n AS DOUBLE)) AS DECIMAL(12,6)))
                     AS VARCHAR) AS DOUBLE) / CAST(tot.n AS DOUBLE)
                   AS entropy_nats,
               CAST(CAST(SUM(CAST(n_v AS DECIMAL(38,0)) * n_v)
                    AS VARCHAR) AS DOUBLE)
                 / (CAST(tot.n AS DOUBLE) * tot.n) AS simpson_repeat_prob
        FROM uni CROSS JOIN tot
        GROUP BY tot.n
    """,
)
def text_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy and Simpson repeat probability of the
    corpus token distribution — the two diversity numbers a training-
    data mix report leads with (entropy near ln(V) = flat/diverse;
    Simpson = chance two random tokens coincide, the collision view
    of the same skew). Engine-exact via the quantized-log recipe
    (dq_column_entropy precedent): ln(p_v) quantizes to DECIMAL(12,6)
    per distinct token, H = -sum n_v ln_q(p_v) / N is then an exact
    decimal dot product; Simpson is fully exact (sum n_v^2 in
    DECIMAL(38,0) over N^2). One token-key shuffle, vocab-sized
    state."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9_]+', 0)")
        ).alias("tok0")
    ).select(F.lower("tok0").alias("tok"))
    uni = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v")
    )
    tot_w = Window.partitionBy()
    lnq = F.log(
        F.col("n_v").cast("double")
        / F.sum("n_v").over(tot_w).cast("double")
    ).cast("decimal(12,6)")
    terms = uni.select(
        "n_v",
        (F.col("n_v") * lnq).alias("hterm"),
        (F.col("n_v").cast("decimal(38,0)") * F.col("n_v")).alias("sq"),
    )
    return terms.agg(
        F.sum("n_v").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        (
            (-as_d(F.sum("hterm")))
            / F.sum("n_v").cast("double")
        ).alias("entropy_nats"),
        (
            as_d(F.sum("sq").cast("decimal(38,0)"))
            / (
                F.sum("n_v").cast("double")
                * F.sum("n_v").cast("double")
            )
        ).alias("simpson_repeat_prob"),
    )


# ===========================================================================
# Misc wave: vectors / window / dq / sql surface

from finance_etl_spark.functions.vectors import cosine  # noqa: E402

_DOT11 = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM11 = (
    "sqrt(list_sum(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_COS11 = (
    _DOT11.format(a="a.embedding", b="b.embedding")
    + " / ("
    + _NORM11.format(a="a.embedding")
    + " * "
    + _NORM11.format(a="b.embedding")
    + ")"
)


@register(
    "vec_cosine_histogram",
    tags=("vector", "similarity", "agg"),
    oracle=f"""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS i, (a.vec_id * 7 + 13) % n.n AS j
            FROM embeddings a CROSS JOIN n
            WHERE (a.vec_id * 7 + 13) % n.n <> a.vec_id
        ),
        scored AS (
            SELECT {_COS11} AS cos_sim
            FROM pairs
            JOIN embeddings a ON a.vec_id = pairs.i
            JOIN embeddings b ON b.vec_id = pairs.j
        )
        , binned AS (
            SELECT CAST(LEAST(19, FLOOR((cos_sim + 1) * 10)) AS BIGINT)
                       AS bin
            FROM scored
        )
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(bin AS DOUBLE) / 10 - 1 AS bin_lo
        FROM binned GROUP BY bin ORDER BY bin
    """,
)
def vec_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity histogram over a deterministic linear pairing
    of the embedding space (j = (7i+13) mod N, self-pairs dropped) —
    the anisotropy diagnostic of an embedding table: a healthy space
    piles mass near 0; a collapsed one (anisotropic, post-bad-
    finetune) piles near 1 and ruins every cosine threshold
    downstream. One cosine per vector (LINEAR — the pairing replaces
    any quadratic sample), computed as the sequential-fold exact
    double cosine both engines share bit-identically (vectors.py
    contract); binning floors into 20 fixed buckets of width 0.1.
    Scale shape: one self-join on the derived key, no shuffle beyond
    the id join."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs = (
        e.crossJoin(F.broadcast(n))
        .select(
            F.col("vec_id").alias("i"),
            ((F.col("vec_id") * 7 + 13) % F.col("n")).alias("j"),
        )
        .filter(F.col("j") != F.col("i"))
    )
    a = e.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    scored = (
        pairs.join(a, "i")
        .join(b, "j")
        .select(cosine("ea", "eb").alias("cos_sim"))
    )
    bin_ = F.least(F.lit(19), F.floor((F.col("cos_sim") + 1) * 10)).cast(
        "bigint"
    )
    return (
        scored.groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "bin",
            "n_pairs",
            (F.col("bin").cast("double") / 10 - 1).alias("bin_lo"),
        )
        .orderBy("bin")
    )


@register(
    "window_weighted_moving_avg",
    tags=("window", "timeseries"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment, d,
                   CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM daily
        ),
        lagged AS (
            SELECT segment, d, v,
                   {", ".join(
                       f"LAG(v, {k}) OVER (PARTITION BY segment ORDER BY d)"
                       f" AS v{k}"
                       for k in range(1, 7)
                   )}
            FROM cents
        )
        SELECT segment, d,
               CAST(v AS DOUBLE) / 100 AS value,
               CASE WHEN v6 IS NOT NULL THEN
                 CAST(7 * v + 6 * v1 + 5 * v2 + 4 * v3 + 3 * v4 + 2 * v5
                      + 1 * v6 AS DOUBLE) / 28 / 100
               END AS wma7
        FROM lagged
        ORDER BY segment, d
    """,
)
def window_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted 7-day moving average per segment (weights
    7..1, newest heaviest) — the WMA that sits between the flat SMA
    and ts_ewma_smooth's exponential decay in every charting stack.
    Implemented as SIX static lags + one exact integer dot product
    per row (no frame aggregation, no fold): weights x cents stay
    integers, the single division by 2800 happens at the double edge,
    and rows without a full 7-day history are NULL on both engines.
    Per-segment calendar-bounded windows; corpus work is the daily
    agg."""
    daily = seg_daily(spark, sf_dir)
    cents = daily.select(
        "segment",
        "d",
        (F.col("x").cast("decimal(18,2)") * 100).cast("bigint").alias("v"),
    )
    w = Window.partitionBy("segment").orderBy("d")
    lagged = cents.select(
        "segment",
        "d",
        "v",
        *[F.lag("v", k).over(w).alias(f"v{k}") for k in range(1, 7)],
    )
    wma_num = (
        7 * F.col("v")
        + 6 * F.col("v1")
        + 5 * F.col("v2")
        + 4 * F.col("v3")
        + 3 * F.col("v4")
        + 2 * F.col("v5")
        + 1 * F.col("v6")
    )
    return lagged.select(
        "segment",
        "d",
        (F.col("v").cast("double") / 100).alias("value"),
        F.when(
            F.col("v6").isNotNull(),
            wma_num.cast("double") / 28 / 100,
        ).alias("wma7"),
    ).orderBy("segment", "d")


@register(
    "dq_sequential_gap_audit",
    tags=("dq", "window", "agg"),
    oracle="""
        WITH keys AS (
            SELECT DISTINCT o_orderkey AS k FROM orders
        ),
        bkt AS (
            SELECT k, k // 4096 AS b FROM keys
        ),
        within AS (
            SELECT b, k,
                   k - LAG(k) OVER (PARTITION BY b ORDER BY k) AS gap
            FROM bkt
        ),
        bstats AS (
            SELECT b, CAST(MIN(k) AS BIGINT) AS bmin,
                   CAST(MAX(k) AS BIGINT) AS bmax
            FROM bkt GROUP BY b
        ),
        cross_gaps AS (
            SELECT bmin - LAG(bmax) OVER (ORDER BY b) AS gap
            FROM bstats
        ),
        allgaps AS (
            SELECT gap FROM within WHERE gap IS NOT NULL
            UNION ALL
            SELECT gap FROM cross_gaps WHERE gap IS NOT NULL
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MIN(k) AS BIGINT) AS k_min,
                   CAST(MAX(k) AS BIGINT) AS k_max
            FROM keys
        )
        SELECT tot.n_keys, tot.k_min, tot.k_max,
               CAST(tot.k_max - tot.k_min + 1 - tot.n_keys AS BIGINT)
                   AS missing_keys,
               CAST((SELECT MAX(gap) FROM allgaps) - 1 AS BIGINT)
                   AS largest_run_missing,
               CAST(tot.n_keys AS DOUBLE)
                 / (tot.k_max - tot.k_min + 1) AS coverage
        FROM tot
    """,
)
def dq_sequential_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit of the order-key space: how many keys are
    missing between min and max, the longest missing RUN, and the
    coverage ratio — the invoice-number completeness check every
    audit asks for (a long missing run = a lost extract batch, not
    TPC-H's by-design sparseness). The largest gap uses bucket+carry:
    within-bucket LAG gaps on 4096-key buckets plus the O(buckets)
    cross-boundary gaps from per-bucket min/max — no unpartitioned
    corpus-scale window anywhere. All exact integers; coverage is one
    edge division (k_max >= k_min by non-emptiness)."""
    o = load_table(spark, sf_dir, "orders")
    keys = o.select(F.col("o_orderkey").alias("k")).distinct()
    bkt = keys.withColumn("b", F.floor(F.col("k") / F.lit(4096)))
    w_in = Window.partitionBy("b").orderBy("k")
    within = bkt.select(
        (F.col("k") - F.lag("k").over(w_in)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    bstats = bkt.groupBy("b").agg(
        F.min("k").cast("bigint").alias("bmin"),
        F.max("k").cast("bigint").alias("bmax"),
    )
    w_b = Window.orderBy("b")
    cross_gaps = bstats.select(
        (F.col("bmin") - F.lag("bmax").over(w_b)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    allgaps = within.unionByName(cross_gaps)
    maxgap = allgaps.agg(F.max("gap").alias("maxgap"))
    tot = keys.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.min("k").cast("bigint").alias("k_min"),
        F.max("k").cast("bigint").alias("k_max"),
    )
    return tot.crossJoin(F.broadcast(maxgap)).select(
        "n_keys",
        "k_min",
        "k_max",
        (F.col("k_max") - F.col("k_min") + 1 - F.col("n_keys"))
        .cast("bigint")
        .alias("missing_keys"),
        (F.col("maxgap") - 1).cast("bigint").alias("largest_run_missing"),
        (
            F.col("n_keys").cast("double")
            / (F.col("k_max") - F.col("k_min") + 1)
        ).alias("coverage"),
    )


@register(
    "sql_values_inline_table",
    tags=("sql", "join"),
    oracle="""
        WITH tiers(priority, tier, weight) AS (
            VALUES ('1-URGENT', 'expedite', 3),
                   ('2-HIGH', 'expedite', 2),
                   ('3-MEDIUM', 'standard', 1),
                   ('4-NOT SPECIFIED', 'standard', 1),
                   ('5-LOW', 'economy', 1)
        )
        SELECT t.tier,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(t.weight) AS BIGINT) AS weighted_orders
        FROM orders o JOIN tiers t ON t.priority = o.o_orderpriority
        GROUP BY t.tier
        ORDER BY t.tier
    """,
)
def sql_values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI VALUES inline-table surface: a literal 5-row tier
    dimension declared in SQL (named columns, no temp view, no
    createDataFrame) broadcast-joined to orders — the idiomatic way to
    ship a tiny hand-maintained mapping inside a query, exercised
    through spark.sql VALUES exactly as a SQL-first user would write
    it. Counts exact; the join is a broadcast hash join against the
    inline relation (Catalyst folds VALUES to a LocalRelation, no
    scan)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("r11_orders_v")
    return spark.sql(
        """
        WITH tiers(priority, tier, weight) AS (
            VALUES ('1-URGENT', 'expedite', 3),
                   ('2-HIGH', 'expedite', 2),
                   ('3-MEDIUM', 'standard', 1),
                   ('4-NOT SPECIFIED', 'standard', 1),
                   ('5-LOW', 'economy', 1)
        )
        SELECT t.tier,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(t.weight) AS BIGINT) AS weighted_orders
        FROM r11_orders_v o JOIN tiers t ON t.priority = o.o_orderpriority
        GROUP BY t.tier
        ORDER BY t.tier
        """
    )


# ===========================================================================
# Round-11 continuation wave (same session, same house rules): four
# more classical nonparametric tests, a cross-series CCF, portfolio
# pain/active-share/Treynor, neighbor-degree mixing, corpus JSD and a
# Tukey-fence audit — every one hash-oracled on arrival.


@register(
    "stat_conover_squared_ranks",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment, d,
                   CAST(x * 100 AS BIGINT) AS v
            FROM daily
        ),
        rn AS (
            SELECT segment, v,
                   ROW_NUMBER() OVER (PARTITION BY segment ORDER BY v)
                       AS rnk,
                   COUNT(*) OVER (PARTITION BY segment) AS n_g
            FROM cents
        ),
        med AS (
            SELECT segment,
                   CAST(MIN(CASE WHEN rnk = (n_g + 1) // 2 THEN v END)
                        AS BIGINT) AS med_v
            FROM rn GROUP BY segment
        ),
        dev AS (
            SELECT c.segment, ABS(c.v - med.med_v) AS a
            FROM cents c JOIN med ON med.segment = c.segment
        ),
        u AS (
            SELECT segment,
                   2 * (RANK() OVER (ORDER BY a))
                     + (COUNT(*) OVER (PARTITION BY a)) - 1 AS u
            FROM dev
        ),
        g AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(CAST(u AS DECIMAL(15,0)) * u) AS DECIMAL(38,0))
                       AS s_g,
                   CAST(SUM(CAST(CAST(u AS DECIMAL(15,0)) * u
                                 AS DECIMAL(15,0))
                            * CAST(CAST(u AS DECIMAL(15,0)) * u
                                   AS DECIMAL(15,0)))
                        AS DECIMAL(38,0)) AS s4_g
            FROM u GROUP BY segment
        ),
        tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(CAST(SUM(s_g) AS VARCHAR) AS DOUBLE) AS ss,
                   CAST(CAST(SUM(s4_g) AS VARCHAR) AS DOUBLE) AS s4
            FROM g
        )
        SELECT tot.n AS n_days, tot.k, (tot.k - 1) AS df,
               CASE WHEN tot.s4 - tot.ss * tot.ss / CAST(tot.n AS DOUBLE)
                         > 0 THEN
                 (CAST(tot.n AS DOUBLE) - 1)
                 * (list_reduce(
                        list(CAST(CAST(g.s_g AS VARCHAR) AS DOUBLE)
                             * CAST(CAST(g.s_g AS VARCHAR) AS DOUBLE)
                             / CAST(g.n_g AS DOUBLE)
                             ORDER BY g.segment),
                        (acc, x) -> acc + x)
                    - tot.ss * tot.ss / CAST(tot.n AS DOUBLE))
                 / (tot.s4 - tot.ss * tot.ss / CAST(tot.n AS DOUBLE))
               END AS t_stat
        FROM g CROSS JOIN tot
        GROUP BY tot.n, tot.k, tot.ss, tot.s4
    """,
)
def stat_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conover squared-ranks test for equal SCALE across the five
    segments' daily revenue series (the rank-based Levene alternative
    that needs no normality): deviations are |x - segment lower
    median| in exact integer cents (the median is an exact order
    statistic at rank ceil(n/2) from a per-segment row_number window),
    pooled midranks use the doubled-midrank identity u = 2*rank +
    ties - 1 so every rank is an exact integer, and the squared-rank
    sums S_g = sum(u^2) / fourth-moment sum(u^4) accumulate in exact
    DECIMAL(38,0). T = (N-1)(sum_g S_g^2/n_g - S^2/N)/(sum u^4 - S^2/N)
    assembles once at the double edge, folding the k=5 per-group terms
    in PINNED segment order (S_g <= 4N^3 ~ 7e12 at the calendar-bounded
    N, exact in a double before squaring). The pooled rank window is
    unpartitioned but rides the calendar-bounded daily relation (~5
    segments x days), never the corpus — the documented bucket+carry
    exemption. Degenerate all-deviations-equal input (u^4 sum ==
    S^2/N) NULLs t_stat identically on both engines."""
    daily = seg_daily(spark, sf_dir)
    cents = daily.select(
        "segment", "d", (F.col("x") * 100).cast("bigint").alias("v")
    )
    w_rn = Window.partitionBy("segment").orderBy("v")
    w_ng = Window.partitionBy("segment")
    rn = cents.select(
        "segment",
        "v",
        F.row_number().over(w_rn).alias("rnk"),
        F.count(F.lit(1)).over(w_ng).alias("n_g"),
    )
    med = rn.groupBy("segment").agg(
        F.min(
            F.when(
                F.col("rnk") == F.expr("CAST((n_g + 1) DIV 2 AS BIGINT)"),
                F.col("v"),
            )
        )
        .cast("bigint")
        .alias("med_v")
    )
    dev = cents.join(F.broadcast(med), "segment").select(
        "segment", F.abs(F.col("v") - F.col("med_v")).alias("a")
    )
    w_r = Window.orderBy("a")
    w_t = Window.partitionBy("a")
    u = dev.select(
        "segment",
        (
            2 * F.rank().over(w_r) + F.count(F.lit(1)).over(w_t) - 1
        ).alias("u"),
    )
    usq = (F.col("u").cast("decimal(15,0)") * F.col("u")).cast(
        "decimal(15,0)"
    )
    g = u.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(usq).cast("decimal(38,0)").alias("s_g"),
        F.sum(usq * usq).cast("decimal(38,0)").alias("s4_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        as_d(F.sum("s_g").cast("decimal(38,0)")).alias("ss"),
        as_d(F.sum("s4_g").cast("decimal(38,0)")).alias("s4"),
    )
    n_d = F.col("n").cast("double")
    mean_sq = F.col("ss") * F.col("ss") / n_d
    term = (
        as_d(F.col("s_g")) * as_d(F.col("s_g")) / F.col("n_g").cast("double")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("n", "k", "ss", "s4")
        .agg(ordered_fold_sum(F.col("segment"), term).alias("num_raw"))
        .select(
            F.col("n").alias("n_days"),
            "k",
            (F.col("k") - 1).alias("df"),
            F.when(
                F.col("s4") - mean_sq > 0,
                (n_d - 1)
                * (F.col("num_raw") - mean_sq)
                / (F.col("s4") - mean_sq),
            ).alias("t_stat"),
        )
    )


# ---------------------------------------------------------------------------
# stat_siegel_tukey — two-sample scale test by alternating extreme
# ranks


@register(
    "stat_siegel_tukey",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        pooled AS (
            SELECT segment, d, CAST(x * 100 AS BIGINT) AS v
            FROM daily
            WHERE segment IN ('BUILDING', 'MACHINERY')
        ),
        pos AS (
            SELECT segment,
                   ROW_NUMBER() OVER (ORDER BY v, d, segment) AS i,
                   COUNT(*) OVER () AS nn
            FROM pooled
        ),
        kept AS (
            SELECT segment, i, nn,
                   CASE WHEN i <= nn // 2
                        THEN 2 * i - (i % 2)
                        ELSE 2 * (nn + 1 - i) - ((nn - i) % 2)
                   END AS st
            FROM pos
            WHERE NOT (nn % 2 = 1 AND i = (nn + 1) // 2)
        ),
        s AS (
            SELECT CAST(SUM(CASE WHEN segment = 'BUILDING' THEN 1
                                 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN segment = 'BUILDING' THEN 0
                                 ELSE 1 END) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN segment = 'BUILDING' THEN st
                                 ELSE 0 END) AS BIGINT) AS w1
            FROM kept
        )
        SELECT n1 AS n_building, n0 AS n_machinery, w1 AS w_rank_sum,
               CASE WHEN n1 > 0 AND n0 > 0 THEN
                 CAST(2 * w1 - n1 * (n1 + n0 + 1) AS DOUBLE)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1)
                        / 3)
               END AS z_scale
        FROM s
    """,
)
def stat_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey test for equal dispersion of the BUILDING vs
    MACHINERY daily revenue series: pool both series, sort ascending,
    and hand out ranks from the OUTSIDE IN (1 to the smallest, 2-3 to
    the two largest, 4-5 to the next two smallest, ...) so a group
    with fatter tails collects systematically smaller ranks — then the
    rank sum is exactly a Mann-Whitney W and z = (2W - n1(N+1)) /
    sqrt(n1*n0*(N+1)/3). The alternating assignment is pure integer
    arithmetic on the ascending row_number i: bottom half st =
    2i - (i mod 2), top half (j = N+1-i from the top) st =
    2j - ((j+1) mod 2); an odd pooled count drops the middle value
    (the classical convention). Classical ST is AMBIGUOUS under ties —
    this operator PINS the total order (v, d, segment), documented as
    part of the contract (the same pinned-tiebreak route as
    window_topk_per_group). The pooled window is unpartitioned but
    rides the calendar-bounded two-segment daily relation. n1, n0 >= 1
    at every SF by fixture (both segments ship in region 0 data);
    the z denominator is guarded anyway, identically on both
    engines."""
    daily = seg_daily(spark, sf_dir)
    pooled = daily.filter(
        F.col("segment").isin("BUILDING", "MACHINERY")
    ).select("segment", "d", (F.col("x") * 100).cast("bigint").alias("v"))
    w_i = Window.orderBy("v", "d", "segment")
    w_all = Window.partitionBy()
    pos = pooled.select(
        "segment",
        F.row_number().over(w_i).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("nn"),
    )
    j = F.col("nn") + 1 - F.col("i")
    kept = pos.filter(
        ~(
            (F.col("nn") % 2 == 1)
            & (F.col("i") == (F.col("nn") + 1) / 2)
        )
    ).select(
        "segment",
        F.when(
            F.col("i") <= F.expr("CAST(nn DIV 2 AS BIGINT)"),
            2 * F.col("i") - (F.col("i") % 2),
        )
        .otherwise(2 * j - ((F.col("nn") - F.col("i")) % 2))
        .alias("st"),
    )
    s = kept.agg(
        F.sum(F.when(F.col("segment") == "BUILDING", 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("segment") == "BUILDING", 0).otherwise(1))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("segment") == "BUILDING", F.col("st")).otherwise(0))
        .cast("bigint")
        .alias("w1"),
    )
    n1_d = F.col("n1").cast("double")
    n0_d = F.col("n0").cast("double")
    return s.select(
        F.col("n1").alias("n_building"),
        F.col("n0").alias("n_machinery"),
        F.col("w1").alias("w_rank_sum"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            (2 * F.col("w1") - F.col("n1") * (F.col("n1") + F.col("n0") + 1))
            .cast("double")
            / F.sqrt(n1_d * n0_d * (n1_d + n0_d + 1) / 3),
        ).alias("z_scale"),
    )


# ===========================================================================
# Round-11 continuation, part 2 (the rest of the wave the session
# snapshot promised): sign test + Quade (the Theil-Sen slot was
# already covered by ts_theil_sen, so the planned stat_theil_sen was
# dropped as a duplicate — commit 73de5b7 — and Quade took its place,
# closing the classical nonparametric set), cross-series CCF,
# portfolio pain / active-share / Treynor, neighbor-degree mixing,
# corpus JSD, and the Tukey-fence audit — every one hash-oracled on
# arrival.


# ---------------------------------------------------------------------------
# stat_sign_test — paired sign test on the two-segment daily series


@register(
    "stat_sign_test",
    tags=("stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        pairs AS (
            SELECT b.x AS xb, m.x AS xm
            FROM (SELECT d, x FROM daily WHERE segment = 'BUILDING') b
            JOIN (SELECT d, x FROM daily WHERE segment = 'MACHINERY') m
              ON m.d = b.d
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CASE WHEN xb > xm THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos,
                   CAST(SUM(CASE WHEN xb < xm THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_neg
            FROM pairs
        )
        SELECT n_pairs, n_pos, n_neg,
               CASE WHEN n_pos + n_neg > 0 THEN
                 CAST(n_pos - n_neg AS DOUBLE)
                 / sqrt(CAST(n_pos + n_neg AS DOUBLE))
               END AS z_sign
        FROM s
    """,
)
def stat_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test: on days where BOTH the BUILDING and MACHINERY
    segments traded, does one systematically out-earn the other?
    Counts sign(x_b - x_m) over date-matched pairs (exact DECIMAL
    comparison, ties dropped per the classical definition) and forms
    the normal approximation z = (n+ - n-) / sqrt(n+ + n-) — the
    median-difference test that needs no distributional assumption at
    all. Everything is integer until the one guarded z expression;
    the date-key join runs on the calendar-bounded daily relation, so
    corpus-scale work is only the shared daily aggregation."""
    daily = seg_daily(spark, sf_dir)
    b = daily.filter(F.col("segment") == "BUILDING").select(
        "d", F.col("x").alias("xb")
    )
    m = daily.filter(F.col("segment") == "MACHINERY").select(
        "d", F.col("x").alias("xm")
    )
    s = b.join(m, "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("xb") > F.col("xm"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("xb") < F.col("xm"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
    )
    nz = F.col("n_pos") + F.col("n_neg")
    return s.select(
        "n_pairs",
        "n_pos",
        "n_neg",
        F.when(
            nz > 0,
            (F.col("n_pos") - F.col("n_neg")).cast("double")
            / F.sqrt(nz.cast("double")),
        ).alias("z_sign"),
    )


# ---------------------------------------------------------------------------
# stat_quade_test — range-weighted blocked rank test (Quade 1979)


@register(
    "stat_quade_test",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment, date_trunc('month', d) AS mth,
                   CAST(SUM(CAST(x * 100 AS BIGINT)) AS BIGINT) AS v
            FROM daily GROUP BY 1, 2
        ),
        kk AS (
            SELECT CAST(COUNT(DISTINCT segment) AS BIGINT) AS k FROM cents
        ),
        fullm AS (
            SELECT mth FROM cents CROSS JOIN kk
            GROUP BY mth, kk.k HAVING COUNT(*) = MAX(kk.k)
        ),
        blocks AS (
            SELECT c.segment, c.mth, c.v
            FROM cents c JOIN fullm f ON f.mth = c.mth
        ),
        u AS (
            SELECT segment, mth,
                   2 * (RANK() OVER (PARTITION BY mth ORDER BY v))
                     + (COUNT(*) OVER (PARTITION BY mth, v)) - 1 AS u
            FROM blocks
        ),
        rng AS (
            SELECT mth, CAST(MAX(v) - MIN(v) AS BIGINT) AS dd
            FROM blocks GROUP BY mth
        ),
        q AS (
            SELECT mth,
                   2 * (RANK() OVER (ORDER BY dd))
                     + (COUNT(*) OVER (PARTITION BY dd)) - 1 AS q
            FROM rng
        ),
        m AS (
            SELECT u.segment,
                   CAST(q.q * (u.u - kk.k - 1) AS BIGINT) AS m
            FROM u JOIN q ON q.mth = u.mth CROSS JOIN kk
        ),
        sj AS (
            SELECT segment, CAST(SUM(m) AS BIGINT) AS sj,
                   CAST(SUM(CAST(m AS DECIMAL(19,0)) * m) AS DECIMAL(30,0))
                       AS a2_g
            FROM m GROUP BY segment
        ),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rng),
        tot AS (
            SELECT CAST(SUM(CAST(sj AS DECIMAL(14,0)) * sj) AS DECIMAL(30,0))
                       AS bnum,
                   CAST(SUM(a2_g) AS DECIMAL(30,0)) AS a2
            FROM sj
        )
        SELECT nb.n AS n_blocks, kk.k, (kk.k - 1) AS df1,
               (nb.n - 1) * (kk.k - 1) AS df2,
               CASE WHEN CAST(nb.n AS DECIMAL(5,0)) * tot.a2 - tot.bnum <> 0
               THEN
                 (CAST(nb.n - 1 AS DOUBLE)
                  * CAST(CAST(tot.bnum AS VARCHAR) AS DOUBLE))
                 / CAST(CAST(CAST(nb.n AS DECIMAL(5,0)) * tot.a2 - tot.bnum
                        AS VARCHAR) AS DOUBLE)
               END AS t3_stat
        FROM tot CROSS JOIN nb CROSS JOIN kk
    """,
)
def stat_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test (Quade 1979) for treatment differences across the
    five market segments with MONTHS as blocks: the range-weighted
    Friedman — blocks whose five monthly revenues spread widest carry
    the most information, so each month's within-block ranks are
    weighted by the rank of the month's range. Only COMPLETE months
    (all k segments present — the guard stat_friedman_test's advice
    note asked for, here structural) enter. Exactness: within-month
    and range ranks both use the doubled-midrank integer identity
    (u = 2*rank + ties - 1), so the scaled score m_ij = q_i*(u_ij-k-1)
    = 4*S_ij is a pure BIGINT; A2 = sum m^2 and B_num = sum_j S_j^2
    accumulate in DECIMAL(30,0); T3 = (n-1)*B_num / (n*A2 - B_num) is
    invariant to the 4x scaling and assembles at one guarded double
    edge (all-scores-equal degenerates NULL identically). The
    unpartitioned range-rank window rides the <= 84-month bounded
    relation; corpus-scale work is only the shared daily agg."""
    daily = seg_daily(spark, sf_dir)
    cents = daily.groupBy(
        "segment", F.trunc("d", "month").alias("mth")
    ).agg(
        F.sum((F.col("x") * 100).cast("bigint")).cast("bigint").alias("v")
    )
    kk = cents.agg(
        F.countDistinct("segment").cast("bigint").alias("k")
    )
    fullm = (
        cents.crossJoin(F.broadcast(kk))
        .groupBy("mth", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == F.col("k"))
        .select("mth")
    )
    blocks = cents.join(F.broadcast(fullm), "mth").persist()
    wb = Window.partitionBy("mth")
    u = blocks.select(
        "segment",
        "mth",
        (
            2 * F.rank().over(wb.orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("mth", "v"))
            - 1
        ).alias("u"),
    )
    rng = blocks.groupBy("mth").agg(
        (F.max("v") - F.min("v")).cast("bigint").alias("dd")
    )
    q = rng.select(
        "mth",
        (
            2 * F.rank().over(Window.orderBy("dd"))
            + F.count(F.lit(1)).over(Window.partitionBy("dd"))
            - 1
        ).alias("q"),
    )
    m = (
        u.join(F.broadcast(q), "mth")
        .crossJoin(F.broadcast(kk))
        .select(
            "segment",
            (F.col("q") * (F.col("u") - F.col("k") - 1))
            .cast("bigint")
            .alias("m"),
        )
    )
    sj = m.groupBy("segment").agg(
        F.sum("m").cast("bigint").alias("sj"),
        F.sum(F.col("m").cast("decimal(19,0)") * F.col("m"))
        .cast("decimal(30,0)")
        .alias("a2_g"),
    )
    nb = rng.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = sj.agg(
        F.sum(F.col("sj").cast("decimal(14,0)") * F.col("sj"))
        .cast("decimal(30,0)")
        .alias("bnum"),
        F.sum("a2_g").cast("decimal(30,0)").alias("a2"),
    )
    den = F.col("n").cast("decimal(5,0)") * F.col("a2") - F.col("bnum")
    return (
        tot.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(kk))
        .select(
            F.col("n").alias("n_blocks"),
            "k",
            (F.col("k") - 1).alias("df1"),
            ((F.col("n") - 1) * (F.col("k") - 1)).alias("df2"),
            F.when(
                den != 0,
                (F.col("n") - 1).cast("double") * as_d(F.col("bnum"))
                / as_d(den),
            ).alias("t3_stat"),
        )
    )


# ---------------------------------------------------------------------------
# dq_tukey_fences — IQR outlier audit, exact order-statistic quartiles


@register(
    "dq_tukey_fences",
    tags=("dq", "window", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment, d, CAST(x * 100 AS BIGINT) AS v FROM daily
        ),
        rn AS (
            SELECT segment, v,
                   ROW_NUMBER() OVER (PARTITION BY segment
                                      ORDER BY v, d) AS r,
                   COUNT(*) OVER (PARTITION BY segment) AS n_g
            FROM cents
        ),
        q AS (
            SELECT segment, CAST(n_g AS BIGINT) AS n_days,
                   CAST(MIN(CASE WHEN r = (n_g + 3) // 4 THEN v END)
                        AS BIGINT) AS q1,
                   CAST(MIN(CASE WHEN r = (3 * n_g + 3) // 4 THEN v END)
                        AS BIGINT) AS q3
            FROM rn GROUP BY segment, n_g
        )
        SELECT q.segment, q.n_days, q.q1 AS q1_cents, q.q3 AS q3_cents,
               q.q3 - q.q1 AS iqr_cents,
               CAST(SUM(CASE WHEN 2 * c.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN 2 * c.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        FROM q JOIN cents c ON c.segment = q.segment
        GROUP BY q.segment, q.n_days, q.q1, q.q3
        ORDER BY q.segment
    """,
)
def dq_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of each segment's daily revenue: days
    outside [Q1 - 1.5*IQR, Q3 + 1.5*IQR]. Quartiles are PINNED exact
    order statistics — Q1 = the ceil(n/4)-th smallest, Q3 = the
    ceil(3n/4)-th smallest of the cents-integer values (no
    interpolation, so no float and no engine-specific percentile
    convention; the classical boxplot uses interpolated hinges, this
    operator's convention is part of its declared contract). The
    1.5*IQR fence comparison is doubled on both sides (2v vs 2Q1-3IQR)
    to stay in integers. Per-segment rank windows ride the calendar-
    bounded daily relation; the fence count is one broadcast join back
    over the same bounded rows."""
    daily = seg_daily(spark, sf_dir)
    cents = daily.select(
        "segment", "d", (F.col("x") * 100).cast("bigint").alias("v")
    )
    wseg = Window.partitionBy("segment")
    rn = cents.select(
        "segment",
        "v",
        F.row_number().over(wseg.orderBy("v", "d")).alias("r"),
        F.count(F.lit(1)).over(wseg).alias("n_g"),
    )
    q = rn.groupBy("segment", "n_g").agg(
        F.min(
            F.when(F.col("r") == F.floor((F.col("n_g") + 3) / 4), F.col("v"))
        )
        .cast("bigint")
        .alias("q1"),
        F.min(
            F.when(
                F.col("r") == F.floor((3 * F.col("n_g") + 3) / 4), F.col("v")
            )
        )
        .cast("bigint")
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        cents.join(F.broadcast(q), "segment")
        .groupBy("segment", "n_g", "q1", "q3")
        .agg(
            F.sum(
                F.when(2 * F.col("v") < 2 * F.col("q1") - 3 * iqr, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_low"),
            F.sum(
                F.when(2 * F.col("v") > 2 * F.col("q3") + 3 * iqr, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_high"),
        )
        .select(
            "segment",
            F.col("n_g").cast("bigint").alias("n_days"),
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            iqr.alias("iqr_cents"),
            "n_low",
            "n_high",
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# ts_cross_correlation — lead/lag CCF between two return series

_CCF_RET_SQL = f"""
            SELECT segment, d,
                   {o_ret_q9('x', 'xp')} AS r
            FROM (SELECT segment, d, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily
                  WHERE segment IN ('BUILDING', 'MACHINERY'))
            WHERE xp IS NOT NULL
"""


@register(
    "ts_cross_correlation",
    tags=("timeseries", "window", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        rets AS ({_CCF_RET_SQL}),
        lags AS (SELECT unnest(range(0, 8)) AS lag),
        j AS (
            SELECT l.lag, b.r AS rb, m.r AS rm
            FROM lags l
            JOIN (SELECT d, r FROM rets WHERE segment = 'BUILDING') b ON TRUE
            JOIN (SELECT d, r FROM rets WHERE segment = 'MACHINERY') m
              ON m.d = b.d - CAST(l.lag AS INTEGER)
        ),
        s AS (
            SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(rb) AS BIGINT) AS sb,
                   CAST(SUM(rm) AS BIGINT) AS sm,
                   CAST(CAST(SUM(CAST(rb AS DECIMAL(19,0)) * rb) AS VARCHAR)
                        AS DOUBLE) AS sbb,
                   CAST(CAST(SUM(CAST(rm AS DECIMAL(19,0)) * rm) AS VARCHAR)
                        AS DOUBLE) AS smm,
                   CAST(CAST(SUM(CAST(rb AS DECIMAL(19,0)) * rm) AS VARCHAR)
                        AS DOUBLE) AS sbm
            FROM j GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
               CASE WHEN CAST(n AS DOUBLE) * sbb
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
                     AND CAST(n AS DOUBLE) * smm
                           - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) > 0 THEN
                 (CAST(n AS DOUBLE) * sbm
                  - CAST(sb AS DOUBLE) * CAST(sm AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * sbb
                         - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * smm
                           - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)))
               END AS ccf
        FROM s ORDER BY lag
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the BUILDING and MACHINERY
    daily revenue return series at lags 0..7: does one segment's shock
    show up in the other a few days later? CCF(l) = corr(r_b(d),
    r_m(d-l)) — returns floor-quantize to q9 BIGINTs off exact decimal
    daily sums (the fin_capm_beta recipe), each lag's five sufficient
    sums are exact integer/DECIMAL arithmetic via a computed-key
    equi-join (b.d - l = m.d; never a non-equi range join), and the
    correlation assembles in one guarded double expression per lag
    (degenerate variance NULLs it identically on both engines).
    Scale: the lag grid is a broadcast 8-row relation crossed with the
    calendar-bounded return series — corpus work is only the shared
    daily agg."""
    daily = seg_daily(spark, sf_dir).persist()
    ws = Window.partitionBy("segment").orderBy("d")
    rets = (
        daily.filter(F.col("segment").isin("BUILDING", "MACHINERY"))
        .withColumn("xp", F.lag("x").over(ws))
        .filter(F.col("xp").isNotNull())
        .select(
            "segment",
            "d",
            ret_q9(F.col("x"), F.col("xp")).alias("r"),
        )
    )
    b = rets.filter(F.col("segment") == "BUILDING").select(
        "d", F.col("r").alias("rb")
    )
    m = rets.filter(F.col("segment") == "MACHINERY").select(
        F.col("d").alias("dm"), F.col("r").alias("rm")
    )
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    j = (
        b.crossJoin(F.broadcast(lags))
        .withColumn("dkey", F.date_sub(F.col("d"), F.col("lag")))
        .join(F.broadcast(m), F.col("dkey") == F.col("dm"))
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rb").cast("bigint").alias("sb"),
        F.sum("rm").cast("bigint").alias("sm"),
        as_d(F.sum(F.col("rb").cast("decimal(19,0)") * F.col("rb"))).alias("sbb"),
        as_d(F.sum(F.col("rm").cast("decimal(19,0)") * F.col("rm"))).alias("smm"),
        as_d(F.sum(F.col("rb").cast("decimal(19,0)") * F.col("rm"))).alias("sbm"),
    )
    n_d = F.col("n").cast("double")
    sb_d = F.col("sb").cast("double")
    sm_d = F.col("sm").cast("double")
    var_b = n_d * F.col("sbb") - sb_d * sb_d
    var_m = n_d * F.col("smm") - sm_d * sm_d
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when(
            (var_b > 0) & (var_m > 0),
            (n_d * F.col("sbm") - sb_d * sm_d)
            / (F.sqrt(var_b) * F.sqrt(var_m)),
        ).alias("ccf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# fin_pain_index — mean drawdown + underwater fraction per segment


@register(
    "fin_pain_index",
    tags=("finance", "window", "risk"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        dd AS (
            SELECT segment,
                   {o_dd_q6('mx', 'x')} AS ddq
            FROM (
                SELECT segment, x,
                       MAX(x) OVER (PARTITION BY segment ORDER BY d
                                    ROWS UNBOUNDED PRECEDING) AS mx
                FROM daily
            )
        )
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(ddq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
                   AS pain_index_pct,
               CAST(SUM(CASE WHEN ddq > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS underwater_frac,
               CAST(MAX(ddq) AS DOUBLE) / 1e6 AS max_dd_pct
        FROM dd GROUP BY segment ORDER BY segment
    """,
)
def fin_pain_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pain index per market segment: the MEAN percentage drawdown
    from the running revenue peak (vs fin_ulcer_index's RMS and
    fin_max_drawdown's single trough — the pain index weights long
    shallow slumps linearly, the metric behind the pain ratio in
    fund reporting), plus the underwater fraction (share of days
    below the prior peak). Same q6 floor-quantized drawdown BIGINTs
    as the ulcer recipe, so the mean is an exact integer sum with one
    double division at the edge and the underwater count is pure
    integer. Per-segment windows over calendar-bounded rows; corpus
    work is the one daily agg."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    mx = F.max("x").over(w)
    dd = daily.select(
        "segment",
        dd_q6(mx, F.col("x"))
        .alias("ddq"),
    )
    n_d = F.count(F.lit(1)).cast("double")
    return (
        dd.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (F.sum("ddq").cast("double") / n_d / F.lit(1e6)).alias(
                "pain_index_pct"
            ),
            (
                F.sum(F.when(F.col("ddq") > 0, 1).otherwise(0)).cast("double")
                / n_d
            ).alias("underwater_frac"),
            (F.max("ddq").cast("double") / F.lit(1e6)).alias("max_dd_pct"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# fin_treynor_ratio — mean return per unit of market beta


@register(
    "fin_treynor_ratio",
    tags=("finance", "window", "stats"),
    oracle=f"""
        WITH {MARKET_MODEL_SQL}
        SELECT segment, n,
               CASE WHEN CAST(n AS DOUBLE) * smm
                         - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) > 0
                     AND CAST(n AS DOUBLE) * srm
                         - CAST(sr AS DOUBLE) * CAST(sm AS DOUBLE) <> 0 THEN
                 (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) / 1e9)
                 / ((CAST(n AS DOUBLE) * srm
                     - CAST(sr AS DOUBLE) * CAST(sm AS DOUBLE))
                    / (CAST(n AS DOUBLE) * smm
                       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)))
               END AS treynor_daily
        FROM s ORDER BY segment
    """,
)
def fin_treynor_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treynor ratio per segment: mean daily return per unit of CAPM
    market beta — reward per unit of SYSTEMATIC (not total) risk, the
    companion to fin_sharpe_sortino that uses fin_capm_beta's exact
    sufficient statistics (five integer/DECIMAL sums off the shared q9
    return quantization; risk-free pinned at 0, documented). The ratio
    assembles in ONE guarded double expression — zero market variance
    or exactly-zero beta NULLs it identically on both engines (the
    beta-zero guard compares the covariance numerator, which is exact
    before the one double division). Corpus work: one broadcast-join
    daily agg; everything after is calendar-bounded."""
    daily = seg_daily(spark, sf_dir).persist()
    s = market_model_sums(daily)
    n_d = F.col("n").cast("double")
    sr_d = F.col("sr").cast("double")
    sm_d = F.col("sm").cast("double")
    cov_num = n_d * F.col("srm") - sr_d * sm_d
    var_m = n_d * F.col("smm") - sm_d * sm_d
    return s.select(
        "segment",
        "n",
        F.when(
            (var_m > 0) & (cov_num != 0),
            (sr_d / n_d / F.lit(1e9)) / (cov_num / var_m),
        ).alias("treynor_daily"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# fin_active_share — yearly segment-mix drift vs the whole-period book


@register(
    "fin_active_share",
    tags=("finance", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        ys AS (
            SELECT EXTRACT(year FROM d) AS y, segment,
                   CAST(SUM(x) AS DECIMAL(18,2)) AS xs
            FROM daily GROUP BY 1, 2
        ),
        yt AS (
            SELECT y, CAST(SUM(xs) AS DECIMAL(18,2)) AS xy
            FROM ys GROUP BY y
        ),
        bs AS (
            SELECT segment, CAST(SUM(xs) AS DECIMAL(18,2)) AS xb
            FROM ys GROUP BY segment
        ),
        bt AS (SELECT CAST(SUM(xb) AS DECIMAL(18,2)) AS xt FROM bs),
        terms AS (
            SELECT yt.y, yt.xy, bt.xt, ys.xs,
                   ABS(CAST(COALESCE(ys.xs, 0) AS DECIMAL(19,2))
                         * CAST(bt.xt AS DECIMAL(19,2))
                       - CAST(bs.xb AS DECIMAL(19,2))
                         * CAST(yt.xy AS DECIMAL(19,2))) AS num
            FROM yt
            CROSS JOIN bs
            CROSS JOIN bt
            LEFT JOIN ys ON ys.y = yt.y AND ys.segment = bs.segment
        )
        SELECT CAST(y AS BIGINT) AS year,
               CAST(COUNT(xs) AS BIGINT) AS n_segments,
               CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE)
                 / (CAST(2 AS DOUBLE)
                    * CAST(CAST(xy AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(xt AS VARCHAR) AS DOUBLE)) AS active_share
        FROM terms GROUP BY y, xy, xt ORDER BY year
    """,
)
def fin_active_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active share of each YEAR's segment revenue mix against the
    whole-period benchmark mix: AS_y = 1/2 * sum_s |w_{y,s} - w_s| —
    the standard portfolio-drift number (Cremers & Petajisto 2009),
    here reading 'how differently did this year's book allocate across
    market segments'. The sum runs over the FULL year x benchmark-
    segment grid (yt x bs, left-joined against the year's observed
    segments): a benchmark segment with zero revenue in year y
    contributes its |0 - w_s| term rather than silently dropping out
    (round-11 advisor finding — the present-segments-only join
    understated drift whenever a segment went dark for a year).
    n_segments counts the segments PRESENT in the year (COUNT over the
    nullable xs), so the column still reports observed breadth. The
    weight difference is cleared to a COMMON
    EXACT DENOMINATOR before any float: |x_ys * X - x_s * X_y| is a
    DECIMAL(38,4) product difference, summed exactly over the
    5-segment grid, with ONE double division by (2 * X_y * X) at the
    presentation edge — so no float sum ever runs over the segment
    axis. Class-5 divisor: a year row exists only because orders with
    strictly positive o_totalprice landed in it, so X_y and X are
    bounded below by the first order's price — documented, not
    guarded, identically on both engines. Scale: corpus work is the shared daily agg; the year x
    segment grid is a <= 7x5 broadcast relation. (Decimal headroom: the
    19,2 x 19,2 product is exact DECIMAL(38,4) to ~1e16 period
    revenue — beyond sf1000; documented, not guarded.)"""
    daily = seg_daily(spark, sf_dir)
    ys = daily.groupBy(
        F.year("d").alias("y"), "segment"
    ).agg(F.sum("x").cast("decimal(18,2)").alias("xs"))
    ys = ys.persist()  # grid-sized; feeds all three rollups
    yt = ys.groupBy("y").agg(F.sum("xs").cast("decimal(18,2)").alias("xy"))
    bs = ys.groupBy("segment").agg(
        F.sum("xs").cast("decimal(18,2)").alias("xb")
    )
    bt = bs.agg(F.sum("xb").cast("decimal(18,2)").alias("xt"))
    terms = (
        yt.crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(bt))
        .join(F.broadcast(ys), ["y", "segment"], "left")
        .select(
            "y",
            "xy",
            "xt",
            "xs",
            F.abs(
                F.coalesce(F.col("xs"), F.lit(0).cast("decimal(18,2)"))
                .cast("decimal(19,2)")
                * F.col("xt").cast("decimal(19,2)")
                - F.col("xb").cast("decimal(19,2)")
                * F.col("xy").cast("decimal(19,2)")
            ).alias("num"),
        )
    )
    return (
        terms.groupBy("y", "xy", "xt")
        .agg(
            F.count("xs").cast("bigint").alias("n_segments"),
            (
                as_d(F.sum("num"))
                / (F.lit(2.0) * as_d(F.col("xy")) * as_d(F.col("xt")))
            ).alias("active_share"),
        )
        .select(
            F.col("y").cast("bigint").alias("year"),
            "n_segments",
            "active_share",
        )
        .orderBy("year")
    )


# ---------------------------------------------------------------------------
# graph_avg_neighbor_degree — degree-mixing profile knn(k)


@register(
    "graph_avg_neighbor_degree",
    tags=("graph", "join", "agg"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        num AS (
            SELECT nbr.v, CAST(SUM(dn.deg) AS BIGINT) AS sum_nbr_deg
            FROM nbr JOIN deg dn ON dn.v = nbr.n
            GROUP BY nbr.v
        )
        SELECT CAST(deg.deg AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(num.sum_nbr_deg) AS DOUBLE)
                 / (CAST(deg.deg AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
                   AS avg_neighbor_degree
        FROM num JOIN deg ON deg.v = num.v
        GROUP BY deg.deg ORDER BY k
    """,
)
def graph_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-mixing profile knn(k) of the strong-trade graph: for
    each degree class k, the mean over degree-k nodes of the average
    degree of their neighbors — the curve whose slope is the
    assortativity story behind graph_degree_assortativity's single r
    (falling knn(k) = hubs attach to the periphery). Exactness: every
    node in a degree-k bucket divides its neighbor-degree sum by the
    SAME k, so mean_v(sum_deg(N(v))/k) = sum_v(sum_deg(N(v))) / (k *
    n_k) — pure integer numerator, ONE double division per bucket, no
    float sum anywhere. Shape: degree map + neighbor-degree sum are
    two hash aggs on the |V|^2-bounded edge relation; corpus-scale
    work is only the shared fact-to-edges reduction."""
    ku = trade_edges_undirected(spark, sf_dir)
    nbr = ku.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        ku.select(F.col("b").alias("v"), F.col("a").alias("n"))
    ).persist()  # |E|-bounded; feeds degree map AND neighbor sum
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    num = (
        nbr.join(
            F.broadcast(deg.select(F.col("v").alias("n"), "deg")), "n"
        )
        .groupBy("v")
        .agg(F.sum("deg").cast("bigint").alias("sum_nbr_deg"))
    )
    return (
        num.join(F.broadcast(deg), "v")
        .groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (
                F.sum("sum_nbr_deg").cast("double")
                / (
                    F.col("deg").cast("double")
                    * F.count(F.lit(1)).cast("double")
                )
            ).alias("avg_neighbor_degree"),
        )
        .select(
            F.col("deg").cast("bigint").alias("k"),
            "n_nodes",
            "avg_neighbor_degree",
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# text_js_divergence — corpus-vs-corpus vocabulary shift


@register(
    "text_js_divergence",
    tags=("text", "tokenize", "agg"),
    oracle=r"""
        WITH toks AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
                   lower(tok) AS tok
            FROM (SELECT lang,
                         unnest(regexp_extract_all(text, '[a-zA-Z0-9_]+'))
                             AS tok
                  FROM documents)
        ),
        cnt AS (
            SELECT tok,
                   CAST(SUM(is_en) AS BIGINT) AS np,
                   CAST(SUM(1 - is_en) AS BIGINT) AS nq
            FROM toks GROUP BY tok
        ),
        tot AS (
            SELECT CAST(SUM(np) AS BIGINT) AS tp,
                   CAST(SUM(nq) AS BIGINT) AS tq
            FROM cnt
        ),
        terms AS (
            SELECT np, nq, tp, tq,
                   CASE WHEN np > 0 THEN np * CAST(ln(
                     CAST(2 AS DOUBLE) * (CAST(np AS DOUBLE) / tp)
                     / (CAST(np AS DOUBLE) / tp + CAST(nq AS DOUBLE) / tq)
                   ) AS DECIMAL(12,6)) ELSE CAST(0 AS DECIMAL(12,6)) END
                       AS hp,
                   CASE WHEN nq > 0 THEN nq * CAST(ln(
                     CAST(2 AS DOUBLE) * (CAST(nq AS DOUBLE) / tq)
                     / (CAST(np AS DOUBLE) / tp + CAST(nq AS DOUBLE) / tq)
                   ) AS DECIMAL(12,6)) ELSE CAST(0 AS DECIMAL(12,6)) END
                       AS hq
            FROM cnt CROSS JOIN tot
        )
        SELECT tp AS n_tokens_en, tq AS n_tokens_other,
               CAST(SUM(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS vocab_en,
               CAST(SUM(CASE WHEN nq > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS vocab_other,
               (CAST(CAST(SUM(hp) AS VARCHAR) AS DOUBLE) / tp
                + CAST(CAST(SUM(hq) AS VARCHAR) AS DOUBLE) / tq)
               / CAST(2 AS DOUBLE) AS jsd_nats
        FROM terms GROUP BY tp, tq
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the English and non-English
    unigram distributions of the document corpus — the symmetric,
    bounded (<= ln 2) distribution-shift number a training-mix report
    uses to quantify how different two slices' vocabularies are (Lin
    1991). Engine-exact via the quantized-log recipe
    (text_ngram_entropy precedent): each distinct token's
    ln(2*p/(p+q)) is ONE deterministic double expression quantized to
    DECIMAL(12,6), so both KL halves are exact decimal dot products
    with n_p/n_q integer weights, and JSD assembles from two exact
    sums with divisions only at the edge (absent-side terms are
    exactly 0 by the np>0/nq>0 gates — JSD needs no smoothing, unlike
    KL). One token-key shuffle, vocab-sized state; the totals window
    rides the vocab-bounded count relation."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        F.explode(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9_]+', 0)")
        ).alias("tok0"),
    ).select("is_en", F.lower("tok0").alias("tok"))
    cnt = toks.groupBy("tok").agg(
        F.sum("is_en").cast("bigint").alias("np"),
        F.sum(1 - F.col("is_en")).cast("bigint").alias("nq"),
    )
    wall = Window.partitionBy()
    tp = F.sum("np").over(wall).cast("bigint")
    tq = F.sum("nq").over(wall).cast("bigint")
    p = F.col("np").cast("double") / F.col("tp").cast("double")
    q = F.col("nq").cast("double") / F.col("tq").cast("double")
    zero6 = F.lit(0).cast("decimal(12,6)")
    terms = cnt.select(
        "np",
        "nq",
        tp.alias("tp"),
        tq.alias("tq"),
    ).select(
        "np",
        "nq",
        "tp",
        "tq",
        F.when(
            F.col("np") > 0,
            F.col("np")
            * F.log(F.lit(2.0) * p / (p + q)).cast("decimal(12,6)"),
        )
        .otherwise(zero6)
        .alias("hp"),
        F.when(
            F.col("nq") > 0,
            F.col("nq")
            * F.log(F.lit(2.0) * q / (p + q)).cast("decimal(12,6)"),
        )
        .otherwise(zero6)
        .alias("hq"),
    )
    return terms.groupBy("tp", "tq").agg(
        F.sum(F.when(F.col("np") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("vocab_en"),
        F.sum(F.when(F.col("nq") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("vocab_other"),
        (
            (
                as_d(F.sum("hp")) / F.col("tp").cast("double")
                + as_d(F.sum("hq")) / F.col("tq").cast("double")
            )
            / F.lit(2.0)
        ).alias("jsd_nats"),
    ).select(
        F.col("tp").alias("n_tokens_en"),
        F.col("tq").alias("n_tokens_other"),
        "vocab_en",
        "vocab_other",
        "jsd_nats",
    )


# ===========================================================================
# Round-11 closers: the two missing members of otherwise-complete
# classical families — Bartlett (parametric variance homogeneity,
# joining Levene/Brown-Forsythe and Hartley on the same base) and
# Cuzick (Wilcoxon-type trend across ordered groups, joining
# Jonckheere-Terpstra and Page).



@register(
    "stat_bartlett_test",
    tags=("stats", "agg"),
    oracle=f"""
        WITH base AS (
            SELECT o_orderpriority AS g,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS v
            FROM orders
        ),
        per AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS nj,
                   CAST(SUM(v) AS DECIMAL(19,0)) AS s1,
                   CAST(SUM(CAST(v AS DECIMAL(15,0)) * v) AS DECIMAL(30,0))
                       AS s2
            FROM base GROUP BY g
        ),
        dev AS (
            SELECT g, nj,
                   CAST(nj AS DECIMAL(8,0)) * s2 - s1 * s1 AS ssd_num
            FROM per
        ),
        lng AS (
            SELECT g, nj,
                   CAST(CAST(ssd_num AS VARCHAR) AS DOUBLE)
                     / CAST(nj AS DOUBLE) AS ssd,
                   CASE WHEN ssd_num > 0 THEN
                     CAST(ln(CAST(CAST(ssd_num AS VARCHAR) AS DOUBLE)
                             / CAST(nj AS DOUBLE)
                             / (CAST(nj AS DOUBLE) - 1))
                          AS DECIMAL(12,6))
                   END AS lnq
            FROM dev
        ),
        red AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(nj) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN lnq IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS k_ok,
                   CAST(CAST(SUM((nj - 1) * lnq) AS VARCHAR) AS DOUBLE)
                       AS wsum,
                   {o_ordered_fold_sum('g', 'ssd')}
                       AS ssd_pool,
                   {o_ordered_fold_sum(
                       'g',
                       'CAST(1 AS DOUBLE) / (CAST(nj AS DOUBLE) - 1)',
                   )} AS rsum
            FROM lng
        )
        SELECT k, n,
               CASE WHEN k_ok = k AND n > k THEN
                 (CAST(n - k AS DOUBLE)
                  * CAST(CAST(CAST(ln(ssd_pool / CAST(n - k AS DOUBLE))
                                   AS DECIMAL(12,6)) AS VARCHAR) AS DOUBLE)
                  - wsum)
                 / (CAST(1 AS DOUBLE)
                    + (rsum - CAST(1 AS DOUBLE) / CAST(n - k AS DOUBLE))
                      / (CAST(3 AS DOUBLE) * (CAST(k AS DOUBLE) - 1)))
               END AS bartlett_chi2,
               (k - 1) AS df
        FROM red
    """,
)
def stat_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for equal variances across the five order-
    priority cohorts on order value — the PARAMETRIC member of the
    variance-homogeneity family (stat_levene_brown_forsythe is the
    robust one, stat_hartley_fmax the quick screen; all three now run
    on comparable bases). chi2 = [(N-k) ln Sp^2 - sum (n_j-1) ln
    S_j^2] / C with C the Bartlett small-sample correction. Exactness:
    each group's SSD numerator n_j*S2 - S1^2 is exact DECIMAL(38,0)
    from integer-cents sums, so ln(S_j^2) is ONE deterministic double
    expression quantized to DECIMAL(12,6) (the quantized-log recipe) —
    the weighted sum sum((n_j-1) ln_q) is then an exact decimal dot
    product. The two genuine float reductions over the k=5 groups
    (pooled SSD, reciprocal sum for C) fold in PINNED group order on
    both engines. Any zero-variance group NULLs chi2 identically (the
    k_ok = k gate compares exact decimals). One hash agg over the
    corpus; everything after is k-sized."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    per = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        F.sum("v").cast("decimal(19,0)").alias("s1"),
        F.sum(F.col("v").cast("decimal(15,0)") * F.col("v"))
        .cast("decimal(30,0)")
        .alias("s2"),
    )
    ssd_num = F.col("nj").cast("decimal(8,0)") * F.col("s2") - F.col(
        "s1"
    ) * F.col("s1")
    nj_d = F.col("nj").cast("double")
    ssd = as_d(ssd_num) / nj_d
    lng = per.select(
        "g",
        "nj",
        ssd.alias("ssd"),
        F.when(
            ssd_num > 0,
            F.log(ssd / (nj_d - 1)).cast("decimal(12,6)"),
        ).alias("lnq"),
    )
    red = lng.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("nj").cast("bigint").alias("n"),
        F.sum(F.when(F.col("lnq").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("k_ok"),
        as_d(F.sum((F.col("nj") - 1) * F.col("lnq"))).alias("wsum"),
        ordered_fold_sum(F.col("g"), F.col("ssd")).alias("ssd_pool"),
        ordered_fold_sum(
            F.col("g"), F.lit(1.0) / (F.col("nj").cast("double") - 1)
        ).alias("rsum"),
    )
    nk_d = (F.col("n") - F.col("k")).cast("double")
    k_d = F.col("k").cast("double")
    lnp_q = as_d(
        F.log(F.col("ssd_pool") / nk_d).cast("decimal(12,6)")
    )
    return red.select(
        "k",
        "n",
        F.when(
            (F.col("k_ok") == F.col("k")) & (F.col("n") > F.col("k")),
            (nk_d * lnp_q - F.col("wsum"))
            / (
                F.lit(1.0)
                + (F.col("rsum") - F.lit(1.0) / nk_d)
                / (F.lit(3.0) * (k_d - 1))
            ),
        ).alias("bartlett_chi2"),
        (F.col("k") - 1).alias("df"),
    )


@register(
    "stat_cuzick_trend",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH base AS (
            SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS l,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS x
            FROM orders
        ),
        rv AS (
            SELECT v, t,
                   2 * (SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t)
                       + t + 1 AS mr2
            FROM (SELECT x AS v, COUNT(*) AS t FROM base GROUP BY x)
        ),
        joined AS (
            SELECT base.l, rv.mr2
            FROM base JOIN rv ON rv.v = base.x
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(l) AS BIGINT) AS sl,
                   CAST(SUM(l * l) AS BIGINT) AS sll,
                   CAST(SUM(CAST(mr2 AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS su,
                   CAST(SUM(CAST(mr2 AS DECIMAL(19,0)) * mr2)
                        AS DECIMAL(38,0)) AS suu,
                   CAST(SUM(l * CAST(mr2 AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS t2
            FROM joined
        )
        SELECT n,
               CAST(CAST(t2 AS VARCHAR) AS DOUBLE) / 2 AS t_stat,
               CASE WHEN n > 1
                     AND CAST(n AS DOUBLE) * CAST(sll AS DOUBLE)
                         - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) > 0
                     AND CAST(n AS DOUBLE) * CAST(CAST(suu AS VARCHAR)
                                                  AS DOUBLE)
                         - CAST(CAST(su AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(su AS VARCHAR) AS DOUBLE) > 0 THEN
                 (CAST(CAST(t2 AS VARCHAR) AS DOUBLE)
                  - CAST(sl AS DOUBLE)
                    * CAST(CAST(su AS VARCHAR) AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / sqrt(
                     (CAST(sll AS DOUBLE)
                      - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     * (CAST(CAST(suu AS VARCHAR) AS DOUBLE)
                        - CAST(CAST(su AS VARCHAR) AS DOUBLE)
                          * CAST(CAST(su AS VARCHAR) AS DOUBLE)
                          / CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1))
               END AS z_trend
        FROM s
    """,
)
def stat_cuzick_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuzick's test (Cuzick 1985) for a monotone TREND in order value
    across the five ordinal priority cohorts (scores l = the
    priority's leading digit, 1-URGENT .. 5-LOW): T = sum l_j R_j over
    pooled midranks — the Wilcoxon-type trend test that reads
    direction where Jonckheere-Terpstra reads ordered dominance and
    Kruskal-Wallis reads any difference. Moments are the EXACT
    finite-population permutation moments of the realized (score,
    midrank) multisets (the stat_ansari_bradley recipe — correct under
    ties with no continuity fudge): E(T) = Sl*Su/N, Var(T) =
    (Sll - Sl^2/N)(Suu - Su^2/N)/(N-1). Pooled doubled midranks come
    from the bucket+carry machinery (midranks2 — rank work scales
    with distinct values per bucket, never a corpus sort); all six
    sufficient sums are exact integer/DECIMAL(38,0) (the doubled-rank
    2x cancels between T-E(T) and sqrt(Var)); z assembles in ONE
    guarded double expression (degenerate score or rank variance NULLs
    it identically)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("l"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
    )
    rv = midranks2(base, "x", 10000)
    joined = base.join(rv, base.x == rv.v).select("l", "mr2")
    s = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("l").cast("bigint").alias("sl"),
        F.sum(F.col("l") * F.col("l")).cast("bigint").alias("sll"),
        F.sum(F.col("mr2").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("su"),
        F.sum(F.col("mr2").cast("decimal(19,0)") * F.col("mr2"))
        .cast("decimal(38,0)")
        .alias("suu"),
        F.sum(F.col("l") * F.col("mr2").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("t2"),
    )
    n_d = F.col("n").cast("double")
    sl_d = F.col("sl").cast("double")
    sll_d = F.col("sll").cast("double")
    su_d = as_d(F.col("su"))
    suu_d = as_d(F.col("suu"))
    t2_d = as_d(F.col("t2"))
    var_l = n_d * sll_d - sl_d * sl_d
    var_u = n_d * suu_d - su_d * su_d
    return s.select(
        "n",
        (t2_d / 2).alias("t_stat"),
        F.when(
            (F.col("n") > 1) & (var_l > 0) & (var_u > 0),
            (t2_d - sl_d * su_d / n_d)
            / F.sqrt(
                (sll_d - sl_d * sl_d / n_d)
                * (suu_d - su_d * su_d / n_d)
                / (n_d - 1)
            ),
        ).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# stat_jarque_bera — moment-based normality screen


@register(
    "stat_jarque_bera",
    tags=("stats", "agg"),
    oracle="""
        WITH base AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS v
            FROM orders
        ),
        split AS (
            SELECT v, v // 10000 AS a, v % 10000 AS b FROM base
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(v AS DECIMAL(19,0))) AS VARCHAR)
                        AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(v AS DECIMAL(15,0)) * v) AS VARCHAR)
                        AS DOUBLE) AS s2,
                   CAST(CAST(SUM(CAST(CAST(v AS DECIMAL(15,0)) * v
                                      AS DECIMAL(23,0)) * v) AS VARCHAR)
                        AS DOUBLE) AS s3,
                   CAST(1e16 AS DOUBLE)
                     * CAST(CAST(SUM(CAST(a*a*a*a AS DECIMAL(28,0)))
                                 AS VARCHAR) AS DOUBLE)
                   + CAST(4e12 AS DOUBLE)
                     * CAST(CAST(SUM(CAST(a*a*a*b AS DECIMAL(28,0)))
                                 AS VARCHAR) AS DOUBLE)
                   + CAST(6e8 AS DOUBLE)
                     * CAST(CAST(SUM(CAST((a*b)*(a*b) AS DECIMAL(28,0)))
                                 AS VARCHAR) AS DOUBLE)
                   + CAST(4e4 AS DOUBLE)
                     * CAST(CAST(SUM(CAST(a*b*b*b AS DECIMAL(28,0)))
                                 AS VARCHAR) AS DOUBLE)
                   + CAST(CAST(SUM(CAST((b*b)*(b*b) AS DECIMAL(28,0)))
                               AS VARCHAR) AS DOUBLE) AS s4
            FROM split
        ),
        m AS (
            SELECT n,
                   s1 / n AS mu,
                   s2 / n - (s1 / n) * (s1 / n) AS m2,
                   s3 / n - 3 * (s1 / n) * (s2 / n)
                     + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                   s4 / n - 4 * (s1 / n) * (s3 / n)
                     + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                     - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
            FROM s
        )
        SELECT n,
               CASE WHEN m2 > 0 THEN
                 m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) END AS skewness,
               CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurtosis,
               CASE WHEN m2 > 0 THEN
                 CAST(n AS DOUBLE)
                 * ((m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                    * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))) / 6
                    + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 24)
               END AS jb_stat
        FROM m
    """,
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order value: JB = n(S^2/6 +
    (K-3)^2/24) from sample skewness and kurtosis — the moment-based
    screen every returns-distribution report starts with
    (agg_skew_kurtosis_exact emits the moments; this operator emits
    the TEST). Exactness: s1-s3 accumulate in stepped-width DECIMALs
    (ceilings sf~4e8+). s4 is the overflow risk — a single SUM(v^4)
    in DECIMAL(38,0) reaches ~8e37 at sf1000 (round-11 advisor
    finding: Spark silently NULLs past the 38-digit cap while DuckDB
    raises — a divergent failure mode). Fix: split v = 1e4*a + b
    (BIGINT div/mod, identical both engines) and accumulate the FIVE
    binomial-expansion sums S(a^4), S(a^3 b), S((ab)^2), S(a b^3),
    S(b^4) separately — every per-row term is <= 1e16 (BIGINT-exact),
    every accumulator is <= 1.5e25 at sf1000 in DECIMAL(38,0) (ceiling
    ~sf1e12), and s4 = 1e16*S1 + 4e12*S2 + 6e8*S3 + 4e4*S4 + S5 is
    recombined as ONE identically-parenthesized double expression
    after each sum crosses the double edge once via the VARCHAR
    route — no quantization anywhere. Note: the five sums each round
    independently at their VARCHAR->double crossing BEFORE the
    weighted recombination, so s4 is deterministic and cross-engine
    identical but may sit a few ulps off the true Sv^4 (it is NOT
    bit-exact to the mathematical sum — don't rely on that). All
    moments/statistics remain ONE
    identically-parenthesized double expression on both engines —
    m2^1.5 is written sqrt(m2)^3 by repeated multiplication (libm pow
    is NOT cross-engine-stable; sqrt and * are IEEE-exact). Degenerate
    zero variance NULLs all three outputs identically. One scan, one
    5-number agg; nothing downstream of the agg touches the corpus."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v")
    )
    base = base.select(
        "v",
        F.expr("v div 10000").alias("a"),
        (F.col("v") % 10000).alias("b"),
    )
    v15 = F.col("v").cast("decimal(15,0)")
    a, b = F.col("a"), F.col("b")
    d28 = "decimal(28,0)"
    s = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum(F.col("v").cast("decimal(19,0)"))).alias("s1"),
        as_d(F.sum(v15 * F.col("v"))).alias("s2"),
        as_d(
            F.sum((v15 * F.col("v")).cast("decimal(23,0)") * F.col("v"))
        ).alias("s3"),
        as_d(F.sum((a * a * a * a).cast(d28))).alias("sa4"),
        as_d(F.sum((a * a * a * b).cast(d28))).alias("sa3b"),
        as_d(F.sum(((a * b) * (a * b)).cast(d28))).alias("sa2b2"),
        as_d(F.sum((a * b * b * b).cast(d28))).alias("sab3"),
        as_d(F.sum(((b * b) * (b * b)).cast(d28))).alias("sb4"),
    )
    s = s.select(
        "n",
        "s1",
        "s2",
        "s3",
        (
            F.expr("CAST(1e16 AS DOUBLE)") * F.col("sa4")
            + F.expr("CAST(4e12 AS DOUBLE)") * F.col("sa3b")
            + F.expr("CAST(6e8 AS DOUBLE)") * F.col("sa2b2")
            + F.expr("CAST(4e4 AS DOUBLE)") * F.col("sab3")
            + F.col("sb4")
        ).alias("s4"),
    )
    n_d = F.col("n").cast("double")
    mu = F.col("s1") / n_d
    m2 = F.col("s2") / n_d - mu * mu
    m3 = (
        F.col("s3") / n_d
        - 3 * mu * (F.col("s2") / n_d)
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4") / n_d
        - 4 * mu * (F.col("s3") / n_d)
        + 6 * mu * mu * (F.col("s2") / n_d)
        - 3 * mu * mu * mu * mu
    )
    sk = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    ku = m4 / (m2 * m2)
    return s.select(
        "n",
        F.when(m2 > 0, sk).alias("skewness"),
        F.when(m2 > 0, ku).alias("kurtosis"),
        F.when(
            m2 > 0,
            n_d * (sk * sk / 6 + (ku - 3) * (ku - 3) / 24),
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# fin_capture_ratios — up/down-market capture per segment


@register(
    "fin_capture_ratios",
    tags=("finance", "window", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        {SEG_RET_SQL},
        j AS (SELECT rs.segment, rs.r, rm.m FROM rs JOIN rm ON rm.d = rs.d),
        s AS (
            SELECT segment,
                   CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_up,
                   CAST(SUM(CASE WHEN m < 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_down,
                   CAST(SUM(CASE WHEN m > 0 THEN r ELSE 0 END) AS BIGINT)
                       AS sr_up,
                   CAST(SUM(CASE WHEN m > 0 THEN m ELSE 0 END) AS BIGINT)
                       AS sm_up,
                   CAST(SUM(CASE WHEN m < 0 THEN r ELSE 0 END) AS BIGINT)
                       AS sr_down,
                   CAST(SUM(CASE WHEN m < 0 THEN m ELSE 0 END) AS BIGINT)
                       AS sm_down
            FROM j GROUP BY segment
        )
        SELECT segment, n_up, n_down,
               CASE WHEN sm_up <> 0 THEN
                 CAST(sr_up AS DOUBLE) / CAST(sm_up AS DOUBLE)
               END AS upside_capture,
               CASE WHEN sm_down <> 0 THEN
                 CAST(sr_down AS DOUBLE) / CAST(sm_down AS DOUBLE)
               END AS downside_capture
        FROM s ORDER BY segment
    """,
)
def fin_capture_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morningstar-style up/down-market capture ratios per segment:
    on days the whole-market revenue return is positive (negative),
    the segment's mean return divided by the market's mean return over
    those same days — the asymmetry readout behind 'defensive vs
    aggressive' fund labels, complementing fin_capm_beta's symmetric
    slope. Because both means share the SAME day count, the ratio of
    means collapses EXACTLY to a ratio of integer q9 return sums
    (n_up cancels), so each capture number is one guarded double
    division over exact BIGINTs — no float accumulates anywhere. Zero
    market movement in a regime NULLs that side identically (exact
    integer <> 0 guard). Corpus work is the shared broadcast-join
    daily agg; the conditional sums ride the calendar-bounded joined
    return relation."""
    daily = seg_daily(spark, sf_dir).persist()
    rs = seg_returns(daily)
    rm = mkt_returns(daily)
    up = F.col("m") > 0
    down = F.col("m") < 0
    s = (
        rs.join(F.broadcast(rm), "d")
        .groupBy("segment")
        .agg(
            F.sum(F.when(up, 1).otherwise(0)).cast("bigint").alias("n_up"),
            F.sum(F.when(down, 1).otherwise(0)).cast("bigint").alias("n_down"),
            F.sum(F.when(up, F.col("r")).otherwise(0))
            .cast("bigint")
            .alias("sr_up"),
            F.sum(F.when(up, F.col("m")).otherwise(0))
            .cast("bigint")
            .alias("sm_up"),
            F.sum(F.when(down, F.col("r")).otherwise(0))
            .cast("bigint")
            .alias("sr_down"),
            F.sum(F.when(down, F.col("m")).otherwise(0))
            .cast("bigint")
            .alias("sm_down"),
        )
    )
    return s.select(
        "segment",
        "n_up",
        "n_down",
        F.when(
            F.col("sm_up") != 0,
            F.col("sr_up").cast("double") / F.col("sm_up").cast("double"),
        ).alias("upside_capture"),
        F.when(
            F.col("sm_down") != 0,
            F.col("sr_down").cast("double") / F.col("sm_down").cast("double"),
        ).alias("downside_capture"),
    ).orderBy("segment")
