"""Round-15 operator wave: median-based k-sample location test
(Mood), rank von Neumann serial-randomness ratio (Bartels), paired
half-series trend detection (Cox-Stuart), spectral entropy, inequality
indices, Martin/gain-to-pain/Jensen performance ratios, SMOG + ARI
readability, adjacent-token PMI collocations, common-neighbor link
prediction, second-digit Benford audit, balanced accuracy — every
query hash-oracled on arrival with an independent numpy / pure-Python
reference test in tests/test_round15_ops.py (the round-10..14
discipline).

House rules applied throughout (see plans/registry.py docstring):
exact integer/decimal accumulation with doubles only at the
presentation edge; pinned order statistics (never engine percentile
functions) for quantile picks; quantized-ln DECIMAL(12,6) terms per
the text_ngram_entropy precedent for entropies/MI; string-routed or
CAST(int AS DOUBLE) constants (never a bare decimal literal that must
match); NULL-guarded degenerate divisions with IDENTICAL predicates
on both engines; DuckDB `//` twinning Spark `DIV` for every integer
rank/threshold formula; broadcast hints ONLY on content-bounded
relations (value-distinct cells, bounded group lists, 1-row scalars)
— never on an SF-scaling side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import as_d, fsum, o_fsum, o_ordered_fold_sum
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.recipes import (
    DAILY_Q6_SQL,
    GRAPH_EDGE_CTE,
    MARKET_MODEL_SQL,
    SEG_DAILY_SQL,
    SEG_RET_SQL,
    TOKENS_SQL,
    daily_q6,
    dd_q6,
    market_model_sums,
    o_dd_q6,
    seg_daily,
    seg_returns,
    tokens,
    trade_edges_undirected,
)
from finance_etl_spark.plans.registry import register



# ---------------------------------------------------------------------------
# stat_moods_median — Mood's median test across order priorities


@register(
    "stat_moods_median",
    tags=("stats", "window"),
    oracle=f"""
        WITH lab AS MATERIALIZED (
            SELECT o_orderpriority AS g,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS xc
            FROM orders
        ),
        per_val AS (
            SELECT xc, CAST(COUNT(*) AS BIGINT) AS c,
                   xc // 1000000 AS bkt
            FROM lab GROUP BY xc
        ),
        within AS (
            SELECT bkt, xc, c,
                   CAST(SUM(c) OVER (PARTITION BY bkt ORDER BY xc
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS wc
            FROM per_val
        ),
        carry AS (
            SELECT bkt,
                   CAST(COALESCE(SUM(tb) OVER (ORDER BY bkt
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS cb
            FROM (SELECT bkt, SUM(c) AS tb FROM per_val GROUP BY bkt)
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM per_val),
        med AS (
            SELECT CAST(MIN(CASE WHEN w.wc + ca.cb >= (t.n + 1) // 2
                                 THEN w.xc END) AS BIGINT) AS med
            FROM within w JOIN carry ca ON ca.bkt = w.bkt CROSS JOIN tot t
        ),
        per AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                   CAST(SUM(CASE WHEN l.xc > m.med THEN 1 ELSE 0 END)
                        AS BIGINT) AS ag
            FROM lab l CROSS JOIN med m
            GROUP BY g
        ),
        pool AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(SUM(ag) AS BIGINT) AS a
            FROM per
        ),
        terms AS (
            SELECT g, ng, ag,
                   CAST(ng * a AS DOUBLE) / CAST(n AS DOUBLE) AS eg,
                   (CAST(ag AS DOUBLE)
                      - CAST(ng * a AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(ag AS DOUBLE)
                      - CAST(ng * a AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(ng * a AS DOUBLE) / CAST(n AS DOUBLE))
                   + (CAST(ng - ag AS DOUBLE)
                      - (CAST(ng AS DOUBLE)
                         - CAST(ng * a AS DOUBLE) / CAST(n AS DOUBLE)))
                   * (CAST(ng - ag AS DOUBLE)
                      - (CAST(ng AS DOUBLE)
                         - CAST(ng * a AS DOUBLE) / CAST(n AS DOUBLE)))
                   / (CAST(ng AS DOUBLE)
                      - CAST(ng * a AS DOUBLE) / CAST(n AS DOUBLE)) AS t
            FROM per CROSS JOIN pool
        ),
        chi AS (
            SELECT {o_ordered_fold_sum('g', 't')} AS chi2
            FROM terms
        )
        SELECT tm.g, tm.ng AS n_g, tm.ag AS n_above, tm.eg AS exp_above,
               c.chi2
        FROM terms tm CROSS JOIN chi c
    """,
)
def stat_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test — do the order-priority cohorts share one
    median order value? Counts above/below the POOLED median form a
    k x 2 table; chi-square against the independence expectation.
    Exactness: the pooled median is a pinned order statistic over
    exact integer cents (per-distinct-value counts, value-bucket
    cumulative window + O(buckets) carry — the midranks2
    decomposition, never a global row sort; threshold (n+1) DIV 2
    twins DuckDB `//`); the k x 2 table is exact BIGINTs; each
    group's chi-square term is one double expression parenthesized
    identically on both engines and the k-term fold runs in sorted
    group order (the ANOVA recipe). Distributed shape: one
    distinct-value agg + one broadcast-median count pass — two
    map-side-combining corpus scans, group state k-bounded.
    Deliberately UNPERSISTED: the projection is a cheap scan and the
    distinct-value agg a cheap shuffle, so recomputation per consumer
    beats paying the cache write (measured min-of-3 at sf0.1:
    no-persist 2.01 s vs both-persisted 5.00 s — the opposite
    trade-off from ml_bagging_oob's expensive md5 base, where the
    barrier is load-bearing)."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("g"),
        (F.col("o_totalprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("xc"),
    )
    per_val = (
        lab.groupBy("xc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("bkt", F.expr("xc DIV 1000000"))
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("xc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = per_val.select(
        "bkt", "xc", F.col("c"), F.sum("c").over(w_in).alias("wc")
    )
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        per_val.groupBy("bkt")
        .agg(F.sum("c").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    tot = per_val.agg(F.sum("c").cast("bigint").alias("n"))
    med = (
        within.join(F.broadcast(carry), "bkt")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(
                    F.col("wc") + F.col("cb")
                    >= F.expr("(n + 1) DIV 2"),
                    F.col("xc"),
                )
            )
            .cast("bigint")
            .alias("med")
        )
    )
    per = (
        lab.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.sum((F.col("xc") > F.col("med")).cast("int"))
            .cast("bigint")
            .alias("ag"),
        )
    )
    pool = per.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("ag").cast("bigint").alias("a"),
    )
    eg = (F.col("ng") * F.col("a")).cast("double") / F.col("n").cast("double")
    ad = F.col("ag").cast("double")
    bd = (F.col("ng") - F.col("ag")).cast("double")
    ebg = F.col("ng").cast("double") - eg
    term = (ad - eg) * (ad - eg) / eg + (bd - ebg) * (bd - ebg) / ebg
    terms = per.crossJoin(F.broadcast(pool)).select(
        "g", "ng", "ag", eg.alias("eg"), term.alias("t")
    )
    chi = terms.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("g"), F.col("t")))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("chi2")
    )
    return terms.crossJoin(F.broadcast(chi)).select(
        "g",
        F.col("ng").alias("n_g"),
        F.col("ag").alias("n_above"),
        F.col("eg").alias("exp_above"),
        "chi2",
    )


# ---------------------------------------------------------------------------
# stat_bartels_rank_vn — Bartels' rank von Neumann randomness test


@register(
    "stat_bartels_rank_vn",
    tags=("stats", "timeseries", "window"),
    oracle=f"""
        WITH daily AS ({DAILY_Q6_SQL}),
        ranked AS (
            SELECT event_type, d,
                   2 * RANK() OVER (PARTITION BY event_type ORDER BY v)
                     + COUNT(*) OVER (PARTITION BY event_type, v) - 1 AS r2
            FROM daily
        ),
        seq AS (
            SELECT event_type, r2,
                   LEAD(r2) OVER (PARTITION BY event_type ORDER BY d)
                       AS r2n,
                   COUNT(*) OVER (PARTITION BY event_type) AS nt
            FROM ranked
        ),
        per AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN r2n IS NOT NULL
                        THEN (r2 - r2n) * (r2 - r2n) ELSE 0 END)
                        AS BIGINT) AS num4,
                   CAST(SUM((r2 - (nt + 1)) * (r2 - (nt + 1)))
                        AS BIGINT) AS den4
            FROM seq
            GROUP BY event_type
        )
        SELECT event_type, n, num4, den4,
               CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE) AS rvn,
               (CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE)
                  - CAST(2 AS DOUBLE))
               / sqrt(CAST(4 * (n - 2) * (5 * n * n - 2 * n - 9)
                           AS DOUBLE)
                      / CAST(5 * n * (n + 1) * (n - 1) * (n - 1)
                             AS DOUBLE)) AS z
        FROM per
    """,
)
def stat_bartels_rank_vn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank von Neumann ratio per event type — the
    nonparametric serial-randomness test: RVN = sum (r_i - r_{i+1})^2
    / sum (r_i - rbar)^2 over the time-ordered ranks of the daily
    totals; ~2 under randomness, <2 under positive autocorrelation.
    Exactness: DOUBLED midranks (2*RANK + tiecount - 1) keep ties in
    integer arithmetic; sum of doubled midranks is n(n+1) exactly, so
    rbar2 = n + 1 is an exact integer and BOTH the successive-
    difference and deviation sums are exact BIGINTs whose x4 scale
    factors cancel in the ratio; RVN and its large-sample z are each
    one double expression over integers. Distributed shape: windows
    partition per event type over CALENDAR-bounded daily rows (the
    Hampel/Friedman contract — days grow with time, not SF; the
    corpus-scaled work is the one daily pre-agg in daily_q6)."""
    daily = daily_q6(spark, sf_dir)
    r2 = (
        F.lit(2)
        * F.rank().over(Window.partitionBy("event_type").orderBy("v"))
        + F.count(F.lit(1)).over(Window.partitionBy("event_type", "v"))
        - F.lit(1)
    )
    ranked = daily.select("event_type", "d", r2.alias("r2"))
    w_t = Window.partitionBy("event_type").orderBy("d")
    w_all = Window.partitionBy("event_type")
    seq = ranked.select(
        "event_type",
        "r2",
        F.lead("r2").over(w_t).alias("r2n"),
        F.count(F.lit(1)).over(w_all).alias("nt"),
    )
    per = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("r2n").isNotNull(),
                (F.col("r2") - F.col("r2n")) * (F.col("r2") - F.col("r2n")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("num4"),
        F.sum(
            (F.col("r2") - (F.col("nt") + 1))
            * (F.col("r2") - (F.col("nt") + 1))
        )
        .cast("bigint")
        .alias("den4"),
    )
    nd = F.col("n")
    rvn = F.col("num4").cast("double") / F.col("den4").cast("double")
    z = (rvn - F.lit(2).cast("double")) / F.sqrt(
        (4 * (nd - 2) * (5 * nd * nd - 2 * nd - 9)).cast("double")
        / (5 * nd * (nd + 1) * (nd - 1) * (nd - 1)).cast("double")
    )
    return per.select(
        "event_type", "n", "num4", "den4", rvn.alias("rvn"), z.alias("z")
    )


# ---------------------------------------------------------------------------
# ts_cox_stuart — Cox-Stuart paired-halves trend test


@register(
    "ts_cox_stuart",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS ({DAILY_Q6_SQL}),
        idxed AS (
            SELECT event_type, v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY d) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ),
        pairs AS (
            SELECT a.event_type,
                   CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS pos,
                   CASE WHEN b.v < a.v THEN 1 ELSE 0 END AS neg
            FROM idxed a
            JOIN idxed b ON b.event_type = a.event_type
                        AND b.i = a.i + (a.n - a.n // 2)
            WHERE a.i <= a.n // 2
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(pos) AS BIGINT) AS n_up,
               CAST(SUM(neg) AS BIGINT) AS n_down,
               CASE WHEN SUM(pos) + SUM(neg) > 0 THEN
                   (CAST(SUM(pos) AS DOUBLE)
                      - CAST(SUM(pos) + SUM(neg) AS DOUBLE)
                        / CAST(2 AS DOUBLE))
                   / sqrt(CAST(SUM(pos) + SUM(neg) AS DOUBLE)
                          / CAST(4 AS DOUBLE)) END AS z
        FROM pairs GROUP BY event_type
    """,
)
def ts_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test per event type: pair day i of the first
    half with day i + ceil(n/2) of the second half and sign-test the
    differences — the assumption-free 'is this series drifting'
    screen. Exactness: pairing index i + (n - n DIV 2) is integer
    arithmetic (DuckDB `//` twin), daily values are exact q6 BIGINTs
    so the up/down signs are exact, ties drop from the effective
    sample on both engines, and the binomial z is one double
    expression NULL-guarded by the identical n_up + n_down > 0
    predicate. Distributed shape: per-type row_number windows over
    calendar-bounded daily rows; the half-offset pairing is an
    equi-join on (event_type, index) — never a cross pairing."""
    daily = daily_q6(spark, sf_dir)
    w_t = Window.partitionBy("event_type").orderBy("d")
    w_all = Window.partitionBy("event_type")
    idxed = daily.select(
        "event_type",
        "v",
        F.row_number().over(w_t).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ).persist()
    a = idxed.filter(F.col("i") <= F.expr("n DIV 2")).select(
        "event_type",
        (F.col("i") + (F.col("n") - F.expr("n DIV 2"))).alias("j"),
        F.col("v").alias("va"),
    )
    b = idxed.select(
        "event_type", F.col("i").alias("j"), F.col("v").alias("vb")
    )
    pairs = a.join(b, ["event_type", "j"]).select(
        "event_type",
        (F.col("vb") > F.col("va")).cast("int").alias("pos"),
        (F.col("vb") < F.col("va")).cast("int").alias("neg"),
    )
    spos = F.sum("pos")
    sneg = F.sum("neg")
    nt = (spos + sneg).cast("double")
    z = F.when(
        spos + sneg > 0,
        (spos.cast("double") - nt / F.lit(2).cast("double"))
        / F.sqrt(nt / F.lit(4).cast("double")),
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        spos.cast("bigint").alias("n_up"),
        sneg.cast("bigint").alias("n_down"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# fin trio: Martin ratio, gain-to-pain, Jensen's alpha
# (reuse the recipes.seg_daily spine + the q9 return / q6 drawdown
# quantization recipes of fin_capm_beta / fin_ulcer_index)


@register(
    "fin_gain_to_pain",
    tags=("finance", "risk"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {SEG_RET_SQL}
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS sum_r_q9,
               CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) AS BIGINT)
                   AS pain_q9,
               CASE WHEN SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) > 0 THEN
                   CAST(SUM(r) AS DOUBLE)
                   / CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END)
                          AS DOUBLE) END AS gain_to_pain
        FROM rs GROUP BY segment
    """,
)
def fin_gain_to_pain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain-to-pain ratio per market segment: sum of all daily returns
    over the absolute sum of losing-day returns — Schwager's
    consistency number (>1 means gains outweigh aggregate pain).
    Exactness: returns are the shared q9 BIGINT spine, so both the
    numerator and the pain denominator are exact integer sums and the
    ratio is ONE guarded double division (identical pain > 0
    predicate NULLs both engines on an all-up segment). Distributed
    shape: one broadcast-join daily agg (corpus work) + per-segment
    lag windows on calendar-bounded rows + one k-segment hash agg."""
    rs = seg_returns(seg_daily(spark, sf_dir))
    pain = F.sum(F.when(F.col("r") < 0, -F.col("r")).otherwise(0))
    return rs.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("sum_r_q9"),
        pain.cast("bigint").alias("pain_q9"),
        F.when(
            pain > 0, F.sum("r").cast("double") / pain.cast("double")
        ).alias("gain_to_pain"),
    )


@register(
    "fin_jensen_alpha",
    tags=("finance", "stats"),
    oracle=f"""
        WITH {MARKET_MODEL_SQL}
        SELECT segment, n,
               CASE WHEN CAST(n AS DOUBLE) * smm
                         - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) > 0 THEN
                 ((CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)
                     / CAST(1e9 AS DOUBLE)
                   - CAST('8.219178082191781e-05' AS DOUBLE))
                  - (CAST(n AS DOUBLE) * srm
                     - CAST(sr AS DOUBLE) * CAST(sm AS DOUBLE))
                    / (CAST(n AS DOUBLE) * smm
                       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                    * (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
                         / CAST(1e9 AS DOUBLE)
                       - CAST('8.219178082191781e-05' AS DOUBLE)))
                 * CAST(365 AS DOUBLE)
               END AS jensen_alpha_annual
        FROM s ORDER BY segment
    """,
)
def fin_jensen_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen's alpha per segment, annualized, against a 3%-annual
    risk-free rate: alpha_J = (mean_r - rf) - beta * (mean_m - rf),
    x365 — the excess-over-CAPM performance number (differs from
    fin_capm_beta's regression intercept by pricing the risk-free
    leg). Exactness: the five sufficient sums are the exact
    integer/DECIMAL CAPM sums on the shared q9 spine; rf/365 enters
    as a Python-generated double LITERAL shared verbatim by both
    dialects (the fin_npv_rate_grid recipe — no division at query
    time), and alpha assembles in one guarded double expression
    (zero market variance NULLs both engines). Distributed shape
    identical to fin_capm_beta: corpus work is the daily agg; all
    windows on calendar-bounded rows; market series broadcast."""
    rf_d = 0.03 / 365  # 8.219178082191781e-05, literal-twinned above
    daily = seg_daily(spark, sf_dir).persist()
    s = market_model_sums(daily)
    n_d = F.col("n").cast("double")
    sr_d = F.col("sr").cast("double")
    sm_d = F.col("sm").cast("double")
    var_m = n_d * F.col("smm") - sm_d * sm_d
    beta = (n_d * F.col("srm") - sr_d * sm_d) / var_m
    rf = F.lit(rf_d)
    alpha = (
        (sr_d / n_d / F.lit(1e9) - rf)
        - beta * (sm_d / n_d / F.lit(1e9) - rf)
    ) * F.lit(365).cast("double")
    return s.select(
        "segment",
        "n",
        F.when(var_m > 0, alpha).alias("jensen_alpha_annual"),
    ).orderBy("segment")


@register(
    "fin_martin_ratio",
    tags=("finance", "window", "risk"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        dd AS (
            SELECT segment, d, x,
                   {o_dd_q6('mx', 'x')} AS ddq
            FROM (
                SELECT segment, d, x,
                       MAX(x) OVER (PARTITION BY segment ORDER BY d
                                    ROWS UNBOUNDED PRECEDING) AS mx
                FROM daily
            )
        ),
        per AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
                   sqrt(CAST(CAST(SUM(CAST(ddq AS DECIMAL(19,0)) * ddq)
                              AS VARCHAR) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS ulcer,
                   (CAST(CAST(arg_max(x, d) AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(arg_min(x, d) AS VARCHAR) AS DOUBLE)
                    - CAST(1 AS DOUBLE)) * CAST(100 AS DOUBLE)
                       AS total_ret_pct
            FROM dd GROUP BY segment
        )
        SELECT segment, n_days, total_ret_pct, ulcer,
               CASE WHEN ulcer > 0 THEN total_ret_pct / ulcer END
                   AS martin_ratio
        FROM per ORDER BY segment
    """,
)
def fin_martin_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Martin ratio (Ulcer performance index) per segment: the period
    total return over the ulcer index — return per unit of
    depth-AND-duration drawdown pain, the risk-adjusted number that
    punishes long slumps where Sharpe's volatility denominator
    doesn't. Exactness: drawdowns are the fin_ulcer_index q6 BIGINT
    recipe (quantize BEFORE squaring, exact DECIMAL square sums, one
    sqrt edge); the period return takes first/last daily revenue via
    arg_min/arg_max on the unique date key (Spark min_by/max_by twin
    — deterministic, no order-dependent pick); the ratio is one
    guarded double division (ulcer > 0 identical predicate — an
    all-peak segment NULLs both engines). Distributed shape: the
    fin_ulcer_index plan plus two arg-extremes in the same
    per-segment agg — windows on calendar-bounded rows only."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = daily.select(
        "segment",
        "d",
        "x",
        dd_q6(F.max("x").over(w), F.col("x"))
        .alias("ddq"),
    )
    ulcer = (
        F.sqrt(
            as_d(
                F.sum(F.col("ddq").cast("decimal(19,0)") * F.col("ddq"))
                .cast("decimal(38,0)")
            )
            / F.count(F.lit(1)).cast("double")
        )
        / F.lit(1e6)
    )
    tot_ret = (
        as_d(F.max_by("x", "d")) / as_d(F.min_by("x", "d"))
        - F.lit(1).cast("double")
    ) * F.lit(100).cast("double")
    per = dd.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        ulcer.alias("ulcer"),
        tot_ret.alias("total_ret_pct"),
    )
    return per.select(
        "segment",
        "n_days",
        "total_ret_pct",
        "ulcer",
        F.when(F.col("ulcer") > 0, F.col("total_ret_pct") / F.col("ulcer"))
        .alias("martin_ratio"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# text readability pair (SMOG, ARI) + PMI collocations
# (reuse the recipes.tokens spine and the text_readability_fk counting
# conventions: words = space-split non-empty, sentences = [.!?]+ runs
# floored at 1, syllables = [aeiouy]+ vowel-group runs)

from finance_etl_spark.io.readers import load_table_parallel  # noqa: E402


@register(
    "text_smog_index",
    tags=("text", "quality", "agg"),
    oracle=f"""
        WITH per_doc AS (
            SELECT lang,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t <> '')) AS BIGINT) AS w,
                   CAST(GREATEST(1, len(regexp_extract_all(text,
                        '[.!?]+'))) AS BIGINT) AS s,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t <> '' AND
                             len(regexp_extract_all(lower(t),
                                 '[aeiouy]+')) >= 3)) AS BIGINT) AS poly
            FROM documents
        ),
        scored AS (
            SELECT lang, w, s, poly,
                   CAST('1.043' AS DOUBLE)
                   * sqrt(CAST(poly * 30 AS DOUBLE) / CAST(s AS DOUBLE))
                   + CAST('3.1291' AS DOUBLE) AS smog
            FROM per_doc WHERE w > 0
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(poly) AS BIGINT) AS total_polysyllables,
               {o_fsum('smog')}
                 / CAST(COUNT(*) AS DOUBLE) AS mean_smog_grade
        FROM scored
        GROUP BY lang
        ORDER BY lang
    """,
)
def text_smog_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOG readability grade per language — the polysyllable-count
    companion to text_readability_fk (SMOG tracks clinical/technical
    density where FK tracks sentence length): grade = 1.043 *
    sqrt(polysyllables * 30 / sentences) + 3.1291. Polysyllables are
    words with >= 3 vowel-group runs (the FK syllable convention
    applied per token), sentences the [.!?]+ runs floored at 1 — all
    exact BIGINT counts. The per-doc grade is one double expression
    with string-routed constants and an IEEE-correctly-rounded sqrt
    over an integer ratio; the per-language mean rides the
    floor-scale fsum so the reduction is order-free. One scan, one
    k-language shuffle, all JVM-side."""
    d = load_table_parallel(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        )
        .cast("bigint")
        .alias("w"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        )
        .cast("bigint")
        .alias("s"),
        F.size(
            F.filter(
                F.split(F.col("text"), " "),
                lambda t: (t != "")
                & (
                    F.size(
                        F.regexp_extract_all(
                            F.lower(t), F.lit("[aeiouy]+"), 0
                        )
                    )
                    >= 3
                ),
            )
        )
        .cast("bigint")
        .alias("poly"),
    ).filter(F.col("w") > 0)
    smog = F.lit(1.043) * F.sqrt(
        (F.col("poly") * 30).cast("double") / F.col("s").cast("double")
    ) + F.lit(3.1291)
    return (
        per_doc.select("lang", "poly", smog.alias("smog"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("poly").cast("bigint").alias("total_polysyllables"),
            (
                F.sum(
                    F.floor(F.col("smog") * F.lit(1e6)).cast("decimal(38,0)")
                )
                .cast("string")
                .cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_smog_grade"),
        )
        .orderBy("lang")
    )


@register(
    "text_ari_index",
    tags=("text", "quality", "agg"),
    oracle=f"""
        WITH per_doc AS (
            SELECT lang,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t <> '')) AS BIGINT) AS w,
                   CAST(GREATEST(1, len(regexp_extract_all(text,
                        '[.!?]+'))) AS BIGINT) AS s,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]'))
                        AS BIGINT) AS ch
            FROM documents
        ),
        scored AS (
            SELECT lang, w, s, ch,
                   CAST('4.71' AS DOUBLE)
                       * (CAST(ch AS DOUBLE) / CAST(w AS DOUBLE))
                   + CAST('0.5' AS DOUBLE)
                       * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                   - CAST('21.43' AS DOUBLE) AS ari
            FROM per_doc WHERE w > 0
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ch) AS BIGINT) AS total_alnum_chars,
               {o_fsum('ari')}
                 / CAST(COUNT(*) AS DOUBLE) AS mean_ari_grade
        FROM scored
        GROUP BY lang
        ORDER BY lang
    """,
)
def text_ari_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per language — the character-level
    third leg of the readability suite (FK: syllables, SMOG:
    polysyllables, ARI: spelling length): grade = 4.71 * chars/words
    + 0.5 * words/sentences - 21.43, with chars = alphanumeric count
    (a single-char regex class, engine-agnostic). All counts exact
    BIGINTs; the per-doc grade is one double expression with
    string-routed constants; the per-language mean rides the
    floor-scale fsum (order-free reduction). One scan, one k-language
    shuffle, all JVM-side."""
    d = load_table_parallel(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        )
        .cast("bigint")
        .alias("w"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        )
        .cast("bigint")
        .alias("s"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z0-9]"), 0)
        )
        .cast("bigint")
        .alias("ch"),
    ).filter(F.col("w") > 0)
    ari = (
        F.lit(4.71) * (F.col("ch").cast("double") / F.col("w").cast("double"))
        + F.lit(0.5) * (F.col("w").cast("double") / F.col("s").cast("double"))
        - F.lit(21.43)
    )
    return (
        per_doc.select("lang", "ch", ari.alias("ari"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ch").cast("bigint").alias("total_alnum_chars"),
            (fsum(F.col("ari")) / F.count(F.lit(1)).cast("double")).alias(
                "mean_ari_grade"
            ),
        )
        .orderBy("lang")
    )


@register(
    "text_pmi_bigrams",
    tags=("text", "collocation", "agg"),
    oracle=f"""
        WITH toks AS ({TOKENS_SQL}),
        uni AS MATERIALIZED (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cx
            FROM toks GROUP BY tok
        ),
        big AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cxy
            FROM (
                SELECT doc_id, tok AS w1,
                       LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS w2
                FROM toks
            ) WHERE w2 IS NOT NULL
            GROUP BY w1, w2
        ),
        tot AS (
            SELECT CAST(SUM(cx) AS BIGINT) AS n_uni,
                   (SELECT CAST(SUM(cxy) AS BIGINT) FROM big) AS n_bi
            FROM uni
        ),
        scored AS (
            SELECT b.w1, b.w2, b.cxy, u1.cx AS c1, u2.cx AS c2,
                   CAST(ln(
                       CAST(b.cxy AS DOUBLE) * CAST(t.n_uni AS DOUBLE)
                       / CAST(t.n_bi AS DOUBLE)
                       * (CAST(t.n_uni AS DOUBLE) / CAST(u1.cx AS DOUBLE))
                       / CAST(u2.cx AS DOUBLE)
                   ) AS DECIMAL(12,6)) AS pmi_q6
            FROM big b
            JOIN uni u1 ON u1.tok = b.w1
            JOIN uni u2 ON u2.tok = b.w2
            CROSS JOIN tot t
            WHERE b.cxy >= 5
        )
        SELECT w1, w2, cxy, c1, c2,
               CAST(CAST(pmi_q6 AS VARCHAR) AS DOUBLE) AS pmi
        FROM scored
        ORDER BY pmi_q6 DESC, w1, w2
        LIMIT 20
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by pointwise mutual
    information with a count floor of 5 — the classic collocation
    extractor (PMI = ln(p(xy)/(p(x)p(y)))) every corpus-analysis and
    phrase-mining pipeline runs before vocabulary decisions.
    Exactness: all counts are exact BIGINTs; the probability ratio
    assembles in ONE double expression with a pinned
    multiply/divide order (identical operands -> identical double),
    and the ln lands in the house quantized-ln DECIMAL(12,6) (the
    text_ngram_entropy precedent) so BOTH the output value and the
    top-20 sort key are engine-identical; ties at the cut break on
    the (w1, w2) total order. Distributed shape: bigrams from a
    per-doc LEAD window (documents are content-bounded), two
    token-key hash aggs, two vocab-key equi-joins (no broadcast on
    the corpus-scaled vocab), and the top-20 plans as
    TakeOrderedAndProject — each partition surrenders 20 local
    winners, never a global sort."""
    d = load_table_parallel(spark, sf_dir, "documents")
    # deliberately unpersisted: the split+explode is cheap to
    # recompute per consumer; caching the exploded relation costs
    # more than the extra scan (no-persist 0.96 s vs both-persisted
    # 1.14 s min-of-3 at sf0.1 — the stat_moods_median finding)
    toks = tokens(d)
    uni = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cx")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(w_doc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
    )
    n_uni = uni.agg(F.sum("cx").cast("bigint").alias("n_uni"))
    n_bi_rel = big.agg(F.sum("cxy").cast("bigint").alias("n_bi"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("cx").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("cx").alias("c2"))
    scored = (
        big.filter(F.col("cxy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_rel))
        .select(
            "w1",
            "w2",
            "cxy",
            "c1",
            "c2",
            F.log(
                F.col("cxy").cast("double")
                * F.col("n_uni").cast("double")
                / F.col("n_bi").cast("double")
                * (
                    F.col("n_uni").cast("double")
                    / F.col("c1").cast("double")
                )
                / F.col("c2").cast("double")
            )
            .cast("decimal(12,6)")
            .alias("pmi_q6"),
        )
    )
    return (
        scored.orderBy(F.col("pmi_q6").desc(), "w1", "w2")
        .limit(20)
        .select(
            "w1",
            "w2",
            "cxy",
            "c1",
            "c2",
            as_d(F.col("pmi_q6")).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# dq_benford_second_digit — second-digit Benford audit with chi-square

_BEN2 = {
    0: "0.11967926859688073",
    1: "0.1138901034075564",
    2: "0.10882149900550823",
    3: "0.10432956023095939",
    4: "0.10030820226757937",
    5: "0.09667723580232243",
    6: "0.09337473578303615",
    7: "0.09035198926960332",
    8: "0.08757005357886138",
    9: "0.08499735205769224",
}
_BEN2_SQL_CASE = " ".join(
    f"WHEN d2 = '{d}' THEN CAST('{p}' AS DOUBLE)" for d, p in _BEN2.items()
)


@register(
    "dq_benford_second_digit",
    tags=("curation", "quality", "stats"),
    oracle=f"""
        WITH digits AS (
            SELECT substr(regexp_replace(
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                       '[^0-9]', '', 'g'), 2, 1) AS d2
            FROM orders
            WHERE o_totalprice >= 10
        ),
        obs AS (
            SELECT d2, CAST(COUNT(*) AS BIGINT) AS n
            FROM digits GROUP BY d2
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM obs),
        terms AS (
            SELECT d2, n, nt,
                   CASE {_BEN2_SQL_CASE} END AS p_exp,
                   (CAST(n AS DOUBLE)
                      - CAST(nt AS DOUBLE) * (CASE {_BEN2_SQL_CASE} END))
                   * (CAST(n AS DOUBLE)
                      - CAST(nt AS DOUBLE) * (CASE {_BEN2_SQL_CASE} END))
                   / (CAST(nt AS DOUBLE) * (CASE {_BEN2_SQL_CASE} END)) AS t
            FROM obs CROSS JOIN tot
        ),
        chi AS (
            SELECT {o_ordered_fold_sum('d2', 't')}
                       AS chi2
            FROM terms
        )
        SELECT tm.d2 AS second_digit, tm.n,
               CAST(tm.n AS DOUBLE) / CAST(tm.nt AS DOUBLE)
                   AS observed_frac,
               tm.p_exp AS benford_frac, c.chi2
        FROM terms tm CROSS JOIN chi c
    """,
)
def dq_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford SECOND-digit audit over order amounts — the forensic
    follow-up to dq_benford_digits (fabricators who fake a plausible
    leading digit rarely fake the second; auditors test both): the
    second significant digit's distribution vs the Benford-2 law
    P(d) = sum_k log10(1 + 1/(10k+d)), with the chi-square
    goodness-of-fit that the first-digit query deliberately left out.
    The expected probabilities are Python-generated double LITERALS
    shared verbatim by both dialects (the fin_npv_rate_grid recipe —
    no log10 at query time); the digit comes from the DECIMAL
    canonical string with non-digits stripped (no scientific
    notation, no libm); counts are exact BIGINTs; each chi-square
    term is one shared double expression and the 10-term fold runs
    in digit order. One scan, 10-row state."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 10
    )
    digits = o.select(
        F.substring(
            F.regexp_replace(
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                "[^0-9]",
                "",
            ),
            2,
            1,
        ).alias("d2")
    )
    obs = digits.groupBy("d2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("nt"))
    p_exp = F.when(
        F.col("d2") == "0", F.expr(f"CAST('{_BEN2[0]}' AS DOUBLE)")
    )
    for d in range(1, 10):
        p_exp = p_exp.when(
            F.col("d2") == str(d), F.expr(f"CAST('{_BEN2[d]}' AS DOUBLE)")
        )
    e = F.col("nt").cast("double") * p_exp
    t = (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e
    terms = obs.crossJoin(F.broadcast(tot)).select(
        "d2", "n", "nt", p_exp.alias("p_exp"), t.alias("t")
    )
    chi = terms.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("d2"), F.col("t")))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("chi2")
    )
    return terms.crossJoin(F.broadcast(chi)).select(
        F.col("d2").alias("second_digit"),
        "n",
        (F.col("n").cast("double") / F.col("nt").cast("double")).alias(
            "observed_frac"
        ),
        F.col("p_exp").alias("benford_frac"),
        "chi2",
    )


# ---------------------------------------------------------------------------
# ml_balanced_accuracy — fixed-rule confusion summary


@register(
    "ml_balanced_accuracy",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH conf AS (
            SELECT l_linestatus AS status,
                   CAST(SUM(CASE WHEN l_discount >= 0.05
                            AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN l_discount >= 0.05
                            AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN l_discount < 0.05
                            AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN l_discount < 0.05
                            AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS tn
            FROM lineitem GROUP BY l_linestatus
        )
        SELECT status, tp, fp, fn, tn,
               CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                   (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                    + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE))
                   / CAST(2 AS DOUBLE) END AS balanced_accuracy,
               CASE WHEN tp + fn > 0 THEN
                   CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
                   AS sensitivity,
               CASE WHEN tn + fp > 0 THEN
                   CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) END
                   AS specificity
        FROM conf ORDER BY status
    """,
)
def ml_balanced_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced accuracy of the fixed high-discount -> returned rule,
    per line status — the imbalance-robust headline number
    ((TPR + TNR) / 2) that plain accuracy fakes on skewed labels, and
    the fixed-threshold complement to ml_youden_j's threshold sweep.
    The 2x2 confusion cells are exact BIGINT conditional counts in
    ONE map-side-combining pass (no joins); balanced accuracy,
    sensitivity, and specificity are each one guarded double
    expression with identical degenerate-class predicates on both
    engines. Scale: one scan, k-status-row state."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = F.col("l_discount") >= 0.05
    pos = F.col("l_returnflag") == "R"
    conf = li.groupBy(F.col("l_linestatus").alias("status")).agg(
        F.sum((pred & pos).cast("int")).cast("bigint").alias("tp"),
        F.sum((pred & ~pos).cast("int")).cast("bigint").alias("fp"),
        F.sum((~pred & pos).cast("int")).cast("bigint").alias("fn"),
        F.sum((~pred & ~pos).cast("int")).cast("bigint").alias("tn"),
    )
    tpr = F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast(
        "double"
    )
    tnr = F.col("tn").cast("double") / (F.col("tn") + F.col("fp")).cast(
        "double"
    )
    has_pos = (F.col("tp") + F.col("fn")) > 0
    has_neg = (F.col("tn") + F.col("fp")) > 0
    return conf.select(
        "status",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(has_pos & has_neg, (tpr + tnr) / F.lit(2).cast("double"))
        .alias("balanced_accuracy"),
        F.when(has_pos, tpr).alias("sensitivity"),
        F.when(has_neg, tnr).alias("specificity"),
    ).orderBy("status")


# ---------------------------------------------------------------------------
# graph_common_neighbors — link prediction on the trade graph



@register(
    "graph_common_neighbors",
    tags=("graph", "join"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        cand AS (
            SELECT x.n AS a, y.n AS b, CAST(COUNT(*) AS BIGINT) AS cn
            FROM nbr x JOIN nbr y ON y.v = x.v AND x.n < y.n
            GROUP BY x.n, y.n
        )
        SELECT c.a, c.b, c.cn AS common_neighbors
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM ku k WHERE k.a = c.a AND k.b = c.b
        )
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the strong-trade nation
    graph: for every NON-adjacent pair, the number of shared
    neighbors — the baseline scorer every link-prediction study
    starts from (pairs with many shared partners are the missing
    trade lanes to investigate). The candidate pairs come from the
    wedge self-join on the mirrored adjacency (O(|E|*avg_degree),
    vertex-keyed — never an all-pairs cross), existing edges drop via
    a LEFT ANTI join on the edge key, and every score is an exact
    BIGINT count. Same corpus-relative 60th-percentile edge set as
    the other round-9+ graph queries; corpus work is the one
    edge-build scan, graph state is nation-bounded."""
    g = trade_edges_undirected(spark, sf_dir).persist()
    nbr = g.select(F.col("a").alias("v"), F.col("b").alias("n")).unionByName(
        g.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    x = nbr.select("v", F.col("n").alias("a"))
    y = nbr.select("v", F.col("n").alias("b"))
    cand = (
        x.join(y, "v")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    return cand.join(g, ["a", "b"], "left_anti").select(
        "a", "b", F.col("cn").alias("common_neighbors")
    )


# ---------------------------------------------------------------------------
# stat_theil_index — Theil T and L inequality indices


@register(
    "stat_theil_index",
    tags=("stats", "agg"),
    oracle="""
        WITH base AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS xc
            FROM orders WHERE o_totalprice > 0
        ),
        sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xc) AS BIGINT) AS sxc,
                   CAST(SUM(CAST(xc AS DECIMAL(19,0))
                            * CAST(ln(CAST(xc AS DOUBLE)
                                      / CAST(100 AS DOUBLE))
                                   AS DECIMAL(12,6)))
                        AS DECIMAL(38,6)) AS sxlnx,
                   CAST(SUM(CAST(ln(CAST(xc AS DOUBLE)
                                    / CAST(100 AS DOUBLE))
                                 AS DECIMAL(12,6)))
                        AS DECIMAL(38,6)) AS slnx
            FROM base
        )
        SELECT n,
               CAST(sxc AS DOUBLE) / CAST(100 AS DOUBLE)
                   / CAST(n AS DOUBLE) AS mean_value,
               CAST(CAST(sxlnx AS VARCHAR) AS DOUBLE)
                   / CAST(sxc AS DOUBLE)
                 - CAST(ln(CAST(sxc AS DOUBLE) / CAST(100 AS DOUBLE)
                           / CAST(n AS DOUBLE)) AS DECIMAL(12,6))
                   AS theil_t,
               CAST(ln(CAST(sxc AS DOUBLE) / CAST(100 AS DOUBLE)
                       / CAST(n AS DOUBLE)) AS DECIMAL(12,6))
                 - CAST(CAST(slnx AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS theil_l
        FROM sums
    """,
)
def stat_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and Theil L (mean log deviation) inequality indices of
    order values — the decomposable entropy-family inequality
    measures beside stat_gini_coefficient (T weights by value share,
    L by population share; both 0 iff perfectly equal). Exactness:
    T = sum(x ln x)/S - ln(S/n) and L = ln(S/n) - sum(ln x)/n, with
    each per-row ln on an exact integer-cents ratio quantized to
    DECIMAL(12,6) (the house quantized-ln recipe) so BOTH log sums
    are exact decimal accumulations — order- and partition-free; the
    single ln(mean) term quantizes identically on both engines; the
    assembly is one shared expression. Distributed shape: ONE
    map-side-combining scan, 1-row state — runs at any SF for the
    cost of a count."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    base = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("xc")
    )
    lnx = F.log(F.col("xc").cast("double") / F.lit(100).cast("double")).cast(
        "decimal(12,6)"
    )
    sums = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sxc"),
        F.sum(F.col("xc").cast("decimal(19,0)") * lnx)
        .cast("decimal(38,6)")
        .alias("sxlnx"),
        F.sum(lnx).cast("decimal(38,6)").alias("slnx"),
    )
    mean_d = (
        F.col("sxc").cast("double")
        / F.lit(100).cast("double")
        / F.col("n").cast("double")
    )
    ln_mean = F.log(mean_d).cast("decimal(12,6)")
    return sums.select(
        "n",
        mean_d.alias("mean_value"),
        (
            as_d(F.col("sxlnx")) / F.col("sxc").cast("double") - ln_mean
        ).alias("theil_t"),
        (
            ln_mean - as_d(F.col("slnx")) / F.col("n").cast("double")
        ).alias("theil_l"),
    )


# ---------------------------------------------------------------------------
# ts_spectral_entropy — normalized entropy of the periodogram powers


@register(
    "ts_spectral_entropy",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS MATERIALIZED ({DAILY_Q6_SQL}),
        idx AS (
            SELECT event_type, v,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY d) AS BIGINT) AS t,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n,
                   CAST(SUM(v) OVER (PARTITION BY event_type)
                        AS BIGINT) AS s
            FROM daily
        ),
        freqs AS (SELECT unnest([1, 2, 3, 7, 14]) AS kf),
        terms AS (
            SELECT event_type, kf, n,
                   CAST(SUM((n * v - s)
                     * CAST(cos(CAST('6.283185307179586' AS DOUBLE)
                                * CAST(kf AS DOUBLE)
                                * CAST(t - 1 AS DOUBLE)
                                / CAST(n AS DOUBLE))
                            AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS sc,
                   CAST(SUM((n * v - s)
                     * CAST(sin(CAST('6.283185307179586' AS DOUBLE)
                                * CAST(kf AS DOUBLE)
                                * CAST(t - 1 AS DOUBLE)
                                / CAST(n AS DOUBLE))
                            AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS ss
            FROM idx CROSS JOIN freqs
            GROUP BY event_type, kf, n
        ),
        pw AS (
            SELECT event_type, kf,
                   (CAST(CAST(sc AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(sc AS VARCHAR) AS DOUBLE)
                    + CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(ss AS VARCHAR) AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE)) / 1e12 AS p
            FROM terms
        ),
        tot AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_freqs,
                   {o_ordered_fold_sum('kf', 'p')}
                       AS pt
            FROM pw GROUP BY event_type
        ),
        ent AS (
            SELECT pw.event_type, tot.n_freqs,
                   {o_ordered_fold_sum(
                       'pw.kf',
                       '-(pw.p / tot.pt) * CAST(CAST(ln(pw.p / tot.pt) AS'
                       ' DECIMAL(12,6)) AS DOUBLE)',
                   )} AS h
            FROM pw JOIN tot ON tot.event_type = pw.event_type
            GROUP BY pw.event_type, tot.n_freqs
        )
        SELECT event_type, n_freqs, h AS spectral_entropy,
               h / CAST('1.6094379124341003' AS DOUBLE)
                   AS spectral_entropy_norm
        FROM ent
    """,
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of each event type's daily series
    over the ts_periodogram frequency grid — low entropy = power
    concentrated at one cycle (strong periodicity), entropy near 1 =
    white-noise-flat spectrum; the single-number periodicity screen
    on top of the periodogram's per-frequency view. Exactness: powers
    are the ts_periodogram quantized-trig recipe (exact integer-by-
    DECIMAL(12,6) dot products, one shared presentation expression);
    the 5-power normalization and the entropy both fold in pinned kf
    order (the ANOVA recipe — never an unordered double sum); each
    ln(share) quantizes to DECIMAL(12,6); ln(5) enters as a
    Python-generated double literal. Distributed shape identical to
    ts_periodogram: per-type calendar-bounded windows, 5-row literal
    frequency grid, k-type state."""
    daily = daily_q6(spark, sf_dir)
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .cast("bigint")
        .alias("t"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("v").over(w).cast("bigint").alias("s"),
    )
    freqs = daily.sparkSession.createDataFrame(
        [(1,), (2,), (3,), (7,), (14,)], "kf int"
    )
    two_pi = F.expr("CAST('6.283185307179586' AS DOUBLE)")
    angle = (
        two_pi
        * F.col("kf").cast("double")
        * (F.col("t") - 1).cast("double")
        / F.col("n").cast("double")
    )
    vc = F.col("n") * F.col("v") - F.col("s")
    terms = (
        idx.crossJoin(F.broadcast(freqs))
        .groupBy("event_type", "kf", "n")
        .agg(
            F.sum(vc * F.cos(angle).cast("decimal(12,6)"))
            .cast("decimal(38,6)")
            .alias("sc"),
            F.sum(vc * F.sin(angle).cast("decimal(12,6)"))
            .cast("decimal(38,6)")
            .alias("ss"),
        )
    )
    nd = F.col("n").cast("double")
    power = (
        (
            as_d(F.col("sc")) * as_d(F.col("sc"))
            + as_d(F.col("ss")) * as_d(F.col("ss"))
        )
        / (nd * nd * nd)
        / F.lit(1e12)
    )
    pw = terms.select("event_type", "kf", power.alias("p"))
    tot = pw.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_freqs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("kf"), F.col("p")))),
            F.lit(0.0),
            lambda acc, x: acc + x["p"],
        ).alias("pt"),
    )
    ent = (
        pw.join(tot, "event_type")
        .groupBy("event_type", "n_freqs")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("kf"),
                            (
                                -(F.col("p") / F.col("pt"))
                                * as_d(
                                    F.log(F.col("p") / F.col("pt")).cast(
                                        "decimal(12,6)"
                                    )
                                )
                            ).alias("term"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("h")
        )
    )
    ln5 = F.expr("CAST('1.6094379124341003' AS DOUBLE)")
    return ent.select(
        "event_type",
        "n_freqs",
        F.col("h").alias("spectral_entropy"),
        (F.col("h") / ln5).alias("spectral_entropy_norm"),
    )


# ---------------------------------------------------------------------------
# ts_permutation_entropy — ordinal-pattern complexity per event type


@register(
    "ts_permutation_entropy",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS ({DAILY_Q6_SQL}),
        seq AS (
            SELECT event_type, v,
                   LEAD(v, 1) OVER (PARTITION BY event_type ORDER BY d)
                       AS v1,
                   LEAD(v, 2) OVER (PARTITION BY event_type ORDER BY d)
                       AS v2
            FROM daily
        ),
        pat AS (
            SELECT event_type,
                   CASE
                     WHEN v <= v1 AND v1 <= v2 THEN 0
                     WHEN v <= v2 AND NOT (v1 <= v2) AND v <= v1 THEN 1
                     WHEN NOT (v <= v1) AND v <= v2 THEN 2
                     WHEN v1 <= v2 AND NOT (v <= v2) THEN 3
                     WHEN NOT (v1 <= v2) AND v <= v1 AND NOT (v <= v2)
                          THEN 4
                     ELSE 5
                   END AS p
            FROM seq WHERE v2 IS NOT NULL
        ),
        cnt AS (
            SELECT event_type, p, CAST(COUNT(*) AS BIGINT) AS c
            FROM pat GROUP BY event_type, p
        ),
        tot AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
            FROM cnt GROUP BY event_type
        ),
        ent AS (
            SELECT c.event_type, t.n,
                   {o_ordered_fold_sum(
                       'c.p',
                       '-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) *'
                       ' CAST(CAST(ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) AS'
                       ' DECIMAL(12,6)) AS DOUBLE)',
                   )} AS h
            FROM cnt c JOIN tot t ON t.event_type = c.event_type
            GROUP BY c.event_type, t.n
        )
        SELECT event_type, n AS n_windows, h AS perm_entropy,
               h / CAST('1.791759469228055' AS DOUBLE)
                   AS perm_entropy_norm
        FROM ent
    """,
)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order m = 3) per event type:
    the Shannon entropy of the ordinal patterns of consecutive daily
    triples — the standard model-free complexity measure (low =
    predictable motif structure, near 1 = ordinally random), robust
    to monotone transforms where spectral measures aren't. Ordinal
    patterns use the STABLE tie rule (earlier index wins ties), so
    each pattern is a pure function of three integer comparisons
    (a<=b, a<=c, b<=c) — the same CASE triple on both engines, no
    sort primitive whose tie behavior could diverge. Counts are exact
    BIGINTs; the <=6-term entropy folds in pinned pattern order with
    quantized-ln DECIMAL(12,6) shares; ln 6 enters as a Python-
    generated literal. Distributed shape: per-type LEAD windows over
    CALENDAR-bounded daily rows, k-type state."""
    daily = daily_q6(spark, sf_dir)
    w_t = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type",
        "v",
        F.lead("v", 1).over(w_t).alias("v1"),
        F.lead("v", 2).over(w_t).alias("v2"),
    ).filter(F.col("v2").isNotNull())
    a, b, c = F.col("v"), F.col("v1"), F.col("v2")
    pat = seq.select(
        "event_type",
        F.when((a <= b) & (b <= c), 0)
        .when((a <= c) & ~(b <= c) & (a <= b), 1)
        .when(~(a <= b) & (a <= c), 2)
        .when((b <= c) & ~(a <= c), 3)
        .when(~(b <= c) & (a <= b) & ~(a <= c), 4)
        .otherwise(5)
        .alias("p"),
    )
    cnt = pat.groupBy("event_type", "p").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    share = F.col("c").cast("double") / F.col("n").cast("double")
    term = -share * as_d(F.log(share).cast("decimal(12,6)"))
    ent = (
        cnt.join(tot, "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p"), term.alias("t")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ).alias("h")
        )
    )
    ln6 = F.expr("CAST('1.791759469228055' AS DOUBLE)")
    return ent.select(
        "event_type",
        F.col("n").alias("n_windows"),
        F.col("h").alias("perm_entropy"),
        (F.col("h") / ln6).alias("perm_entropy_norm"),
    )


# ---------------------------------------------------------------------------
# ts_sample_entropy — SampEn(m=2) template matching per event type


@register(
    "ts_sample_entropy",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS ({DAILY_Q6_SQL}),
        seq AS (
            SELECT event_type, v,
                   LEAD(v, 1) OVER (PARTITION BY event_type ORDER BY d)
                       AS v1,
                   LEAD(v, 2) OVER (PARTITION BY event_type ORDER BY d)
                       AS v2,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                       AS i
            FROM daily
        ),
        tmpl AS MATERIALIZED (
            SELECT event_type, i, v, v1, v2 FROM seq
            WHERE v2 IS NOT NULL
        ),
        sig AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS nt,
                   CAST(SUM(v) AS BIGINT) AS s1,
                   SUM(CAST(v AS DECIMAL(19,0)) * v) AS s2
            FROM tmpl GROUP BY event_type
        ),
        r AS (
            SELECT event_type, nt,
                   CAST('0.2' AS DOUBLE)
                   * sqrt((CAST(nt AS DOUBLE)
                             * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                          / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)))
                       AS rr
            FROM sig
        ),
        pairs AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN
                       CAST(abs(a.v - b.v) AS DOUBLE) <= r.rr AND
                       CAST(abs(a.v1 - b.v1) AS DOUBLE) <= r.rr
                       THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
                   CAST(SUM(CASE WHEN
                       CAST(abs(a.v - b.v) AS DOUBLE) <= r.rr AND
                       CAST(abs(a.v1 - b.v1) AS DOUBLE) <= r.rr AND
                       CAST(abs(a.v2 - b.v2) AS DOUBLE) <= r.rr
                       THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
            FROM tmpl a
            JOIN tmpl b ON b.event_type = a.event_type AND b.i > a.i
            JOIN r ON r.event_type = a.event_type
            GROUP BY a.event_type
        )
        SELECT p.event_type, r.nt AS n_templates, p.b_cnt, p.a_cnt,
               CASE WHEN p.a_cnt > 0 AND p.b_cnt > 0 THEN
                   -CAST(CAST(ln(CAST(p.a_cnt AS DOUBLE)
                                 / CAST(p.b_cnt AS DOUBLE))
                         AS DECIMAL(12,6)) AS DOUBLE) END AS sampen
        FROM pairs p JOIN r ON r.event_type = p.event_type
    """,
)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=2, r=0.2*sigma) per event type — the
    regularity statistic of physiology/finance fame: -ln(A/B) where B
    counts template pairs matching on 2 consecutive values within
    tolerance r and A those also matching on the 3rd; lower = more
    self-similar. Template set: every index with a full (v, v1, v2)
    triple, the SAME set for both counts (documented simplification
    of the N-m vs N-m-1 edge; self-consistent and engine-identical).
    Exactness: daily values are exact q6 BIGINTs so |v_i - v_j| is an
    exact integer; r is one shared double expression off exact
    population-variance sums (sigma over the template set); every
    match test compares an exact-integer double against the identical
    r; A and B are exact BIGINTs; the final ln quantizes to
    DECIMAL(12,6) with an identical A>0 AND B>0 guard. Distributed
    shape: the pair stage is an equi-join on event_type with the
    index inequality as residual — per-type pair counts are
    CALENDAR-bounded (~days^2/2, SF-invariant), never corpus-scaled;
    corpus work is the one daily agg."""
    daily = daily_q6(spark, sf_dir)
    w_t = Window.partitionBy("event_type").orderBy("d")
    tmpl = (
        daily.select(
            "event_type",
            "v",
            F.lead("v", 1).over(w_t).alias("v1"),
            F.lead("v", 2).over(w_t).alias("v2"),
            F.row_number().over(w_t).alias("i"),
        )
        .filter(F.col("v2").isNotNull())
        .persist()  # consumed by the sigma agg AND the pair join
    )
    sig = tmpl.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v")).alias("s2"),
    )
    ntd = F.col("nt").cast("double")
    rr = F.expr("CAST('0.2' AS DOUBLE)") * F.sqrt(
        (ntd * as_d(F.col("s2")) - F.col("s1").cast("double")
         * F.col("s1").cast("double"))
        / (ntd * ntd)
    )
    r = sig.select("event_type", "nt", rr.alias("rr"))
    a = tmpl.select(
        "event_type",
        F.col("i").alias("ia"),
        F.col("v").alias("va"),
        F.col("v1").alias("va1"),
        F.col("v2").alias("va2"),
    )
    b = tmpl.select(
        "event_type",
        F.col("i").alias("ib"),
        F.col("v").alias("vb"),
        F.col("v1").alias("vb1"),
        F.col("v2").alias("vb2"),
    )
    m2 = (
        F.abs(F.col("va") - F.col("vb")).cast("double") <= F.col("rr")
    ) & (F.abs(F.col("va1") - F.col("vb1")).cast("double") <= F.col("rr"))
    m3 = m2 & (
        F.abs(F.col("va2") - F.col("vb2")).cast("double") <= F.col("rr")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("ib") > F.col("ia"))
        .join(r.select("event_type", "rr"), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(m2.cast("int")).cast("bigint").alias("b_cnt"),
            F.sum(m3.cast("int")).cast("bigint").alias("a_cnt"),
        )
    )
    sampen = F.when(
        (F.col("a_cnt") > 0) & (F.col("b_cnt") > 0),
        -as_d(
            F.log(
                F.col("a_cnt").cast("double") / F.col("b_cnt").cast("double")
            ).cast("decimal(12,6)")
        ),
    )
    return pairs.join(r.select("event_type", "nt"), "event_type").select(
        "event_type",
        F.col("nt").alias("n_templates"),
        "b_cnt",
        "a_cnt",
        sampen.alias("sampen"),
    )


# ---------------------------------------------------------------------------
# stat_lepage — combined location-scale two-sample test


@register(
    "stat_lepage",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH base AS (
            SELECT CAST(l_quantity AS DECIMAL(12,2)) AS v,
                   CAST(l_returnflag = 'R' AS INT) AS is_x
            FROM lineitem WHERE l_returnflag IN ('R', 'N')
        ),
        cells AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS ct,
                   CAST(SUM(is_x) AS BIGINT) AS cx
            FROM base GROUP BY v
        ),
        ranked AS (
            SELECT v, ct, cx,
                   2 * (SUM(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                        - ct) + ct + 1 AS mr2,
                   CAST(SUM(ct) OVER () AS BIGINT) AS n,
                   CAST(SUM(cx) OVER () AS BIGINT) AS m
            FROM cells
        ),
        scored AS (
            SELECT ct, cx, n, m, mr2,
                   LEAST(mr2, 2 * (n + 1) - mr2) AS ab2
            FROM ranked
        ),
        moments AS (
            SELECT MAX(n) AS n, MAX(m) AS m,
                   CAST(SUM(cx * mr2) AS BIGINT) AS sw,
                   CAST(SUM(ct * mr2) AS BIGINT) AS t1w,
                   SUM(CAST(ct AS DECIMAL(38,0)) * mr2 * mr2) AS t2w,
                   CAST(SUM(cx * ab2) AS BIGINT) AS sa,
                   CAST(SUM(ct * ab2) AS BIGINT) AS t1a,
                   SUM(CAST(ct AS DECIMAL(38,0)) * ab2 * ab2) AS t2a
            FROM scored
        ),
        z AS (
            SELECT n, m,
                   (CAST(sw AS DOUBLE)
                      - CAST(m AS DOUBLE) * CAST(t1w AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   / sqrt(CAST(m AS DOUBLE) * CAST(n - m AS DOUBLE)
                          * (CAST(n AS DOUBLE)
                               * CAST(CAST(t2w AS VARCHAR) AS DOUBLE)
                             - CAST(t1w AS DOUBLE) * CAST(t1w AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n - 1 AS DOUBLE))) AS zw,
                   (CAST(sa AS DOUBLE)
                      - CAST(m AS DOUBLE) * CAST(t1a AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   / sqrt(CAST(m AS DOUBLE) * CAST(n - m AS DOUBLE)
                          * (CAST(n AS DOUBLE)
                               * CAST(CAST(t2a AS VARCHAR) AS DOUBLE)
                             - CAST(t1a AS DOUBLE) * CAST(t1a AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n - 1 AS DOUBLE))) AS za
            FROM moments
        )
        SELECT CAST(m AS BIGINT) AS n_x, CAST(n - m AS BIGINT) AS n_y,
               zw AS z_wilcoxon, za AS z_ansari,
               zw * zw + za * za AS lepage_l
        FROM z
    """,
)
def stat_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage two-sample test of returned vs normal line quantities:
    L = z_Wilcoxon^2 + z_Ansari-Bradley^2 — the combined
    LOCATION-AND-SCALE omnibus (Wilcoxon sees shifts, Ansari-Bradley
    sees spread changes; Lepage catches either). Both z's come from
    ONE general linear-rank-statistic frame valid under ties:
    S = sum over x-rows of score, E[S] = m*T1/N, Var[S] =
    m*(N-m)*(N*T2 - T1^2)/(N^2*(N-1)) with T1/T2 the score totals —
    a NEW reusable recipe (any score vector, exact moments, no
    closed-form tie corrections needed). Exactness: quantities
    collapse to <=50 content-bounded value cells; doubled midranks
    mr2 and doubled AB scores min(mr2, 2(N+1)-mr2) are exact BIGINTs
    (the x2 scale cancels inside z); T2 accumulates in DECIMAL(38,0)
    (score^2 ~ N^2 overflows int64 at cluster scale); each z is one
    identically-parenthesized double expression; L is their square
    sum. Distributed shape: one cell agg, cell-bounded windows,
    1-row state."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    base = li.select(
        F.col("l_quantity").cast("decimal(12,2)").alias("v"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_x"),
    )
    cells = base.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct"),
        F.sum("is_x").cast("bigint").alias("cx"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = cells.select(
        "ct",
        "cx",
        (
            F.lit(2) * (F.sum("ct").over(w_cum) - F.col("ct"))
            + F.col("ct")
            + F.lit(1)
        ).alias("mr2"),
        F.sum("ct").over(w_all).cast("bigint").alias("n"),
        F.sum("cx").over(w_all).cast("bigint").alias("m"),
    )
    scored = ranked.select(
        "ct",
        "cx",
        "n",
        "m",
        "mr2",
        F.least(
            F.col("mr2"), F.lit(2) * (F.col("n") + 1) - F.col("mr2")
        ).alias("ab2"),
    )
    dec = "decimal(38,0)"
    mom = scored.agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(F.col("cx") * F.col("mr2")).cast("bigint").alias("sw"),
        F.sum(F.col("ct") * F.col("mr2")).cast("bigint").alias("t1w"),
        F.sum(F.col("ct").cast(dec) * F.col("mr2") * F.col("mr2")).alias(
            "t2w"
        ),
        F.sum(F.col("cx") * F.col("ab2")).cast("bigint").alias("sa"),
        F.sum(F.col("ct") * F.col("ab2")).cast("bigint").alias("t1a"),
        F.sum(F.col("ct").cast(dec) * F.col("ab2") * F.col("ab2")).alias(
            "t2a"
        ),
    )

    def _z(s, t1, t2):
        nd = F.col("n").cast("double")
        md = F.col("m").cast("double")
        nmd = (F.col("n") - F.col("m")).cast("double")
        return (
            F.col(s).cast("double")
            - md * F.col(t1).cast("double") / nd
        ) / F.sqrt(
            md
            * nmd
            * (
                nd * as_d(F.col(t2))
                - F.col(t1).cast("double") * F.col(t1).cast("double")
            )
            / (nd * nd * (F.col("n") - 1).cast("double"))
        )

    zw = _z("sw", "t1w", "t2w")
    za = _z("sa", "t1a", "t2a")
    return mom.select(
        F.col("m").cast("bigint").alias("n_x"),
        (F.col("n") - F.col("m")).cast("bigint").alias("n_y"),
        zw.alias("z_wilcoxon"),
        za.alias("z_ansari"),
        (zw * zw + za * za).alias("lepage_l"),
    )


# ---------------------------------------------------------------------------
# stat_theil_decomposition — between/within-segment inequality split


@register(
    "stat_theil_decomposition",
    tags=("stats", "agg"),
    oracle=f"""
        WITH base AS (
            SELECT c.c_mktsegment AS seg,
                   CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS xc
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_totalprice > 0
        ),
        per AS (
            SELECT seg, CAST(COUNT(*) AS BIGINT) AS ng,
                   CAST(SUM(xc) AS BIGINT) AS sg,
                   CAST(SUM(CAST(xc AS DECIMAL(19,0))
                            * CAST(ln(CAST(xc AS DOUBLE)
                                      / CAST(100 AS DOUBLE))
                                   AS DECIMAL(12,6)))
                        AS DECIMAL(38,6)) AS sxlnx
            FROM base GROUP BY seg
        ),
        tot AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(SUM(sg) AS BIGINT) AS s
            FROM per
        ),
        terms AS (
            SELECT seg, ng, sg, n, s,
                   CAST(sg AS DOUBLE) / CAST(100 AS DOUBLE)
                       / CAST(ng AS DOUBLE) AS mean_g,
                   CAST(CAST(sxlnx AS VARCHAR) AS DOUBLE)
                       / CAST(sg AS DOUBLE)
                     - CAST(ln(CAST(sg AS DOUBLE) / CAST(100 AS DOUBLE)
                               / CAST(ng AS DOUBLE)) AS DECIMAL(12,6))
                       AS t_g,
                   CAST(sg AS DOUBLE) / CAST(s AS DOUBLE) AS share_g,
                   CAST(ln((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                           / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                        AS DECIMAL(12,6)) AS ln_ratio
            FROM per CROSS JOIN tot
        ),
        split AS (
            SELECT
                {o_ordered_fold_sum('seg', 'share_g * t_g')} AS t_within,
                {o_ordered_fold_sum(
                    'seg',
                    'share_g * CAST(ln_ratio AS DOUBLE)',
                )} AS t_between
            FROM terms
        )
        SELECT tm.seg, tm.ng AS n_g, tm.mean_g, tm.t_g AS theil_within_g,
               tm.share_g AS value_share,
               sp.t_between, sp.t_within,
               sp.t_between + sp.t_within AS theil_total
        FROM terms tm CROSS JOIN split sp
    """,
)
def stat_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality DECOMPOSED across market segments — the
    property that makes Theil the analyst's inequality index over
    Gini: T_total = sum_g share_g * T_g (within) + sum_g share_g *
    ln(mean_g / mean) (between), telling you whether order-value
    dispersion lives inside segments or between them. Exactness: the
    per-segment machinery is stat_theil_index's (quantized-ln
    DECIMAL(12,6) per row, exact decimal log sums, integer cents);
    shares and means are doubles off exact integers; BOTH k-term
    folds run in pinned segment order (the ANOVA recipe); the
    between-term ln quantizes identically on both engines.
    Additivity to the single-scan stat_theil_index holds to
    quantization precision (~1e-6), asserted by the independent
    pytest, not the oracle. Distributed shape: one AQE-sized
    customer join + one hash agg per segment; k-row state."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("o_totalprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("xc"),
    )
    lnx = F.log(F.col("xc").cast("double") / F.lit(100).cast("double")).cast(
        "decimal(12,6)"
    )
    per = base.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("xc").cast("bigint").alias("sg"),
        F.sum(F.col("xc").cast("decimal(19,0)") * lnx)
        .cast("decimal(38,6)")
        .alias("sxlnx"),
    )
    tot = per.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").cast("bigint").alias("s"),
    )
    mean_g = (
        F.col("sg").cast("double")
        / F.lit(100).cast("double")
        / F.col("ng").cast("double")
    )
    t_g = as_d(F.col("sxlnx")) / F.col("sg").cast("double") - F.log(
        mean_g
    ).cast("decimal(12,6)")
    share_g = F.col("sg").cast("double") / F.col("s").cast("double")
    ln_ratio = F.log(
        (F.col("sg").cast("double") / F.col("ng").cast("double"))
        / (F.col("s").cast("double") / F.col("n").cast("double"))
    ).cast("decimal(12,6)")
    terms = per.crossJoin(F.broadcast(tot)).select(
        "seg",
        "ng",
        mean_g.alias("mean_g"),
        t_g.alias("t_g"),
        share_g.alias("share_g"),
        ln_ratio.alias("ln_ratio"),
    )
    split = terms.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("seg"),
                        (F.col("share_g") * F.col("t_g")).alias("tw"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["tw"],
        ).alias("t_within"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("seg"),
                        (
                            F.col("share_g") * as_d(F.col("ln_ratio"))
                        ).alias("tb"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["tb"],
        ).alias("t_between"),
    )
    return terms.crossJoin(F.broadcast(split)).select(
        "seg",
        F.col("ng").alias("n_g"),
        "mean_g",
        F.col("t_g").alias("theil_within_g"),
        F.col("share_g").alias("value_share"),
        "t_between",
        "t_within",
        (F.col("t_between") + F.col("t_within")).alias("theil_total"),
    )
