"""Round-14 operator wave: ordinal effect size (Cliff's delta), rank
post-hoc pairwise comparison (Dunn), seasonal trend detection
(seasonal Mann-Kendall), robust rolling outlier filtering (Hampel),
corpus diversity (Simpson/inverse-Simpson per source) and token
burstiness (variance-to-mean), clustering-agreement indices (adjusted
Rand and NMI between two labelings), 2-round k-truss peeling, rank
fusion for hybrid retrieval (RRF), and a tail-ratio risk number —
every query hash-oracled on arrival with an independent numpy /
pure-Python reference test in tests/test_round14_ops.py (the
round-10..13 discipline).

House rules applied throughout (see plans/registry.py docstring):
exact integer/decimal accumulation with doubles only at the
presentation edge; pinned order statistics (never engine percentile
functions) for quantile picks; quantized-ln DECIMAL(12,6) terms per
the text_ngram_entropy precedent for entropies/MI; string-routed or
CAST(int AS DOUBLE) constants (never a bare decimal literal that must
match); NULL-guarded degenerate divisions with IDENTICAL predicates
on both engines; DuckDB `//` twinning Spark `DIV` for every integer
rank/threshold formula; broadcast hints ONLY on content-bounded
relations (value-distinct cells, 5-row group lists, 1-row scalars) —
never on an SF-scaling side (the round-13 verdict's rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import as_d, o_fsum
from finance_etl_spark.functions.vectors import cosine
from finance_etl_spark.io.readers import load_table, load_table_parallel
from finance_etl_spark.operators.iterate import iterate
from finance_etl_spark.plans.recipes import (
    DAILY_Q6_SQL,
    GRAPH_EDGE_CTE,
    PHI2_CELL_SQL,
    SEG_DAILY_SQL,
    daily_q6,
    midranks2,
    o_ret_q9,
    phi2_cell,
    seg_daily,
    seg_returns,
    trade_edges_undirected,
)
from finance_etl_spark.plans.registry import register



# ---------------------------------------------------------------------------
# stat_cliffs_delta — ordinal effect size between two groups


@register(
    "stat_cliffs_delta",
    tags=("stats", "agg"),
    oracle="""
        WITH cells AS MATERIALIZED (
            SELECT l_returnflag AS g, CAST(l_quantity AS DECIMAL(12,2)) AS q,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem WHERE l_returnflag IN ('R', 'N')
            GROUP BY g, q
        ),
        a AS (SELECT q AS qa, n AS na FROM cells WHERE g = 'R'),
        b AS (SELECT q AS qb, n AS nb FROM cells WHERE g = 'N'),
        pair AS (
            SELECT CAST(SUM(CASE WHEN qa > qb THEN na * nb ELSE 0 END)
                        AS BIGINT) AS n_gt,
                   CAST(SUM(CASE WHEN qa < qb THEN na * nb ELSE 0 END)
                        AS BIGINT) AS n_lt
            FROM a CROSS JOIN b
        ),
        n1 AS (SELECT CAST(SUM(n) AS BIGINT) AS n1 FROM cells WHERE g = 'R'),
        n2 AS (SELECT CAST(SUM(n) AS BIGINT) AS n2 FROM cells WHERE g = 'N')
        SELECT n1, n2, n_gt, n_lt,
               CAST(n_gt - n_lt AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cliffs_delta
        FROM pair CROSS JOIN n1 CROSS JOIN n2
    """,
)
def stat_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta — the ordinal (nonparametric) effect size between
    the returned ('R') and not-returned ('N') quantity distributions:
    delta = (#{x>y} - #{x<y}) / (n1*n2), the dominance probability
    difference that Mann-Whitney tests but doesn't report. Distributed
    shape: quantities collapse to value CELLS first (content-bounded:
    |distinct l_quantity| <= 50 at any SF), so the pairwise term is a
    cell-level nested-loop over <=50x50 counted pairs — never an
    n1*n2 row join; the broadcast is of the bounded cell relation.
    All counts are exact BIGINTs; delta is the single presentation
    division."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "N"))
        .select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("decimal(12,2)").alias("q"),
        )
    )
    cells = (
        li.groupBy("g", "q").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ).persist()
    a = cells.filter(F.col("g") == "R").select(
        F.col("q").alias("qa"), F.col("n").alias("na")
    )
    b = cells.filter(F.col("g") == "N").select(
        F.col("q").alias("qb"), F.col("n").alias("nb")
    )
    pair = a.crossJoin(F.broadcast(b)).agg(
        F.sum(F.when(F.col("qa") > F.col("qb"), F.col("na") * F.col("nb")).otherwise(0))
        .cast("bigint")
        .alias("n_gt"),
        F.sum(F.when(F.col("qa") < F.col("qb"), F.col("na") * F.col("nb")).otherwise(0))
        .cast("bigint")
        .alias("n_lt"),
    )
    n1 = cells.filter(F.col("g") == "R").agg(
        F.sum("n").cast("bigint").alias("n1")
    )
    n2 = cells.filter(F.col("g") == "N").agg(
        F.sum("n").cast("bigint").alias("n2")
    )
    return (
        pair.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "n1",
            "n2",
            "n_gt",
            "n_lt",
            (
                (F.col("n_gt") - F.col("n_lt")).cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("cliffs_delta"),
        )
    )


# ---------------------------------------------------------------------------
# stat_dunn_posthoc — Dunn's pairwise z after Kruskal-Wallis


@register(
    "stat_dunn_posthoc",
    tags=("stats", "window"),
    oracle="""
        WITH vals AS MATERIALIZED (
            SELECT o_orderpriority AS g,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS q
            FROM orders
        ),
        ranked AS (
            SELECT g,
                   2 * RANK() OVER (ORDER BY q)
                     + COUNT(*) OVER (PARTITION BY q) - 1 AS u
            FROM vals
        ),
        grp AS MATERIALIZED (
            SELECT g, CAST(SUM(u) AS BIGINT) AS ru,
                   CAST(COUNT(*) AS BIGINT) AS ni
            FROM ranked GROUP BY g
        ),
        ties AS (
            SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tt
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM vals GROUP BY q)
        ),
        tot AS (SELECT CAST(SUM(ni) AS BIGINT) AS n FROM grp)
        SELECT gi.g AS g_a, gj.g AS g_b, gi.ni AS n_a, gj.ni AS n_b,
               CAST(gi.ru AS DOUBLE)
                 / (CAST(2 AS DOUBLE) * CAST(gi.ni AS DOUBLE)) AS mean_rank_a,
               CAST(gj.ru AS DOUBLE)
                 / (CAST(2 AS DOUBLE) * CAST(gj.ni AS DOUBLE)) AS mean_rank_b,
               (CAST(gi.ru AS DOUBLE)
                  / (CAST(2 AS DOUBLE) * CAST(gi.ni AS DOUBLE))
                - CAST(gj.ru AS DOUBLE)
                  / (CAST(2 AS DOUBLE) * CAST(gj.ni AS DOUBLE)))
               / SQRT(
                   (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))
                      / CAST(12 AS DOUBLE)
                    - CAST(tt AS DOUBLE)
                      / (CAST(12 AS DOUBLE)
                         * (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))))
                   * (CAST(1 AS DOUBLE) / CAST(gi.ni AS DOUBLE)
                      + CAST(1 AS DOUBLE) / CAST(gj.ni AS DOUBLE))
                 ) AS z
        FROM grp gi JOIN grp gj ON gi.g < gj.g
        CROSS JOIN ties CROSS JOIN tot
    """,
)
def stat_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test — the tie-corrected pairwise z statistics
    that follow a significant Kruskal-Wallis (which group pairs
    actually differ): z_ij = (Rbar_i - Rbar_j) / sqrt((N(N+1)/12 -
    sum(t^3-t)/(12(N-1))) * (1/n_i + 1/n_j)), over order totalprice by
    priority. Exactness: doubled midranks u = 2*RANK + tiecount - 1
    are exact BIGINTs (the house midrank recipe); group rank sums and
    the tie term are exact integers; each mean rank is ONE division
    and z is one shared expression parenthesized identically on both
    engines (sqrt is IEEE-correctly-rounded, so identical operands
    give identical bits). Distributed shape: pooled doubled midranks
    via midranks2 (value-bucket window + O(buckets) broadcast carry,
    exactly as stat_kruskal_wallis ranks this same column — never an
    unpartitioned global row sort); a row's u = 2*RANK + tiecount - 1
    equals the mr2 of its distinct value, so per-group rank sums come
    from one value-keyed join + one group agg, then group-level
    (5-row) state only — the pairwise stage is a 5x5 bounded
    self-join, broadcast legitimately. Oracle unchanged from the
    row-window form: identical integer group sums by construction."""
    vals = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("q"),
    )
    rv = midranks2(vals, "q", 10000)
    grp = (
        vals.join(rv, vals.q == rv.v)
        .groupBy("g")
        .agg(
            F.sum("mr2").cast("bigint").alias("ru"),
            F.count(F.lit(1)).cast("bigint").alias("ni"),
        )
        .persist()
    )
    ties = (
        vals.groupBy("q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    tot = grp.agg(F.sum("ni").cast("bigint").alias("n"))
    gi = grp.select(
        F.col("g").alias("g_a"), F.col("ru").alias("ru_a"), F.col("ni").alias("n_a")
    )
    gj = grp.select(
        F.col("g").alias("g_b"), F.col("ru").alias("ru_b"), F.col("ni").alias("n_b")
    )
    two = F.lit(2).cast("double")
    one = F.lit(1).cast("double")
    twelve = F.lit(12).cast("double")
    mean_a = F.col("ru_a").cast("double") / (two * F.col("n_a").cast("double"))
    mean_b = F.col("ru_b").cast("double") / (two * F.col("n_b").cast("double"))
    nd = F.col("n").cast("double")
    a_term = nd * (nd + one) / twelve - F.col("tt").cast("double") / (
        twelve * (nd - one)
    )
    z = (mean_a - mean_b) / F.sqrt(
        a_term
        * (
            one / F.col("n_a").cast("double")
            + one / F.col("n_b").cast("double")
        )
    )
    return (
        gi.join(F.broadcast(gj), F.col("g_a") < F.col("g_b"))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(tot))
        .select(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            mean_a.alias("mean_rank_a"),
            mean_b.alias("mean_rank_b"),
            z.alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# shared daily q6-quantized event values (seasonal MK + Hampel)

@register(
    "ts_seasonal_mann_kendall",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS MATERIALIZED (
            SELECT event_type, d, v, CAST(isodow(d) - 1 AS INT) AS wd
            FROM ({DAILY_Q6_SQL})
        ),
        s_wd AS (
            SELECT a.event_type, a.wd,
                   CAST(SUM(CASE WHEN b.v > a.v THEN 1
                                 WHEN b.v < a.v THEN -1 ELSE 0 END)
                        AS BIGINT) AS s
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.wd = b.wd AND a.d < b.d
            GROUP BY a.event_type, a.wd
        ),
        n_wd AS (
            SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type, wd
        ),
        tt_wd AS (
            SELECT event_type, wd,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
            FROM (SELECT event_type, wd, v, CAST(COUNT(*) AS BIGINT) AS t
                  FROM daily GROUP BY event_type, wd, v)
            GROUP BY event_type, wd
        ),
        per_wd AS (
            SELECT n.event_type, n.wd, n.n,
                   COALESCE(s.s, 0) AS s,
                   n.n * (n.n - 1) * (2 * n.n + 5) - t.tt AS varnum
            FROM n_wd n
            LEFT JOIN s_wd s ON s.event_type = n.event_type AND s.wd = n.wd
            JOIN tt_wd t ON t.event_type = n.event_type AND t.wd = n.wd
        )
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS n_days,
               CAST(SUM(s) AS BIGINT) AS s_total,
               CAST(SUM(varnum) AS BIGINT) AS varnum_total,
               CASE WHEN SUM(varnum) > 0 THEN
                 CAST(CASE WHEN SUM(s) > 0 THEN SUM(s) - 1
                           WHEN SUM(s) < 0 THEN SUM(s) + 1
                           ELSE 0 END AS DOUBLE)
                 / SQRT(CAST(SUM(varnum) AS DOUBLE) / CAST(18 AS DOUBLE))
               END AS z
        FROM per_wd GROUP BY event_type
    """,
)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test per event type (Hirsch-Slack):
    the MK S statistic computed WITHIN each weekday season (so weekly
    cycles can't masquerade as trend), seasons then summed — S_total,
    its tie-corrected variance numerator (exact integer: sum over
    seasons of n(n-1)(2n+5) - sum t(t-1)(2t+5)), and the
    continuity-corrected z. Daily values are 1e-6 floor-quantized
    BIGINTs so every sign comparison and tie group is exact.
    Distributed shape: the pairwise stage is per (type, weekday) over
    CALENDAR-BOUNDED daily aggregates (~2400 days at any SF — the
    pair count is bounded at ~350^2 per season regardless of corpus
    size), keyed so a cluster partitions by (type, weekday). z is the
    single presentation expression (IEEE sqrt + one division)."""
    daily = daily_q6(spark, sf_dir).withColumn(
        "wd", F.weekday("d").cast("int")
    ).persist()
    a = daily.select(
        "event_type", "wd", F.col("d").alias("d1"), F.col("v").alias("v1")
    )
    b = daily.select(
        "event_type", "wd", F.col("d").alias("d2"), F.col("v").alias("v2")
    )
    s_wd = (
        a.join(b, ["event_type", "wd"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("event_type", "wd")
        .agg(
            F.sum(
                F.when(F.col("v2") > F.col("v1"), 1)
                .when(F.col("v2") < F.col("v1"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    n_wd = daily.groupBy("event_type", "wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tt_wd = (
        daily.groupBy("event_type", "wd", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type", "wd")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (F.lit(2) * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    per_wd = (
        n_wd.join(s_wd, ["event_type", "wd"], "left")
        .join(tt_wd, ["event_type", "wd"])
        .select(
            "event_type",
            "wd",
            "n",
            F.coalesce(F.col("s"), F.lit(0)).alias("s"),
            (
                F.col("n") * (F.col("n") - 1) * (F.lit(2) * F.col("n") + 5)
                - F.col("tt")
            ).alias("varnum"),
        )
    )
    agg = per_wd.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_days"),
        F.sum("s").cast("bigint").alias("s_total"),
        F.sum("varnum").cast("bigint").alias("varnum_total"),
    )
    s_adj = (
        F.when(F.col("s_total") > 0, F.col("s_total") - 1)
        .when(F.col("s_total") < 0, F.col("s_total") + 1)
        .otherwise(0)
        .cast("double")
    )
    z = F.when(
        F.col("varnum_total") > 0,
        s_adj
        / F.sqrt(
            F.col("varnum_total").cast("double") / F.lit(18).cast("double")
        ),
    )
    return agg.select(
        "event_type", "n_days", "s_total", "varnum_total", z.alias("z")
    )


# ---------------------------------------------------------------------------
# window_hampel_filter — rolling median +- k*MAD outlier flags


@register(
    "window_hampel_filter",
    tags=("window", "timeseries", "dq"),
    oracle=f"""
        WITH daily AS MATERIALIZED ({DAILY_Q6_SQL}),
        w1 AS (
            SELECT event_type, d, v,
                   list(v) OVER (PARTITION BY event_type ORDER BY d
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                       AS l
            FROM daily
        ),
        w2 AS (
            SELECT event_type, d, v, l, list_sort(l)[4] AS med
            FROM w1 WHERE len(l) = 7
        ),
        w3 AS (
            SELECT event_type, d, v, med,
                   list_sort(list_transform(l, x -> abs(x - med)))[4] AS mad
            FROM w2
        )
        SELECT event_type, CAST(d AS DATE) AS d, v, med, mad,
               (abs(v - med) > 3 * mad) AS is_outlier
        FROM w3
    """,
)
def window_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily per-type series: a 7-point centered
    rolling MEDIAN and rolling MAD (median absolute deviation), a
    point flagged when |x - med| > 3*MAD — the robust outlier detector
    that, unlike z-scores, doesn't let the outlier inflate its own
    yardstick. Exactness: daily values are 1e-6 floor-quantized
    BIGINTs; median and MAD are PINNED order statistics (4th of the
    sorted 7-element frame — never an engine median/percentile call),
    so every number including the boolean is exact integer arithmetic.
    Edge frames (<7 points) are excluded, matching the oracle's len=7
    filter. Distributed shape: one window over calendar-bounded daily
    aggregates partitioned by event_type; the frame sort is 7 elements
    per row — O(1) work per point, no global sort."""
    daily = daily_q6(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    framed = daily.withColumn("l", F.collect_list("v").over(w)).filter(
        F.size("l") == 7
    )
    med = F.element_at(F.array_sort("l"), 4)
    framed = framed.withColumn("med", med)
    mad = F.element_at(
        F.array_sort(
            F.transform(F.col("l"), lambda x: F.abs(x - F.col("med")))
        ),
        4,
    )
    return framed.select(
        "event_type",
        F.col("d").cast("date").alias("d"),
        "v",
        "med",
        mad.alias("mad"),
        (F.abs(F.col("v") - F.col("med")) > F.lit(3) * mad).alias(
            "is_outlier"
        ),
    )


# ---------------------------------------------------------------------------
# text_simpson_diversity — Simpson's D / inverse Simpson per source


@register(
    "text_simpson_diversity",
    tags=("text", "tokenize", "agg"),
    oracle=r"""
        WITH toks AS (
            SELECT source, lower(tok) AS tok
            FROM (SELECT source,
                         unnest(regexp_extract_all(text, '[a-zA-Z0-9_]+'))
                             AS tok
                  FROM documents)
        ),
        uni AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks GROUP BY source, tok
        )
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(n * (n - 1)) AS BIGINT) AS nn1,
               CASE WHEN SUM(n) > 1 THEN
                 CAST(SUM(n * (n - 1)) AS DOUBLE)
                   / (CAST(SUM(n) AS DOUBLE)
                      * (CAST(SUM(n) AS DOUBLE) - CAST(1 AS DOUBLE)))
               END AS simpson_d,
               CASE WHEN SUM(n * (n - 1)) > 0 THEN
                 (CAST(SUM(n) AS DOUBLE)
                    * (CAST(SUM(n) AS DOUBLE) - CAST(1 AS DOUBLE)))
                   / CAST(SUM(n * (n - 1)) AS DOUBLE)
               END AS inv_simpson
        FROM uni GROUP BY source
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simpson's diversity: D = sum n_v(n_v-1) / (N(N-1)) —
    the probability two tokens drawn without replacement from one
    source coincide — and the inverse-Simpson "effective vocabulary
    size" 1/D, the single number a training-mix report uses to compare
    how repetitive each source is (complements corpus-level
    text_ngram_entropy, which can't attribute skew to a source). Both
    are EXACT up to one presentation division: token counts and
    sum n(n-1) are BIGINTs. Distributed shape: one (source, token)
    hash agg (map-side combining) then source-level state — vocab-
    bounded, no shuffle of raw token instances beyond the count agg."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9_]+', 0)")
        ).alias("tok0"),
    ).select("source", F.lower("tok0").alias("tok"))
    uni = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    one = F.lit(1).cast("double")
    agg = uni.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("nn1"),
    )
    nd = F.col("n_tokens").cast("double")
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        "nn1",
        F.when(
            F.col("n_tokens") > 1,
            F.col("nn1").cast("double") / (nd * (nd - one)),
        ).alias("simpson_d"),
        F.when(
            F.col("nn1") > 0,
            (nd * (nd - one)) / F.col("nn1").cast("double"),
        ).alias("inv_simpson"),
    )


# ---------------------------------------------------------------------------
# text_burstiness — variance-to-mean ratio of per-doc token counts


@register(
    "text_burstiness",
    tags=("text", "tokenize", "window"),
    oracle=r"""
        WITH dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        percell AS (
            SELECT doc_id, lower(tok) AS tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id,
                         unnest(regexp_extract_all(text, '[a-zA-Z0-9_]+'))
                             AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ),
        pertok AS (
            SELECT tok, CAST(SUM(c) AS BIGINT) AS t_total,
                   CAST(COUNT(*) AS BIGINT) AS df,
                   CAST(SUM(c * c) AS BIGINT) AS s2
            FROM percell GROUP BY tok
        ),
        ranked AS (
            SELECT tok, t_total, df, s2,
                   CAST(ROW_NUMBER() OVER (ORDER BY t_total DESC, tok)
                        AS INT) AS rk
            FROM pertok
        )
        SELECT tok, t_total, df, s2, rk,
               CAST(nd * s2 - t_total * t_total AS DOUBLE)
                 / CAST((nd - 1) * t_total AS DOUBLE) AS vmr
        FROM ranked CROSS JOIN dtot
        WHERE rk <= 40
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness for the top-40 corpus tokens: the
    variance-to-mean ratio (Fano factor) of per-document counts over
    ALL documents — VMR 1 = Poisson scatter, >1 = bursty (a token that
    clumps into few documents: boilerplate, code, spam), the standard
    screen for tokens whose corpus frequency misrepresents their
    document spread (Church-Gale). Exactness: VMR = (D*S2 - T^2) /
    ((D-1)*T) with D, S2 (sum of squared per-doc counts), T all exact
    BIGINTs — numerator and denominator are exact integers, one
    presentation division. Distributed shape: (doc, token) count agg
    -> token-level state; the top-40 is one TakeOrdered-style rank,
    deterministic via the (count desc, token) tiebreak."""
    d = load_table_parallel(spark, sf_dir, "documents")
    dtot = d.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    percell = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9_]+', 0)")
            ).alias("tok0"),
        )
        .select("doc_id", F.lower("tok0").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pertok = percell.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("t_total"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    ranked = pertok.select(
        "tok",
        "t_total",
        "df",
        "s2",
        F.row_number()
        .over(Window.orderBy(F.col("t_total").desc(), "tok"))
        .cast("int")
        .alias("rk"),
    ).filter(F.col("rk") <= 40)
    return ranked.crossJoin(F.broadcast(dtot)).select(
        "tok",
        "t_total",
        "df",
        "s2",
        "rk",
        (
            (F.col("nd") * F.col("s2") - F.col("t_total") * F.col("t_total"))
            .cast("double")
            / ((F.col("nd") - 1) * F.col("t_total")).cast("double")
        ).alias("vmr"),
    )


# ---------------------------------------------------------------------------
# ml_cluster_ari — adjusted Rand index between two labelings


@register(
    "ml_cluster_ari",
    tags=("ml", "eval"),
    oracle="""
        WITH cells AS MATERIALIZED (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nij
            FROM documents GROUP BY lang, source
        ),
        sij AS (
            SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sum_ij
            FROM cells
        ),
        sa AS (
            SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS sum_a
            FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai
                  FROM cells GROUP BY lang)
        ),
        sb AS (
            SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS sum_b
            FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj
                  FROM cells GROUP BY source)
        ),
        tot AS (
            SELECT CAST(SUM(nij) AS BIGINT) AS n,
                   CAST((SUM(nij) * (SUM(nij) - 1)) // 2 AS BIGINT) AS c2n
            FROM cells
        )
        SELECT n, sum_ij, sum_a, sum_b, c2n,
               CASE WHEN (CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE))
                         / CAST(2 AS DOUBLE)
                      <> CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
                         / CAST(c2n AS DOUBLE)
               THEN
                 (CAST(sum_ij AS DOUBLE)
                    - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
                      / CAST(c2n AS DOUBLE))
                 / ((CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE))
                      / CAST(2 AS DOUBLE)
                    - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
                      / CAST(c2n AS DOUBLE))
               END AS ari
        FROM sij CROSS JOIN sa CROSS JOIN sb CROSS JOIN tot
    """,
)
def ml_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand index between the language and source partitions
    of the document corpus — the chance-corrected pair-counting
    agreement number used to score a clustering (e.g. the semantic-
    dedup k-means) against any reference labeling: ARI = (sum_ij C2 -
    E) / ((sum_a + sum_b)/2 - E), E = sum_a*sum_b/C2(n). Exactness:
    every C(x,2) = x(x-1) DIV 2 is an exact BIGINT (the product is
    always even), so the three pair sums and C2(n) are exact integers;
    ARI is one double expression parenthesized identically on both
    engines, NULL-guarded on the degenerate both-trivial-partitions
    case with the IDENTICAL predicate. Distributed shape: one
    contingency hash agg (cells bounded by |langs| x |sources|), then
    scalar state."""
    d = load_table_parallel(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    ).persist()
    sij = cells.agg(
        F.sum(F.expr("CAST((nij * (nij - 1)) DIV 2 AS BIGINT)"))
        .cast("bigint")
        .alias("sum_ij")
    )
    sa = (
        cells.groupBy("lang")
        .agg(F.sum("nij").cast("bigint").alias("ai"))
        .agg(
            F.sum(F.expr("CAST((ai * (ai - 1)) DIV 2 AS BIGINT)"))
            .cast("bigint")
            .alias("sum_a")
        )
    )
    sb = (
        cells.groupBy("source")
        .agg(F.sum("nij").cast("bigint").alias("bj"))
        .agg(
            F.sum(F.expr("CAST((bj * (bj - 1)) DIV 2 AS BIGINT)"))
            .cast("bigint")
            .alias("sum_b")
        )
    )
    tot = cells.agg(
        F.sum("nij").cast("bigint").alias("n"),
        F.expr(
            "CAST((SUM(nij) * (SUM(nij) - 1)) DIV 2 AS BIGINT)"
        ).alias("c2n"),
    )
    two = F.lit(2).cast("double")
    e_term = (
        F.col("sum_a").cast("double")
        * F.col("sum_b").cast("double")
        / F.col("c2n").cast("double")
    )
    m_term = (
        F.col("sum_a").cast("double") + F.col("sum_b").cast("double")
    ) / two
    ari = F.when(
        m_term != e_term,
        (F.col("sum_ij").cast("double") - e_term) / (m_term - e_term),
    )
    return (
        sij.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(tot))
        .select("n", "sum_ij", "sum_a", "sum_b", "c2n", ari.alias("ari"))
    )


# ---------------------------------------------------------------------------
# ml_cluster_nmi — normalized mutual information between two labelings


@register(
    "ml_cluster_nmi",
    tags=("ml", "eval"),
    oracle="""
        WITH cells AS MATERIALIZED (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nij
            FROM documents GROUP BY lang, source
        ),
        ai AS (SELECT lang, CAST(SUM(nij) AS BIGINT) AS ai
               FROM cells GROUP BY lang),
        bj AS (SELECT source, CAST(SUM(nij) AS BIGINT) AS bj
               FROM cells GROUP BY source),
        tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cells),
        mi_sum AS (
            SELECT CAST(CAST(SUM(
                     c.nij * CAST(ln(
                       (CAST(c.nij AS DOUBLE) * CAST(t.n AS DOUBLE))
                       / (CAST(a.ai AS DOUBLE) * CAST(b.bj AS DOUBLE))
                     ) AS DECIMAL(12,6))
                   ) AS VARCHAR) AS DOUBLE) AS mi_n
            FROM cells c
            JOIN ai a ON a.lang = c.lang
            JOIN bj b ON b.source = c.source
            CROSS JOIN tot t
        ),
        hx_sum AS (
            SELECT -CAST(CAST(SUM(
                     a.ai * CAST(ln(CAST(a.ai AS DOUBLE)
                                    / CAST(t.n AS DOUBLE))
                             AS DECIMAL(12,6))
                   ) AS VARCHAR) AS DOUBLE) AS hx_n
            FROM ai a CROSS JOIN tot t
        ),
        hy_sum AS (
            SELECT -CAST(CAST(SUM(
                     b.bj * CAST(ln(CAST(b.bj AS DOUBLE)
                                    / CAST(t.n AS DOUBLE))
                             AS DECIMAL(12,6))
                   ) AS VARCHAR) AS DOUBLE) AS hy_n
            FROM bj b CROSS JOIN tot t
        )
        SELECT n,
               mi_n / CAST(n AS DOUBLE) AS mi,
               hx_n / CAST(n AS DOUBLE) AS hx,
               hy_n / CAST(n AS DOUBLE) AS hy,
               CASE WHEN hx_n / CAST(n AS DOUBLE)
                         + hy_n / CAST(n AS DOUBLE) > CAST(0 AS DOUBLE)
               THEN CAST(2 AS DOUBLE) * (mi_n / CAST(n AS DOUBLE))
                    / (hx_n / CAST(n AS DOUBLE) + hy_n / CAST(n AS DOUBLE))
               END AS nmi
        FROM mi_sum CROSS JOIN hx_sum CROSS JOIN hy_sum CROSS JOIN tot
    """,
)
def ml_cluster_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between the language and source
    labelings (the information-theoretic sibling of ml_cluster_ari):
    NMI = 2*I(X;Y) / (H(X)+H(Y)). Engine-exact via the quantized-log
    recipe (text_ngram_entropy precedent): each cell's
    ln(nij*N/(ai*bj)) and each margin's ln(p) quantize to
    DECIMAL(12,6), so I*N, Hx*N, Hy*N are exact integer-by-decimal
    dot products; the three presentation divisions and the final
    ratio are shared double expressions parenthesized identically.
    Distributed shape: one contingency hash agg, margins broadcast
    (|langs| and |sources| are content-bounded), scalar state after."""
    d = load_table_parallel(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    ).persist()
    ai = cells.groupBy("lang").agg(F.sum("nij").cast("bigint").alias("ai"))
    bj = cells.groupBy("source").agg(
        F.sum("nij").cast("bigint").alias("bj")
    )
    tot = cells.agg(F.sum("nij").cast("bigint").alias("n"))
    mi_ln = F.log(
        (F.col("nij").cast("double") * F.col("n").cast("double"))
        / (F.col("ai").cast("double") * F.col("bj").cast("double"))
    ).cast("decimal(12,6)")
    mi_sum = (
        cells.join(F.broadcast(ai), "lang")
        .join(F.broadcast(bj), "source")
        .crossJoin(F.broadcast(tot))
        .agg(as_d(F.sum(F.col("nij") * mi_ln)).alias("mi_n"))
    )
    hx_ln = F.log(
        F.col("ai").cast("double") / F.col("n").cast("double")
    ).cast("decimal(12,6)")
    hx_sum = (
        ai.crossJoin(F.broadcast(tot))
        .agg((-as_d(F.sum(F.col("ai") * hx_ln))).alias("hx_n"))
    )
    hy_ln = F.log(
        F.col("bj").cast("double") / F.col("n").cast("double")
    ).cast("decimal(12,6)")
    hy_sum = (
        bj.crossJoin(F.broadcast(tot))
        .agg((-as_d(F.sum(F.col("bj") * hy_ln))).alias("hy_n"))
    )
    nd = F.col("n").cast("double")
    mi = F.col("mi_n") / nd
    hx = F.col("hx_n") / nd
    hy = F.col("hy_n") / nd
    nmi = F.when(
        hx + hy > F.lit(0).cast("double"), F.lit(2).cast("double") * mi / (hx + hy)
    )
    return (
        mi_sum.crossJoin(F.broadcast(hx_sum))
        .crossJoin(F.broadcast(hy_sum))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            mi.alias("mi"),
            hx.alias("hx"),
            hy.alias("hy"),
            nmi.alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# graph_ktruss_peel2 — two peeling rounds toward the 4-truss


@register(
    "graph_ktruss_peel2",
    tags=("graph", "iterative"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        g0 AS MATERIALIZED (SELECT a, b FROM ku),
        adj0 AS (SELECT a AS node, b AS nb FROM g0
                 UNION ALL SELECT b AS node, a AS nb FROM g0),
        sup0 AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS s
                 FROM g0 e
                 JOIN adj0 na ON na.node = e.a
                 JOIN adj0 nb ON nb.node = e.b AND nb.nb = na.nb
                 GROUP BY e.a, e.b),
        g1 AS MATERIALIZED (
            SELECT g.a, g.b FROM g0 g
            JOIN sup0 s ON s.a = g.a AND s.b = g.b WHERE s.s >= 2),
        adj1 AS (SELECT a AS node, b AS nb FROM g1
                 UNION ALL SELECT b AS node, a AS nb FROM g1),
        sup1 AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS s
                 FROM g1 e
                 JOIN adj1 na ON na.node = e.a
                 JOIN adj1 nb ON nb.node = e.b AND nb.nb = na.nb
                 GROUP BY e.a, e.b),
        g2 AS MATERIALIZED (
            SELECT g.a, g.b FROM g1 g
            JOIN sup1 s ON s.a = g.a AND s.b = g.b WHERE s.s >= 2),
        adj2 AS (SELECT a AS node, b AS nb FROM g2
                 UNION ALL SELECT b AS node, a AS nb FROM g2),
        sup2 AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS s
                 FROM g2 e
                 JOIN adj2 na ON na.node = e.a
                 JOIN adj2 nb ON nb.node = e.b AND nb.nb = na.nb
                 GROUP BY e.a, e.b)
        SELECT g.a, g.b, CAST(COALESCE(s.s, 0) AS BIGINT) AS support
        FROM g2 g LEFT JOIN sup2 s ON s.a = g.a AND s.b = g.b
    """,
)
def graph_ktruss_peel2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two k-truss peeling rounds (k=4: drop edges in <2 triangles,
    recount, drop again) on the strong-trade nation graph — the
    iterative refinement graph_edge_triangle_support reads one round
    of: peeling removes an edge, which erases triangles through its
    SURVIVORS, so single-round support over-counts the truss (this
    query's g1 vs g2 difference is exactly that cascade). Fixed
    2 rounds through operators/iterate.py, each checkpointed, so the
    sink reads a materialized edge set; each round is the same two
    equi-joins over the
    mirrored adjacency (O(|E|*avg_degree) wedges, vertex-keyed
    shuffles — never a cubic enumeration), so the pattern extends to
    convergence peeling by iterating the same stage. Final support is
    recounted INSIDE the surviving subgraph. All integers; same
    corpus-relative 60th-percentile edge set as graph_triangle_count
    (the quantile threshold twin is the proven round-13 idiom)."""

    def support(edges: DataFrame) -> DataFrame:
        adj = edges.select(
            F.col("a").alias("node"), F.col("b").alias("nb")
        ).unionByName(
            edges.select(F.col("b").alias("node"), F.col("a").alias("nb"))
        )
        na = adj.select(F.col("node").alias("a"), F.col("nb").alias("cn"))
        nb = adj.select(F.col("node").alias("b"), F.col("nb").alias("cn"))
        return (
            edges.join(na, "a")
            .join(nb, ["b", "cn"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
        )

    def peel(g: DataFrame, _: int) -> DataFrame:
        return g.join(support(g), ["a", "b"]).filter(F.col("s") >= 2).select("a", "b")

    g = iterate(trade_edges_undirected(spark, sf_dir), peel, 2)
    final_sup = support(g)
    return g.join(final_sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("support"),
    )


# ---------------------------------------------------------------------------
# vec_rrf_fusion — reciprocal-rank fusion of two retrieval rankings

_L2SQ = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)
_DOT14 = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM14 = (
    "sqrt(list_sum(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@register(
    "vec_rrf_fusion",
    tags=("vector", "similarity", "eval"),
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 5),
        scored AS MATERIALIZED (
            SELECT q.query_id, e.vec_id AS cand_id,
                   {_DOT14.format(a='q.q_emb', b='e.embedding')}
                     / ({_NORM14.format(a='q.q_emb')}
                        * {_NORM14.format(a='e.embedding')}) AS cos_sim,
                   {_L2SQ.format(a='q.q_emb', b='e.embedding')} AS dist_sq
            FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        ),
        ra AS (
            SELECT query_id, cand_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, cand_id) AS INT) AS rank_cos
            FROM scored QUALIFY rank_cos <= 20
        ),
        rb AS (
            SELECT query_id, cand_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY dist_sq, cand_id) AS INT) AS rank_l2
            FROM scored QUALIFY rank_l2 <= 20
        ),
        fused AS (
            SELECT query_id, cand_id, rank_cos, rank_l2,
                   COALESCE(CAST(1 AS DOUBLE)
                            / CAST(60 + rank_cos AS DOUBLE),
                            CAST(0 AS DOUBLE))
                   + COALESCE(CAST(1 AS DOUBLE)
                              / CAST(60 + rank_l2 AS DOUBLE),
                              CAST(0 AS DOUBLE)) AS rrf_score
            FROM ra FULL JOIN rb USING (query_id, cand_id)
        )
        SELECT query_id, cand_id, rank_cos, rank_l2, rrf_score,
               fused_rank
        FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY rrf_score DESC, cand_id) AS INT)
                            AS fused_rank
              FROM fused)
        WHERE fused_rank <= 10
    """,
)
def vec_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al. 2009) of two
    retrieval rankings — cosine similarity and L2 distance — for 5
    query vectors: score = sum over lists of 1/(60+rank), the
    standard way hybrid search merges dense + sparse (or two dense)
    rankers without score calibration. Exactness: both base scores
    are the house pinned element-order folds (dot/norm and the
    squared-difference fold twin list_sum's sequential semantics);
    ranks are integers with deterministic id tiebreaks; each RRF term
    is one exact IEEE division of integers and the two terms add in
    fixed written order, so the fused ranking twins bit-for-bit.
    Distributed shape: 5-query broadcast against one corpus scan (the
    documented brute-force eval baseline — production candidate
    generation swaps in the LSH/IVF index paths); top-20 per ranking
    via per-query windows; the fusion join carries <=40 rows per
    query."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    diff_sq = F.aggregate(
        F.zip_with(
            F.col("q_emb"),
            F.col("embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            cosine("q_emb", "embedding").alias("cos_sim"),
            diff_sq.alias("dist_sq"),
        )
        .persist()
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "cand_id"
    )
    wb = Window.partitionBy("query_id").orderBy("dist_sq", "cand_id")
    ra = (
        scored.select(
            "query_id",
            "cand_id",
            F.row_number().over(wa).cast("int").alias("rank_cos"),
        )
        .filter(F.col("rank_cos") <= 20)
    )
    rb = (
        scored.select(
            "query_id",
            "cand_id",
            F.row_number().over(wb).cast("int").alias("rank_l2"),
        )
        .filter(F.col("rank_l2") <= 20)
    )
    zero = F.lit(0).cast("double")
    one = F.lit(1).cast("double")
    rrf = F.coalesce(
        one / (F.lit(60) + F.col("rank_cos")).cast("double"), zero
    ) + F.coalesce(one / (F.lit(60) + F.col("rank_l2")).cast("double"), zero)
    fused = ra.join(rb, ["query_id", "cand_id"], "full_outer").select(
        "query_id", "cand_id", "rank_cos", "rank_l2", rrf.alias("rrf_score")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "cand_id"
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(wf).cast("int")
        )
        .filter(F.col("fused_rank") <= 10)
    )


# ---------------------------------------------------------------------------
# fin_tail_ratio — P95 / |P5| of daily segment returns


@register(
    "fin_tail_ratio",
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
                                      ORDER BY r, d) AS rk_lo,
                   COUNT(*) OVER (PARTITION BY segment) AS n
            FROM ret
        ),
        picks AS (
            SELECT segment,
                   CAST(MIN(n) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN rk_lo = (n + 19) // 20
                                 THEN r ELSE 0 END) AS BIGINT) AS p5,
                   CAST(SUM(CASE WHEN rk_lo = (19 * (n + 1)) // 20
                                 THEN r ELSE 0 END) AS BIGINT) AS p95
            FROM ranked GROUP BY segment
        )
        SELECT segment, n,
               CAST(p5 AS DOUBLE) / 1e9 AS p5_ret,
               CAST(p95 AS DOUBLE) / 1e9 AS p95_ret,
               CASE WHEN p5 < 0 THEN
                 CAST(p95 AS DOUBLE) / CAST(-p5 AS DOUBLE)
               END AS tail_ratio
        FROM picks ORDER BY segment
    """,
)
def fin_tail_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail ratio per market segment: the 95th-percentile daily return
    over the magnitude of the 5th — >1 means the right tail outruns
    the left (asymmetry a Sharpe ratio can't see); the
    order-statistic sibling of fin_rachev_ratio (which averages the
    tails instead of picking them). Same exactness recipe: returns
    floor-quantize to 1e-9 integers; the two picks are PINNED order
    statistics at ceil(n/20) and ceil(19n/20) via integer DIV rank
    formulas (never a double rank, never an engine percentile); the
    ratio NULLs when the 5th percentile is non-negative (no left
    tail — degenerate, documented). One rank window over
    calendar-bounded daily rows per segment."""
    daily = seg_daily(spark, sf_dir)
    ret = seg_returns(daily)
    w_lo = Window.partitionBy("segment").orderBy("r", "d")
    w_n = Window.partitionBy("segment")
    ranked = ret.select(
        "segment",
        "r",
        F.row_number().over(w_lo).alias("rk_lo"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    picks = ranked.groupBy("segment").agg(
        F.min("n").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("rk_lo") == F.expr("CAST((n + 19) DIV 20 AS BIGINT)"),
                F.col("r"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("p5"),
        F.sum(
            F.when(
                F.col("rk_lo")
                == F.expr("CAST((19 * (n + 1)) DIV 20 AS BIGINT)"),
                F.col("r"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("p95"),
    )
    return picks.select(
        "segment",
        "n",
        (F.col("p5").cast("double") / F.lit(1e9)).alias("p5_ret"),
        (F.col("p95").cast("double") / F.lit(1e9)).alias("p95_ret"),
        F.when(
            F.col("p5") < 0,
            F.col("p95").cast("double") / (-F.col("p5")).cast("double"),
        ).alias("tail_ratio"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# dq_srm_check — sample-ratio-mismatch chi-square over a deterministic
# 4-arm assignment


@register(
    "dq_srm_check",
    tags=("dq", "stats"),
    oracle="""
        WITH arms AS MATERIALIZED (
            SELECT CAST(CAST('0x' || substr(md5('srm0#'
                       || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT)
                       % 4 AS INT) AS arm,
                   CAST(COUNT(*) AS BIGINT) AS n_arm
            FROM customer
            GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n_arm) AS BIGINT) AS n FROM arms),
        devs AS (
            SELECT arm, n_arm, n,
                   (4 * n_arm - n) * (4 * n_arm - n) AS dev_num
            FROM arms CROSS JOIN tot
        )
        SELECT arm, n_arm, n,
               CAST(dev_num AS BIGINT) AS dev_num,
               CAST(CAST(SUM(dev_num) OVER () AS BIGINT) AS DOUBLE)
                 / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE)) AS chi2,
               (CAST(CAST(SUM(dev_num) OVER () AS BIGINT) AS DOUBLE)
                 / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE))
                > CAST('16.266' AS DOUBLE)) AS srm_flag
        FROM devs
    """,
)
def dq_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first A/B-test sanity gate:
    customers deterministically hashed into 4 equal-expected arms (the
    house raw 60-bit md5 uniform, salt 'srm0#'), then the chi-square
    against the 1:1:1:1 design: chi2 = sum (4*O_i - n)^2 / (4n), with
    every squared deviation an exact BIGINT and ONE presentation
    division; the flag compares against the df=3, p=0.001 critical
    value 16.266 as a string-routed constant (an SRM at p<0.001 means
    the assignment or logging pipeline is broken — Kohavi's rule).
    Distributed shape: one hash agg over the assignment expression
    (map-side combining, 4-row state), then scalar arithmetic."""
    c = load_table(spark, sf_dir, "customer")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("srm0#"), F.col("c_custkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        % 4
    ).cast("int")
    arms = c.groupBy(arm.alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arm")
    )
    tot = arms.agg(F.sum("n_arm").cast("bigint").alias("n"))
    devs = arms.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n_arm",
        "n",
        (
            (F.lit(4) * F.col("n_arm") - F.col("n"))
            * (F.lit(4) * F.col("n_arm") - F.col("n"))
        )
        .cast("bigint")
        .alias("dev_num"),
    )
    chi2 = (
        F.sum("dev_num").over(Window.partitionBy()).cast("bigint").cast("double")
        / (F.lit(4).cast("double") * F.col("n").cast("double"))
    )
    return devs.select(
        "arm",
        "n_arm",
        "n",
        "dev_num",
        chi2.alias("chi2"),
        (chi2 > F.expr("CAST('16.266' AS DOUBLE)")).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# dq_functional_dependency — FD violation profile for declared candidates


@register(
    "dq_functional_dependency",
    tags=("dq", "agg"),
    oracle="""
        WITH fd1 AS (
            SELECT 'orders: o_custkey -> o_orderpriority' AS fd,
                   CAST(COUNT(*) AS BIGINT) AS n_lhs,
                   CAST(SUM(n_x) AS BIGINT) AS n_rows,
                   CAST(SUM(n_x - max_xy) AS BIGINT) AS violations
            FROM (SELECT CAST(SUM(nxy) AS BIGINT) AS n_x,
                         CAST(MAX(nxy) AS BIGINT) AS max_xy
                  FROM (SELECT o_custkey, o_orderpriority,
                               CAST(COUNT(*) AS BIGINT) AS nxy
                        FROM orders GROUP BY 1, 2)
                  GROUP BY o_custkey)
        ),
        fd2 AS (
            SELECT 'lineitem: l_partkey -> l_returnflag' AS fd,
                   CAST(COUNT(*) AS BIGINT) AS n_lhs,
                   CAST(SUM(n_x) AS BIGINT) AS n_rows,
                   CAST(SUM(n_x - max_xy) AS BIGINT) AS violations
            FROM (SELECT CAST(SUM(nxy) AS BIGINT) AS n_x,
                         CAST(MAX(nxy) AS BIGINT) AS max_xy
                  FROM (SELECT l_partkey, l_returnflag,
                               CAST(COUNT(*) AS BIGINT) AS nxy
                        FROM lineitem GROUP BY 1, 2)
                  GROUP BY l_partkey)
        ),
        fd3 AS (
            SELECT 'documents: doc_id -> lang' AS fd,
                   CAST(COUNT(*) AS BIGINT) AS n_lhs,
                   CAST(SUM(n_x) AS BIGINT) AS n_rows,
                   CAST(SUM(n_x - max_xy) AS BIGINT) AS violations
            FROM (SELECT CAST(SUM(nxy) AS BIGINT) AS n_x,
                         CAST(MAX(nxy) AS BIGINT) AS max_xy
                  FROM (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS nxy
                        FROM documents GROUP BY 1, 2)
                  GROUP BY doc_id)
        )
        SELECT fd, n_lhs, n_rows, violations, (violations = 0) AS holds
        FROM (SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
              UNION ALL SELECT * FROM fd3)
    """,
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit for three declared candidates
    (X -> Y holds iff every X value maps to ONE Y value): per
    candidate, violations = sum over X of (n_x - max_y n_xy) — the
    minimum number of rows that must change for the FD to hold (the
    standard g3-style error measure). One holds (doc_id -> lang, a
    key FD), two measurably fail — a lake runs exactly this to
    discover which "natural keys" are trustworthy before modeling.
    All exact integers. Distributed shape per candidate: one (X, Y)
    count agg (map-side combining) then an X-keyed max/sum — two
    shuffles on the X key, state bounded by |distinct X|; the three
    audits union into one 3-row report."""

    def fd(df: DataFrame, x: str, y: str, name: str) -> DataFrame:
        per_x = (
            df.groupBy(x, y)
            .agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
            .groupBy(x)
            .agg(
                F.sum("nxy").cast("bigint").alias("n_x"),
                F.max("nxy").cast("bigint").alias("max_xy"),
            )
        )
        return per_x.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
            F.sum("n_x").cast("bigint").alias("n_rows"),
            F.sum(F.col("n_x") - F.col("max_xy"))
            .cast("bigint")
            .alias("violations"),
        ).select(F.lit(name).alias("fd"), "n_lhs", "n_rows", "violations")

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = load_table(spark, sf_dir, "documents")
    rows = (
        fd(o, "o_custkey", "o_orderpriority", "orders: o_custkey -> o_orderpriority")
        .unionByName(
            fd(li, "l_partkey", "l_returnflag", "lineitem: l_partkey -> l_returnflag")
        )
        .unionByName(fd(d, "doc_id", "lang", "documents: doc_id -> lang"))
    )
    return rows.select(
        "fd", "n_lhs", "n_rows", "violations", (F.col("violations") == 0).alias("holds")
    )


# ---------------------------------------------------------------------------
# stat_cramers_v_corrected — Bergsma bias-corrected Cramér's V


@register(
    "stat_cramers_v_corrected",
    tags=("stats", "agg"),
    oracle=f"""
        WITH cells AS (
            SELECT l_returnflag AS r, l_linestatus AS c,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM lineitem GROUP BY 1, 2
        ),
        margins AS (
            SELECT r, c, o,
                   CAST(SUM(o) OVER (PARTITION BY r) AS BIGINT) AS nr,
                   CAST(SUM(o) OVER (PARTITION BY c) AS BIGINT) AS nc,
                   CAST(SUM(o) OVER () AS BIGINT) AS n
            FROM cells
        ),
        tots AS (
            SELECT MAX(n) AS n,
                   COUNT(DISTINCT r) AS nrows, COUNT(DISTINCT c) AS ncols,
                   {o_fsum(PHI2_CELL_SQL, 15)} AS phi2
            FROM margins
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(nrows AS BIGINT) AS n_rows,
               CAST(ncols AS BIGINT) AS n_cols,
               phi2,
               GREATEST(CAST(0 AS DOUBLE),
                        phi2 - CAST((nrows - 1) * (ncols - 1) AS DOUBLE)
                               / CAST(n - 1 AS DOUBLE)) AS phi2_corr,
               CASE WHEN LEAST(
                      CAST(nrows AS DOUBLE)
                        - CAST((nrows - 1) * (nrows - 1) AS DOUBLE)
                          / CAST(n - 1 AS DOUBLE) - CAST(1 AS DOUBLE),
                      CAST(ncols AS DOUBLE)
                        - CAST((ncols - 1) * (ncols - 1) AS DOUBLE)
                          / CAST(n - 1 AS DOUBLE) - CAST(1 AS DOUBLE))
                    > CAST(0 AS DOUBLE) THEN
                 sqrt(GREATEST(CAST(0 AS DOUBLE),
                        phi2 - CAST((nrows - 1) * (ncols - 1) AS DOUBLE)
                               / CAST(n - 1 AS DOUBLE))
                      / LEAST(
                      CAST(nrows AS DOUBLE)
                        - CAST((nrows - 1) * (nrows - 1) AS DOUBLE)
                          / CAST(n - 1 AS DOUBLE) - CAST(1 AS DOUBLE),
                      CAST(ncols AS DOUBLE)
                        - CAST((ncols - 1) * (ncols - 1) AS DOUBLE)
                          / CAST(n - 1 AS DOUBLE) - CAST(1 AS DOUBLE)))
               END AS cramers_v_corrected
        FROM tots
    """,
)
def stat_cramers_v_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-corrected Cramér's V (Bergsma 2013) between return flag and
    line status: the uncorrected V systematically overstates
    association in finite samples, so phi2 is shrunk by its null
    expectation (r-1)(c-1)/(n-1) and the row/column counts are shrunk
    the same way before the min — the version a profiler should
    actually report. phi2 rides the stat_cramers_v o_fsum recipe
    (per-cell contribution floor-scaled at 1e-15, DECIMAL(38,0) sum —
    order-independent); every correction term is integer arithmetic
    pushed to one shared double expression, NULL-guarded on the
    degenerate 1xC/Rx1 shrink with the IDENTICAL predicate.
    Corpus-scale work: one grouped count."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("r"), F.col("l_linestatus").alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("r")
    wc = Window.partitionBy("c")
    wall = Window.partitionBy()
    m = cells.select(
        "r",
        "c",
        "o",
        F.sum("o").over(wr).cast("bigint").alias("nr"),
        F.sum("o").over(wc).cast("bigint").alias("nc"),
        F.sum("o").over(wall).cast("bigint").alias("n"),
    )
    tots = m.agg(
        F.max("n").alias("n"),
        F.countDistinct("r").alias("nrows"),
        F.countDistinct("c").alias("ncols"),
        (
            as_d(
                F.sum(F.floor(phi2_cell() * F.lit(1e15)).cast("decimal(38,0)"))
            )
            / F.lit(1e15)
        ).alias("phi2"),
    )
    zero = F.lit(0).cast("double")
    one = F.lit(1).cast("double")
    nd = (F.col("n") - 1).cast("double")
    phi2_corr = F.greatest(
        zero,
        F.col("phi2")
        - ((F.col("nrows") - 1) * (F.col("ncols") - 1)).cast("double") / nd,
    )
    r_corr = (
        F.col("nrows").cast("double")
        - ((F.col("nrows") - 1) * (F.col("nrows") - 1)).cast("double") / nd
        - one
    )
    c_corr = (
        F.col("ncols").cast("double")
        - ((F.col("ncols") - 1) * (F.col("ncols") - 1)).cast("double") / nd
        - one
    )
    denom = F.least(r_corr, c_corr)
    return tots.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("nrows").cast("bigint").alias("n_rows"),
        F.col("ncols").cast("bigint").alias("n_cols"),
        "phi2",
        phi2_corr.alias("phi2_corr"),
        F.when(denom > zero, F.sqrt(phi2_corr / denom)).alias(
            "cramers_v_corrected"
        ),
    )


# ---------------------------------------------------------------------------
# stat_hypergeom_surprise — per-cell hypergeometric log point-probability


@register(
    "stat_hypergeom_surprise",
    tags=("stats", "text", "agg"),
    oracle="""
        WITH cells AS MATERIALIZED (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nij
            FROM documents GROUP BY lang, source
        ),
        ai AS MATERIALIZED (SELECT lang, CAST(SUM(nij) AS BIGINT) AS ai
              FROM cells GROUP BY lang),
        bj AS MATERIALIZED (SELECT source, CAST(SUM(nij) AS BIGINT) AS bj
              FROM cells GROUP BY source),
        tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cells),
        spine AS MATERIALIZED (
            SELECT CAST(0 AS BIGINT) AS k, CAST(0.0 AS DECIMAL(12,6)) AS lnk
            UNION ALL
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS k,
                   CAST(ln(CAST(ROW_NUMBER() OVER (ORDER BY doc_id)
                                AS DOUBLE)) AS DECIMAL(12,6)) AS lnk
            FROM documents
        ),
        lf AS MATERIALIZED (
            SELECT k, CAST(SUM(lnk) OVER (ORDER BY k
                     ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,6)) AS lf
            FROM spine
        ),
        joined AS (
            SELECT c.lang, c.source, c.nij, a.ai, b.bj, t.n,
                   (SELECT lf FROM lf WHERE k = a.ai)
                 - (SELECT lf FROM lf WHERE k = c.nij)
                 - (SELECT lf FROM lf WHERE k = a.ai - c.nij)
                 + (SELECT lf FROM lf WHERE k = t.n - a.ai)
                 - (SELECT lf FROM lf WHERE k = b.bj - c.nij)
                 - (SELECT lf FROM lf WHERE k = t.n - a.ai - b.bj + c.nij)
                 - (SELECT lf FROM lf WHERE k = t.n)
                 + (SELECT lf FROM lf WHERE k = b.bj)
                 + (SELECT lf FROM lf WHERE k = t.n - b.bj) AS lnp_dec
            FROM cells c
            JOIN ai a ON a.lang = c.lang
            JOIN bj b ON b.source = c.source
            CROSS JOIN tot t
        )
        SELECT lang, source, nij, ai, bj, n,
               CAST(CAST(lnp_dec AS VARCHAR) AS DOUBLE) AS log_p
        FROM joined
    """,
)
def stat_hypergeom_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypergeometric surprise per (lang, source) cell: the log point-
    probability ln P(X = nij) of observing the cell count under the
    independence null, X ~ Hypergeom(N, a_i, b_j) — the enrichment
    score term-overlap / gene-set-style analyses rank by (a very
    negative log_p = the cell is far from what marginals alone
    predict). Exactness: ln-factorials come from a 0..N spine
    (row_number over documents — identical on both engines) whose
    per-k ln quantizes to DECIMAL(12,6) and accumulates by an exact
    decimal cumulative window, so every lnC(n,k) = lf(n)-lf(k)-lf(n-k)
    and the 9-term combination are EXACT DECIMAL arithmetic; the one
    double appears at the presentation cast. Distributed shape: the
    contingency and margins are bounded; the spine is O(N) with a
    prefix-sum window — at cluster scale that window becomes the
    standard bucket+carry two-pass prefix sum (the house
    stat_ks_two_sample pattern); the 9 lf lookups are equi-joins of
    the bounded cell relation against the spine."""
    d = load_table_parallel(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    ).persist()
    ai = cells.groupBy("lang").agg(F.sum("nij").cast("bigint").alias("ai"))
    bj = cells.groupBy("source").agg(F.sum("nij").cast("bigint").alias("bj"))
    tot = cells.agg(F.sum("nij").cast("bigint").alias("n"))
    spine = d.select(
        F.row_number().over(Window.orderBy("doc_id")).cast("bigint").alias("k")
    ).select(
        "k", F.log(F.col("k").cast("double")).cast("decimal(12,6)").alias("lnk")
    ).unionByName(
        d.sparkSession.range(1).select(
            F.lit(0).cast("bigint").alias("k"),
            F.lit("0.0").cast("decimal(12,6)").alias("lnk"),
        )
    )
    lf = spine.select(
        "k",
        F.sum("lnk")
        .over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(38,6)")
        .alias("lf"),
    ).persist()  # one O(N) prefix sum, computed once for the 9 lookups
    base = (
        cells.join(F.broadcast(ai), "lang")
        .join(F.broadcast(bj), "source")
        .crossJoin(F.broadcast(tot))
    )

    # nine lf lookups: each is an equi-join of the bounded cell
    # relation against the spine
    joined = base
    specs = [
        ("lf_ai", F.col("ai")),
        ("lf_nij", F.col("nij")),
        ("lf_ai_nij", F.col("ai") - F.col("nij")),
        ("lf_nai", F.col("n") - F.col("ai")),
        ("lf_bj_nij", F.col("bj") - F.col("nij")),
        ("lf_rest", F.col("n") - F.col("ai") - F.col("bj") + F.col("nij")),
        ("lf_n", F.col("n")),
        ("lf_bj", F.col("bj")),
        ("lf_nbj", F.col("n") - F.col("bj")),
    ]
    for name, expr in specs:
        lfx = lf.select(F.col("k").alias(f"k_{name}"), F.col("lf").alias(name))
        joined = joined.join(lfx, expr == F.col(f"k_{name}")).drop(f"k_{name}")
    lnp_dec = (
        F.col("lf_ai")
        - F.col("lf_nij")
        - F.col("lf_ai_nij")
        + F.col("lf_nai")
        - F.col("lf_bj_nij")
        - F.col("lf_rest")
        - F.col("lf_n")
        + F.col("lf_bj")
        + F.col("lf_nbj")
    )
    return joined.select(
        "lang",
        "source",
        "nij",
        "ai",
        "bj",
        "n",
        as_d(lnp_dec).alias("log_p"),
    )


# ---------------------------------------------------------------------------
# stat_cvm_uniform / stat_ad_uniform — one-sample EDF integrals of the
# md5 ladder vs U(0,1), completing the KS/Kuiper family of round 12

_UNIF_POS_SQL = """
        uni AS (
            SELECT o_orderkey AS key,
                   CAST('0x' || SUBSTRING(
                       md5(CAST(o_orderkey AS VARCHAR)), 1, 6) AS BIGINT) AS k
            FROM orders
        ),
        pos AS (
            SELECT k,
                   CAST(ROW_NUMBER() OVER (ORDER BY k, key) AS BIGINT) AS i,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM uni
        )
"""


def _md5_uniform_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, i, n): md5-uniformized order keys with their global EDF rank
    — the round-12 _unif_edf machinery (round12.py) re-exposed at row
    granularity: u_i = k_i/2^24 exact rational; the rank avoids a
    global sort via 256 top-byte buckets + a bounded bucket-offset
    carry; identical i to the oracle's plain ROW_NUMBER because both
    order by (k, key)."""
    o = load_table(spark, sf_dir, "orders")
    uni = o.select(
        F.col("o_orderkey").alias("key"),
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10
        )
        .cast("bigint")
        .alias("k"),
    )
    bucketed = uni.select("key", "k", F.shiftright("k", 16).alias("bkt"))
    sizes = bucketed.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.select(
        "bkt",
        F.coalesce(F.sum("cnt").over(woff), F.lit(0))
        .cast("bigint")
        .alias("off"),
    )
    tot = sizes.agg(F.sum("cnt").cast("bigint").alias("n"))
    wrn = Window.partitionBy("bkt").orderBy("k", "key")
    return (
        bucketed.join(F.broadcast(offs), "bkt")
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n",
            (F.col("off") + F.row_number().over(wrn)).cast("bigint").alias("i"),
        )
    )


@register(
    "stat_cvm_uniform",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH {_UNIF_POS_SQL},
        sums AS (
            SELECT MAX(n) AS n,
                   CAST(SUM(CAST(k * k AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS a_sum,
                   CAST(SUM(CAST((2 * i - 1) * k AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS b_sum,
                   CAST(SUM(CAST((2 * i - 1) * (2 * i - 1) AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS c_sum
            FROM pos
        )
        SELECT CAST(n AS BIGINT) AS n,
               ((CAST(CAST(a_sum AS VARCHAR) AS DOUBLE)
                   / (CAST(16777216 AS DOUBLE) * CAST(16777216 AS DOUBLE))
                 - CAST(CAST(b_sum AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(16777216 AS DOUBLE)))
                + CAST(CAST(c_sum AS VARCHAR) AS DOUBLE)
                  / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               + CAST(1 AS DOUBLE) / (CAST(12 AS DOUBLE) * CAST(n AS DOUBLE))
                   AS w2_stat
        FROM sums
    """,
)
def stat_cvm_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Cramér-von Mises test of the engine's md5 key ladder
    against U(0,1) — the INTEGRAL-deviation companion to the round-12
    stat_ks_uniform/stat_kuiper_uniform SUP-deviation pair (the third
    member of the EDF family; CvM weighs the whole CDF, not just the
    worst point): W² = 1/(12n) + sum_i (u_(i) - (2i-1)/(2n))² with
    u = k/2^24 exact rational. The square expands to THREE exact
    DECIMAL(38,0) sums — A = sum k², B = sum (2i-1)k, C = sum (2i-1)²
    — so W² = A/2^48 - B/(n·2^24) + C/(4n²) + 1/(12n) is a fixed-order
    4-term double expression parenthesized identically on both
    engines; no per-row float exists anywhere. Same bucket+carry rank
    as the KS twin (no global sort). Row products fit BIGINT and the
    sums fit DECIMAL(38,0) to ~sf1e5."""
    pos = _md5_uniform_pos(spark, sf_dir)
    sums = pos.agg(
        F.max("n").alias("n"),
        F.sum((F.col("k") * F.col("k")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("a_sum"),
        F.sum(((F.lit(2) * F.col("i") - 1) * F.col("k")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("b_sum"),
        F.sum(
            (
                (F.lit(2) * F.col("i") - 1) * (F.lit(2) * F.col("i") - 1)
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("c_sum"),
    )
    m = F.lit(16777216).cast("double")
    nd = F.col("n").cast("double")
    w2 = (
        (
            as_d(F.col("a_sum")) / (m * m)
            - as_d(F.col("b_sum")) / (nd * m)
        )
        + as_d(F.col("c_sum")) / (F.lit(4).cast("double") * nd * nd)
    ) + F.lit(1).cast("double") / (F.lit(12).cast("double") * nd)
    return sums.select(F.col("n").cast("bigint").alias("n"), w2.alias("w2_stat"))


@register(
    "stat_ad_uniform",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH {_UNIF_POS_SQL},
        terms AS (
            SELECT MAX(n) AS n,
                   CAST(SUM(
                     (2 * i - 1)
                     * CAST(ln(CAST(2 * k + 1 AS DOUBLE)
                               / CAST(33554432 AS DOUBLE))
                            AS DECIMAL(12,6))
                     + (2 * (n - i) + 1)
                     * CAST(ln(CAST(33554432 - (2 * k + 1) AS DOUBLE)
                               / CAST(33554432 AS DOUBLE))
                            AS DECIMAL(12,6))
                   ) AS DECIMAL(38,6)) AS s
            FROM pos
        )
        SELECT CAST(n AS BIGINT) AS n,
               -CAST(n AS DOUBLE)
                 - CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                   AS a2_stat
        FROM terms
    """,
)
def stat_ad_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Anderson-Darling test of the md5 ladder vs U(0,1) —
    the TAIL-WEIGHTED member of the EDF family (KS = sup, Kuiper =
    cyclic sup, CvM = integral, AD = integral weighted by
    1/(F(1-F))): A² = -n - (1/n) sum_i [(2i-1) ln u_(i) +
    (2(n-i)+1) ln(1-u_(i))]. Draws use the MIDPOINT convention
    u = (2k+1)/2^25 so u is strictly inside (0,1) and both logs are
    finite (k = 0 or 2^24-1 would otherwise hit ln 0) — documented
    deviation from the KS/CvM twins' k/2^24. Each ln quantizes to
    DECIMAL(12,6) (the house quantized-ln recipe; libm 1-ulp spread
    cannot straddle a 1e-6 boundary at any realistic rate), the
    integer-weighted terms sum as exact decimals, and A² is one
    presentation expression. Quantization accuracy note: the
    1e-6-rounded logs enter with weights summing to 2n², so the
    statistic drifts from the infinite-precision value by
    ~sqrt(n)·3e-7 typical (≈2e-4 at sf0.1) — identical on both
    engines, immaterial against AD critical values (~1-4). Same
    bucket+carry rank as the KS/CvM twins."""
    pos = _md5_uniform_pos(spark, sf_dir)
    m25 = F.lit(33554432).cast("double")
    ln_u = F.log(
        (F.lit(2) * F.col("k") + 1).cast("double") / m25
    ).cast("decimal(12,6)")
    ln_1u = F.log(
        (F.lit(33554432) - (F.lit(2) * F.col("k") + 1)).cast("double") / m25
    ).cast("decimal(12,6)")
    term = (F.lit(2) * F.col("i") - 1) * ln_u + (
        F.lit(2) * (F.col("n") - F.col("i")) + 1
    ) * ln_1u
    sums = pos.agg(
        F.max("n").alias("n"),
        F.sum(term).cast("decimal(38,6)").alias("s"),
    )
    a2 = -F.col("n").cast("double") - as_d(F.col("s")) / F.col("n").cast(
        "double"
    )
    return sums.select(F.col("n").cast("bigint").alias("n"), a2.alias("a2_stat"))


# ---------------------------------------------------------------------------
# ts_periodogram — quantized-trig DFT power at a literal frequency grid


@register(
    "ts_periodogram",
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
        )
        SELECT event_type, CAST(kf AS INT) AS kf, n AS n_days,
               (CAST(CAST(sc AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sc AS VARCHAR) AS DOUBLE)
                + CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(ss AS VARCHAR) AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               / 1e12 AS power
        FROM terms
    """,
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power of each event type's daily series at 5 literal
    frequencies (k = 1, 2, 3, 7, 14 cycles over the observed window) —
    the spectral screen for periodic structure (weekly cycles,
    campaign cadence) that autocorrelation smears across lags:
    I(f_k) = |sum (v_t - vbar) e^{-2pi i k t/n}|² / n. Exactness:
    daily values are the house q6 BIGINTs; centering multiplies
    through by n (vc = n·v - S, exact BIGINT — no float mean);
    cos/sin evaluate on an IDENTICAL double angle expression
    (string-routed 2π constant) and quantize to DECIMAL(12,6) (the
    quantized-ln precedent applied to trig: a libm 1-ulp spread
    cannot realistically straddle a 1e-6 boundary), so both DFT sums
    are exact integer-by-decimal dot products; power is one shared
    presentation expression (the /n³ undoes the n² centering scale,
    /1e12 undoes q6²). Distributed shape: windows and sums are
    per-event-type over CALENDAR-BOUNDED daily aggregates; the
    frequency grid is a 5-row literal broadcast."""
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
        (as_d(F.col("sc")) * as_d(F.col("sc"))
         + as_d(F.col("ss")) * as_d(F.col("ss")))
        / (nd * nd * nd)
        / F.lit(1e12)
    )
    return terms.select(
        "event_type",
        F.col("kf").cast("int").alias("kf"),
        F.col("n").alias("n_days"),
        power.alias("power"),
    )


# ---------------------------------------------------------------------------
# graph_transitivity_global — global clustering coefficient


@register(
    "graph_transitivity_global",
    tags=("graph", "join"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        wed AS (SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS wedges,
                       CAST(COUNT(*) AS BIGINT) AS n_nodes
                FROM deg),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS triangles
            FROM ku e1
            JOIN ku e2 ON e1.b = e2.a
            JOIN ku e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ku)
        SELECT n_nodes, n_edges, wedges, triangles,
               CASE WHEN wedges > 0 THEN
                 CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)
               END AS transitivity
        FROM wed CROSS JOIN tri CROSS JOIN ne
    """,
)
def graph_transitivity_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the strong-trade
    nation graph: 3·triangles / wedges — the whole-graph closure
    ratio, which weighs hubs by their wedge count and so can differ
    sharply from graph_clustering_coeff's vertex-AVERAGED local
    coefficient (Newman's standard distinction). Wedges are an exact
    per-node degree sum (d(d-1) DIV 2 — always even); triangles reuse
    the canonical a<b<c edge-iterator join (each triangle counted
    once, input bounded by wedge count); the ratio is one guarded
    presentation division. Same corpus-relative 60th-percentile edge
    set as the rest of the graph family."""
    ku = trade_edges_undirected(spark, sf_dir).persist()
    adj = ku.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionByName(
        ku.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    wed = deg.agg(
        F.sum(F.expr("CAST((d * (d - 1)) DIV 2 AS BIGINT)"))
        .cast("bigint")
        .alias("wedges"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    e1, e2, e3 = ku.alias("e1"), ku.alias("e2"), ku.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    ne = ku.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        wed.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ne))
        .select(
            "n_nodes",
            "n_edges",
            "wedges",
            "triangles",
            F.when(
                F.col("wedges") > 0,
                (F.lit(3) * F.col("triangles")).cast("double")
                / F.col("wedges").cast("double"),
            ).alias("transitivity"),
        )
    )


# ---------------------------------------------------------------------------
# text_boilerplate_ngrams — corpus-frequency boilerplate detection


@register(
    "text_boilerplate_ngrams",
    tags=("text", "dedup", "agg"),
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS ts
            FROM documents
        ),
        grams AS MATERIALIZED (
            SELECT DISTINCT doc_id, source,
                   array_to_string(ts[i:i+4], ' ') AS g
            FROM toks, UNNEST(generate_series(1, len(ts) - 4)) AS u(i)
            WHERE len(ts) >= 5
        ),
        dfs AS MATERIALIZED (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS df
            FROM grams GROUP BY g
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_gram_instances,
               CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler_instances,
               CAST(COUNT(DISTINCT CASE WHEN df >= 3 THEN gr.g END)
                    AS BIGINT) AS n_boiler_distinct,
               CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS boiler_ratio
        FROM grams gr JOIN dfs USING (g)
        GROUP BY source
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-shingle profile per source: a 5-token shingle (the
    whitespace tokenization the MinHash pipeline uses, deduplicated
    WITHIN each document) is BOILERPLATE when it appears in >= 3
    distinct documents — the span-frequency rule production
    pretraining pipelines run before document-level dedup (C4's
    repeated-span removal, CCNet's paragraph hashes): navigation
    chrome and template text repeat across pages that are otherwise
    unique, and document dedup can't see them. Reported per source:
    shingle instances (per-doc distinct), boilerplate instances,
    distinct boilerplate shingles, and the contamination ratio a
    span-cleaning pass would target. All counts exact; one division.
    Distributed shape: the shingle explode is transient (collapsed by
    the per-doc DISTINCT before any exchange), document frequencies
    are one shingle-key hash agg, and the join back is a second
    shuffle on the same key — nothing quadratic, no driver state."""
    d = load_table_parallel(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    grams_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("ts")) - 4),
            lambda i: F.array_join(F.slice(F.col("ts"), i, 5), " "),
        )
    )
    grams = (
        d.select("doc_id", "source", ts.alias("ts"))
        .filter(F.size("ts") >= 5)
        .select("doc_id", "source", F.explode(grams_arr).alias("g"))
        .persist()
    )
    dfs = grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    joined = grams.join(dfs, "g")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gram_instances"),
        F.sum(F.when(F.col("df") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boiler_instances"),
        F.count_distinct(F.when(F.col("df") >= 3, F.col("g")))
        .cast("bigint")
        .alias("n_boiler_distinct"),
        (
            F.sum(F.when(F.col("df") >= 3, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("boiler_ratio"),
    )


# ---------------------------------------------------------------------------
# dq_monotonicity_audit — per-user event-time ordering audit


@register(
    "dq_monotonicity_audit",
    tags=("dq", "window"),
    oracle="""
        WITH seq AS (
            SELECT event_type, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id)
                       AS prev_ts
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations,
               CASE WHEN SUM(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END)
                         > 0 THEN
                 CAST(SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE)
               END AS violation_rate
        FROM seq GROUP BY event_type
    """,
)
def dq_monotonicity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time monotonicity audit: within each user's event stream
    (ordered by event_id — the ingestion sequence), count adjacent
    pairs whose timestamp goes BACKWARD, reported per event type of
    the later event — the first check run on any event log before
    trusting sessionization, funnels, or watermarked streaming (a
    non-zero rate means the producer's clock or the ingestion order is
    broken, and every downstream as-of join inherits it). Exact
    integer counts off one user-partitioned lag window; the rate is a
    guarded division. Distributed shape: the window partitions by
    user_id (millions of small partitions at scale — the healthy
    shape), then one event_type hash agg."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    has_prev = F.sum(
        F.when(F.col("prev_ts").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    viol = F.sum(
        F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0)
    ).cast("bigint")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        has_prev.alias("n_pairs"),
        viol.alias("n_violations"),
        F.when(
            has_prev > 0, viol.cast("double") / has_prev.cast("double")
        ).alias("violation_rate"),
    )


# ---------------------------------------------------------------------------
# fin_cagr_log — per-segment log-CAGR between first and last trading day


@register(
    "fin_cagr_log",
    tags=("finance", "window"),
    oracle="""
        WITH daily AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(o.o_orderdate AS DATE) AS d,
                   CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ends AS (
            SELECT segment,
                   CAST(arg_min(cents, d) AS BIGINT) AS start_cents,
                   CAST(arg_max(cents, d) AS BIGINT) AS end_cents,
                   CAST(date_diff('day', MIN(d), MAX(d)) AS BIGINT) AS days
            FROM daily GROUP BY segment
        )
        SELECT segment, start_cents, end_cents, days,
               CASE WHEN days > 0 THEN
                 CAST(CAST(
                   CAST(ln(CAST(end_cents AS DOUBLE)) AS DECIMAL(12,6))
                   - CAST(ln(CAST(start_cents AS DOUBLE)) AS DECIMAL(12,6))
                 AS VARCHAR) AS DOUBLE)
                 * CAST('365.25' AS DOUBLE) / CAST(days AS DOUBLE)
               END AS log_cagr
        FROM ends ORDER BY segment
    """,
)
def fin_cagr_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized log-CAGR per market segment: ln(end/start) scaled by
    365.25/days between the first and last trading day — the log-space
    growth rate that sidesteps the exp() the arithmetic CAGR would
    need (exp is libm-divergent cross-engine; ln quantizes exactly,
    so the LOG rate is the twin-able canonical form, and exp of it is
    a trivial presentation step for a consumer). Endpoints are
    arg_min/arg_max picks on the unique per-segment date (min_by/
    max_by — deterministic, no window needed); both lns quantize to
    DECIMAL(12,6) on exact integer cents and subtract EXACTLY in
    decimal; the one double expression is the annualization. Guarded
    on the degenerate single-day segment. One keyed agg over
    calendar-bounded dailies."""
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
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)")
                * 100
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    ends = daily.groupBy("segment").agg(
        F.min_by("cents", "d").cast("bigint").alias("start_cents"),
        F.max_by("cents", "d").cast("bigint").alias("end_cents"),
        F.datediff(F.max("d"), F.min("d")).cast("bigint").alias("days"),
    )
    lnq = lambda col: F.log(F.col(col).cast("double")).cast("decimal(12,6)")  # noqa: E731
    log_cagr = F.when(
        F.col("days") > 0,
        as_d(lnq("end_cents") - lnq("start_cents"))
        * F.expr("CAST('365.25' AS DOUBLE)")
        / F.col("days").cast("double"),
    )
    return ends.select(
        "segment", "start_cents", "end_cents", "days", log_cagr.alias("log_cagr")
    ).orderBy("segment")
