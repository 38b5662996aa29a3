"""Round-13 operator wave: prediction-error association (lambda),
entropy-based association (uncertainty coefficient), structural-break
regression testing (Chow), lexical-richness and language-ID-evaluation
text metrics, relative forecast accuracy (Theil U2), a rolling
stochastic oscillator, per-edge triangle support (the k-truss building
block), and the cume_dist / percent_rank / nth_value window-function
surface — every query hash-oracled on arrival with an independent
numpy/pure-Python reference test in tests/test_round13_ops.py (the
round-10/11/12 discipline).

House rules applied throughout (see plans/registry.py docstring):
exact integer/decimal accumulation with doubles only at the
presentation edge; order-pinned folds wherever >1 double term is
summed; string-routed shared constants; NULL-guarded degenerate
divisions identical on both engines; quantized-ln (DECIMAL(12,6))
entropy terms per the text_ngram_entropy / dq_column_entropy
precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import (
    as_d,
    lsum,
    o_lsum,
    o_ordered_fold_sum,
    ordered_fold_sum,
)
from finance_etl_spark.io.readers import load_table, load_table_parallel
from finance_etl_spark.plans.recipes import (
    EVENT_DAILY_RN_SQL,
    SEG_DAILY_SQL,
    STRONG_TRADE_CTE,
    TOKENS_SQL,
    event_daily_rn,
    o_ret_q9,
    seg_daily,
    seg_returns,
    tokens,
    trade_pairs,
)
from finance_etl_spark.plans.registry import register




# ---------------------------------------------------------------------------
# stat_gk_lambda — Goodman-Kruskal lambda (proportional reduction in
# prediction error), priority x status


@register(
    "stat_gk_lambda",
    tags=("stats", "agg"),
    oracle="""
        WITH cells AS (
            SELECT o_orderpriority AS x, o_orderstatus AS y,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        ),
        rowmax AS (
            SELECT x, MAX(n) AS m FROM cells GROUP BY x
        ),
        colmax AS (
            SELECT y, MAX(n) AS m FROM (
                SELECT y, CAST(SUM(n) AS BIGINT) AS n FROM cells GROUP BY y
            ) GROUP BY ()
        ),
        xmax AS (
            SELECT MAX(n) AS m FROM (
                SELECT x, CAST(SUM(n) AS BIGINT) AS n FROM cells GROUP BY x
            )
        ),
        ymax_in_rows AS (
            SELECT CAST(SUM(m) AS BIGINT) AS s FROM rowmax
        ),
        xmax_in_cols AS (
            SELECT CAST(SUM(m) AS BIGINT) AS s FROM (
                SELECT y, MAX(n) AS m FROM cells GROUP BY y
            )
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells),
        marg AS (
            SELECT (SELECT MAX(s) FROM (
                        SELECT CAST(SUM(n) AS BIGINT) AS s
                        FROM cells GROUP BY y)) AS max_col,
                   (SELECT MAX(s) FROM (
                        SELECT CAST(SUM(n) AS BIGINT) AS s
                        FROM cells GROUP BY x)) AS max_row
        )
        SELECT t.n, m.max_col, m.max_row,
               yr.s AS sum_row_max, xc.s AS sum_col_max,
               CASE WHEN t.n > m.max_col THEN
                 CAST(yr.s - m.max_col AS DOUBLE)
                   / CAST(t.n - m.max_col AS DOUBLE) END AS lambda_y_given_x,
               CASE WHEN t.n > m.max_row THEN
                 CAST(xc.s - m.max_row AS DOUBLE)
                   / CAST(t.n - m.max_row AS DOUBLE) END AS lambda_x_given_y
        FROM tot t, marg m, ymax_in_rows yr, xmax_in_cols xc
    """,
)
def stat_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal lambda between order priority (X) and order
    status (Y): the proportional reduction in prediction error when
    the modal Y per X replaces the global modal Y (Goodman & Kruskal
    1954) — the PRE companion to gamma (stat_gk_gamma) for NOMINAL
    pairs, where rank concordance is undefined. Everything up to the
    final division is exact BIGINT arithmetic on the 5x3 cell grid
    (modal cells, modal marginals, their sums); each lambda is ONE
    guarded double division (all-one-column tables make the
    denominator 0 -> NULL identically). Corpus work: one scan + one
    grid-sized agg — the same shape at any SF."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    row_max = cells.groupBy("x").agg(F.max("n").alias("m"))
    col_tot = cells.groupBy("y").agg(F.sum("n").cast("bigint").alias("s"))
    row_tot = cells.groupBy("x").agg(F.sum("n").cast("bigint").alias("s"))
    col_max_in = cells.groupBy("y").agg(F.max("n").alias("m"))
    parts = (
        cells.agg(F.sum("n").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(col_tot.agg(F.max("s").alias("max_col"))))
        .crossJoin(F.broadcast(row_tot.agg(F.max("s").alias("max_row"))))
        .crossJoin(
            F.broadcast(
                row_max.agg(F.sum("m").cast("bigint").alias("sum_row_max"))
            )
        )
        .crossJoin(
            F.broadcast(
                col_max_in.agg(F.sum("m").cast("bigint").alias("sum_col_max"))
            )
        )
    )
    return parts.select(
        "n",
        "max_col",
        "max_row",
        "sum_row_max",
        "sum_col_max",
        F.when(
            F.col("n") > F.col("max_col"),
            (F.col("sum_row_max") - F.col("max_col")).cast("double")
            / (F.col("n") - F.col("max_col")).cast("double"),
        ).alias("lambda_y_given_x"),
        F.when(
            F.col("n") > F.col("max_row"),
            (F.col("sum_col_max") - F.col("max_row")).cast("double")
            / (F.col("n") - F.col("max_row")).cast("double"),
        ).alias("lambda_x_given_y"),
    )


# ---------------------------------------------------------------------------
# stat_uncertainty_coeff — Theil's U (entropy-based association)


@register(
    "stat_uncertainty_coeff",
    tags=("stats", "agg"),
    oracle="""
        WITH cells AS (
            SELECT o_orderpriority AS x, o_orderstatus AS y,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells),
        hx AS (
            SELECT -CAST(CAST(SUM(s * CAST(ln(CAST(s AS DOUBLE)
                        / CAST(t.n AS DOUBLE)) AS DECIMAL(12,6)))
                     AS VARCHAR) AS DOUBLE) / CAST(t.n AS DOUBLE) AS h
            FROM (SELECT x, CAST(SUM(n) AS BIGINT) AS s
                  FROM cells GROUP BY x) CROSS JOIN tot t
            GROUP BY t.n
        ),
        hy AS (
            SELECT -CAST(CAST(SUM(s * CAST(ln(CAST(s AS DOUBLE)
                        / CAST(t.n AS DOUBLE)) AS DECIMAL(12,6)))
                     AS VARCHAR) AS DOUBLE) / CAST(t.n AS DOUBLE) AS h
            FROM (SELECT y, CAST(SUM(n) AS BIGINT) AS s
                  FROM cells GROUP BY y) CROSS JOIN tot t
            GROUP BY t.n
        ),
        hxy AS (
            SELECT -CAST(CAST(SUM(c.n * CAST(ln(CAST(c.n AS DOUBLE)
                        / CAST(t.n AS DOUBLE)) AS DECIMAL(12,6)))
                     AS VARCHAR) AS DOUBLE) / CAST(t.n AS DOUBLE) AS h
            FROM cells c CROSS JOIN tot t
            GROUP BY t.n
        )
        SELECT t.n, hx.h AS h_x, hy.h AS h_y, hxy.h AS h_xy,
               CASE WHEN hy.h > 0 THEN
                 ((hx.h + hy.h) - hxy.h) / hy.h END AS u_y_given_x,
               CASE WHEN hx.h > 0 THEN
                 ((hx.h + hy.h) - hxy.h) / hx.h END AS u_x_given_y
        FROM tot t, hx, hy, hxy
    """,
)
def stat_uncertainty_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between order priority and
    order status: U(Y|X) = (H(X) + H(Y) - H(X,Y)) / H(Y) — the
    entropy-based (mutual-information-normalized) association measure
    for nominal pairs, completing the round-12/13 association family
    (gamma = ordinal concordance, lambda = modal PRE, U = information).
    Engine-exact via the quantized-log recipe (text_ngram_entropy /
    dq_column_entropy precedent): each ln(p) quantizes to
    DECIMAL(12,6) per distinct cell/marginal count, the weighted sums
    are exact decimal dot products crossing to double ONCE via
    VARCHAR, and the final U is one identically-parenthesized double
    expression with a degenerate-entropy NULL guard (single-category
    marginals give H = 0). Grid-sized state after one scan."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("nt"))

    def _h(counts: DataFrame, cname: str):
        lnq = F.log(
            F.col(cname).cast("double") / F.col("nt").cast("double")
        ).cast("decimal(12,6)")
        return counts.crossJoin(F.broadcast(tot)).agg(
            (
                (-as_d(F.sum(F.col(cname) * lnq)))
                / F.max("nt").cast("double")
            ).alias("h")
        )

    hx = _h(
        cells.groupBy("x").agg(F.sum("n").cast("bigint").alias("s")), "s"
    ).select(F.col("h").alias("h_x"))
    hy = _h(
        cells.groupBy("y").agg(F.sum("n").cast("bigint").alias("s")), "s"
    ).select(F.col("h").alias("h_y"))
    hxy = _h(cells, "n").select(F.col("h").alias("h_xy"))
    return (
        tot.select(F.col("nt").alias("n"))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hxy))
        .select(
            "n",
            "h_x",
            "h_y",
            "h_xy",
            F.when(
                F.col("h_y") > 0,
                ((F.col("h_x") + F.col("h_y")) - F.col("h_xy"))
                / F.col("h_y"),
            ).alias("u_y_given_x"),
            F.when(
                F.col("h_x") > 0,
                ((F.col("h_x") + F.col("h_y")) - F.col("h_xy"))
                / F.col("h_x"),
            ).alias("u_x_given_y"),
        )
    )


# ---------------------------------------------------------------------------
# stat_chow_test — structural break in price ~ quantity at a date split


_CHOW_SPLIT = "1998-07-01"

# RSS * n from the centered cross-products, ONE pinned double
# expression per segment: rss = (syy_c - sxy_c*sxy_c/sxx_c) / n where
# each _c = n*S2 - S1*S1 computed in doubles AFTER each exact decimal
# sum crosses via VARCHAR (the products exceed DECIMAL(38) range, and
# identical IEEE ops on identical inputs keep both engines bit-equal).
_CHOW_RSS_SQL = (
    "((({p}syy - {p}sy * {p}sy / {p}n)"
    " - ({p}sxy - {p}sx * {p}sy / {p}n)"
    " * ({p}sxy - {p}sx * {p}sy / {p}n)"
    " / ({p}sxx - {p}sx * {p}sx / {p}n)))"
)


def _chow_sums_sql(tag: str, pred: str) -> str:
    return f"""
            CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_{tag},
            SUM(CASE WHEN {pred} THEN xq ELSE 0 END) AS sx_{tag},
            SUM(CASE WHEN {pred} THEN yq ELSE 0 END) AS sy_{tag},
            SUM(CASE WHEN {pred} THEN xq * xq ELSE 0 END) AS sxx_{tag},
            SUM(CASE WHEN {pred} THEN CAST(xq AS DECIMAL(38,0)) * yq
                     ELSE 0 END) AS sxy_{tag},
            SUM(CASE WHEN {pred} THEN CAST(yq AS DECIMAL(38,0)) * yq
                     ELSE 0 END) AS syy_{tag}"""


@register(
    "stat_chow_test",
    tags=("stats", "regression", "agg"),
    oracle=f"""
        WITH base AS (
            SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS xq,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS yq,
                   (CAST(l_shipdate AS DATE) < DATE '{_CHOW_SPLIT}') AS pre
            FROM lineitem
        ),
        sums AS (
            SELECT
            {_chow_sums_sql('1', 'pre')},
            {_chow_sums_sql('2', 'NOT pre')}
            FROM base
        ),
        wide AS (
            SELECT n_1, n_2,
                   CAST(n_1 AS DOUBLE) AS n1d, CAST(n_2 AS DOUBLE) AS n2d,
                   CAST(n_1 + n_2 AS DOUBLE) AS npd,
                   CAST(CAST(sx_1 AS VARCHAR) AS DOUBLE) AS sx1,
                   CAST(CAST(sy_1 AS VARCHAR) AS DOUBLE) AS sy1,
                   CAST(CAST(sxx_1 AS VARCHAR) AS DOUBLE) AS sxx1,
                   CAST(CAST(sxy_1 AS VARCHAR) AS DOUBLE) AS sxy1,
                   CAST(CAST(syy_1 AS VARCHAR) AS DOUBLE) AS syy1,
                   CAST(CAST(sx_2 AS VARCHAR) AS DOUBLE) AS sx2,
                   CAST(CAST(sy_2 AS VARCHAR) AS DOUBLE) AS sy2,
                   CAST(CAST(sxx_2 AS VARCHAR) AS DOUBLE) AS sxx2,
                   CAST(CAST(sxy_2 AS VARCHAR) AS DOUBLE) AS sxy2,
                   CAST(CAST(syy_2 AS VARCHAR) AS DOUBLE) AS syy2,
                   CAST(CAST(sx_1 + sx_2 AS VARCHAR) AS DOUBLE) AS sxp,
                   CAST(CAST(sy_1 + sy_2 AS VARCHAR) AS DOUBLE) AS syp,
                   CAST(CAST(sxx_1 + sxx_2 AS VARCHAR) AS DOUBLE) AS sxxp,
                   CAST(CAST(sxy_1 + sxy_2 AS VARCHAR) AS DOUBLE) AS sxyp,
                   CAST(CAST(syy_1 + syy_2 AS VARCHAR) AS DOUBLE) AS syyp
            FROM sums
        ),
        rss AS (
            SELECT n_1, n_2,
                   {_CHOW_RSS_SQL.format(p='p_')} AS rss_p,
                   {_CHOW_RSS_SQL.format(p='a_')} AS rss_1,
                   {_CHOW_RSS_SQL.format(p='b_')} AS rss_2
            FROM (
                SELECT n_1, n_2,
                       npd AS p_n, sxp AS p_sx, syp AS p_sy,
                       sxxp AS p_sxx, sxyp AS p_sxy, syyp AS p_syy,
                       n1d AS a_n, sx1 AS a_sx, sy1 AS a_sy,
                       sxx1 AS a_sxx, sxy1 AS a_sxy, syy1 AS a_syy,
                       n2d AS b_n, sx2 AS b_sx, sy2 AS b_sy,
                       sxx2 AS b_sxx, sxy2 AS b_sxy, syy2 AS b_syy
                FROM wide
            )
        )
        SELECT n_1 AS n_pre, n_2 AS n_post, rss_p AS rss_pooled,
               (rss_1 + rss_2) AS rss_segmented,
               CASE WHEN n_1 > 2 AND n_2 > 2 AND (rss_1 + rss_2) > 0 THEN
                 ((rss_p - (rss_1 + rss_2)) / CAST('2.0' AS DOUBLE))
                   / ((rss_1 + rss_2)
                      / CAST(n_1 + n_2 - 4 AS DOUBLE)) END AS f_stat
        FROM rss
    """,
)
def stat_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test for the price ~ quantity regression
    at a {split} ship-date split: F = ((RSS_pooled - RSS_1 - RSS_2)/k)
    / ((RSS_1 + RSS_2)/(n - 2k)) with k = 2 parameters per segment
    (Chow 1960) — the regime-change screen a pricing-drift monitor
    runs before trusting one global fit. Exactness: x (quantity) and
    y (price) quantize to exact cents BIGINTs; the six sufficient
    sums per segment accumulate in DECIMAL(38,0) (one scan, 12
    conditional sums); pooled sums are exact decimal ADDITIONS of the
    segment sums (never re-scanned); every sum crosses to double once
    via VARCHAR, and each RSS is the same identically-parenthesized
    centered-cross-product expression on both engines. Degenerate
    guards (segment too small, zero residual variance) NULL the F
    identically. The cross-products exceed DECIMAL(38) range, so they
    are formed in doubles AFTER the crossing — same IEEE ops, same
    bits, both engines.""".replace("{split}", _CHOW_SPLIT)
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("xq"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("yq"),
        (F.col("l_shipdate").cast("date") < F.lit(_CHOW_SPLIT).cast("date"))
        .alias("pre"),
    )

    def seg_aggs(tag: str, pred):
        z = F.lit(0)
        return [
            F.sum(F.when(pred, 1).otherwise(0)).cast("bigint").alias(f"n_{tag}"),
            F.sum(F.when(pred, F.col("xq")).otherwise(z)).alias(f"sx_{tag}"),
            F.sum(F.when(pred, F.col("yq")).otherwise(z)).alias(f"sy_{tag}"),
            F.sum(F.when(pred, F.col("xq") * F.col("xq")).otherwise(z)).alias(
                f"sxx_{tag}"
            ),
            F.sum(
                F.when(
                    pred, F.col("xq").cast("decimal(38,0)") * F.col("yq")
                ).otherwise(z.cast("decimal(38,0)"))
            ).alias(f"sxy_{tag}"),
            F.sum(
                F.when(
                    pred, F.col("yq").cast("decimal(38,0)") * F.col("yq")
                ).otherwise(z.cast("decimal(38,0)"))
            ).alias(f"syy_{tag}"),
        ]

    sums = base.agg(
        *(seg_aggs("1", F.col("pre")) + seg_aggs("2", ~F.col("pre")))
    )

    def rss(n, sx, sy, sxx, sxy, syy):
        return (syy - sy * sy / n) - (sxy - sx * sy / n) * (
            sxy - sx * sy / n
        ) / (sxx - sx * sx / n)

    wide = sums.select(
        "n_1",
        "n_2",
        F.col("n_1").cast("double").alias("n1d"),
        F.col("n_2").cast("double").alias("n2d"),
        (F.col("n_1") + F.col("n_2")).cast("double").alias("npd"),
        *[
            as_d(F.col(f"{s}_{t}")).alias(f"{s}{t}")
            for t in ("1", "2")
            for s in ("sx", "sy", "sxx", "sxy", "syy")
        ],
        *[
            as_d(F.col(f"{s}_1") + F.col(f"{s}_2")).alias(f"{s}p")
            for s in ("sx", "sy", "sxx", "sxy", "syy")
        ],
    )
    out = wide.select(
        F.col("n_1").alias("n_pre"),
        F.col("n_2").alias("n_post"),
        rss(
            F.col("npd"), F.col("sxp"), F.col("syp"),
            F.col("sxxp"), F.col("sxyp"), F.col("syyp"),
        ).alias("rss_pooled"),
        (
            rss(
                F.col("n1d"), F.col("sx1"), F.col("sy1"),
                F.col("sxx1"), F.col("sxy1"), F.col("syy1"),
            )
            + rss(
                F.col("n2d"), F.col("sx2"), F.col("sy2"),
                F.col("sxx2"), F.col("sxy2"), F.col("syy2"),
            )
        ).alias("rss_segmented"),
    )
    return out.select(
        "n_pre",
        "n_post",
        "rss_pooled",
        "rss_segmented",
        F.when(
            (F.col("n_pre") > 2)
            & (F.col("n_post") > 2)
            & (F.col("rss_segmented") > 0),
            (
                (F.col("rss_pooled") - F.col("rss_segmented"))
                / F.lit("2.0").cast("double")
            )
            / (
                F.col("rss_segmented")
                / (F.col("n_pre") + F.col("n_post") - 4).cast("double")
            ),
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# text_yule_k — lexical richness (Yule's characteristic K)


@register(
    "text_yule_k",
    tags=("text", "tokenize", "agg"),
    oracle=r"""
        WITH toks AS (
            SELECT lower(tok) AS tok
            FROM (SELECT unnest(regexp_extract_all(text, '[a-zA-Z0-9_]+'))
                      AS tok
                  FROM documents)
        ),
        uni AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY tok
        )
        SELECT CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CAST(f AS DECIMAL(38,0)) * f) AS BIGINT)
                   AS sum_freq_sq,
               CAST('10000.0' AS DOUBLE)
                 * CAST(CAST(SUM(CAST(f AS DECIMAL(38,0)) * f) - SUM(f)
                        AS VARCHAR) AS DOUBLE)
                 / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE))
                   AS yule_k
        FROM uni
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K of the corpus token distribution:
    K = 10^4 * (sum_f f^2 - N) / N^2 over the word-frequency spectrum
    — the classic repeat-rate lexical-richness constant (Yule 1944),
    length-insensitive where raw TTR is not; high K = a token
    distribution dominated by few types (boilerplate-heavy corpora
    score high, which is why K appears in corpus-quality report
    cards). Same tokenization as text_ngram_entropy. Everything is
    exact integer arithmetic (sum f, sum f^2 in DECIMAL(38,0)) until
    the one double division at the presentation edge. One token-key
    shuffle, vocab-sized state."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9_]+', 0)")
        ).alias("tok0")
    ).select(F.lower("tok0").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    return uni.agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("f"))
        .cast("bigint")
        .alias("sum_freq_sq"),
        (
            F.lit("10000.0").cast("double")
            * as_d(
                F.sum(F.col("f").cast("decimal(38,0)") * F.col("f"))
                - F.sum("f")
            )
            / (F.sum("f").cast("double") * F.sum("f").cast("double"))
        ).alias("yule_k"),
    )


# ---------------------------------------------------------------------------
# text_langid_confusion — row-normalized confusion matrix of the
# lang-id heuristic against the labeled corpus


@register(
    "text_langid_confusion",
    tags=("text", "langid", "ml-eval"),
    oracle=f"""
        WITH toks AS ({TOKENS_SQL}),
        profile AS (
            SELECT d.lang, t.tok, COUNT(*) AS cnt
            FROM toks t JOIN documents d ON t.doc_id = d.doc_id
            GROUP BY d.lang, t.tok
        ),
        totals AS (SELECT lang, SUM(cnt) AS total FROM profile GROUP BY lang),
        weights AS (
            SELECT p.lang, p.tok,
                   CAST((p.cnt * 1000000) // t.total AS BIGINT) AS w
            FROM profile p JOIN totals t ON p.lang = t.lang
        ),
        scores AS (
            SELECT t.doc_id, w.lang, CAST(SUM(w.w) AS BIGINT) AS score
            FROM toks t JOIN weights w ON t.tok = w.tok
            GROUP BY t.doc_id, w.lang
        ),
        ranked AS (
            SELECT doc_id, lang AS pred_lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, lang) AS rn
            FROM scores
        ),
        cellsrc AS (
            SELECT d.lang AS true_lang, r.pred_lang
            FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
            WHERE r.rn = 1
        ),
        cellagg AS (
            SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM cellsrc GROUP BY 1, 2
        ),
        truetot AS (
            SELECT true_lang, CAST(SUM(n_docs) AS BIGINT) AS t
            FROM cellagg GROUP BY 1
        )
        SELECT c.true_lang, c.pred_lang, c.n_docs,
               CAST(c.n_docs AS DOUBLE) / CAST(t.t AS DOUBLE) AS cell_share
        FROM cellagg c JOIN truetot t ON t.true_lang = c.true_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized confusion matrix of the n-gram-profile language
    identifier (text_lang_id's exact pipeline) against the corpus's
    labels: (true_lang, pred_lang, n_docs, cell_share) where
    cell_share = n / row total, so the diagonal reads per-language
    RECALL — the honest-instrument companion the lang-id op was
    missing (the ANN_EVAL discipline applied to language ID). The
    scoring pipeline is integer-exact end-to-end (integer-scaled
    profile weights, integer score argmax with a name tiebreak); the
    confusion cells are exact counts and each share is one division.
    Corpus work: the two profile aggs + one token join — identical to
    text_lang_id; the added confusion agg is language-grid-sized."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = tokens(d)
    profile = (
        toks.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = profile.groupBy("lang").agg(F.sum("cnt").alias("total"))
    weights = profile.join(totals, "lang").select(
        "lang", "tok", F.expr("(cnt * 1000000) DIV total").alias("w")
    )
    scores = (
        toks.join(weights, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").alias("score"))
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang")
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    cells = (
        pred.join(d.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    truetot = cells.groupBy("true_lang").agg(
        F.sum("n_docs").cast("bigint").alias("t")
    )
    return cells.join(truetot, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("t").cast("double")).alias(
            "cell_share"
        ),
    )


# ---------------------------------------------------------------------------
# ts_theil_u2 — relative forecast accuracy of the seasonal-naive
# forecast vs the naive no-change forecast


@register(
    "ts_theil_u2",
    tags=("timeseries", "window", "agg"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        lagged AS (
            SELECT event_type, rn,
                   CAST(CAST(x AS VARCHAR) AS DOUBLE) AS xd,
                   CAST(CAST(LAG(x, 1) OVER w AS VARCHAR) AS DOUBLE) AS l1,
                   CAST(CAST(LAG(x, 7) OVER w AS VARCHAR) AS DOUBLE) AS l7
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY rn)
        ),
        terms AS (
            SELECT event_type, rn,
                   ((l7 - xd) / l1) * ((l7 - xd) / l1) AS num_t,
                   ((xd - l1) / l1) * ((xd - l1) / l1) AS den_t
            FROM lagged WHERE rn >= 8 AND l1 <> 0
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CASE WHEN {o_ordered_fold_sum('rn', 'den_t')} > 0 THEN
                 sqrt({o_ordered_fold_sum('rn', 'num_t')})
                 / sqrt({o_ordered_fold_sum('rn', 'den_t')})
               END AS theil_u2
        FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_theil_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 per daily event series: the RMS of seasonal-naive
    (lag-7) forecast errors relative to the RMS of naive no-change
    (lag-1) errors, both scaled by the previous level — U2 < 1 means
    the weekly-seasonal forecast genuinely beats "tomorrow = today",
    the first question asked of any forecasting pipeline (Theil 1966).
    Exactness: the daily levels are exact DECIMAL(18,6) sums crossing
    to double once via VARCHAR; each term is one fixed-shape double
    expression per row; the two sums fold in PINNED rn order
    (F.aggregate over array_sort vs list_reduce ORDER BY rn); the
    ratio-of-sqrts is one guarded expression. Corpus work: one
    map-side-combining daily agg; windows run over the 30-row series
    per type."""
    daily = event_daily_rn(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("rn")
    lagged = daily.select(
        "event_type",
        "rn",
        as_d(F.col("x")).alias("xd"),
        as_d(F.lag("x", 1).over(w)).alias("l1"),
        as_d(F.lag("x", 7).over(w)).alias("l7"),
    )
    terms = lagged.filter((F.col("rn") >= 8) & (F.col("l1") != 0)).select(
        "event_type",
        "rn",
        (
            ((F.col("l7") - F.col("xd")) / F.col("l1"))
            * ((F.col("l7") - F.col("xd")) / F.col("l1"))
        ).alias("num_t"),
        (
            ((F.col("xd") - F.col("l1")) / F.col("l1"))
            * ((F.col("xd") - F.col("l1")) / F.col("l1"))
        ).alias("den_t"),
    )
    agg = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        ordered_fold_sum(F.col("rn"), F.col("num_t")).alias("num_s"),
        ordered_fold_sum(F.col("rn"), F.col("den_t")).alias("den_s"),
    )
    return (
        agg.select(
            "event_type",
            "n_terms",
            F.when(
                F.col("den_s") > 0,
                F.sqrt(F.col("num_s")) / F.sqrt(F.col("den_s")),
            ).alias("theil_u2"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ts_stochastic_oscillator — rolling %K / %D momentum census


@register(
    "ts_stochastic_oscillator",
    tags=("timeseries", "window", "agg"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        roll AS (
            SELECT event_type, rn,
                   CAST(CAST(x AS VARCHAR) AS DOUBLE) AS xd,
                   CAST(COUNT(*) OVER w AS BIGINT) AS wn,
                   CAST(CAST(MIN(x) OVER w AS VARCHAR) AS DOUBLE) AS lo,
                   CAST(CAST(MAX(x) OVER w AS VARCHAR) AS DOUBLE) AS hi
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY rn
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ),
        k AS (
            SELECT event_type, rn,
                   CASE WHEN hi > lo THEN (xd - lo) / (hi - lo) END AS pk
            FROM roll WHERE wn = 14
        ),
        kd AS (
            SELECT event_type, rn, pk,
                   LAG(pk, 1) OVER w AS k1, LAG(pk, 2) OVER w AS k2
            FROM k
            WINDOW w AS (PARTITION BY event_type ORDER BY rn)
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN pk > CAST('0.8' AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_overbought,
               CAST(SUM(CASE WHEN pk < CAST('0.2' AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_oversold,
               {o_lsum('pk')} AS k_q6_sum,
               CAST(SUM(CASE WHEN k2 IS NOT NULL AND pk IS NOT NULL
                                  AND k1 IS NOT NULL AND k2 IS NOT NULL
                             THEN CAST(FLOOR(((pk + k1) + k2)
                                             / CAST('3.0' AS DOUBLE) * 1e6)
                                       AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS d_q6_sum
        FROM kd GROUP BY event_type ORDER BY event_type
    """,
)
def ts_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator per daily event series: %K = position of
    today's level inside the rolling 14-day [low, high] channel, %D =
    3-day mean of %K, with an overbought/oversold census (Lane's
    momentum indicator — the bounded cousin of ts_bollinger_bands'
    envelope). Exactness: channel min/max are exact DECIMAL window
    extremes crossing to double once via VARCHAR; %K is one guarded
    division (flat channel NULLs identically); %D is the PINNED
    three-term mean ((k + k1) + k2)/3; census totals survive
    aggregation as floor-quantized q6 BIGINTs, so the per-series SUM
    is exact integer arithmetic. One map-side daily agg; windows over
    the 30-row series per type."""
    daily = event_daily_rn(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(-13, Window.currentRow)
    )
    roll = daily.select(
        "event_type",
        "rn",
        as_d(F.col("x")).alias("xd"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("wn"),
        as_d(F.min("x").over(w)).alias("lo"),
        as_d(F.max("x").over(w)).alias("hi"),
    )
    k = roll.filter(F.col("wn") == 14).select(
        "event_type",
        "rn",
        F.when(
            F.col("hi") > F.col("lo"),
            (F.col("xd") - F.col("lo")) / (F.col("hi") - F.col("lo")),
        ).alias("pk"),
    )
    wl = Window.partitionBy("event_type").orderBy("rn")
    kd = k.select(
        "event_type",
        "rn",
        "pk",
        F.lag("pk", 1).over(wl).alias("k1"),
        F.lag("pk", 2).over(wl).alias("k2"),
    )
    third = F.lit("3.0").cast("double")
    return (
        kd.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(
                F.when(F.col("pk") > F.lit("0.8").cast("double"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_overbought"),
            F.sum(
                F.when(F.col("pk") < F.lit("0.2").cast("double"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oversold"),
            lsum(F.col("pk")).alias("k_q6_sum"),
            F.sum(
                F.when(
                    F.col("pk").isNotNull()
                    & F.col("k1").isNotNull()
                    & F.col("k2").isNotNull(),
                    F.floor(
                        ((F.col("pk") + F.col("k1")) + F.col("k2"))
                        / third
                        * 1e6
                    ).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("d_q6_sum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# graph_edge_triangle_support — per-edge triangle support (k-truss
# building block) on the strong-trade graph


@register(
    "graph_edge_triangle_support",
    tags=("graph", "join"),
    oracle=f"""
        WITH {STRONG_TRADE_CTE},
        adj AS (
            SELECT a AS node, b AS nb FROM ku
            UNION ALL
            SELECT b AS node, a AS nb FROM ku
        ),
        sup AS (
            SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS support
            FROM ku e
            JOIN adj na ON na.node = e.a
            JOIN adj nb ON nb.node = e.b AND nb.nb = na.nb
            GROUP BY e.a, e.b
        )
        SELECT k.a, k.b,
               CAST(COALESCE(s.support, 0) AS BIGINT) AS support,
               (COALESCE(s.support, 0) >= 2) AS in_4truss
        FROM ku k LEFT JOIN sup s ON s.a = k.a AND s.b = k.b
    """,
)
def graph_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle SUPPORT on the strong-trade nation graph
    (same corpus-relative 60th-percentile edge set as
    graph_triangle_count): support(a,b) = number of common neighbors
    = number of triangles through the edge — the quantity k-truss
    decomposition peels on (an edge is in the k-truss iff support >=
    k-2; the in_4truss flag reads that off for k=4). Distributed
    shape: the adjacency list is the edge set mirrored once (2|E|
    rows); support is TWO equi-joins fanning each edge out to its
    endpoints' neighbor lists and counting matches on the shared
    neighbor key — join input is O(|E| * avg_degree) wedges, never a
    cubic enumeration, and the shuffle keys are node ids so a
    1000-executor cluster partitions by vertex. Zero-support edges
    are kept via the left join (exactly the edges the 3-truss would
    drop first). All integers end-to-end."""
    u = trade_pairs(spark, sf_dir)
    thr = u.agg(F.percentile("w", 0.6).alias("t"))
    ku = (
        u.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("a", "b")
        .persist()
    )
    adj = ku.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionByName(
        ku.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    na = adj.select(F.col("node").alias("a"), F.col("nb").alias("cn"))
    nb = adj.select(F.col("node").alias("b"), F.col("nb").alias("cn"))
    sup = (
        ku.join(na, "a")
        .join(nb, ["b", "cn"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return ku.join(sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support"),
        (F.coalesce(F.col("support"), F.lit(0)) >= 2).alias("in_4truss"),
    )


# ---------------------------------------------------------------------------
# window_dist_functions — cume_dist / percent_rank / nth_value surface


@register(
    "window_dist_functions",
    tags=("window", "sql"),
    oracle=f"""
        WITH base AS (
            SELECT o_orderpriority AS pri,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS cents,
                   o_orderkey
            FROM orders
        ),
        win AS (
            SELECT pri,
                   cume_dist() OVER wo AS cd,
                   percent_rank() OVER wo AS pr,
                   nth_value(cents, 3) OVER (PARTITION BY pri
                       ORDER BY cents, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS third_cents
            FROM base
            WINDOW wo AS (PARTITION BY pri ORDER BY cents, o_orderkey)
        )
        SELECT pri,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN cd <= CAST('0.25' AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lower_quartile,
               {o_lsum('pr')} AS pr_q6_sum,
               CAST(MAX(third_cents) AS BIGINT) AS third_lowest_cents
        FROM win GROUP BY pri ORDER BY pri
    """,
)
def window_dist_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-window-function surface in one query:
    cume_dist(), percent_rank(), and nth_value() over a full-partition
    frame, per order priority on a UNIQUE (cents, orderkey) ordering
    so every rank function is an exact rational of integers —
    cume_dist = rn/n, percent_rank = (rn-1)/(n-1), both bit-equal
    across engines as single divisions. The per-priority census keeps
    the output grid-sized: lower-quartile membership count (cd <=
    0.25 compares exact rationals), percent_rank mass as a
    floor-quantized q6 BIGINT sum, and the partition's third-lowest
    price via nth_value over the unbounded frame (NOT the default
    running frame — the frame clause is the surface under test). One
    priority-partitioned sort at corpus scale."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    wo = Window.partitionBy("pri").orderBy("cents", "o_orderkey")
    wfull = wo.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    win = base.select(
        "pri",
        F.cume_dist().over(wo).alias("cd"),
        F.percent_rank().over(wo).alias("pr"),
        F.nth_value("cents", 3).over(wfull).alias("third_cents"),
    )
    return (
        win.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.col("cd") <= F.lit("0.25").cast("double"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_lower_quartile"),
            lsum(F.col("pr")).alias("pr_q6_sum"),
            F.max("third_cents").cast("bigint").alias("third_lowest_cents"),
        )
        .orderBy("pri")
    )


# ---------------------------------------------------------------------------
# stat_g_test — log-likelihood-ratio independence test (the G companion
# to the Pearson chi-square)


@register(
    "stat_g_test",
    tags=("stats", "agg"),
    oracle="""
        WITH cells AS (
            SELECT o_orderpriority AS x, o_orderstatus AS y,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM orders GROUP BY 1, 2
        ),
        rows_t AS (SELECT x, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY x),
        cols_t AS (SELECT y, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY y),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        dims AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_t) AS nr,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM cols_t) AS nc
        ),
        terms AS (
            SELECT cl.o * CAST(ln((CAST(cl.o AS DOUBLE) * CAST(t.n AS DOUBLE))
                       / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)))
                     AS DECIMAL(12,6)) AS term
            FROM cells cl
            JOIN rows_t r ON r.x = cl.x
            JOIN cols_t c ON c.y = cl.y
            CROSS JOIN tot t
        )
        SELECT t.n,
               CAST((d.nr - 1) * (d.nc - 1) AS BIGINT) AS df,
               CAST('2.0' AS DOUBLE)
                 * CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS g_stat
        FROM terms, tot t, dims d
        GROUP BY t.n, d.nr, d.nc
    """,
)
def stat_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence (log-likelihood ratio) on the priority x
    status grid: G = 2 sum O ln(O/E), E = row*col/n — the
    information-theoretic companion to the Pearson chi-square
    (stat_chi2_gof family; G is additive across partitions of the
    table, which chi-square is not, so hierarchical drill-downs
    decompose exactly). Engine-exact via the quantized-log recipe:
    O/E is formed as the pinned ratio (O*n)/(r*c) of exact integers,
    its ln quantizes to DECIMAL(12,6) per cell, the weighted sum is an
    exact decimal dot product crossing to double ONCE, and G is one
    final multiplication. Empty cells contribute nothing (inner join
    on observed cells — 0 ln 0 = 0, the standard convention). One scan
    + grid-sized joins."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .persist()
    )
    rows_t = cells.groupBy("x").agg(F.sum("o").cast("bigint").alias("r"))
    cols_t = cells.groupBy("y").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    dims = rows_t.agg(F.count(F.lit(1)).cast("bigint").alias("nr")).crossJoin(
        F.broadcast(cols_t.agg(F.count(F.lit(1)).cast("bigint").alias("nc")))
    )
    lnq = F.log(
        (F.col("o").cast("double") * F.col("n").cast("double"))
        / (F.col("r").cast("double") * F.col("c").cast("double"))
    ).cast("decimal(12,6)")
    terms = (
        cells.join(rows_t, "x")
        .join(cols_t, "y")
        .crossJoin(F.broadcast(tot))
        .select("n", (F.col("o") * lnq).alias("term"))
    )
    return (
        terms.groupBy("n")
        .agg(
            (
                F.lit("2.0").cast("double")
                * F.sum("term").cast("string").cast("double")
            ).alias("g_stat")
        )
        .crossJoin(F.broadcast(dims))
        .select(
            "n",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("df"),
            "g_stat",
        )
    )


# ---------------------------------------------------------------------------
# ml_psi_stability — population stability index between two periods


@register(
    "ml_psi_stability",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH base AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS cents,
                   CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT)
                       AS yr
            FROM orders
            WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) IN (1995, 1996)
        ),
        rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM base),
        binned AS (
            SELECT CASE WHEN r.hi = r.lo THEN 0
                        ELSE LEAST(9, ((b.cents - r.lo) * 10)
                                      // (r.hi - r.lo + 1)) END AS bin,
                   b.yr
            FROM base b CROSS JOIN rng r
        ),
        spine AS (SELECT UNNEST(range(10)) AS bin),
        cnts AS (
            SELECT s.bin,
                   CAST(COALESCE(SUM(CASE WHEN yr = 1995 THEN 1 END), 0)
                        AS BIGINT) AS c_ref,
                   CAST(COALESCE(SUM(CASE WHEN yr = 1996 THEN 1 END), 0)
                        AS BIGINT) AS c_cur
            FROM spine s LEFT JOIN binned b ON b.bin = s.bin
            GROUP BY s.bin
        ),
        tots AS (
            SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_cur) AS BIGINT) AS n_cur
            FROM cnts
        ),
        terms AS (
            SELECT c.bin,
                   (CAST(c.c_ref + 1 AS DOUBLE) / CAST(t.n_ref + 10 AS DOUBLE)
                    - CAST(c.c_cur + 1 AS DOUBLE)
                      / CAST(t.n_cur + 10 AS DOUBLE))
                   * CAST(ln((CAST(c.c_ref + 1 AS DOUBLE)
                              / CAST(t.n_ref + 10 AS DOUBLE))
                             / (CAST(c.c_cur + 1 AS DOUBLE)
                                / CAST(t.n_cur + 10 AS DOUBLE)))
                       AS DECIMAL(12,6)) AS term
            FROM cnts c CROSS JOIN tots t
        )
        SELECT t.n_ref, t.n_cur,
               {o_ordered_fold_sum('bin', 'CAST(term AS DOUBLE)')} AS psi,
               CASE WHEN {o_ordered_fold_sum('bin', 'CAST(term AS DOUBLE)')}
                         < CAST('0.1' AS DOUBLE) THEN 'stable'
                    WHEN {o_ordered_fold_sum('bin', 'CAST(term AS DOUBLE)')}
                         < CAST('0.25' AS DOUBLE) THEN 'moderate_shift'
                    ELSE 'major_shift' END AS verdict
        FROM terms, tots t
        GROUP BY t.n_ref, t.n_cur
    """,
)
def ml_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the 1995 and 1996 order-value
    distributions — THE model-monitoring drift metric (PSI < 0.1
    stable, 0.1-0.25 watch, > 0.25 retrain): PSI = sum over bins of
    (p - q) ln(p/q) with +1 Laplace smoothing so empty bins are
    defined. Engine-exact: bins are pure INTEGER arithmetic
    (((cents - lo) * 10) div (hi - lo + 1), degenerate-range guarded),
    the 10-bin spine guarantees every bin exists on both engines,
    shares are exact-integer rationals, ln(p/q) quantizes to
    DECIMAL(12,6) per bin, and the 10-term sum folds in PINNED bin
    order. One scan + a 10-row grid; the verdict thresholds are
    string-routed shared constants."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.year(F.col("o_orderdate").cast("date")).alias("yr"),
    ).filter(F.col("yr").isin(1995, 1996))
    rng = base.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = base.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(9),
                F.expr("((cents - lo) * 10) DIV (hi - lo + 1)"),
            )
        )
        .alias("bin"),
        "yr",
    )
    spine = spark.range(10).select(F.col("id").alias("bin"))
    cnts = (
        spine.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1995, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("c_ref"),
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1996, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("c_cur"),
        )
    )
    tots = cnts.agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
    )
    p = (F.col("c_ref") + 1).cast("double") / (F.col("n_ref") + 10).cast(
        "double"
    )
    q = (F.col("c_cur") + 1).cast("double") / (F.col("n_cur") + 10).cast(
        "double"
    )
    term = (p - q) * F.log(p / q).cast("decimal(12,6)").cast("double")
    terms = cnts.crossJoin(F.broadcast(tots)).select(
        "bin", "n_ref", "n_cur", term.alias("term")
    )
    agg = terms.groupBy("n_ref", "n_cur").agg(
        ordered_fold_sum(F.col("bin"), F.col("term")).alias("psi")
    )
    return agg.select(
        "n_ref",
        "n_cur",
        "psi",
        F.when(F.col("psi") < F.lit("0.1").cast("double"), "stable")
        .when(F.col("psi") < F.lit("0.25").cast("double"), "moderate_shift")
        .otherwise("major_shift")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# ml_weighted_kappa — linear-weighted Cohen kappa for ordinal raters


@register(
    "ml_weighted_kappa",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH rng AS (
            SELECT MIN(o_totalprice) AS pmin, MAX(o_totalprice) AS pmax
            FROM orders
        ),
        coded AS (
            SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS i,
                   CASE WHEN pmax = pmin THEN 1
                        ELSE LEAST(4, CAST(FLOOR(
                       (CAST(o_totalprice AS DOUBLE)
                        - CAST(pmin AS DOUBLE))
                       / ((CAST(pmax AS DOUBLE) - CAST(pmin AS DOUBLE))
                          / CAST(5 AS DOUBLE))) AS INT)) + 1 END AS j
            FROM orders CROSS JOIN rng
        ),
        cells AS (
            SELECT i, j, CAST(COUNT(*) AS BIGINT) AS o
            FROM coded GROUP BY i, j
        ),
        ri AS (SELECT i, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY i),
        cj AS (SELECT j, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY j),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        od AS (
            SELECT CAST(SUM(CAST(o AS DECIMAL(38,0)) * ABS(i - j))
                        AS DECIMAL(38,0)) AS sum_od
            FROM cells
        ),
        ed AS (
            SELECT CAST(SUM(CAST(ri.r AS DECIMAL(38,0)) * cj.c
                            * ABS(ri.i - cj.j)) AS DECIMAL(38,0)) AS sum_ed
            FROM ri CROSS JOIN cj
        )
        SELECT t.n,
               CAST(CAST(od.sum_od AS VARCHAR) AS BIGINT) AS obs_disagree,
               CAST(CAST(ed.sum_ed AS VARCHAR) AS DOUBLE) AS exp_disagree_xn,
               CASE WHEN ed.sum_ed > 0 THEN
                 1.0 - (CAST(t.n AS DOUBLE)
                        * CAST(CAST(od.sum_od AS VARCHAR) AS DOUBLE))
                       / CAST(CAST(ed.sum_ed AS VARCHAR) AS DOUBLE)
               END AS weighted_kappa
        FROM tot t, od, ed
    """,
)
def ml_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-weighted Cohen kappa between two ORDINAL raters —
    priority (1..5) vs order-value quintile (1..5): kappa_w = 1 -
    (n * sum O_ij |i-j|) / (sum r_i c_j |i-j|) — the ordinal
    agreement measure where near-misses cost less than far misses
    (Cohen 1968), completing the agreement family next to the binary
    ml_cohen_kappa. Everything is exact integer/decimal arithmetic
    (cell disagreement mass, marginal-product expectation) up to ONE
    guarded double division; the quintile bin reuses stat_gk_gamma's
    guarded arithmetic. One scan + a 25-cell grid."""
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_totalprice").alias("pmin"), F.max("o_totalprice").alias("pmax")
    )
    coded = o.crossJoin(F.broadcast(rng)).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("i"),
        (
            F.when(F.col("pmax") == F.col("pmin"), F.lit(1)).otherwise(
                F.least(
                    F.lit(4),
                    F.floor(
                        (F.col("o_totalprice").cast("double")
                         - F.col("pmin").cast("double"))
                        / ((F.col("pmax").cast("double")
                            - F.col("pmin").cast("double")) / F.lit(5.0))
                    ).cast("int"),
                )
                + 1
            )
        ).alias("j"),
    )
    cells = coded.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    ).persist()
    ri = cells.groupBy("i").agg(F.sum("o").cast("bigint").alias("r"))
    cj = cells.groupBy("j").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    od = cells.agg(
        F.sum(
            F.col("o").cast("decimal(38,0)") * F.abs(F.col("i") - F.col("j"))
        )
        .cast("decimal(38,0)")
        .alias("sum_od")
    )
    ed = ri.crossJoin(cj).agg(
        F.sum(
            F.col("r").cast("decimal(38,0)")
            * F.col("c")
            * F.abs(F.col("i") - F.col("j"))
        )
        .cast("decimal(38,0)")
        .alias("sum_ed")
    )
    return (
        tot.crossJoin(F.broadcast(od))
        .crossJoin(F.broadcast(ed))
        .select(
            "n",
            F.col("sum_od").cast("string").cast("bigint").alias("obs_disagree"),
            F.col("sum_ed").cast("string").cast("double").alias(
                "exp_disagree_xn"
            ),
            F.when(
                F.col("sum_ed") > 0,
                F.lit(1.0)
                - (
                    F.col("n").cast("double")
                    * F.col("sum_od").cast("string").cast("double")
                )
                / F.col("sum_ed").cast("string").cast("double"),
            ).alias("weighted_kappa"),
        )
    )


# ---------------------------------------------------------------------------
# fin_kupiec_pof — Kupiec proportion-of-failures likelihood ratio on
# the VaR exception counts


def _kupiec_sql() -> str:

    lnq = "CAST(ln({x}) AS DECIMAL(12,6))"
    l_p = lnq.format(x="CAST('0.05' AS DOUBLE)")
    l_1p = lnq.format(x="CAST('0.95' AS DOUBLE)")
    l_fr = lnq.format(
        x="CAST(exceptions AS DOUBLE) / CAST(n_test AS DOUBLE)"
    )
    l_1fr = lnq.format(
        x="CAST(n_test - exceptions AS DOUBLE) / CAST(n_test AS DOUBLE)"
    )
    return f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        ret AS (
            SELECT segment, d,
                   {o_ret_q9('x', 'xp')} AS r
            FROM (SELECT segment, d, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily)
            WHERE xp IS NOT NULL
        ),
        est AS (SELECT * FROM ret WHERE d < DATE '1998-01-01'),
        ranked AS (
            SELECT segment, r,
                   ROW_NUMBER() OVER (PARTITION BY segment ORDER BY r, d)
                       AS rk,
                   COUNT(*) OVER (PARTITION BY segment) AS n1
            FROM est
        ),
        var_t AS (
            SELECT segment,
                   MIN(CASE WHEN rk = CAST((n1 + 19) // 20 AS BIGINT)
                            THEN r END) AS var_q9
            FROM ranked GROUP BY segment
        ),
        s AS (
            SELECT ret.segment,
                   CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN ret.r < v.var_q9 THEN 1 ELSE 0 END)
                        AS BIGINT) AS exceptions
            FROM ret JOIN var_t v ON v.segment = ret.segment
            WHERE ret.d >= DATE '1998-01-01'
            GROUP BY ret.segment
        ),
        lr AS (
            SELECT segment, n_test, exceptions,
                   CAST('-2.0' AS DOUBLE) * CAST(CAST(
                       (n_test - exceptions) * {l_1p}
                       + exceptions * {l_p}
                       - (CASE WHEN exceptions < n_test
                               THEN (n_test - exceptions) * {l_1fr}
                               ELSE CAST(0 AS DECIMAL(12,6)) END)
                       - (CASE WHEN exceptions > 0
                               THEN exceptions * {l_fr}
                               ELSE CAST(0 AS DECIMAL(12,6)) END)
                   AS VARCHAR) AS DOUBLE) AS lr_pof
            FROM s WHERE n_test > 0
        )
        SELECT segment, n_test, exceptions, lr_pof,
               (lr_pof > CAST('3.841459' AS DOUBLE)) AS reject_95
        FROM lr ORDER BY segment
    """


@register(
    "fin_kupiec_pof",
    tags=("finance", "risk", "agg"),
    oracle=_kupiec_sql(),
)
def fin_kupiec_pof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec proportion-of-failures (POF) test on the 95% VaR
    exception counts — the likelihood-ratio companion
    fin_var_exception_backtest's docstring explicitly deferred
    ("the Kupiec POF likelihood ratio needs ln — kept off the oracle
    surface per the libm rule"): with the round-13 quantized-ln
    recipe, that rule no longer blocks it. Same estimation/test
    machinery (first-half historical VaR at the exact integer rank
    (n+19) div 20 over q9 returns, second-half exception count);
    LR_pof = -2[(n-x)ln(1-p) + x ln p - (n-x)ln(1-x/n) - x ln(x/n)],
    all four logs quantized to DECIMAL(12,6) (the two constants from
    string-routed literals), multiplied by exact integer counts, and
    combined in ONE exact decimal expression crossing to double once
    — zero-exception and all-exception edges drop their undefined
    terms by the standard 0 ln 0 = 0 convention, identically guarded
    on both engines. Rejection at the chi-square(1) 95% critical
    value (string-routed). Per-segment windows ride O(days) rows."""

    daily = seg_daily(spark, sf_dir)
    ret = seg_returns(daily).persist()
    cut = F.lit("1998-01-01").cast("date")
    est = ret.filter(F.col("d") < cut)
    wr = Window.partitionBy("segment").orderBy("r", "d")
    wn = Window.partitionBy("segment")
    ranked = est.select(
        "segment",
        "r",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n1"),
    )
    var_t = ranked.groupBy("segment").agg(
        F.min(
            F.when(
                F.col("rk") == F.expr("CAST((n1 + 19) DIV 20 AS BIGINT)"),
                F.col("r"),
            )
        ).alias("var_q9")
    )
    s = (
        ret.filter(F.col("d") >= cut)
        .join(F.broadcast(var_t), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("r") < F.col("var_q9"), 1).otherwise(0))
            .cast("bigint")
            .alias("exceptions"),
        )
        .filter(F.col("n_test") > 0)
    )
    lnq = lambda c: F.log(c).cast("decimal(12,6)")  # noqa: E731
    l_1p = lnq(F.lit("0.95").cast("double"))
    l_p = lnq(F.lit("0.05").cast("double"))
    n_d = F.col("n_test").cast("double")
    x_d = F.col("exceptions").cast("double")
    l_fr = lnq(x_d / n_d)
    l_1fr = lnq((F.col("n_test") - F.col("exceptions")).cast("double") / n_d)
    zero_dec = F.lit(0).cast("decimal(12,6)")
    inner = (
        (F.col("n_test") - F.col("exceptions")) * l_1p
        + F.col("exceptions") * l_p
        - F.when(F.col("exceptions") < F.col("n_test"),
                 (F.col("n_test") - F.col("exceptions")) * l_1fr
                 ).otherwise(zero_dec)
        - F.when(F.col("exceptions") > 0,
                 F.col("exceptions") * l_fr).otherwise(zero_dec)
    )
    out = s.select(
        "segment",
        "n_test",
        "exceptions",
        (
            F.lit("-2.0").cast("double")
            * inner.cast("string").cast("double")
        ).alias("lr_pof"),
    )
    return out.select(
        "segment",
        "n_test",
        "exceptions",
        "lr_pof",
        (F.col("lr_pof") > F.lit("3.841459").cast("double")).alias(
            "reject_95"
        ),
    ).orderBy("segment")
