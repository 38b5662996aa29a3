"""Distributed hypothesis testing registered as oracle-checked queries:
two-sample Kolmogorov-Smirnov, Mann-Whitney U (rank-sum with exact tie
handling), and Welch's t-test.

The statistics are computed from EXACT integer / decimal sufficient
aggregates (counts, rank sums, power sums) with a single IEEE-exact
double expression at the presentation edge — the same cross-engine
determinism contract as agg_corr_exact (plans/registry.py docstring).

Scale design: KS and Mann-Whitney both need a GLOBAL cumulative count
over the pooled sorted sample, which a naive unpartitioned window would
serialize onto one task. Both queries decompose it two-level exactly
like ts_max_concurrency: a within-bucket running sum (windows
partitioned by a value-range bucket — bounded work per partition) plus
a per-bucket carry-in from the cumulative sum over the O(buckets)
bucket-total aggregate. Distinct values scale with the corpus; buckets
don't.

Reference scope: the reference ETL (ibqp/finance-etl
utils/data_manager.py) stops at sums/counts; these are capability-expansion operators for the
analytics surface (SURVEY.md §2.B stats rows).
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
from finance_etl_spark.io.readers import load_table, load_table_parallel
from finance_etl_spark.plans.recipes import (
    DAILY_Q6_SQL,
    DAILY_SCALED_SQL,
    EVENT_DAILY_SQL,
    ORDER_PRIORITIES,
    PHI2_CELL_SQL,
    SEG_DAILY_SQL,
    daily_q6,
    daily_scaled,
    event_daily,
    midranks2,
    ncdf_sql,
    phi2_cell,
    pois_case,
    pois_case_sql,
    seg_daily,
)
from finance_etl_spark.plans.registry import register

# the two samples under test: order totals of URGENT vs LOW priority
# orders — same-shaped distributions, so the tests exercise real
# discrimination rather than a trivially-separable pair
_G1, _G0 = "1-URGENT", "5-LOW"

# two-sample base: x = order total in exact cents-scale decimal, g = 1
# for the URGENT sample, 0 for LOW
_SAMPLE_SQL = f"""
    SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS x,
           CASE WHEN o_orderpriority = '{_G1}' THEN 1 ELSE 0 END AS g
    FROM orders
    WHERE o_orderpriority IN ('{_G1}', '{_G0}')
"""


def _two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").isin(_G1, _G0)).select(
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
        F.when(F.col("o_orderpriority") == _G1, 1).otherwise(0).alias("g"),
    )


def _pooled_cumulative(ts: DataFrame) -> DataFrame:
    """Distinct-value rows (x, a, b, cum_a, cum_b): per-value sample
    counts plus the INCLUSIVE global cumulative counts in x order,
    computed with the two-level (bucket + carry-in) decomposition.

    Callers that also need the grand totals should use ``_pooled_parts``
    and aggregate the cached distinct-value relation rather than this
    one: the totals are identical (same a/b rows) but skip re-planning
    the window + carry join inside the broadcast branch."""
    return _pooled_parts(ts)[1]


def _pooled_parts(ts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(per_val, cum): the persisted distinct-value aggregate and the
    bucket+carry cumulative built over it (see _pooled_cumulative)."""
    per_val = ts.groupBy("x").agg(
        F.sum("g").alias("a"),
        F.sum(F.lit(1) - F.col("g")).alias("b"),
    )
    per_val = per_val.withColumn(
        "bkt", F.floor(F.col("x") / F.lit(10000)).cast("long")
    )
    # the distinct-value aggregate feeds the within-bucket windows, the
    # bucket-total carry, and (in KS) the grand totals — persist it so
    # the fact table is scanned ONCE, not once per consumer (PLANS.md
    # showed 3 pushed-filter scans of orders before this)
    per_val = per_val.persist()
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = per_val.select(
        "bkt",
        "x",
        "a",
        "b",
        F.sum("a").over(w_in).alias("wa"),
        F.sum("b").over(w_in).alias("wb"),
    )
    w_carry = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        per_val.groupBy("bkt")
        .agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("ta").over(w_carry), F.lit(0)).alias("ca"),
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    cum = within.join(F.broadcast(carry), "bkt").select(
        "x",
        "a",
        "b",
        (F.col("wa") + F.col("ca")).alias("cum_a"),
        (F.col("wb") + F.col("cb")).alias("cum_b"),
    )
    return per_val, cum


@register(
    "stat_ks_two_sample",
    headline=True,
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH ts AS ({_SAMPLE_SQL}),
        per_val AS (
            SELECT x, SUM(g) AS a, SUM(1 - g) AS b
            FROM ts GROUP BY x
        ),
        cum AS (
            SELECT x,
                   SUM(a) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_a,
                   SUM(b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_b
            FROM per_val
        ),
        tot AS (SELECT SUM(a) AS n, SUM(b) AS m FROM per_val)
        SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
               CAST(MAX(abs(cum_a * m - cum_b * n)) AS BIGINT) AS d_num,
               CAST(MAX(abs(cum_a * m - cum_b * n)) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) AS d_stat
        FROM cum, tot
        GROUP BY n, m
    """,
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic, exactly: D = max over
    the pooled sorted support of |F1(x) - F2(x)|, kept as the INTEGER
    numerator max|cum_a*m - cum_b*n| until the single double division
    at the edge — so the statistic is bit-identical under any
    partitioning (no float ECDF accumulation). Ties are handled by
    evaluating the ECDFs per DISTINCT value (both step functions step
    together), which is the textbook definition. The global cumulative
    count uses the bucket + carry-in decomposition (module docstring)
    instead of one serializing window. Round-15 shave: the grand
    totals aggregate the cached distinct-value relation directly
    (identical sums — same a/b rows) so the broadcast branch skips
    re-planning the window + carry join."""
    per_val, cum = _pooled_parts(_two_sample(spark, sf_dir))
    tot = per_val.agg(
        F.sum("a").alias("n"), F.sum("b").alias("m")
    )
    d_num = F.max(
        F.abs(F.col("cum_a") * F.col("m") - F.col("cum_b") * F.col("n"))
    )
    return (
        cum.join(F.broadcast(tot))
        .groupBy("n", "m")
        .agg(
            d_num.alias("d_num"),
            (
                d_num.cast("double")
                / (F.col("n").cast("double") * F.col("m").cast("double"))
            ).alias("d_stat"),
        )
        .select("n", "m", "d_num", "d_stat")
    )


@register(
    "stat_mannwhitney_u",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH ts AS ({_SAMPLE_SQL}),
        per_val AS (
            SELECT x, SUM(g) AS a, SUM(1 - g) AS b
            FROM ts GROUP BY x
        ),
        cum AS (
            SELECT x, a, b,
                   SUM(a + b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       - (a + b) AS c,
                   a + b AS t
            FROM per_val
        ),
        agg AS (
            SELECT CAST(SUM(a * (2 * c + t + 1)) AS BIGINT) AS r1_x2,
                   CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term,
                   CAST(SUM(a) AS BIGINT) AS n,
                   CAST(SUM(b) AS BIGINT) AS m
            FROM cum
        )
        SELECT n, m,
               CAST(r1_x2 - n * (n + 1) AS BIGINT) AS u1_x2,
               tie_term,
               (CAST(r1_x2 - n * (n + 1) AS DOUBLE) / 2.0
                  - CAST(n AS DOUBLE) * CAST(m AS DOUBLE) / 2.0)
               / sqrt(CAST(n AS DOUBLE) * CAST(m AS DOUBLE) / 12.0
                      * (CAST(n + m + 1 AS DOUBLE)
                         - CAST(tie_term AS DOUBLE)
                           / (CAST(n + m AS DOUBLE)
                              * CAST(n + m - 1 AS DOUBLE)))) AS z_score
        FROM agg
    """,
)
def stat_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test with EXACT tie handling: average
    ranks carry .5 halves, so the rank sum is kept doubled (2*R1 =
    Σ a_v * (2*c_v + t_v + 1) over distinct values, where c = count
    before the tie group and t = its size) — pure integers end to end,
    plus the exact tie-correction term Σ(t³-t). The normal-
    approximation z-score (tie-corrected variance) is one double
    expression at the edge. Rank computation never materializes
    per-row ranks: it runs on the distinct-value aggregate with the
    same bucket + carry-in cumulative as the KS query."""
    cum = _pooled_cumulative(_two_sample(spark, sf_dir))
    c = (F.col("cum_a") + F.col("cum_b")) - (F.col("a") + F.col("b"))
    t = F.col("a") + F.col("b")
    agg = cum.agg(
        F.sum(F.col("a") * (F.lit(2) * c + t + F.lit(1))).alias("r1_x2"),
        F.sum(t * t * t - t).alias("tie_term"),
        F.sum("a").alias("n"),
        F.sum("b").alias("m"),
    )
    n = F.col("n").cast("double")
    m = F.col("m").cast("double")
    u1_x2 = F.col("r1_x2") - F.col("n") * (F.col("n") + F.lit(1))
    var = (n * m / F.lit(12.0)) * (
        (n + m + F.lit(1.0))
        - F.col("tie_term").cast("double") / ((n + m) * (n + m - F.lit(1.0)))
    )
    z = (u1_x2.cast("double") / F.lit(2.0) - n * m / F.lit(2.0)) / F.sqrt(var)
    return agg.select(
        "n", "m", u1_x2.alias("u1_x2"), "tie_term", z.alias("z_score")
    )


@register(
    "stat_welch_ttest",
    tags=("stats", "agg"),
    oracle=f"""
        WITH ts AS ({_SAMPLE_SQL}),
        s AS (
            SELECT g, COUNT(*) AS n,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx
            FROM ts GROUP BY g
        ),
        w AS (
            SELECT
                MAX(CASE WHEN g = 1 THEN n END) AS n1,
                MAX(CASE WHEN g = 0 THEN n END) AS n2,
                MAX(CASE WHEN g = 1 THEN sx END) AS sx1,
                MAX(CASE WHEN g = 0 THEN sx END) AS sx2,
                MAX(CASE WHEN g = 1 THEN sxx END) AS sxx1,
                MAX(CASE WHEN g = 0 THEN sxx END) AS sxx2
            FROM s
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               sx1 / n1 AS mean1, sx2 / n2 AS mean2,
               (sx1 / n1 - sx2 / n2)
                 / sqrt((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                        + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
                   AS t_stat,
               ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                  + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
               * ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                  + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
               / (((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1)
                    * ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1) / (n1 - 1)
                  + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
                    * ((sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2) / (n2 - 1))
                   AS welch_df
        FROM w
    """,
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test from exact decimal power sums
    (n, Σx, Σx² per sample — one map-side hash agg over both samples
    at once), then t and the Welch-Satterthwaite degrees of freedom as
    single double expressions at the edge. The decimal sums make the
    statistic partition-order independent; the built-in stddev's
    streaming co-moment path is not. One pass, two output rows fused
    into one via conditional aggregation — no join, no shuffle beyond
    the 2-group agg."""
    ts = _two_sample(spark, sf_dir)
    s = ts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    w = s.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == 1, F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("g") == 0, F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("g") == 1, F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("g") == 0, F.col("sxx"))).alias("sxx2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    se1 = (F.col("sxx1") - F.col("sx1") * F.col("sx1") / n1) / (
        n1 - F.lit(1.0)
    ) / n1
    se2 = (F.col("sxx2") - F.col("sx2") * F.col("sx2") / n2) / (
        n2 - F.lit(1.0)
    ) / n2
    tstat = (F.col("sx1") / n1 - F.col("sx2") / n2) / F.sqrt(se1 + se2)
    dof = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (n1 - F.lit(1.0)) + se2 * se2 / (n2 - F.lit(1.0))
    )
    return w.select(
        "n1",
        "n2",
        (F.col("sx1") / n1).alias("mean1"),
        (F.col("sx2") / n2).alias("mean2"),
        tstat.alias("t_stat"),
        dof.alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# RNG-free resampling inference (round 7 continuation). Both queries
# replace the engine RNG with md5-derived uniforms — a pure function of
# (row key, replicate id) — so the "random" resample is deterministic,
# partition-order independent, and identically reproducible in the
# DuckDB oracle: the whole resampling distribution is hash-checkable.

_N_BOOT = 64


@register(
    "stat_bootstrap_ci",
    tags=("stats", "agg", "window"),
    oracle=f"""
        WITH base AS (
            SELECT o_orderpriority AS priority,
                   CAST(o_orderkey AS VARCHAR) AS k,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS x
            FROM orders
        ),
        rep AS (
            SELECT priority, b,
                   {pois_case_sql(
                       "CAST('0x' || substr(md5(k || '#' || CAST(b AS VARCHAR)), 1, 4) AS BIGINT)"
                   )} AS w,
                   x
            FROM base
            CROSS JOIN (SELECT UNNEST(range({_N_BOOT})) AS b) reps
        ),
        means AS (
            SELECT priority, b,
                   CAST(CAST(SUM(w * x) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(SUM(w) AS VARCHAR) AS DOUBLE) AS m
            FROM rep GROUP BY priority, b
            HAVING SUM(w) > 0
        ),
        ranked AS (
            SELECT priority, m,
                   ROW_NUMBER() OVER (PARTITION BY priority ORDER BY m, b) AS r,
                   COUNT(*) OVER (PARTITION BY priority) AS nb
            FROM means
        ),
        ci AS (
            SELECT priority,
                   MAX(CASE WHEN r = 2 THEN m END) AS ci_lo,
                   MAX(CASE WHEN r = nb - 1 THEN m END) AS ci_hi,
                   MAX(nb) AS nb
            FROM ranked GROUP BY priority
        ),
        pt AS (
            SELECT priority, COUNT(*) AS n_orders,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) AS mean_total
            FROM base GROUP BY priority
        )
        SELECT pt.priority, CAST(n_orders AS BIGINT) AS n_orders,
               mean_total, ci_lo, ci_hi, CAST(nb AS BIGINT) AS n_boot
        FROM pt JOIN ci ON pt.priority = ci.priority
        ORDER BY pt.priority
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poissonized bootstrap 95% CI for the mean order total per
    priority, with the RNG replaced by md5(row#replicate) so the
    entire resampling distribution is deterministic and cross-engine
    hash-checkable (each row's multiplicity in replicate b is the
    Poisson(1) inverse-CDF of a 16-bit md5 bucket — the distributed
    bootstrap of Chamandy et al., no global coordination per
    resample). Shape: a 64-row broadcast fans each order into its
    replicates BEFORE a (priority, b) hash agg, so map-side combine
    collapses the 64x row blow-up inside each task and the shuffle
    carries only |priorities| x 64 partial sums; the CI is the
    2nd / 63rd order statistic of the replicate means (exact decimal
    sums, one double division at the edge). The driver sees O(groups)
    rows at any corpus size."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
    )
    reps = spark.range(_N_BOOT).select(F.col("id").alias("b"))
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("k"), F.lit("#"), F.col("b").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    w = pois_case(u)
    means = (
        base.join(F.broadcast(reps))
        .select("priority", "b", w.alias("w"), "x")
        .groupBy("priority", "b")
        .agg(F.sum(F.col("w") * F.col("x")).alias("sw"), F.sum("w").alias("nw"))
        .filter(F.col("nw") > 0)
        .select(
            "priority",
            "b",
            (F.col("sw").cast("double") / F.col("nw").cast("double")).alias("m"),
        )
    )
    wnd = Window.partitionBy("priority").orderBy("m", "b")
    cnt = Window.partitionBy("priority")
    ranked = means.select(
        "priority",
        "m",
        F.row_number().over(wnd).alias("r"),
        F.count(F.lit(1)).over(cnt).alias("nb"),
    )
    ci = ranked.groupBy("priority").agg(
        F.max(F.when(F.col("r") == 2, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("r") == F.col("nb") - 1, F.col("m"))).alias("ci_hi"),
        F.max("nb").alias("nb"),
    )
    pt = base.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_total"
        ),
    )
    return (
        pt.join(ci, "priority")
        .select(
            "priority",
            "n_orders",
            "mean_total",
            "ci_lo",
            "ci_hi",
            F.col("nb").cast("bigint").alias("n_boot"),
        )
        .orderBy("priority")
    )


_N_PERM = 64


@register(
    "stat_randomization_test",
    tags=("stats", "agg"),
    oracle=f"""
        WITH ts AS (
            SELECT CAST(o_orderkey AS VARCHAR) AS k, x, g
            FROM ({_SAMPLE_SQL.replace("SELECT ", "SELECT o_orderkey, ", 1)})
        ),
        tot AS (
            SELECT SUM(g) AS n1, COUNT(*) - SUM(g) AS n0,
                   (SUM(g) * 65536) // COUNT(*) AS thr,
                   CAST(CAST(SUM(CASE WHEN g = 1 THEN x END) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(SUM(g) AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(SUM(CASE WHEN g = 0 THEN x END) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(COUNT(*) - SUM(g) AS VARCHAR) AS DOUBLE) AS obs_diff
            FROM ts
        ),
        perm AS (
            SELECT p,
                   CASE WHEN CAST('0x' || substr(md5(k || '@' || CAST(p AS VARCHAR)), 1, 4)
                             AS BIGINT) < thr
                        THEN 1 ELSE 0 END AS a,
                   x
            FROM ts
            CROSS JOIN (SELECT UNNEST(range({_N_PERM})) AS p) perms
            CROSS JOIN tot
        ),
        diffs AS (
            SELECT p,
                   CAST(CAST(SUM(CASE WHEN a = 1 THEN x END) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(SUM(a) AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(SUM(CASE WHEN a = 0 THEN x END) AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(COUNT(*) - SUM(a) AS VARCHAR) AS DOUBLE) AS d
            FROM perm GROUP BY p
            HAVING SUM(a) > 0 AND SUM(a) < COUNT(*)
        )
        SELECT CAST(tot.n1 AS BIGINT) AS n1, CAST(tot.n0 AS BIGINT) AS n0,
               tot.obs_diff,
               CAST(SUM(CASE WHEN abs(d) >= abs(tot.obs_diff) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_extreme,
               (1.0 + SUM(CASE WHEN abs(d) >= abs(tot.obs_diff) THEN 1 ELSE 0 END))
                 / CAST({_N_PERM} + 1 AS DOUBLE) AS p_value
        FROM diffs CROSS JOIN tot
        GROUP BY tot.n1, tot.n0, tot.obs_diff
    """,
)
def stat_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate randomization (permutation) test for the URGENT-vs-
    LOW mean order-total difference, RNG-free: permutation p
    reassigns each row to a pseudo-group by thresholding a 16-bit
    md5(row@p) bucket at floor(n1*65536/n) — Bernoulli(n1/n)
    reassignment, the Dwass/Chung approximate-randomization variant
    whose group sizes are binomial rather than fixed, which is what
    makes it embarrassingly parallel: no global shuffle of labels,
    every (row, p) decides locally. The p-value is the add-one
    estimate (1 + #{|d_p| >= |obs|}) / (P+1). All group sums are
    exact decimals with one double division per mean at the edge, so
    the full permutation distribution is deterministic and the whole
    test hash-oracle-checkable. Shape: one 64-row broadcast fan-out
    into a (p) hash agg — map-side combine keeps the shuffle at
    O(P) rows regardless of corpus size."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderpriority").isin(_G1, _G0)).select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
        F.when(F.col("o_orderpriority") == _G1, 1).otherwise(0).alias("g"),
    )
    tot = base.agg(
        F.sum("g").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).alias("n0"),
        F.expr("(SUM(g) * 65536) DIV COUNT(*)").alias("thr"),
        (
            F.sum(F.when(F.col("g") == 1, F.col("x"))).cast("double")
            / F.sum("g").cast("double")
            - F.sum(F.when(F.col("g") == 0, F.col("x"))).cast("double")
            / (F.count(F.lit(1)) - F.sum("g")).cast("double")
        ).alias("obs_diff"),
    ).persist()  # 1 row; consumed by the perm scan AND the final join
    perms = spark.range(_N_PERM).select(F.col("id").alias("p"))
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("k"), F.lit("@"), F.col("p").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    perm = (
        base.join(F.broadcast(perms))
        .join(F.broadcast(tot.select("thr")))
        .select("p", F.when(u < F.col("thr"), 1).otherwise(0).alias("a"), "x")
    )
    diffs = (
        perm.groupBy("p")
        .agg(
            F.sum(F.when(F.col("a") == 1, F.col("x"))).alias("s1"),
            F.sum("a").alias("c1"),
            F.sum(F.when(F.col("a") == 0, F.col("x"))).alias("s0"),
            (F.count(F.lit(1)) - F.sum("a")).alias("c0"),
        )
        .filter((F.col("c1") > 0) & (F.col("c0") > 0))
        .select(
            (
                F.col("s1").cast("double") / F.col("c1").cast("double")
                - F.col("s0").cast("double") / F.col("c0").cast("double")
            ).alias("d")
        )
    )
    n_ext = F.sum(
        F.when(F.abs(F.col("d")) >= F.abs(F.col("obs_diff")), 1).otherwise(0)
    )
    return (
        diffs.join(F.broadcast(tot.select("n1", "n0", "obs_diff")))
        .groupBy("n1", "n0", "obs_diff")
        .agg(
            n_ext.cast("bigint").alias("n_extreme"),
            (
                (F.lit(1.0) + n_ext)
                / F.lit(float(_N_PERM + 1))
            ).alias("p_value"),
        )
        .select("n1", "n0", "obs_diff", "n_extreme", "p_value")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (round 7 continuation): Pearson over
# midranks, with the ranks computed the scale-safe way — on the
# DISTINCT-VALUE aggregate with the same bucket + carry-in cumulative
# decomposition as the KS/Mann-Whitney queries (never a global
# unpartitioned window over rows), and DOUBLED midranks so ties stay
# in integer arithmetic end to end (a tie group of size t spanning c
# prior rows has midrank c + (t+1)/2; doubling clears the half). The
# correlation itself is one double expression over exact DECIMAL(38,0)
# power sums.





@register(
    "stat_spearman_corr",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH base AS (
            SELECT CAST(l_quantity AS DECIMAL(12,2)) AS x,
                   CAST(l_extendedprice AS DECIMAL(12,2)) AS y
            FROM lineitem
        ),
        rx AS (
            SELECT v, 2 * (SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t)
                      + t + 1 AS mr2
            FROM (SELECT x AS v, COUNT(*) AS t FROM base GROUP BY x)
        ),
        ry AS (
            SELECT v, 2 * (SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t)
                      + t + 1 AS mr2
            FROM (SELECT y AS v, COUNT(*) AS t FROM base GROUP BY y)
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(rx.mr2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(ry.mr2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(rx.mr2 AS DECIMAL(38,0))
                               * CAST(rx.mr2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(ry.mr2 AS DECIMAL(38,0))
                               * CAST(ry.mr2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(CAST(SUM(CAST(rx.mr2 AS DECIMAL(38,0))
                               * CAST(ry.mr2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy
            FROM base
            JOIN rx ON rx.v = base.x
            JOIN ry ON ry.v = base.y
        )
        SELECT CAST(n AS BIGINT) AS n,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rho
        FROM s
    """,
)
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of line quantity vs extended price:
    doubled midranks per DISTINCT value (integer-exact under heavy
    ties), rows joined back to their value's rank, then Pearson over
    the ranks from six exact DECIMAL(38,0) sufficient sums with one
    double expression at the edge. Rank computation never serializes:
    it runs on the distinct-value aggregate with the bucket + carry-in
    cumulative (quantity has ~50 distinct values; price's distinct set
    scales with the corpus but the window is per-bucket, the carry is
    O(buckets)). Two value-keyed joins + one agg — at 100x the only
    growth is in partition counts."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("decimal(12,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("y"),
    )
    rx = midranks2(base, "x", 10)
    ry = midranks2(base, "y", 10000)
    dec = "decimal(38,0)"
    joined = (
        base.join(rx.withColumnRenamed("mr2", "mrx"), base.x == rx.v)
        .drop("v")
        .join(ry.withColumnRenamed("mr2", "mry"), base.y == ry.v)
        .select(
            F.col("mrx").cast(dec).alias("mrx"),
            F.col("mry").cast(dec).alias("mry"),
        )
    )
    s = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mrx").cast("double").alias("sx"),
        F.sum("mry").cast("double").alias("sy"),
        F.sum(F.col("mrx") * F.col("mrx")).cast("double").alias("sxx"),
        F.sum(F.col("mry") * F.col("mry")).cast("double").alias("syy"),
        F.sum(F.col("mrx") * F.col("mry")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(F.col("n").cast("bigint").alias("n"), rho.alias("rho"))


# ---------------------------------------------------------------------------
# Cramér's V (round 7 continuation): association strength between two
# categoricals from the full contingency table — the effect-size
# companion to a chi-squared test (ml_chi2_feature_select computes
# per-token 2x2 chi2 for feature selection; this is the general RxC
# dependence instrument). chi2 = n * (sum over cells of
# (o/n - pr*pc)^2 / (pr*pc)) is computed from exact integer counts
# with the double expression shared across engines; V = sqrt(chi2 /
# (n * min(R-1, C-1))).


@register(
    "stat_cramers_v",
    tags=("stats", "agg"),
    oracle=f"""
        WITH cells AS (
            SELECT o_orderpriority AS r, o_orderstatus AS c,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM orders GROUP BY 1, 2
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
               CAST(nrows AS BIGINT) AS n_rows, CAST(ncols AS BIGINT) AS n_cols,
               CAST(n AS DOUBLE) * phi2 AS chi2,
               sqrt(phi2 / CAST(LEAST(nrows - 1, ncols - 1) AS DOUBLE))
                   AS cramers_v
        FROM tots
    """,
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between order priority and order status: the RxC
    contingency table is one hash agg of exact integer counts; row/
    column margins come from windows over the O(RxC) cell relation;
    each cell's phi² contribution is a shared double fragment
    floor-scaled to 1e-15 and summed as DECIMAL(38,0) — the o_fsum
    recipe — so the sum over cells is order-independent and the final
    chi2 / V are identical IEEE edges. Corpus-scale work is one
    grouped count; everything else is model-sized."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r"),
        F.col("o_orderstatus").alias("c"),
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
        fsum(phi2_cell(), 15).alias("phi2"),
    )
    return tots.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("nrows").cast("bigint").alias("n_rows"),
        F.col("ncols").cast("bigint").alias("n_cols"),
        (F.col("n").cast("double") * F.col("phi2")).alias("chi2"),
        F.sqrt(
            F.col("phi2")
            / F.least(F.col("nrows") - 1, F.col("ncols") - 1).cast("double")
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (round 7 continuation): serial-dependence
# diagnostic on each daily series' up/down moves — too few runs means
# trending, too many means mean-reverting. Runs, up-counts and
# down-counts are pure integers from two lag windows (sign of the
# day-over-day change, then a change-of-sign indicator); the normal
# approximation z = (R - E[R]) / sqrt(Var[R]) is one closed-form
# double edge. Zero diffs are dropped (the standard treatment).


@register(
    "stat_runs_test",
    tags=("stats", "timeseries", "window", "agg"),
    oracle=f"""
        WITH daily AS ({EVENT_DAILY_SQL}),
        moves AS (
            SELECT event_type, d,
                   CASE WHEN x > LAG(x) OVER w THEN 1
                        WHEN x < LAG(x) OVER w THEN -1 END AS s
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)
        ),
        signs AS (
            SELECT event_type, s,
                   LAG(s) OVER (PARTITION BY event_type ORDER BY d) AS sp
            FROM moves WHERE s IS NOT NULL
        ),
        agg AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
                   CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
                   CAST(1 + SUM(CASE WHEN sp IS NOT NULL AND s <> sp
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
            FROM signs GROUP BY event_type
        )
        SELECT event_type, n_up, n_down, n_runs,
               CASE WHEN n_up = 0 OR n_down = 0 OR n_up + n_down < 2
                    THEN NULL
                    ELSE
               (CAST(n_runs AS DOUBLE)
                - (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                   / CAST(n_up + n_down AS DOUBLE) + 1.0))
               / sqrt(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                      * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                         - CAST(n_up + n_down AS DOUBLE))
                      / (CAST(n_up + n_down AS DOUBLE)
                         * CAST(n_up + n_down AS DOUBLE)
                         * (CAST(n_up + n_down AS DOUBLE) - 1.0)))
               END AS z_score
        FROM agg
        ORDER BY event_type
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on each event type's daily up/down
    moves: sign of the day-over-day change from one lag window (zero
    diffs dropped), run boundaries from a second lag over the sign
    sequence, then R, n_up, n_down reduce by ordinary integer
    aggregation and the normal z-score is a single shared double
    expression. One corpus-scale daily agg; per-series windows over
    O(days) rows; O(series) output. Too-few runs = trending, too many
    = mean-reverting — the cheap first screen before fitting AR
    structure (ts_pacf / ts_yule_walker_ar2)."""
    daily = event_daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    moves = daily.select(
        "event_type",
        "d",
        F.when(F.col("x") > F.lag("x").over(w), 1)
        .when(F.col("x") < F.lag("x").over(w), -1)
        .alias("s"),
    ).filter(F.col("s").isNotNull())
    signs = moves.select(
        "event_type", "s", F.lag("s").over(w).alias("sp")
    )
    agg = signs.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("sp").isNotNull() & (F.col("s") != F.col("sp")), 1
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    nu = F.col("n_up").cast("double")
    nd = F.col("n_down").cast("double")
    nt = (F.col("n_up") + F.col("n_down")).cast("double")
    e_runs = F.lit(2.0) * nu * nd / nt + F.lit(1.0)
    var = (
        F.lit(2.0) * nu * nd * (F.lit(2.0) * nu * nd - nt)
        / (nt * nt * (nt - F.lit(1.0)))
    )
    # degenerate guard: a monotone series (n_up or n_down = 0) or a
    # single move makes var = 0 -> 0/0 NaN, whose handling differs
    # cross-engine; both sides emit NULL for the undecidable z
    degenerate = (
        (F.col("n_up") == 0)
        | (F.col("n_down") == 0)
        | ((F.col("n_up") + F.col("n_down")) < 2)
    )
    z = (F.col("n_runs").cast("double") - e_runs) / F.sqrt(var)
    return agg.select(
        "event_type",
        "n_up",
        "n_down",
        "n_runs",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(z)
        .alias("z_score"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Gini concentration coefficient (round 7 continuation): how unequal
# are order totals within each priority class — the concentration
# instrument behind revenue-at-risk and whale-customer analyses. The
# tie-aware rank-sum identity G = (2 Σ rank_i x_i)/(n Σx) - (n+1)/n
# needs Σ over a tied block of consecutive ranks, which collapses to
# x_v * t * (2c + t + 1) on the DISTINCT-VALUE relation (t = tie
# size, c = count before) — exact decimal arithmetic end to end, with
# the same per-group bucket + carry-in cumulative as the rest of this
# module (never a global row window).


@register(
    "stat_gini_coefficient",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH base AS (
            SELECT o_orderpriority AS g,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS x
            FROM orders
        ),
        per_val AS (
            SELECT g, x, COUNT(*) AS t FROM base GROUP BY g, x
        ),
        cum AS (
            SELECT g, x, t,
                   SUM(t) OVER (PARTITION BY g ORDER BY x
                       ROWS UNBOUNDED PRECEDING) - t AS c
            FROM per_val
        ),
        agg AS (
            SELECT g,
                   CAST(SUM(t) AS BIGINT) AS n,
                   SUM(x * t) AS sx,
                   SUM(x * t * (2 * c + t + 1)) AS rx2
            FROM cum GROUP BY g
        )
        SELECT g AS priority, n,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                 / CAST(n AS DOUBLE) AS mean_total,
               CAST(CAST(rx2 AS VARCHAR) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
        FROM agg
        ORDER BY priority
    """,
)
def stat_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware Gini coefficient of order totals per priority: the
    rank-weighted sum 2 Σ rank·x collapses on the distinct-value
    relation to Σ x·t·(2c + t + 1) (consecutive tied ranks summed in
    closed form), computed with the bucket + carry-in cumulative so no
    window ever sees more than one value-range bucket of one group.
    All sums are exact decimals; the mean and G are VARCHAR-routed
    double edges. G is distribution concentration on [0, 1): ~0 =
    uniform totals, ->1 = a few whale orders carry the class."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
    )
    per_val = (
        base.groupBy("g", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .withColumn("bkt", F.floor(F.col("x") / F.lit(10000)).cast("long"))
        .persist()
    )
    w_in = (
        Window.partitionBy("g", "bkt")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = per_val.select(
        "g", "bkt", "x", "t", (F.sum("t").over(w_in) - F.col("t")).alias("wc")
    )
    w_carry = (
        Window.partitionBy("g")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        per_val.groupBy("g", "bkt")
        .agg(F.sum("t").alias("tb"))
        .select(
            "g",
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    cum = within.join(F.broadcast(carry), ["g", "bkt"]).select(
        "g", "x", "t", (F.col("wc") + F.col("cb")).alias("c")
    )
    agg = cum.groupBy("g").agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("x") * F.col("t")).alias("sx"),
        F.sum(
            F.col("x")
            * F.col("t")
            * (F.lit(2) * F.col("c") + F.col("t") + F.lit(1))
        ).alias("rx2"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    return agg.select(
        F.col("g").alias("priority"),
        "n",
        (sx / n).alias("mean_total"),
        (
            F.col("rx2").cast("double") / (n * sx)
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# Lorenz curve deciles (round 7 continuation): the curve BEHIND
# stat_gini_coefficient — at each population decile (orders sorted by
# total, ascending), what share of total revenue has accumulated?
# Reads as "the bottom 50% of orders carry X% of revenue". Exact:
# decile cut points are integer order statistics on the distinct-value
# cumulative (same bucket + carry-in machinery), revenue prefixes are
# exact decimal sums, and the two shares are double edges.


@register(
    "stat_lorenz_deciles",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH base AS (
            SELECT o_orderpriority AS g,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS x
            FROM orders
        ),
        per_val AS (
            SELECT g, x, COUNT(*) AS t, SUM(x) AS rev
            FROM (SELECT g, x FROM base) GROUP BY g, x
        ),
        cum AS (
            SELECT g, x,
                   SUM(t) OVER w AS cum_t,
                   SUM(rev) OVER w AS cum_rev,
                   SUM(t) OVER p AS n,
                   SUM(rev) OVER p AS tot_rev
            FROM per_val
            WINDOW w AS (PARTITION BY g ORDER BY x
                         ROWS UNBOUNDED PRECEDING),
                   p AS (PARTITION BY g)
        ),
        pts AS (
            SELECT g, d,
                   MIN(CASE WHEN cum_t >= (d * n + 9) // 10
                            THEN struct_pack(x := x,
                                 cum_t := CAST(cum_t AS BIGINT),
                                 cum_rev := cum_rev) END) AS pt,
                   MAX(CAST(n AS BIGINT)) AS n,
                   MAX(tot_rev) AS tot_rev
            FROM cum
            CROSS JOIN (SELECT UNNEST(range(1, 11)) AS d) ds
            GROUP BY g, d
        )
        SELECT g AS priority, CAST(d AS INT) AS decile,
               CAST(pt.cum_t AS BIGINT) AS n_orders_cum,
               CAST(pt.cum_t AS DOUBLE) / CAST(n AS DOUBLE) AS pop_share,
               CAST(CAST(pt.cum_rev AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(tot_rev AS VARCHAR) AS DOUBLE) AS rev_share
        FROM pts
        ORDER BY priority, decile
    """,
)
def stat_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at the 10 population deciles per priority: sort
    orders by total (ascending, on the distinct-value relation with
    the bucket + carry-in cumulative), cut at the smallest prefix
    holding >= ceil(d*n/10) orders, and report that prefix's exact
    cumulative revenue share. The curve's sag below the diagonal IS
    the Gini (stat_gini_coefficient integrates it); these are the 10
    points an analyst actually plots. All cut selection is integer;
    shares are two double edges from exact decimals. Corpus work: one
    grouped count+sum; windows run per (group, bucket)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
    )
    per_val = (
        base.groupBy("g", "x")
        .agg(F.count(F.lit(1)).alias("t"), F.sum("x").alias("rev"))
        .withColumn("bkt", F.floor(F.col("x") / F.lit(10000)).cast("long"))
        .persist()
    )
    w_in = (
        Window.partitionBy("g", "bkt")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = per_val.select(
        "g",
        "bkt",
        "x",
        F.sum("t").over(w_in).alias("wt"),
        F.sum("rev").over(w_in).alias("wrev"),
    )
    w_carry = (
        Window.partitionBy("g")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        per_val.groupBy("g", "bkt")
        .agg(F.sum("t").alias("tb"), F.sum("rev").alias("rb"))
        .select(
            "g",
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("ct"),
            F.coalesce(F.sum("rb").over(w_carry), F.lit(0).cast("decimal(22,2)")).alias(
                "crev"
            ),
        )
    )
    tots = per_val.groupBy("g").agg(
        F.sum("t").alias("n"), F.sum("rev").alias("tot_rev")
    )
    cum = (
        within.join(F.broadcast(carry), ["g", "bkt"])
        .join(F.broadcast(tots), "g")
        .select(
            "g",
            "x",
            (F.col("wt") + F.col("ct")).alias("cum_t"),
            (F.col("wrev") + F.col("crev")).alias("cum_rev"),
            "n",
            "tot_rev",
        )
    )
    ds = spark.range(1, 11).select(F.col("id").alias("d"))
    pts = (
        cum.join(F.broadcast(ds))
        .groupBy("g", "d")
        .agg(
            F.min(
                F.when(
                    F.col("cum_t") >= F.expr("(d * n + 9) DIV 10"),
                    F.struct(
                        F.col("x"),
                        F.col("cum_t").cast("bigint").alias("cum_t"),
                        F.col("cum_rev").alias("cum_rev"),
                    ),
                )
            ).alias("pt"),
            F.max(F.col("n").cast("bigint")).alias("n"),
            F.max("tot_rev").alias("tot_rev"),
        )
    )
    return pts.select(
        F.col("g").alias("priority"),
        F.col("d").cast("int").alias("decile"),
        F.col("pt.cum_t").alias("n_orders_cum"),
        (
            F.col("pt.cum_t").cast("double") / F.col("n").cast("double")
        ).alias("pop_share"),
        (
            F.col("pt.cum_rev").cast("double")
            / F.col("tot_rev").cast("double")
        ).alias("rev_share"),
    ).orderBy("priority", "decile")


@register(
    "stat_anova_oneway",
    tags=("stats", "agg", "hypothesis"),
    oracle=f"""
        WITH lab AS (
            SELECT o_orderpriority AS g,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS xc
            FROM orders
        ),
        per AS (
            SELECT g,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xc) AS BIGINT) AS s,
                   SUM(CAST(xc AS DECIMAL(19,0))
                       * CAST(xc AS DECIMAL(19,0))) AS q
            FROM lab GROUP BY g
        ),
        red AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(s) AS BIGINT) AS ss,
                   CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) AS q_d,
                   {o_ordered_fold_sum(
                       'g',
                       'CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)',
                   )} AS b
            FROM per
        )
        SELECT k, nn AS n_total,
               b - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                   / CAST(nn AS DOUBLE) AS ss_between,
               q_d - b AS ss_within,
               (b - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                    / CAST(nn AS DOUBLE))
                 / CAST(k - 1 AS DOUBLE)
                 / ((q_d - b) / CAST(nn - k AS DOUBLE)) AS f_stat,
               (b - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                    / CAST(nn AS DOUBLE))
                 / (b - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                        / CAST(nn AS DOUBLE) + (q_d - b)) AS eta_sq
        FROM red
    """,
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five order priorities: does mean order
    value differ by priority? The F statistic reduces entirely to
    exact sufficient statistics — per-group count, BIGINT cents sum,
    and DECIMAL(38,0) sum of squares, all map-side-combining — so the
    corpus collapses to 5 rows in one scan and only the final edge is
    double arithmetic. The between-groups sum Σ s_g²/n_g is the one
    order-dependent double reduction; its terms overflow the o_fsum
    floor-to-LONG path (s²/n ≈ 7e17 at sf0.1), so it folds the 5
    group terms in a FIXED group order instead — Spark array_sort +
    F.aggregate ≡ DuckDB list(... ORDER BY g) + list_reduce, each
    term a deterministic double from exact-integer inputs and the
    fold order pinned, so the reduction is engine-identical without
    quantizing. ss stays < 2^53 at every verification SF, so its
    double cast is exact. Scale: one shuffle of 5 keys; the fold is
    O(groups) driver-free. Reference scope: SURVEY §2.B stats rows
    (capability expansion; reference has no test surface).
    """
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("g"),
        (F.col("o_totalprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("xc"),
    )
    xd = F.col("xc").cast("decimal(19,0)")
    per = lab.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").cast("bigint").alias("s"),
        F.sum(xd * xd).alias("q"),
    )
    term = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    red = per.select("g", "n", "s", "q", term.alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum("q").cast("double").alias("q_d"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("g"), F.col("t")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("b"),
    )
    ssb = (
        F.col("b")
        - F.col("ss").cast("double")
        * F.col("ss").cast("double")
        / F.col("nn").cast("double")
    )
    ssw = F.col("q_d") - F.col("b")
    return red.select(
        "k",
        F.col("nn").alias("n_total"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        (
            ssb
            / (F.col("k") - 1).cast("double")
            / (ssw / (F.col("nn") - F.col("k")).cast("double"))
        ).alias("f_stat"),
        (ssb / (ssb + ssw)).alias("eta_sq"),
    )


@register(
    "stat_jackknife_ratio_se",
    tags=("stats", "agg", "resampling"),
    oracle=f"""
        WITH lab AS (
            SELECT l_returnflag AS g,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS y,
                   CAST(l_quantity AS BIGINT) AS x
            FROM lineitem
        ),
        tot AS (
            SELECT g,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x) AS BIGINT) AS sx
            FROM lab GROUP BY g
        ),
        dev AS (
            SELECT l.g, t.n, t.sy, t.sx,
                   CAST(t.sy - l.y AS DOUBLE) / CAST(t.sx - l.x AS DOUBLE)
                   - CAST(t.sy AS DOUBLE) / CAST(t.sx AS DOUBLE) AS d
            FROM lab l JOIN tot t ON t.g = l.g
        ),
        red AS (
            SELECT g, CAST(MIN(n) AS BIGINT) AS n,
                   CAST(MIN(sy) AS DOUBLE) / CAST(MIN(sx) AS DOUBLE)
                       AS ratio,
                   {o_fsum('d')} AS sd,
                   {o_fsum('d * d')}
                       AS sdd
            FROM dev GROUP BY g
        )
        SELECT g AS l_returnflag, n, ratio,
               sqrt((CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (sdd - sd * sd / CAST(n AS DOUBLE))) AS jack_se
        FROM red
        ORDER BY l_returnflag
    """,
)
def stat_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one jackknife standard error of the ratio estimator
    R = Σprice/Σquantity per return flag — the survey-sampling answer
    to 'what is the uncertainty of this ratio?', where the classic
    variance formula doesn't apply because R is nonlinear. Leave-one-
    out ratios come BY SUBTRACTION from the broadcast group totals
    (no resampling, no self-join): R_(i) = (Sy−y_i)/(Sx−x_i), one
    deterministic double per row. The spread Σ(R_(i)−R̄)² uses the
    R-CENTERED one-pass decomposition fsum(d²) − fsum(d)²/n with
    d = R_(i)−R, which is cancellation-free (d ≈ 0-centered) where
    the raw ΣR² − nR̄² identity would lose all 16 digits; both fsums
    ride the floor-scale DECIMAL(38,0) recipe, so the reduction is
    order-free and engine-exact. Scale: one corpus scan, a 3-row
    broadcast, map-side-combining aggregates; nothing widens."""

    li = load_table(spark, sf_dir, "lineitem")
    lab = li.select(
        F.col("l_returnflag").alias("g"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("y"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    tot = lab.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    d = (
        (F.col("sy") - F.col("y")).cast("double")
        / (F.col("sx") - F.col("x")).cast("double")
        - F.col("sy").cast("double") / F.col("sx").cast("double")
    )
    red = (
        lab.join(F.broadcast(tot), "g")
        .select("g", "n", "sy", "sx", d.alias("d"))
        .groupBy("g")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            (
                F.min("sy").cast("double") / F.min("sx").cast("double")
            ).alias("ratio"),
            fsum(F.col("d")).alias("sd"),
            fsum(F.col("d") * F.col("d")).alias("sdd"),
        )
    )
    nd = F.col("n").cast("double")
    return red.select(
        F.col("g").alias("l_returnflag"),
        "n",
        "ratio",
        F.sqrt(
            ((F.col("n") - 1).cast("double") / nd)
            * (F.col("sdd") - F.col("sd") * F.col("sd") / nd)
        ).alias("jack_se"),
    ).orderBy("l_returnflag")


@register(
    "stat_qq_deciles",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH ts AS ({_SAMPLE_SQL}),
        per_val AS (
            SELECT x, SUM(g) AS a, SUM(1 - g) AS b
            FROM ts GROUP BY x
        ),
        cum AS (
            SELECT x,
                   CAST(SUM(a) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_a,
                   CAST(SUM(b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_b
            FROM per_val
        ),
        tot AS (
            SELECT CAST(SUM(a) AS BIGINT) AS n, CAST(SUM(b) AS BIGINT) AS m
            FROM per_val
        ),
        ds AS (SELECT unnest(generate_series(1, 9)) AS d)
        SELECT k.d AS decile, t.n AS n_urgent, t.m AS n_low,
               CAST(CAST(MIN(CASE WHEN c.cum_a >= (k.d * t.n + 9) // 10
                        THEN c.x END) AS VARCHAR) AS DOUBLE) AS q_urgent,
               CAST(CAST(MIN(CASE WHEN c.cum_b >= (k.d * t.m + 9) // 10
                        THEN c.x END) AS VARCHAR) AS DOUBLE) AS q_low
        FROM cum c CROSS JOIN tot t JOIN ds k ON TRUE
        GROUP BY k.d, t.n, t.m
        ORDER BY decile
    """,
)
def stat_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile comparison of the URGENT vs LOW order-value
    cohorts at the nine interior deciles — the distributional-shift
    diagnostic that reads as a table instead of a plot (matched
    deciles on the diagonal = same shape). Each decile value is an
    ORDER STATISTIC (smallest x whose inclusive cumulative count
    reaches ceil(d·n/10), the registry's interpolation-free quantile
    contract), taken from the same distinct-value + bucket/carry
    cumulative machinery as stat_ks_two_sample — one corpus scan, no
    serializing global window on the Spark side, exact integer
    thresholds with the DIV-vs-// floor pair. Values stay exact
    DECIMAL until the VARCHAR-routed double presentation."""
    cum = _pooled_cumulative(_two_sample(spark, sf_dir))
    tot = cum.agg(
        F.sum("a").cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("m"),
    )
    ds = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ds))
        .groupBy("d", "n", "m")
        .agg(
            F.min(
                F.when(
                    F.col("cum_a") >= F.expr("(d * n + 9) DIV 10"),
                    F.col("x"),
                )
            )
            .cast("double")
            .alias("q_urgent"),
            F.min(
                F.when(
                    F.col("cum_b") >= F.expr("(d * m + 9) DIV 10"),
                    F.col("x"),
                )
            )
            .cast("double")
            .alias("q_low"),
        )
        .select(
            F.col("d").alias("decile"),
            F.col("n").alias("n_urgent"),
            F.col("m").alias("n_low"),
            "q_urgent",
            "q_low",
        )
        .orderBy("decile")
    )


@register(
    "stat_levene_brown_forsythe",
    tags=("stats", "agg", "hypothesis"),
    oracle=f"""
        WITH lab AS (
            SELECT o_orderpriority AS g,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS xc
            FROM orders
        ),
        per_val AS (
            SELECT g, xc, CAST(COUNT(*) AS BIGINT) AS c
            FROM lab GROUP BY g, xc
        ),
        cum AS (
            SELECT g, xc,
                   CAST(SUM(c) OVER (PARTITION BY g ORDER BY xc
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
                   CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
            FROM per_val
        ),
        med AS (
            SELECT g, CAST(MIN(CASE WHEN cc >= (n + 1) // 2 THEN xc END)
                        AS BIGINT) AS med
            FROM cum GROUP BY g
        ),
        z AS (
            SELECT l.g, abs(l.xc - m.med) AS z
            FROM lab l JOIN med m ON m.g = l.g
        ),
        per AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(z) AS BIGINT) AS s,
                   SUM(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
                       AS q
            FROM z GROUP BY g
        ),
        red AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(s) AS BIGINT) AS ss,
                   CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) AS q_d,
                   {o_ordered_fold_sum(
                       'g',
                       'CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)',
                   )} AS b
            FROM per
        )
        SELECT k, nn AS n_total,
               b - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                   / CAST(nn AS DOUBLE) AS ss_between_z,
               q_d - b AS ss_within_z,
               (b - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                    / CAST(nn AS DOUBLE))
                 / CAST(k - 1 AS DOUBLE)
                 / ((q_d - b) / CAST(nn - k AS DOUBLE)) AS w_stat
        FROM red
    """,
)
def stat_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with group MEDIANS) — the
    variance-homogeneity companion to stat_anova_oneway: are order-
    value spreads equal across priorities? W is exactly the ANOVA F
    computed on z = |x − median_g|. Group medians are interpolation-
    free lower order statistics from per-(group,value) counts with
    group-partitioned cumulative windows (the registry quantile
    contract, no global sort); z then stays EXACT integer cents, so
    the same sufficient-statistic reduction applies: per-group BIGINT
    sums, DECIMAL(38,0) squares, the 5-term between-groups fold in
    pinned group order. Two corpus scans by necessity (the median
    must exist before deviations do) — both map-side-combining.
    Choosing the median over the mean is what makes the test robust
    to the heavy tails that invalidate classic Levene."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("g"),
        (F.col("o_totalprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("xc"),
    ).persist()  # scanned for the median AND for the deviations
    per_val = lab.groupBy("g", "xc").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("g")
        .orderBy("xc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("g")
    cum = per_val.select(
        "g",
        "xc",
        F.sum("c").over(w_cum).cast("bigint").alias("cc"),
        F.sum("c").over(w_tot).cast("bigint").alias("n"),
    )
    med = cum.groupBy("g").agg(
        F.min(
            F.when(F.col("cc") >= F.expr("(n + 1) DIV 2"), F.col("xc"))
        )
        .cast("bigint")
        .alias("med")
    )
    z = lab.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("xc") - F.col("med")).alias("z")
    )
    zd = F.col("z").cast("decimal(19,0)")
    per = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum(zd * zd).alias("q"),
    )
    term = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    red = per.select("g", "n", "s", "q", term.alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum("q").cast("double").alias("q_d"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("g"), F.col("t")))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("b"),
    )
    ssb = (
        F.col("b")
        - F.col("ss").cast("double")
        * F.col("ss").cast("double")
        / F.col("nn").cast("double")
    )
    ssw = F.col("q_d") - F.col("b")
    return red.select(
        "k",
        F.col("nn").alias("n_total"),
        ssb.alias("ss_between_z"),
        ssw.alias("ss_within_z"),
        (
            ssb
            / (F.col("k") - 1).cast("double")
            / (ssw / (F.col("nn") - F.col("k")).cast("double"))
        ).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# Kendall's tau-b (round 9): rank correlation that is robust to the
# heavy ties of discrete business columns. The naive definition is a
# pairwise O(n^2) scan; the scale-safe formulation exploits that both
# variables are LOW-CARDINALITY (quantity ~50 distinct, discount ~11):
# the corpus reduces to an RxC contingency table in one hash agg, and
# concordant/discordant pair counts become a self-join over cell pairs
# — O((RC)^2) on a model-sized relation, independent of corpus size.
# nc = sum o_i*o_j over cell pairs strictly increasing in both dims
# (join on q2 > q1 counts each unordered pair exactly once), ties come
# from the margins, and everything stays exact integer / DECIMAL(38,0)
# until the final sqrt edge.


@register(
    "stat_kendall_tau",
    tags=("stats", "agg", "join"),
    oracle="""
        WITH cells AS (
            SELECT CAST(l_quantity AS DECIMAL(12,2)) AS q,
                   CAST(l_discount AS DECIMAL(12,2)) AS d,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM lineitem GROUP BY 1, 2
        ),
        pairs AS (
            SELECT
                CAST(SUM(CASE WHEN c2.d > c1.d
                     THEN CAST(c1.o AS DECIMAL(38,0)) * c2.o
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
                    AS nc,
                CAST(SUM(CASE WHEN c2.d < c1.d
                     THEN CAST(c1.o AS DECIMAL(38,0)) * c2.o
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
                    AS nd
            FROM cells c1 JOIN cells c2 ON c2.q > c1.q
        ),
        marg AS (
            SELECT
                CAST(SUM(o) AS BIGINT) AS n,
                CAST(SUM(CAST(o AS DECIMAL(38,0)) * (o - 1)) AS DECIMAL(38,0))
                    AS t2q_all
            FROM cells
        ),
        tq AS (
            SELECT CAST(SUM(CAST(nr AS DECIMAL(38,0)) * (nr - 1))
                        AS DECIMAL(38,0)) AS t2
            FROM (SELECT CAST(SUM(o) AS BIGINT) AS nr FROM cells GROUP BY q)
        ),
        td AS (
            SELECT CAST(SUM(CAST(ncol AS DECIMAL(38,0)) * (ncol - 1))
                        AS DECIMAL(38,0)) AS t2
            FROM (SELECT CAST(SUM(o) AS BIGINT) AS ncol FROM cells GROUP BY d)
        )
        SELECT m.n,
               CAST(CAST(p.nc AS VARCHAR) AS DOUBLE) AS n_concordant,
               CAST(CAST(p.nd AS VARCHAR) AS DOUBLE) AS n_discordant,
               CAST(CAST(tq.t2 AS VARCHAR) AS DOUBLE) / CAST(2 AS DOUBLE)
                   AS ties_x,
               CAST(CAST(td.t2 AS VARCHAR) AS DOUBLE) / CAST(2 AS DOUBLE)
                   AS ties_y,
               CASE WHEN m.n * (m.n - 1) / 2
                         > CAST(CAST(tq.t2 AS VARCHAR) AS DOUBLE) / 2
                     AND m.n * (m.n - 1) / 2
                         > CAST(CAST(td.t2 AS VARCHAR) AS DOUBLE) / 2
               THEN (CAST(CAST(p.nc AS VARCHAR) AS DOUBLE)
                - CAST(CAST(p.nd AS VARCHAR) AS DOUBLE))
               / sqrt(
                   (CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE)
                        - CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE)
                    - CAST(CAST(tq.t2 AS VARCHAR) AS DOUBLE)
                        / CAST(2 AS DOUBLE))
                   * (CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE)
                        - CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE)
                    - CAST(CAST(td.t2 AS VARCHAR) AS DOUBLE)
                        / CAST(2 AS DOUBLE))
               ) END AS tau_b
        FROM pairs p, marg m, tq, td
    """,
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between line quantity and discount via the
    contingency-table reduction: one corpus-scale hash agg collapses
    lineitem to <=550 (quantity, discount) cells, and the pairwise
    counts come from a cell-level inequality self-join — the O(n^2)
    pair space becomes O((RC)^2) on a model-sized relation, so 100x
    the corpus only grows the first agg. Pair products accumulate in
    DECIMAL(38,0) (exact, order-free); tau_b's denominator casts each
    exact factor to double BEFORE multiplying (a (38,0)x(38,0) product
    would overflow DuckDB's decimal width) — IEEE-deterministic both
    sides. Pair counts present as DOUBLE: they are ~n^2/4 and outgrow
    BIGINT at petabyte corpus sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("decimal(12,2)").alias("q"),
            F.col("l_discount").cast("decimal(12,2)").alias("d"),
        )
        .groupBy("q", "d")
        .agg(F.count(F.lit(1)).alias("o"))
        .persist()
    )
    dec = "decimal(38,0)"
    c1, c2 = cells.alias("c1"), cells.alias("c2")
    pairs = (
        c1.join(F.broadcast(c2), F.col("c2.q") > F.col("c1.q"))
        .agg(
            F.sum(
                F.when(
                    F.col("c2.d") > F.col("c1.d"),
                    F.col("c1.o").cast(dec) * F.col("c2.o"),
                ).otherwise(F.lit(0).cast(dec))
            )
            .cast(dec)
            .alias("nc"),
            F.sum(
                F.when(
                    F.col("c2.d") < F.col("c1.d"),
                    F.col("c1.o").cast(dec) * F.col("c2.o"),
                ).otherwise(F.lit(0).cast(dec))
            )
            .cast(dec)
            .alias("nd"),
        )
    )
    marg = cells.agg(F.sum("o").cast("bigint").alias("n"))
    tq = (
        cells.groupBy("q")
        .agg(F.sum("o").cast("bigint").alias("nr"))
        .agg(
            F.sum(F.col("nr").cast(dec) * (F.col("nr") - 1)).cast(dec).alias("t2")
        )
        .withColumnRenamed("t2", "t2q")
    )
    td = (
        cells.groupBy("d")
        .agg(F.sum("o").cast("bigint").alias("ncol"))
        .agg(
            F.sum(F.col("ncol").cast(dec) * (F.col("ncol") - 1))
            .cast(dec)
            .alias("t2d")
        )
    )
    j = (
        pairs.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(tq))
        .crossJoin(F.broadcast(td))
    )
    nd_ = F.col("n").cast("double")
    n0 = nd_ * (nd_ - F.lit(1.0)) / F.lit(2.0)
    return j.select(
        "n",
        as_d(F.col("nc")).alias("n_concordant"),
        as_d(F.col("nd")).alias("n_discordant"),
        (as_d(F.col("t2q")) / F.lit(2.0)).alias("ties_x"),
        (as_d(F.col("t2d")) / F.lit(2.0)).alias("ties_y"),
        F.when(
            (n0 > as_d(F.col("t2q")) / F.lit(2.0))
            & (n0 > as_d(F.col("t2d")) / F.lit(2.0)),
            (as_d(F.col("nc")) - as_d(F.col("nd")))
            / F.sqrt(
                (n0 - as_d(F.col("t2q")) / F.lit(2.0))
                * (n0 - as_d(F.col("t2d")) / F.lit(2.0))
            ),
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (round 9): the k-sample rank ANOVA — "do any of the
# k priority cohorts differ in order value?" without normality
# assumptions. Midranks come from the same scale-safe distinct-value
# decomposition as Spearman (midranks2: per-bucket window + O(buckets)
# carry — never a global unpartitioned sort); per-group rank sums stay
# exact DECIMAL(38,0); the k per-group R_j^2/n_j terms are folded in
# group-key order via the sorted-array reduce (the ANOVA recipe) so
# the k-double sum is order-independent; tie correction from exact
# integer t^3 - t sums.


@register(
    "stat_kruskal_wallis",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH base AS (
            SELECT o_orderpriority AS g,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS x
            FROM orders
        ),
        rv AS (
            SELECT v, t,
                   2 * (SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t)
                       + t + 1 AS mr2
            FROM (SELECT x AS v, COUNT(*) AS t FROM base GROUP BY x)
        ),
        per AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS nj,
                   SUM(CAST(rv.mr2 AS DECIMAL(38,0))) AS s2j
            FROM base JOIN rv ON rv.v = base.x
            GROUP BY g
        ),
        terms AS (
            SELECT g, nj,
                   CAST(CAST(s2j AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(s2j AS VARCHAR) AS DOUBLE)
                     / (CAST(4 AS DOUBLE) * CAST(nj AS DOUBLE)) AS tj
            FROM per
        ),
        red AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(nj) AS BIGINT) AS n,
                   {o_ordered_fold_sum('g', 'tj')} AS t_sum
            FROM terms
        ),
        ties AS (
            SELECT CAST(CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t)
                        AS VARCHAR) AS DOUBLE) AS t3
            FROM (SELECT COUNT(*) AS t FROM base GROUP BY x)
        )
        SELECT k, n,
               CAST(12 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * t_sum
                 - CAST(3 AS DOUBLE) * (CAST(n AS DOUBLE) + 1) AS h_stat,
               CAST(1 AS DOUBLE) - ties.t3
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE)) AS tie_correction,
               CASE WHEN CAST(1 AS DOUBLE) - ties.t3
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE)) > 0 THEN
               (CAST(12 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * t_sum
                 - CAST(3 AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
               / (CAST(1 AS DOUBLE) - ties.t3
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE))) END AS h_corrected
        FROM red, ties
    """,
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order-priority cohorts on
    order value. Pooled midranks via midranks2 (value-bucket window +
    broadcast carry — rank work scales with DISTINCT values per
    bucket, not corpus rows); per-group rank sums are exact
    DECIMAL(38,0); R_j^2/n_j casts the exact sum to double through the
    VARCHAR route BEFORE squaring (decimal^2 would overflow width 38)
    and the five per-group doubles fold in sorted group order so the
    reduction is order-free. H = 12/(n(n+1)) * sum_j R_j^2/n_j
    - 3(n+1); ties divide out through the exact integer
    sum(t^3 - t)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
    )
    rv = midranks2(base, "x", 10000)
    per = (
        base.join(rv, base.x == rv.v)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nj"),
            F.sum(F.col("mr2").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("s2j"),
        )
    )
    s2d = F.col("s2j").cast("string").cast("double")
    terms = per.select(
        "g",
        "nj",
        (s2d * s2d / (F.lit(4.0) * F.col("nj").cast("double"))).alias("tj"),
    )
    red = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("nj").cast("bigint").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("g"), F.col("tj")))),
            F.lit(0.0),
            lambda acc, x: acc + x["tj"],
        ).alias("t_sum"),
    )
    ties = (
        base.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
                - F.col("t")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .cast("double")
            .alias("t3")
        )
    )
    j = red.crossJoin(F.broadcast(ties))
    nd_ = F.col("n").cast("double")
    h = (
        F.lit(12.0) / (nd_ * (nd_ + F.lit(1.0))) * F.col("t_sum")
        - F.lit(3.0) * (nd_ + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("t3") / (nd_ * nd_ * nd_ - nd_)
    return j.select(
        "k",
        "n",
        h.alias("h_stat"),
        corr.alias("tie_correction"),
        F.when(corr > 0, h / corr).alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# Chi-squared goodness-of-fit (round 9): is order volume uniform over
# the day-of-week? The weekday comes from exact epoch-day arithmetic
# ((date - 1970-01-01) mod 7 — both engines' named dow functions
# disagree on numbering, integer arithmetic doesn't), and the statistic
# uses the algebraic identity chi2 = (k*sum(o^2) - n^2)/n so it is
# computed from exact integers with ONE division at the edge.


@register(
    "stat_chi2_gof",
    tags=("stats", "agg"),
    oracle="""
        WITH lab AS (
            SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) % 7 AS dow
            FROM orders
        ),
        per AS (
            SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM lab GROUP BY dow
        ),
        tot AS (
            SELECT CAST(SUM(n_obs) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(CAST(SUM(CAST(n_obs AS DECIMAL(38,0)) * n_obs)
                        AS VARCHAR) AS DOUBLE) AS so2
            FROM per
        )
        SELECT p.dow, p.n_obs,
               CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE) AS expected,
               (CAST(p.n_obs AS DOUBLE)
                - CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE))
               * (CAST(p.n_obs AS DOUBLE)
                - CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE))
               / (CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE)) AS chi2_term,
               (CAST(t.k AS DOUBLE) * t.so2
                - CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
                 / CAST(t.n AS DOUBLE) AS chi2_total,
               CAST(t.k - 1 AS BIGINT) AS df
        FROM per p CROSS JOIN tot t
        ORDER BY p.dow
    """,
)
def stat_chi2_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared goodness-of-fit of order counts against a uniform
    day-of-week model — the seasonality sanity gate every load
    pipeline wants. One corpus scan hash-aggregates to 7 (dow, count)
    rows (epoch-day mod 7: engine-neutral integer weekday); the total
    statistic avoids order-dependent float accumulation entirely via
    chi2 = (k*sum(o_i^2) - n^2)/n over exact integers, and the per-row
    chi2_term doubles are bit-identical shared expressions. Corpus ->
    7 rows in one map-side-combining agg; everything after is
    constant-sized."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("bigint")
            % 7
        ).alias("dow")
    )
    per = lab.groupBy("dow").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    tot = per.agg(
        F.sum("n_obs").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("n_obs").cast("decimal(38,0)") * F.col("n_obs"))
        .cast("decimal(38,0)")
        .cast("string")
        .cast("double")
        .alias("so2"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nd_ = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    exp_ = nd_ / kd
    od = F.col("n_obs").cast("double")
    return j.select(
        "dow",
        "n_obs",
        exp_.alias("expected"),
        ((od - exp_) * (od - exp_) / exp_).alias("chi2_term"),
        ((kd * F.col("so2") - nd_ * nd_) / nd_).alias("chi2_total"),
        (F.col("k") - 1).cast("bigint").alias("df"),
    ).orderBy("dow")


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR (round 9): the multiple-testing step-up that
# turns 25 per-nation mean tests into a controlled discovery set —
# what any metrics platform needs the moment it tests more than one
# cohort. z-scores come from exact sufficient statistics, the normal
# CDF rides the shared Abramowitz-Stegun fragment (fin_black_scholes_
# grid), p-values floor-quantize to q9 BIGINTs, and the step-up
# comparison p_(i) <= i/m * alpha becomes the EXACT integer test
# 20 * m * p_q9 <= i * 1e9 (alpha = 0.05) — no float comparisons
# anywhere in the decision path.



@register(
    "stat_bh_fdr",
    tags=("stats", "hypothesis", "window"),
    oracle=f"""
        WITH lab AS (
            SELECT c.c_nationkey AS nation,
                   CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS xc
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        per AS (
            SELECT nation, CAST(COUNT(*) AS BIGINT) AS nj,
                   CAST(SUM(xc) AS BIGINT) AS sj
            FROM lab GROUP BY nation
        ),
        tot AS (
            SELECT CAST(SUM(nj) AS BIGINT) AS n,
                   CAST(SUM(sj) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS m,
                   (SELECT CAST(CAST(SUM(CAST(xc AS DECIMAL(19,0))
                                         * CAST(xc AS DECIMAL(19,0)))
                                AS VARCHAR) AS DOUBLE) FROM lab) AS q
            FROM per
        ),
        zs AS (
            SELECT p.nation, p.nj,
                   (CAST(p.sj AS DOUBLE) / CAST(p.nj AS DOUBLE)
                    - CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                   * sqrt(CAST(p.nj AS DOUBLE))
                   / sqrt((t.q - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
                               / CAST(t.n AS DOUBLE)) / CAST(t.n AS DOUBLE))
                       AS z,
                   t.m
            FROM per p CROSS JOIN tot t
        ),
        ps AS (
            SELECT nation, nj, z, m,
                   CAST(FLOOR(CAST(2 AS DOUBLE)
                        * (CAST(1 AS DOUBLE) - {ncdf_sql('abs(z)')})
                        * CAST(1e9 AS DOUBLE)) AS BIGINT) AS p_q9
            FROM zs
        ),
        ranked AS (
            SELECT nation, nj, z, m, p_q9,
                   CAST(ROW_NUMBER() OVER (ORDER BY p_q9, nation)
                        AS BIGINT) AS rnk
            FROM ps
        ),
        cut AS (
            SELECT *,
                   CASE WHEN 20 * m * p_q9 <= rnk * 1000000000
                        THEN rnk ELSE 0 END AS pass_rnk
            FROM ranked
        ),
        kstar AS (SELECT CAST(MAX(pass_rnk) AS BIGINT) AS k_star FROM cut)
        SELECT c.nation, c.nj, c.z, c.p_q9, c.rnk, k.k_star,
               CAST(CASE WHEN c.rnk <= k.k_star THEN 1 ELSE 0 END
                    AS INTEGER) AS reject
        FROM cut c CROSS JOIN kstar k
        ORDER BY c.rnk
    """,
)
def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up over 25 per-nation mean-shift
    z-tests at FDR alpha = 0.05. The corpus collapses to 25 exact
    (count, cents-sum) rows in one broadcast-join scan (the squared
    sum for the pooled variance rides the same scan on the oracle and
    a parallel agg here); z and the A-S normal CDF are shared
    bit-identical double fragments; the step-up decision is pure
    integer arithmetic on q9-quantized p-values (20*m*p_q9 <=
    rnk*1e9), so no cross-engine float comparison can flip a
    discovery. The ROW_NUMBER window is over the 25-row model relation
    — never the corpus."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    lab = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("xc"),
    )
    per = lab.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        F.sum("xc").cast("bigint").alias("sj"),
    )
    tot = per.agg(
        F.sum("nj").cast("bigint").alias("n"),
        F.sum("sj").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    ).crossJoin(
        lab.agg(
            F.sum(F.col("xc").cast("decimal(19,0)") * F.col("xc").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .cast("double")
            .alias("q")
        )
    )
    zs = per.crossJoin(F.broadcast(tot)).select(
        "nation",
        "nj",
        "m",
        (
            (
                F.col("sj").cast("double") / F.col("nj").cast("double")
                - F.col("s").cast("double") / F.col("n").cast("double")
            )
            * F.sqrt(F.col("nj").cast("double"))
            / F.sqrt(
                (
                    F.col("q")
                    - F.col("s").cast("double")
                    * F.col("s").cast("double")
                    / F.col("n").cast("double")
                )
                / F.col("n").cast("double")
            )
        ).alias("z"),
    )
    ps = zs.select(
        "nation",
        "nj",
        "z",
        "m",
        F.floor(
            F.lit(2.0)
            * (F.lit(1.0) - F.expr(ncdf_sql("abs(z)")))
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("p_q9"),
    )
    w = Window.orderBy("p_q9", "nation")
    ranked = ps.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    cut = ranked.withColumn(
        "pass_rnk",
        F.when(
            F.lit(20) * F.col("m") * F.col("p_q9")
            <= F.col("rnk") * F.lit(1000000000),
            F.col("rnk"),
        ).otherwise(F.lit(0)),
    )
    kstar = cut.agg(F.max("pass_rnk").cast("bigint").alias("k_star"))
    return (
        cut.crossJoin(F.broadcast(kstar))
        .select(
            "nation",
            "nj",
            "z",
            "p_q9",
            "rnk",
            "k_star",
            F.when(F.col("rnk") <= F.col("k_star"), 1)
            .otherwise(0)
            .cast("int")
            .alias("reject"),
        )
        .orderBy("rnk")
    )


@register(
    "stat_partial_corr",
    tags=("stats", "agg"),
    oracle="""
        WITH feat AS (
            SELECT CAST(l_quantity AS DECIMAL(20,2)) AS x,
                   CAST(l_extendedprice AS DECIMAL(20,2)) AS y,
                   CAST(l_discount AS DECIMAL(20,2)) AS z
            FROM lineitem
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(z) AS VARCHAR) AS DOUBLE) AS sz,
                   CAST(CAST(SUM(x*x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y*y) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(CAST(SUM(z*z) AS VARCHAR) AS DOUBLE) AS szz,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(21,2)) * y)
                        AS VARCHAR) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(21,2)) * z)
                        AS VARCHAR) AS DOUBLE) AS sxz,
                   CAST(CAST(SUM(CAST(y AS DECIMAL(21,2)) * z)
                        AS VARCHAR) AS DOUBLE) AS syz
            FROM feat
        ),
        r AS (
            SELECT n,
                   (n*sxy - sx*sy)
                     / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS rxy,
                   (n*sxz - sx*sz)
                     / (sqrt(n*sxx - sx*sx) * sqrt(n*szz - sz*sz)) AS rxz,
                   (n*syz - sy*sz)
                     / (sqrt(n*syy - sy*sy) * sqrt(n*szz - sz*sz)) AS ryz
            FROM s
        )
        SELECT n, rxy, rxz, ryz,
               CASE WHEN 1 - rxz*rxz > 0 AND 1 - ryz*ryz > 0 THEN
                   (rxy - rxz*ryz)
                   / (sqrt(1 - rxz*rxz) * sqrt(1 - ryz*ryz)) END
                   AS partial_rxy_given_z
        FROM r
    """,
)
def stat_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of quantity and revenue
    controlling for discount: all three pairwise Pearson r's from ONE
    scan's exact decimal sufficient statistics, then the textbook
    r_xy.z = (r_xy − r_xz r_zy)/sqrt((1−r_xz²)(1−r_zy²)) as a single
    shared double expression — the building block of Gaussian
    graphical-model edge tests at any scale (the scan is the only
    corpus-sized work)."""
    li = load_table(spark, sf_dir, "lineitem")
    feat = li.select(
        F.col("l_quantity").cast("decimal(20,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(20,2)").alias("y"),
        F.col("l_discount").cast("decimal(20,2)").alias("z"),
    )
    wide = lambda c: F.col(c).cast("decimal(21,2)")  # noqa: E731
    s = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum("x")).alias("sx"),
        as_d(F.sum("y")).alias("sy"),
        as_d(F.sum("z")).alias("sz"),
        as_d(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        as_d(F.sum(F.col("y") * F.col("y"))).alias("syy"),
        as_d(F.sum(F.col("z") * F.col("z"))).alias("szz"),
        as_d(F.sum(wide("x") * F.col("y"))).alias("sxy"),
        as_d(F.sum(wide("x") * F.col("z"))).alias("sxz"),
        as_d(F.sum(wide("y") * F.col("z"))).alias("syz"),
    )
    nd_ = F.col("n").cast("double")
    def corr(sab, sa, sb, saa, sbb):
        return (nd_ * F.col(sab) - F.col(sa) * F.col(sb)) / (
            F.sqrt(nd_ * F.col(saa) - F.col(sa) * F.col(sa))
            * F.sqrt(nd_ * F.col(sbb) - F.col(sb) * F.col(sb))
        )
    r = s.select(
        "n",
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return r.select(
        "n",
        "rxy",
        "rxz",
        "ryz",
        F.when(
            (1 - F.col("rxz") * F.col("rxz") > 0)
            & (1 - F.col("ryz") * F.col("ryz") > 0),
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / (
                F.sqrt(1 - F.col("rxz") * F.col("rxz"))
                * F.sqrt(1 - F.col("ryz") * F.col("ryz"))
            ),
        ).alias("partial_rxy_given_z"),
    )


@register(
    "stat_effect_sizes",
    tags=("stats", "agg", "join"),
    oracle="""
        WITH lab AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS grp,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS xc
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        s AS (
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xc) AS BIGINT) AS sx,
                   CAST(CAST(SUM(CAST(xc AS DECIMAL(19,0)) * xc)
                        AS VARCHAR) AS DOUBLE) AS sxx
            FROM lab GROUP BY grp
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN grp = 1 THEN n END) AS n1,
                MAX(CASE WHEN grp = 1 THEN sx END) AS s1,
                MAX(CASE WHEN grp = 1 THEN sxx END) AS q1,
                MAX(CASE WHEN grp = 0 THEN n END) AS n2,
                MAX(CASE WHEN grp = 0 THEN sx END) AS s2,
                MAX(CASE WHEN grp = 0 THEN sxx END) AS q2
            FROM s
        ),
        cells AS (
            SELECT xc, grp, CAST(COUNT(*) AS BIGINT) AS c
            FROM lab GROUP BY xc, grp
        ),
        pairs AS (
            SELECT
                CAST(SUM(CASE WHEN a.xc > b.xc
                     THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
                    AS n_gt,
                CAST(SUM(CASE WHEN a.xc < b.xc
                     THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
                    AS n_lt
            FROM cells a JOIN cells b ON a.grp = 1 AND b.grp = 0
        )
        SELECT w.n1, w.n2,
               (CAST(w.s1 AS DOUBLE) / w.n1 - CAST(w.s2 AS DOUBLE) / w.n2)
                 / 100 AS mean_diff,
               CASE WHEN (w.q1 - CAST(w.s1 AS DOUBLE) * w.s1 / w.n1)
                       + (w.q2 - CAST(w.s2 AS DOUBLE) * w.s2 / w.n2) > 0 THEN
               ((CAST(w.s1 AS DOUBLE) / w.n1 - CAST(w.s2 AS DOUBLE) / w.n2)
                / sqrt(((w.q1 - CAST(w.s1 AS DOUBLE) * w.s1 / w.n1)
                        + (w.q2 - CAST(w.s2 AS DOUBLE) * w.s2 / w.n2))
                       / CAST(w.n1 + w.n2 - 2 AS DOUBLE))) END AS cohens_d,
               CASE WHEN (w.q1 - CAST(w.s1 AS DOUBLE) * w.s1 / w.n1)
                       + (w.q2 - CAST(w.s2 AS DOUBLE) * w.s2 / w.n2) > 0 THEN
               ((CAST(w.s1 AS DOUBLE) / w.n1 - CAST(w.s2 AS DOUBLE) / w.n2)
                / sqrt(((w.q1 - CAST(w.s1 AS DOUBLE) * w.s1 / w.n1)
                        + (w.q2 - CAST(w.s2 AS DOUBLE) * w.s2 / w.n2))
                       / CAST(w.n1 + w.n2 - 2 AS DOUBLE)))
                 * (CAST(1 AS DOUBLE)
                    - CAST(3 AS DOUBLE)
                      / (CAST(4 AS DOUBLE) * (w.n1 + w.n2) - 9)) END
                   AS hedges_g,
               (CAST(CAST(p.n_gt AS VARCHAR) AS DOUBLE)
                - CAST(CAST(p.n_lt AS VARCHAR) AS DOUBLE))
                 / (CAST(w.n1 AS DOUBLE) * CAST(w.n2 AS DOUBLE))
                   AS cliffs_delta
        FROM wide w CROSS JOIN pairs p
    """,
)
def stat_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes between the URGENT and LOW order cohorts: Cohen's
    d and Hedges' g from exact integer sufficient statistics (pooled
    SD, small-sample correction 1 - 3/(4N-9)), and Cliff's delta via
    the distinct-value contingency reduction — the |n1 x n2| dominance
    pair count collapses to an O(cells²) model-sized join with exact
    DECIMAL(38,0) products (the Kendall-tau recipe). Every output is a
    single shared double expression over exact integers."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("grp"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("xc"),
    )
    s = lab.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sx"),
        as_d(
            F.sum(F.col("xc").cast("decimal(19,0)") * F.col("xc")).cast("decimal(38,0)")
        ).alias("sxx"),
    )
    pick = lambda g, c: F.max(F.when(F.col("grp") == g, F.col(c)))  # noqa: E731
    wide = s.agg(
        pick(1, "n").alias("n1"),
        pick(1, "sx").alias("s1"),
        pick(1, "sxx").alias("q1"),
        pick(0, "n").alias("n2"),
        pick(0, "sx").alias("s2"),
        pick(0, "sxx").alias("q2"),
    )
    # dominance pair counts WITHOUT the |cells_1| x |cells_0| join:
    # money is near-continuous, so the cell relation scales with the
    # corpus and a cell cross join is quadratic at 100x. The pooled
    # bucket+carry cumulative (the KS/Mann-Whitney machinery) gives
    # n_gt = sum_v a_v * (#b strictly below v) and n_lt its mirror in
    # one scale-safe pass — exact DECIMAL(38,0) throughout.
    cum = _pooled_cumulative(_two_sample(spark, sf_dir))
    btot = cum.agg(F.sum("b").cast("bigint").alias("btot"))
    dec = "decimal(38,0)"
    pairs = cum.crossJoin(F.broadcast(btot)).agg(
        F.sum(F.col("a").cast(dec) * (F.col("cum_b") - F.col("b")))
        .cast(dec)
        .alias("n_gt"),
        F.sum(F.col("a").cast(dec) * (F.col("btot") - F.col("cum_b")))
        .cast(dec)
        .alias("n_lt"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    mdiff = F.col("s1").cast("double") / n1d - F.col("s2").cast("double") / n2d
    pooled = F.sqrt(
        (
            (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / n1d)
            + (F.col("q2") - F.col("s2").cast("double") * F.col("s2") / n2d)
        )
        / (F.col("n1") + F.col("n2") - 2).cast("double")
    )
    d_ = mdiff / pooled
    corr = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (F.col("n1") + F.col("n2")).cast("double") - 9
    )
    ss_pos = (
        (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / n1d)
        + (F.col("q2") - F.col("s2").cast("double") * F.col("s2") / n2d)
    ) > 0
    return wide.crossJoin(F.broadcast(pairs)).select(
        "n1",
        "n2",
        (mdiff / F.lit(100.0)).alias("mean_diff"),
        F.when(ss_pos, d_).alias("cohens_d"),
        F.when(ss_pos, d_ * corr).alias("hedges_g"),
        ((as_d(F.col("n_gt")) - as_d(F.col("n_lt"))) / (n1d * n2d)).alias(
            "cliffs_delta"
        ),
    )


@register(
    "stat_diff_in_diff",
    tags=("stats", "agg"),
    oracle="""
        WITH lab AS (
            SELECT CASE WHEN event_type IN ('purchase', 'click')
                        THEN 1 ELSE 0 END AS treated,
                   CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                        THEN 1 ELSE 0 END AS post,
                   CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                       AS xq
            FROM events
        ),
        cells AS (
            SELECT treated, post,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xq) AS BIGINT) AS s,
                   CAST(CAST(SUM(CAST(xq AS DECIMAL(19,0)) * xq)
                        AS VARCHAR) AS DOUBLE) AS q
            FROM lab GROUP BY treated, post
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t1,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t0,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c1,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c0,
                MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t1,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t0,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c1,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c0,
                CAST(SUM(n) AS BIGINT) AS n_all,
                list_reduce(
                    list(q - CAST(s AS DOUBLE) * s / n
                         ORDER BY treated, post),
                    (a, x) -> a + x) AS ss_within
            FROM cells
        )
        SELECT n_all, n_t1, n_t0, n_c1, n_c0,
               (t1 - t0) / 1e6 AS treated_delta,
               (c1 - c0) / 1e6 AS control_delta,
               ((t1 - t0) - (c1 - c0)) / 1e6 AS did_estimate,
               sqrt(ss_within / CAST(n_all - 4 AS DOUBLE)
                    * (CAST(1 AS DOUBLE)/n_t1 + CAST(1 AS DOUBLE)/n_t0
                       + CAST(1 AS DOUBLE)/n_c1 + CAST(1 AS DOUBLE)/n_c0))
                 / 1e6 AS did_se
        FROM wide
    """,
)
def stat_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: engaged event streams (purchase,
    click) as the treated group, the 2024-01-16 midpoint as the
    intervention, per-event value as the outcome. The four cell means
    come from exact integer sums (q6 values); the DiD point estimate
    is the textbook double difference; the SE uses the pooled within-
    cell variance (each cell's SS from exact sums, the four cells
    folded in PINNED (treated, post) order) over the four-mean
    contrast. One corpus scan to four rows — the causal-inference
    primitive every experimentation platform ships."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.when(F.col("event_type").isin("purchase", "click"), 1)
        .otherwise(0)
        .alias("treated"),
        F.when(F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date"), 1)
        .otherwise(0)
        .alias("post"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("bigint")
        .alias("xq"),
    )
    cells = lab.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("s"),
        as_d(
            F.sum(F.col("xq").cast("decimal(19,0)") * F.col("xq")).cast(
                "decimal(38,0)"
            )
        ).alias("q"),
    )
    mean_ = F.col("s").cast("double") / F.col("n")
    pick = lambda t, p, col: F.max(  # noqa: E731
        F.when((F.col("treated") == t) & (F.col("post") == p), col)
    )
    wide = cells.agg(
        pick(1, 1, mean_).alias("t1"),
        pick(1, 0, mean_).alias("t0"),
        pick(0, 1, mean_).alias("c1"),
        pick(0, 0, mean_).alias("c0"),
        pick(1, 1, F.col("n")).alias("n_t1"),
        pick(1, 0, F.col("n")).alias("n_t0"),
        pick(0, 1, F.col("n")).alias("n_c1"),
        pick(0, 0, F.col("n")).alias("n_c0"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "treated",
                        "post",
                        (
                            F.col("q")
                            - F.col("s").cast("double") * F.col("s") / F.col("n")
                        ).alias("ss"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["ss"],
        ).alias("ss_within"),
    )
    did = (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
    return wide.select(
        "n_all",
        "n_t1",
        "n_t0",
        "n_c1",
        "n_c0",
        ((F.col("t1") - F.col("t0")) / F.lit(1e6)).alias("treated_delta"),
        ((F.col("c1") - F.col("c0")) / F.lit(1e6)).alias("control_delta"),
        (did / F.lit(1e6)).alias("did_estimate"),
        (
            F.sqrt(
                F.col("ss_within")
                / (F.col("n_all") - 4).cast("double")
                * (
                    F.lit(1.0) / F.col("n_t1")
                    + F.lit(1.0) / F.col("n_t0")
                    + F.lit(1.0) / F.col("n_c1")
                    + F.lit(1.0) / F.col("n_c0")
                )
            )
            / F.lit(1e6)
        ).alias("did_se"),
    )


@register(
    "stat_ratio_delta_method",
    tags=("stats", "agg"),
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT)) AS BIGINT) AS rev_cents
            FROM orders GROUP BY o_custkey
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_orders) AS BIGINT) AS sx,
                   CAST(SUM(rev_cents) AS BIGINT) AS sy,
                   CAST(CAST(SUM(CAST(n_orders AS DECIMAL(19,0)) * n_orders)
                        AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(n_orders AS DECIMAL(19,0)) * rev_cents)
                        AS VARCHAR) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(rev_cents AS DECIMAL(19,0)) * rev_cents)
                        AS VARCHAR) AS DOUBLE) AS syy
            FROM per_cust
        )
        SELECT n,
               CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) / 100
                   AS revenue_per_order,
               sqrt(
                   ((syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
                    + (CAST(sy AS DOUBLE) / sx) * (CAST(sy AS DOUBLE) / sx)
                      * ((sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1))
                    - 2 * (CAST(sy AS DOUBLE) / sx)
                      * ((sxy - CAST(sx AS DOUBLE) * sy / n) / (n - 1)))
                   / n
               ) / (CAST(sx AS DOUBLE) / n) / 100 AS se_delta_method
        FROM s
    """,
)
def stat_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a ratio-of-sums metric (revenue
    per order, unit of analysis = customer — the
    ratio-metric-with-clustered-denominator every experimentation
    platform must get right, because orders within a customer are not
    independent): SE = sqrt((var_y + R² var_x − 2R cov)/n)/mean_x with
    every moment from ONE scan's exact integer sufficient statistics.
    The naive per-order SE understates uncertainty; this is the
    correct cluster-aware readout, closed-form. The oracle's variance
    terms parenthesize the /(n-1) INSIDE each moment — R*R*(A/(n-1)),
    matching Spark's var_x column — because ((R*R)*A)/(n-1) rounds one
    ULP differently on real data (caught by the sf0.1 sweep, round
    11)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    s = per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_orders").cast("bigint").alias("sx"),
        F.sum("rev_cents").cast("bigint").alias("sy"),
        as_d(
            F.sum(F.col("n_orders").cast("decimal(19,0)") * F.col("n_orders")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
        as_d(
            F.sum(F.col("n_orders").cast("decimal(19,0)") * F.col("rev_cents")).cast(
                "decimal(38,0)"
            )
        ).alias("sxy"),
        as_d(
            F.sum(F.col("rev_cents").cast("decimal(19,0)") * F.col("rev_cents")).cast(
                "decimal(38,0)"
            )
        ).alias("syy"),
    )
    nd_ = F.col("n").cast("double")
    R = F.col("sy").cast("double") / F.col("sx").cast("double")
    var_y = (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / nd_) / (nd_ - 1)
    var_x = (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / nd_) / (nd_ - 1)
    cov = (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / nd_) / (nd_ - 1)
    return s.select(
        "n",
        (R / F.lit(100.0)).alias("revenue_per_order"),
        (
            F.sqrt((var_y + R * R * var_x - 2 * R * cov) / nd_)
            / (F.col("sx").cast("double") / nd_)
            / F.lit(100.0)
        ).alias("se_delta_method"),
    )


@register(
    "stat_wilson_ci",
    tags=("stats", "agg"),
    oracle="""
        WITH per AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o.o_orderstatus = 'F'
                            THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment
        )
        SELECT segment, n, k,
               CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
               (CAST(k AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545
                    / (2 * CAST(n AS DOUBLE))
                - 1.9599639845400545
                  * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                         + 1.9599639845400545 * 1.9599639845400545
                           / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
               / (1 + 1.9599639845400545 * 1.9599639845400545
                      / CAST(n AS DOUBLE)) AS wilson_lo,
               (CAST(k AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545
                    / (2 * CAST(n AS DOUBLE))
                + 1.9599639845400545
                  * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                         + 1.9599639845400545 * 1.9599639845400545
                           / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
               / (1 + 1.9599639845400545 * 1.9599639845400545
                      / CAST(n AS DOUBLE)) AS wilson_hi
        FROM per ORDER BY segment
    """,
)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for the finalized-order proportion
    per market segment — the binomial CI that behaves at the
    boundaries where Wald collapses. Counts are exact integers from
    one broadcast-join scan; the interval is a single shared double
    expression with the z=1.96 quantile pinned as an exact literal
    (no inverse-CDF call to diverge cross-engine)."""
    Z = 1.9599639845400545
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("k"),
        )
    )
    nd_ = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd_
    z2 = F.lit(Z) * F.lit(Z)
    center = p + z2 / (2 * nd_)
    half = F.lit(Z) * F.sqrt(p * (1 - p) / nd_ + z2 / (4 * nd_ * nd_))
    denom = 1 + z2 / nd_
    return per.select(
        "segment",
        "n",
        "k",
        p.alias("p_hat"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    ).orderBy("segment")


@register(
    "stat_ttest_paired",
    tags=("stats", "agg"),
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) ELSE 0 END) AS BIGINT) AS pre,
                   CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) ELSE 0 END) AS BIGINT) AS post
            FROM orders GROUP BY o_custkey
        ),
        d AS (
            SELECT post - pre AS diff FROM per_cust
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(diff) AS BIGINT) AS sd_,
                   CAST(CAST(SUM(CAST(diff AS DECIMAL(19,0)) * diff)
                        AS VARCHAR) AS DOUBLE) AS sdd
            FROM d
        )
        SELECT n,
               CAST(sd_ AS DOUBLE) / CAST(n AS DOUBLE) / 100 AS mean_diff,
               sqrt((sdd - CAST(sd_ AS DOUBLE) * sd_ / n) / (n - 1)) / 100
                   AS sd_diff,
               CASE WHEN sdd - CAST(sd_ AS DOUBLE) * sd_ / n > 0 THEN
                   (CAST(sd_ AS DOUBLE) / n)
                   / (sqrt((sdd - CAST(sd_ AS DOUBLE) * sd_ / n) / (n - 1))
                      / sqrt(CAST(n AS DOUBLE))) END AS t_stat,
               CAST(n - 1 AS BIGINT) AS df
        FROM s
    """,
)
def stat_ttest_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test on per-customer spend, pre- vs post-1996: the
    pair differences are EXACT integer cents (one grouped scan), so
    mean, SD, and the t statistic are single double expressions over
    exact sufficient statistics, NULL-guarded for the zero-variance
    degenerate. The pairing-by-entity shape (difference first, then
    one-sample t) is what removes the between-customer variance that
    an unpaired test would drown in."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("timestamp")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderdate") < cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("pre"),
        F.sum(F.when(F.col("o_orderdate") >= cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("post"),
    )
    d = per_cust.select((F.col("post") - F.col("pre")).alias("diff"))
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("diff").cast("bigint").alias("sd_"),
        as_d(
            F.sum(F.col("diff").cast("decimal(19,0)") * F.col("diff")).cast(
                "decimal(38,0)"
            )
        ).alias("sdd"),
    )
    nd_ = F.col("n").cast("double")
    ss = F.col("sdd") - F.col("sd_").cast("double") * F.col("sd_") / nd_
    sd_diff = F.sqrt(ss / (nd_ - 1))
    return s.select(
        "n",
        (F.col("sd_").cast("double") / nd_ / F.lit(100.0)).alias("mean_diff"),
        (sd_diff / F.lit(100.0)).alias("sd_diff"),
        F.when(
            ss > 0,
            (F.col("sd_").cast("double") / nd_) / (sd_diff / F.sqrt(nd_)),
        ).alias("t_stat"),
        (F.col("n") - 1).cast("bigint").alias("df"),
    )


# ---------------------------------------------------------------------------
# Round-10 inference wave: paired-binary and trend tests, outlier
# screening, and regression-diagnostic statistics (Durbin-Watson,
# Breusch-Pagan). All exact-sufficient-statistic constructions: counts
# and integer/decimal power sums reduce the corpus, one IEEE-exact
# double expression assembles each statistic at the presentation edge.
# Degenerate-division edges (registry docstring class 5) are NULL-
# guarded identically on both engines.


@register(
    "stat_mcnemar",
    tags=("stats", "agg"),
    oracle="""
        WITH flags AS (
            SELECT o_custkey,
                   MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                            THEN 1 ELSE 0 END) AS f1,
                   MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                            THEN 1 ELSE 0 END) AS f2
            FROM orders GROUP BY o_custkey
        ),
        cells AS (
            SELECT CAST(SUM(f1 * f2) AS BIGINT) AS n11,
                   CAST(SUM(f1 * (1 - f2)) AS BIGINT) AS b,
                   CAST(SUM((1 - f1) * f2) AS BIGINT) AS c
            FROM flags
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM customer)
        SELECT n11, b, c,
               (nc - n11 - b - c) AS n00,
               CASE WHEN b + c > 0 THEN
                 CAST(b - c AS DOUBLE) * CAST(b - c AS DOUBLE)
                   / CAST(b + c AS DOUBLE) END AS chi2,
               CASE WHEN b + c > 0 THEN
                 GREATEST(CAST(ABS(b - c) AS DOUBLE) - 1, 0)
                   * GREATEST(CAST(ABS(b - c) AS DOUBLE) - 1, 0)
                   / CAST(b + c AS DOUBLE) END AS chi2_cc
        FROM cells CROSS JOIN tot
    """,
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: did each customer
    order in 1995 vs in 1996 — the marginal-homogeneity question
    ("did the active-customer base shift?") that an unpaired 2x2 chi2
    gets wrong because the two observations share a customer. The
    corpus reduces to per-customer (f1, f2) flags in ONE custkey hash
    agg (map-side combining), the discordant cells b=(1,0) / c=(0,1)
    are exact integer sums, and the statistic (b-c)^2/(b+c) — plus the
    continuity-corrected (|b-c|-1)^2/(b+c) with the max(.,0) floor for
    the b=c edge — is a single double expression, NULL-guarded for the
    b+c=0 degenerate (no discordant pairs). Never-ordered customers
    enter n00 through the customer-table total, avoiding the
    customer⋈flags join entirely."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    yr = F.year("o_orderdate")
    flags = o.groupBy("o_custkey").agg(
        F.max(F.when(yr == 1995, 1).otherwise(0)).alias("f1"),
        F.max(F.when(yr == 1996, 1).otherwise(0)).alias("f2"),
    )
    cells = flags.agg(
        F.sum(F.col("f1") * F.col("f2")).cast("bigint").alias("n11"),
        F.sum(F.col("f1") * (F.lit(1) - F.col("f2"))).cast("bigint").alias("b"),
        F.sum((F.lit(1) - F.col("f1")) * F.col("f2")).cast("bigint").alias("c"),
    )
    tot = cust.agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    bc = (F.col("b") + F.col("c")).cast("double")
    d = (F.col("b") - F.col("c")).cast("double")
    dcc = F.greatest(F.abs(F.col("b") - F.col("c")).cast("double") - 1, F.lit(0.0))
    return cells.crossJoin(F.broadcast(tot)).select(
        "n11",
        "b",
        "c",
        (F.col("nc") - F.col("n11") - F.col("b") - F.col("c")).alias("n00"),
        F.when(F.col("b") + F.col("c") > 0, d * d / bc).alias("chi2"),
        F.when(F.col("b") + F.col("c") > 0, dcc * dcc / bc).alias("chi2_cc"),
    )


@register(
    "stat_cochran_armitage",
    tags=("stats", "agg"),
    oracle="""
        WITH bands AS (
            SELECT CAST(1 + FLOOR((l_quantity - 1) / 10) AS BIGINT) AS s,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem
        ),
        suff AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS r,
                   CAST(SUM(s * y) AS BIGINT) AS t1,
                   CAST(SUM(s) AS BIGINT) AS t2,
                   CAST(SUM(s * s) AS BIGINT) AS t3
            FROM bands
        )
        SELECT n, r, t1, t2, t3,
               CASE WHEN r > 0 AND r < n
                         AND CAST(t3 AS DOUBLE)
                             - CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                               / CAST(n AS DOUBLE) > 0 THEN
                 (CAST(t1 AS DOUBLE)
                  - CAST(r AS DOUBLE) * CAST(t2 AS DOUBLE) / CAST(n AS DOUBLE))
                 / sqrt((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(t3 AS DOUBLE)
                           - CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                             / CAST(n AS DOUBLE)))
               END AS z_trend
        FROM suff
    """,
)
def stat_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the return rate rise (or
    fall) monotonically across ordered quantity bands (1-10 ... 41-50,
    scores 1..5)? The entire test reduces to five exact integer sums
    over one lineitem scan — N, returns R, score-weighted sums
    sum(s*y), sum(s), sum(s^2) — all map-side-combining; z assembles
    in ONE double expression with sqrt (IEEE-correctly-rounded, so
    cross-engine exact on identical inputs). Degenerate edges per the
    class-5 checklist: all-returned / none-returned (p(1-p)=0) and a
    single occupied band (zero score variance) both NULL the z via the
    same CASE on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = li.select(
        (F.lit(1) + F.floor((F.col("l_quantity") - 1) / 10)).cast("bigint").alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    suff = bands.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("r"),
        F.sum(F.col("s") * F.col("y")).cast("bigint").alias("t1"),
        F.sum("s").cast("bigint").alias("t2"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("t3"),
    )
    n_d = F.col("n").cast("double")
    r_d = F.col("r").cast("double")
    t1_d = F.col("t1").cast("double")
    t2_d = F.col("t2").cast("double")
    t3_d = F.col("t3").cast("double")
    svar = t3_d - t2_d * t2_d / n_d
    p = r_d / n_d
    return suff.select(
        "n",
        "r",
        "t1",
        "t2",
        "t3",
        F.when(
            (F.col("r") > 0) & (F.col("r") < F.col("n")) & (svar > 0),
            (t1_d - r_d * t2_d / n_d) / F.sqrt(p * (1 - p) * svar),
        ).alias("z_trend"),
    )


@register(
    "stat_grubbs_outlier",
    tags=("stats", "agg"),
    oracle="""
        WITH s AS (
            SELECT c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))
                                 * CAST(c_acctbal AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS mn,
                   CAST(CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS mx
            FROM customer GROUP BY c_mktsegment
        )
        SELECT segment, n,
               sx / CAST(n AS DOUBLE) AS mean_bal,
               CASE WHEN n > 1 AND sxx - sx * sx / CAST(n AS DOUBLE) > 0 THEN
                 GREATEST(sx / CAST(n AS DOUBLE) - mn,
                          mx - sx / CAST(n AS DOUBLE))
                   / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1))
               END AS g_stat,
               CASE WHEN n > 1 AND sxx - sx * sx / CAST(n AS DOUBLE) > 0 THEN
                 GREATEST(sx / CAST(n AS DOUBLE) - mn,
                          mx - sx / CAST(n AS DOUBLE))
                   / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1)) > 3.0
               END AS flagged
        FROM s ORDER BY segment
    """,
)
def stat_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' max-studentized-deviation outlier screen per market
    segment on account balance: G = max(|x - mean|)/sd, where the
    extreme deviation is provably attained at the group MIN or MAX —
    so the WHOLE test needs only (n, sum, sum-of-squares, min, max),
    one exact-decimal hash agg per segment, never a second pass or a
    sort. The 3.0 threshold is a fixed screening constant (the
    n-dependent t-quantile critical value is a lookup, not a query
    concern). sd=0 (all-equal group) and n=1 NULL the statistic via
    the same CASE on both engines; decimal sums present through the
    VARCHAR-routed double edge."""
    cust = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    s = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum(bal)).alias("sx"),
        as_d(F.sum(bal * bal)).alias("sxx"),
        as_d(F.min(bal)).alias("mn"),
        as_d(F.max(bal)).alias("mx"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("sx") / n_d
    ss = F.col("sxx") - F.col("sx") * F.col("sx") / n_d
    g = F.greatest(mean - F.col("mn"), F.col("mx") - mean) / F.sqrt(
        ss / (n_d - 1)
    )
    ok = (F.col("n") > 1) & (ss > 0)
    return s.select(
        "segment",
        "n",
        mean.alias("mean_bal"),
        F.when(ok, g).alias("g_stat"),
        F.when(ok, g > 3.0).alias("flagged"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Regression diagnostics (Durbin-Watson, Breusch-Pagan) share one
# residual construction: simple OLS of the exact floor-scaled daily
# event total v on the day index t, per event_type. The coefficients
# are single double expressions over exact integer/decimal sufficient
# sums (identical text on both engines => bit-identical), so each
# residual e_t = v - alpha - beta*t is one IEEE-deterministic per-row
# expression; every cross-row reduction over residuals floor-quantizes
# BEFORE summing (exact DECIMAL(38,0) integer sums — order- and
# engine-free), per registry divergence class 1.

_RESID_CTES = f"""
        daily AS ({DAILY_SCALED_SQL}),
        base AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT)
                       AS t,
                   v
            FROM daily
        ),
        suff AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM(v) AS BIGINT) AS sv,
                   CAST(CAST(SUM(CAST(t AS DECIMAL(38,0)) * t) AS VARCHAR)
                        AS DOUBLE) AS stt,
                   CAST(CAST(SUM(CAST(t AS DECIMAL(38,0)) * v) AS VARCHAR)
                        AS DOUBLE) AS stv
            FROM base GROUP BY event_type
        ),
        coef AS (
            SELECT event_type, n, st, sv, stt, stv,
                   (CAST(n AS DOUBLE) * stv
                    - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                     / NULLIF(CAST(n AS DOUBLE) * stt
                              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), 0)
                       AS beta
            FROM suff
        ),
        coef2 AS (
            SELECT *, (CAST(sv AS DOUBLE) - beta * CAST(st AS DOUBLE))
                        / CAST(n AS DOUBLE) AS alpha
            FROM coef
        ),
        resid AS (
            SELECT b.event_type, b.t,
                   CAST(b.v AS DOUBLE) - c.alpha
                     - c.beta * CAST(b.t AS DOUBLE) AS e
            FROM base b JOIN coef2 c ON c.event_type = b.event_type
        )
"""


def _ols_daily_resid(spark: SparkSession, sf_dir: str):
    """(resid, coef): per-(event_type, t) OLS residuals of the daily
    exact-integer series plus the per-type coefficient relation.
    Corpus work is ONE map-side-combining (type, day) agg; everything
    downstream runs on O(types x days) rows, coefficients broadcast."""
    daily = daily_scaled(spark, sf_dir)
    base = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("t"),
        "v",
    )
    suff = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("v").cast("bigint").alias("sv"),
        as_d(F.sum(F.col("t").cast("decimal(38,0)") * F.col("t"))).alias("stt"),
        as_d(F.sum(F.col("t").cast("decimal(38,0)") * F.col("v"))).alias("stv"),
    )
    n_d = F.col("n").cast("double")
    st_d = F.col("st").cast("double")
    sv_d = F.col("sv").cast("double")
    denom = n_d * F.col("stt") - st_d * st_d
    coef = suff.withColumn(
        "beta",
        (n_d * F.col("stv") - st_d * sv_d)
        / F.when(denom != 0, denom),  # NULLIF twin: single-day series
    ).withColumn(
        "alpha", (sv_d - F.col("beta") * st_d) / n_d
    )
    resid = base.join(
        F.broadcast(coef.select("event_type", "alpha", "beta")), "event_type"
    ).select(
        "event_type",
        "t",
        (
            F.col("v").cast("double")
            - F.col("alpha")
            - F.col("beta") * F.col("t").cast("double")
        ).alias("e"),
    )
    return resid, coef


@register(
    "stat_durbin_watson",
    tags=("stats", "ts", "window"),
    oracle=f"""
        WITH {_RESID_CTES},
        qr AS (
            SELECT event_type, t, CAST(FLOOR(e) AS BIGINT) AS ef
            FROM resid
        ),
        lagd AS (
            SELECT event_type, ef,
                   LAG(ef) OVER (PARTITION BY event_type ORDER BY t) AS ep
            FROM qr
        ),
        sums AS (
            SELECT event_type,
                   CAST(CAST(SUM(CAST(ef AS DECIMAL(19,0)) * ef)
                        AS VARCHAR) AS DOUBLE) AS se2,
                   CAST(CAST(SUM(CASE WHEN ep IS NOT NULL
                        THEN CAST(ef - ep AS DECIMAL(19,0)) * (ef - ep)
                        ELSE CAST(0 AS DECIMAL(19,0)) END)
                        AS VARCHAR) AS DOUBLE) AS sdiff
            FROM lagd GROUP BY event_type
        )
        SELECT s.event_type, c.n, c.beta,
               CASE WHEN s.se2 > 0 THEN s.sdiff / s.se2 END AS dw
        FROM sums s JOIN coef2 c ON c.event_type = s.event_type
        ORDER BY s.event_type
    """,
)
def stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson first-order autocorrelation diagnostic on the
    daily-trend OLS residuals, per event series: DW = sum((e_t -
    e_(t-1))^2) / sum(e_t^2), DW≈2 meaning uncorrelated. Residuals are
    one deterministic double expression per DAILY row (coefficients
    are single expressions over exact sufficient sums, broadcast
    back), then floor-quantized to q0 BIGINTs BEFORE any squaring —
    squaring first and casting the >2^53 double product to DECIMAL
    hits the engine-divergent double->decimal rounding path (registry
    class 2, measured at sf0.1); integer-first keeps every sum exact
    DECIMAL arithmetic with no float accumulation. The lag window
    partitions per series over O(days) rows — the corpus itself never
    reaches a window. Class-5 edges: a flat series (all residuals 0)
    NULLs DW via the same CASE; a single-day series NULLs beta via
    NULLIF upstream."""
    resid, coef = _ols_daily_resid(spark, sf_dir)
    qr = resid.select(
        "event_type", "t", F.floor(F.col("e")).cast("bigint").alias("ef")
    )
    w = Window.partitionBy("event_type").orderBy("t")
    lagd = qr.withColumn("ep", F.lag("ef").over(w))
    dec19 = "decimal(19,0)"
    sums = lagd.groupBy("event_type").agg(
        as_d(F.sum(F.col("ef").cast(dec19) * F.col("ef"))).alias("se2"),
        as_d(
            F.sum(
                F.when(
                    F.col("ep").isNotNull(),
                    (F.col("ef") - F.col("ep")).cast(dec19)
                    * (F.col("ef") - F.col("ep")),
                ).otherwise(F.lit(0).cast(dec19))
            )
        ).alias("sdiff"),
    )
    return (
        sums.join(
            F.broadcast(coef.select("event_type", "n", "beta")), "event_type"
        )
        .select(
            "event_type",
            "n",
            "beta",
            F.when(F.col("se2") > 0, F.col("sdiff") / F.col("se2")).alias("dw"),
        )
        .orderBy("event_type")
    )


@register(
    "stat_breusch_pagan",
    tags=("stats", "ts", "agg"),
    oracle=f"""
        WITH {_RESID_CTES},
        q AS (
            SELECT event_type, t,
                   CAST(FLOOR(e * CAST(0.001 AS DOUBLE)) AS BIGINT) AS e3
            FROM resid
        ),
        u AS (
            SELECT event_type, t,
                   CAST(e3 AS DECIMAL(19,0)) * e3 AS uu
            FROM q
        ),
        s AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(CAST(SUM(CAST(t AS DECIMAL(38,0)) * t) AS VARCHAR)
                        AS DOUBLE) AS stt,
                   CAST(CAST(SUM(uu) AS VARCHAR) AS DOUBLE) AS su,
                   CAST(CAST(SUM(CAST(t AS DECIMAL(19,0)) * uu) AS VARCHAR)
                        AS DOUBLE) AS stu,
                   CAST(CAST(SUM(CAST(uu AS DECIMAL(19,0))
                                 * CAST(uu AS DECIMAL(19,0))) AS VARCHAR)
                        AS DOUBLE) AS suu
            FROM u GROUP BY event_type
        )
        SELECT event_type, n,
               CASE WHEN (CAST(n AS DOUBLE) * stt
                          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) > 0
                     AND (CAST(n AS DOUBLE) * suu - su * su) > 0 THEN
                 (CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
                   * (CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
                   / ((CAST(n AS DOUBLE) * stt
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                      * (CAST(n AS DOUBLE) * suu - su * su))
               END AS r2_aux,
               CASE WHEN (CAST(n AS DOUBLE) * stt
                          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) > 0
                     AND (CAST(n AS DOUBLE) * suu - su * su) > 0 THEN
                 CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
                   * (CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
                   / ((CAST(n AS DOUBLE) * stt
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                      * (CAST(n AS DOUBLE) * suu - su * su))
               END AS lm_stat
        FROM s ORDER BY event_type
    """,
)
def stat_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test on the daily-trend OLS
    fit, per event series: regress the squared residual on the day
    index and report LM = n*R^2 of that auxiliary regression (large =>
    variance drifts over time and the OLS standard errors lie).
    Residuals are floor-quantized to q-3 BIGINTs (e3 = floor(e/1000))
    BEFORE squaring, so u = e3^2 and every auxiliary sufficient sum —
    su, stu, and the fourth-power-scale suu — is exact integer/DECIMAL
    arithmetic with zero float accumulation; the DECIMAL(19,0) re-caps
    keep every product inside both engines' 38-digit multiply width.
    R^2 and LM assemble in one guarded double expression: zero
    day-variance or zero u-variance (a perfectly homoscedastic
    quantized series) NULLs both outputs via the same CASE on both
    engines."""
    resid, _ = _ols_daily_resid(spark, sf_dir)
    q = resid.select(
        "event_type",
        "t",
        F.floor(F.col("e") * F.lit(0.001)).cast("bigint").alias("e3"),
    )
    u = q.select(
        "event_type",
        "t",
        (F.col("e3").cast("decimal(19,0)") * F.col("e3")).alias("uu"),
    )
    s = u.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        as_d(F.sum(F.col("t").cast("decimal(38,0)") * F.col("t"))).alias("stt"),
        as_d(F.sum("uu")).alias("su"),
        as_d(F.sum(F.col("t").cast("decimal(19,0)") * F.col("uu"))).alias("stu"),
        as_d(
            F.sum(
                F.col("uu").cast("decimal(19,0)")
                * F.col("uu").cast("decimal(19,0)")
            )
        ).alias("suu"),
    )
    n_d = F.col("n").cast("double")
    st_d = F.col("st").cast("double")
    vt = n_d * F.col("stt") - st_d * st_d
    vu = n_d * F.col("suu") - F.col("su") * F.col("su")
    num = n_d * F.col("stu") - st_d * F.col("su")
    ok = (vt > 0) & (vu > 0)
    return s.select(
        "event_type",
        "n",
        F.when(ok, num * num / (vt * vu)).alias("r2_aux"),
        F.when(ok, n_d * num * num / (vt * vu)).alias("lm_stat"),
    ).orderBy("event_type")


@register(
    "stat_hodges_lehmann",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH cx AS (
            SELECT CAST(l_quantity AS DECIMAL(12,2)) AS v,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
        ),
        cy AS (
            SELECT CAST(l_quantity AS DECIMAL(12,2)) AS v,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1
        ),
        dd AS (
            SELECT cx.v - cy.v AS d,
                   CAST(SUM(CAST(cx.n AS DECIMAL(19,0)) * cy.n)
                        AS DECIMAL(38,0)) AS w
            FROM cx CROSS JOIN cy
            GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(w) AS DECIMAL(38,0)) AS t FROM dd),
        cum AS (
            SELECT d, w,
                   CAST(SUM(w) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                        AS DECIMAL(38,0)) AS cw
            FROM dd
        )
        SELECT CAST(CAST(MIN(tot.t) AS VARCHAR) AS DOUBLE) AS n_pairs,
               CAST(CAST(MIN(CASE WHEN cum.cw * 2 >= tot.t
                                  THEN cum.d END) AS VARCHAR) AS DOUBLE)
                   AS hl_shift
        FROM cum CROSS JOIN tot
    """,
)
def stat_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann two-sample shift estimator: the MEDIAN of all
    n*m pairwise differences (returned-line quantity minus kept-line
    quantity) — the robust location-shift companion to
    stat_mannwhitney_u (it inverts the same rank test; breakdown 29%).
    The quadratic pair space collapses through the contingency-cell
    reduction (the stat_kendall_tau recipe): one corpus hash agg per
    sample to <=50 quantity cells each, a <=2500-row broadcast cell
    cross join carrying exact DECIMAL pair multiplicities, and the
    weighted LOWER median (2*cum >= total picks rank ceil(T/2) on
    exact integers — no interpolation, engine-exact) from one
    cumulative window over the <=99-value model relation (unpartitioned
    by design: value-domain-bounded, never the corpus). Pair counts
    present as DOUBLE — they are ~n*m and outgrow BIGINT at petabyte
    corpus scale. Class-5: an empty sample empties the cross join and
    both outputs go NULL identically on the two engines."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    cx = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(q.alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cy = (
        li.filter(F.col("l_returnflag") != "R")
        .groupBy(q.alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    dd = (
        cx.select(F.col("v").alias("vx"), F.col("n").alias("nx"))
        .crossJoin(
            F.broadcast(cy.select(F.col("v").alias("vy"), F.col("n").alias("ny")))
        )
        .groupBy((F.col("vx") - F.col("vy")).alias("d"))
        .agg(
            F.sum(F.col("nx").cast("decimal(19,0)") * F.col("ny"))
            .cast("decimal(38,0)")
            .alias("w")
        )
    )
    tot = dd.agg(F.sum("w").cast("decimal(38,0)").alias("t"))
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = dd.select(
        "d", F.sum("w").over(wcum).cast("decimal(38,0)").alias("cw")
    )
    return cum.crossJoin(F.broadcast(tot)).agg(
        as_d(F.min(F.col("t"))).alias("n_pairs"),
        as_d(
            F.min(F.when(F.col("cw") * 2 >= F.col("t"), F.col("d")))
        ).alias("hl_shift"),
    )


@register(
    "stat_wilcoxon_signed_rank",
    tags=("stats", "window", "agg"),
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) ELSE 0 END) AS BIGINT) AS pre,
                   CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) ELSE 0 END) AS BIGINT) AS post
            FROM orders GROUP BY o_custkey
        ),
        d AS (
            SELECT post - pre AS diff, ABS(post - pre) AS ad
            FROM per_cust WHERE post - pre <> 0
        ),
        rv AS (
            SELECT v, t,
                   2 * (SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t)
                       + t + 1 AS mr2
            FROM (SELECT ad AS v, COUNT(*) AS t FROM d GROUP BY ad)
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CASE WHEN d.diff > 0
                        THEN CAST(rv.mr2 AS DECIMAL(38,0))
                        ELSE CAST(0 AS DECIMAL(38,0)) END) AS VARCHAR)
                        AS DOUBLE) AS w2p
            FROM d JOIN rv ON rv.v = d.ad
        ),
        ties AS (
            SELECT CAST(CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t)
                        AS VARCHAR) AS DOUBLE) AS t3
            FROM (SELECT COUNT(*) AS t FROM d GROUP BY ad)
        )
        SELECT n, w2p / 2 AS w_plus,
               CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 4 AS mu,
               CASE WHEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
                         * (2 * CAST(n AS DOUBLE) + 1) / 24
                         - ties.t3 / 48 > 0 THEN
                 (w2p / 2 - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
                        * (2 * CAST(n AS DOUBLE) + 1) / 24 - ties.t3 / 48)
               END AS z_stat
        FROM s CROSS JOIN ties
    """,
)
def stat_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the paired pre/post-1996 customer
    spend (the nonparametric twin of stat_ttest_paired — no normality
    assumption, and the third member of the paired family with
    stat_mcnemar): zero diffs drop per convention, |diff| midranks
    come from the scale-safe distinct-value decomposition (midranks2
    shape — per-bucket window + O(buckets) carry, never a global
    unpartitioned rank), W+ accumulates exact DECIMAL doubled
    midranks, and the tie-corrected normal z (no continuity
    correction; documented) is one guarded double edge — zero variance
    (all diffs tie at one magnitude) NULLs identically on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    cutoff = F.lit("1996-01-01").cast("timestamp")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderdate") < cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("pre"),
        F.sum(F.when(F.col("o_orderdate") >= cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("post"),
    )
    d = (
        per_cust.select((F.col("post") - F.col("pre")).alias("diff"))
        .filter(F.col("diff") != 0)
        .withColumn("ad", F.abs(F.col("diff")))
        .persist()  # consumed by the rank join AND the tie sum
    )
    rv = midranks2(d, "ad", 1000000)
    s = d.join(rv, d.ad == rv.v).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(
            F.sum(
                F.when(
                    F.col("diff") > 0, F.col("mr2").cast("decimal(38,0)")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
        ).alias("w2p"),
    )
    ties = (
        d.groupBy("ad")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            as_d(
                F.sum(
                    F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
                    - F.col("t")
                )
            ).alias("t3")
        )
    )
    n_d = F.col("n").cast("double")
    mu = n_d * (n_d + 1) / 4
    var = n_d * (n_d + 1) * (2 * n_d + 1) / 24 - F.col("t3") / 48
    return s.crossJoin(F.broadcast(ties)).select(
        "n",
        (F.col("w2p") / 2).alias("w_plus"),
        mu.alias("mu"),
        F.when(var > 0, (F.col("w2p") / 2 - mu) / F.sqrt(var)).alias("z_stat"),
    )


@register(
    "stat_friedman_test",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        ranked AS (
            SELECT event_type, day,
                   2 * (RANK() OVER (PARTITION BY day ORDER BY v))
                     + (COUNT(*) OVER (PARTITION BY day, v)) - 1 AS mr2
            FROM daily
        ),
        rj AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(mr2) AS BIGINT) AS r2j
            FROM ranked GROUP BY event_type
        ),
        dims AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(MIN(nb) AS BIGINT) AS n,
                   CAST(MAX(nb) AS BIGINT) AS mx
            FROM rj
        ),
        q AS (
            SELECT dims.k, dims.n,
                   CASE WHEN dims.n = dims.mx THEN
                   12 / (CAST(dims.n AS DOUBLE) * CAST(dims.k AS DOUBLE)
                         * (CAST(dims.k AS DOUBLE) + 1))
                     * {o_ordered_fold_sum(
                         'rj.event_type',
                         'CAST(rj.r2j AS DOUBLE) * CAST(rj.r2j AS DOUBLE) / 4',
                     )}
                     - 3 * CAST(dims.n AS DOUBLE)
                       * (CAST(dims.k AS DOUBLE) + 1) END AS q_stat
            FROM rj CROSS JOIN dims
            GROUP BY dims.k, dims.n, dims.mx
        )
        SELECT k, n, q_stat FROM q
    """,
)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for k related samples: do the five event
    streams differ in level once each DAY is its own block? Within-day
    midranks (2*rank + ties - 1 doubled-midrank identity) come from
    windows PARTITIONED BY DAY — k=5 rows per partition, so the rank
    work is bounded per block and embarrassingly parallel at any
    corpus size; per-treatment rank sums are exact integers; Q =
    12/(nk(k+1)) * sum_j R_j^2 - 3n(k+1) folds the k per-treatment
    doubles in PINNED treatment order (array_sort fold ≡ ordered
    list_reduce), the ANOVA/Kruskal recipe. The complete-block
    precondition is GUARDED, not assumed (round-10 advisor): when any
    (event_type, day) cell is absent, max(n_b) != min(n_b) and q_stat
    degrades to NULL identically on both engines instead of silently
    mixing unequal block counts into Q. No division by data (class-5:
    denominators are k,n counts >= 1)."""
    daily = daily_scaled(spark, sf_dir)
    wd = Window.partitionBy("day").orderBy("v")
    wt = Window.partitionBy("day", "v")
    ranked = daily.select(
        "event_type",
        (
            2 * F.rank().over(wd) + F.count(F.lit(1)).over(wt) - 1
        ).alias("mr2"),
    )
    rj = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("mr2").cast("bigint").alias("r2j"),
    )
    dims = rj.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("nb").cast("bigint").alias("n"),
        F.max("nb").cast("bigint").alias("mx"),
    )
    k_d = F.col("k").cast("double")
    n_d = F.col("n").cast("double")
    return (
        rj.crossJoin(F.broadcast(dims))
        .groupBy("k", "n", "mx")
        .agg(
            (
                F.lit(12.0)
                / (n_d * k_d * (k_d + 1))
                * F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("event_type"),
                                (
                                    F.col("r2j").cast("double")
                                    * F.col("r2j").cast("double")
                                    / 4
                                ).alias("tj"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["tj"],
                )
                - 3 * n_d * (k_d + 1)
            ).alias("q_stat")
        )
        .select(
            "k",
            "n",
            F.when(F.col("n") == F.col("mx"), F.col("q_stat")).alias(
                "q_stat"
            ),
        )
    )


@register(
    "stat_cvm_two_sample",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH ts AS ({_SAMPLE_SQL}),
        per_val AS (
            SELECT x, SUM(g) AS a, SUM(1 - g) AS b
            FROM ts GROUP BY x
        ),
        cum AS (
            SELECT x, a, b,
                   SUM(a) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_a,
                   SUM(b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_b
            FROM per_val
        ),
        tot AS (SELECT CAST(SUM(a) AS BIGINT) AS n,
                       CAST(SUM(b) AS BIGINT) AS m
                FROM per_val),
        terms AS (
            SELECT CAST(ABS(cum_a * tot.m - cum_b * tot.n) AS BIGINT) AS d,
                   CAST(a + b AS BIGINT) AS t
            FROM cum CROSS JOIN tot
        ),
        s AS (
            SELECT CAST(CAST(SUM(CAST(CAST(d AS DECIMAL(15,0))
                                      * CAST(d AS DECIMAL(15,0))
                                      AS DECIMAL(30,0))
                                 * CAST(t AS DECIMAL(7,0)))
                        AS VARCHAR) AS DOUBLE) AS sq
            FROM terms
        )
        SELECT tot.n, tot.m,
               s.sq / (CAST(tot.n AS DOUBLE) * CAST(tot.m AS DOUBLE)
                       * (CAST(tot.n AS DOUBLE) + CAST(tot.m AS DOUBLE))
                       * (CAST(tot.n AS DOUBLE) + CAST(tot.m AS DOUBLE)))
                   AS cvm_t
        FROM s CROSS JOIN tot
    """,
)
def stat_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic — the INTEGRAL companion
    to stat_ks_two_sample's supremum on the same URGENT-vs-LOW pooled
    sample (CvM sees distributed small ECDF gaps that KS's single
    max misses): T = sum over pooled observations of (F1-F2)^2,
    scaled nm/(n+m)^2. The gap at each distinct value is the exact
    integer |cum_a*m - cum_b*n| off the shared bucket+carry cumulative
    machinery; its square and the tie-multiplicity product stay exact
    DECIMAL with width-pinned (15,0)x(15,0)->(30,0)x(7,0) recaps
    (supports |gap| to 1e15 ~ nm at sf100 — re-pin beyond), so the
    whole reduction is order-free and T is one double edge division.
    Class-5: n,m >= 1 by the priority filter's fixture contract and
    the denominator is their product — no degenerate division path."""
    cum = _pooled_cumulative(_two_sample(spark, sf_dir))
    tot = cum.agg(
        F.sum("a").cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("m"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(F.col("cum_a") * F.col("m") - F.col("cum_b") * F.col("n"))
        .cast("bigint")
        .alias("d"),
        (F.col("a") + F.col("b")).cast("bigint").alias("t"),
        "n",
        "m",
    )
    s = terms.groupBy("n", "m").agg(
        as_d(
            F.sum(
                (
                    F.col("d").cast("decimal(15,0)")
                    * F.col("d").cast("decimal(15,0)")
                )
                .cast("decimal(30,0)")
                * F.col("t").cast("decimal(7,0)")
            )
        ).alias("sq")
    )
    n_d = F.col("n").cast("double")
    m_d = F.col("m").cast("double")
    return s.select(
        "n",
        "m",
        (F.col("sq") / (n_d * m_d * (n_d + m_d) * (n_d + m_d))).alias("cvm_t"),
    )


@register(
    "stat_power_two_prop",
    tags=("stats", "agg"),
    oracle="""
        WITH p AS (
            SELECT CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x1,
                   CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                        AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x2
            FROM orders
        ),
        r AS (
            SELECT n1, x1, n2, x2,
                   CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
                   CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
                   (CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE))
                     / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS pbar
            FROM p
        )
        SELECT n1, n2, p1, p2,
               CASE WHEN p1 <> p2 THEN
                 CAST(CEIL(
                   (CAST('1.959963984540054' AS DOUBLE)
                      * sqrt(2 * pbar * (1 - pbar))
                    + CAST('0.8416212335729143' AS DOUBLE)
                      * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
                   * (CAST('1.959963984540054' AS DOUBLE)
                      * sqrt(2 * pbar * (1 - pbar))
                    + CAST('0.8416212335729143' AS DOUBLE)
                      * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
                   / ((p1 - p2) * (p1 - p2))) AS BIGINT)
               END AS n_per_arm_80pct
        FROM r
    """,
)
def stat_power_two_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample-size calculator at 80% power / 5%
    two-sided alpha, parameterized by the OBSERVED fulfillment rates
    of URGENT vs LOW orders — the pre-experiment question ('how many
    orders per arm before this gap is detectable?') answered as a
    query so it runs on live data. The normal quantiles z_0.975 and
    z_0.80 are STRING-routed double literals shared verbatim by both
    dialects (the fin_npv_rate_grid lesson: bare decimal literals hit
    DuckDB's 1-ulp decimal->double); rates come from exact counts in
    one scan; the formula is one guarded double edge (p1=p2 — nothing
    to detect — NULLs identically). ceil on a double is exact on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    is1 = F.col("o_orderpriority") == "1-URGENT"
    is2 = F.col("o_orderpriority") == "5-LOW"
    isf = F.col("o_orderstatus") == "F"
    p = o.agg(
        F.sum(is1.cast("int")).cast("bigint").alias("n1"),
        F.sum((is1 & isf).cast("int")).cast("bigint").alias("x1"),
        F.sum(is2.cast("int")).cast("bigint").alias("n2"),
        F.sum((is2 & isf).cast("int")).cast("bigint").alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("x2").cast("double") / F.col("n2").cast("double")
    pbar = (F.col("x1").cast("double") + F.col("x2").cast("double")) / (
        F.col("n1").cast("double") + F.col("n2").cast("double")
    )
    za = F.lit("1.959963984540054").cast("double")
    zb = F.lit("0.8416212335729143").cast("double")
    root = za * F.sqrt(2 * pbar * (1 - pbar)) + zb * F.sqrt(
        p1 * (1 - p1) + p2 * (1 - p2)
    )
    r = p.select(
        "n1",
        "n2",
        p1.alias("p1"),
        p2.alias("p2"),
        F.when(
            p1 != p2,
            F.ceil(root * root / ((p1 - p2) * (p1 - p2))).cast("bigint"),
        ).alias("n_per_arm_80pct"),
    )
    return r


@register(
    "stat_tost_equivalence",
    tags=("stats", "agg"),
    oracle="""
        WITH s AS (
            SELECT CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN CAST(o_totalprice AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR)
                        AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN CAST(o_totalprice AS DECIMAL(12,2))
                             * CAST(o_totalprice AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(25,4)) END) AS VARCHAR)
                        AS DOUBLE) AS ss1,
                   CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                        THEN CAST(o_totalprice AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR)
                        AS DOUBLE) AS s2,
                   CAST(CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                        THEN CAST(o_totalprice AS DECIMAL(12,2))
                             * CAST(o_totalprice AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(25,4)) END) AS VARCHAR)
                        AS DOUBLE) AS ss2
            FROM orders
        ),
        d AS (
            SELECT n1, n2,
                   s1 / CAST(n1 AS DOUBLE) AS m1,
                   s2 / CAST(n2 AS DOUBLE) AS m2,
                   (ss1 - s1 * s1 / CAST(n1 AS DOUBLE))
                     / (CAST(n1 AS DOUBLE) - 1) / CAST(n1 AS DOUBLE)
                   + (ss2 - s2 * s2 / CAST(n2 AS DOUBLE))
                     / (CAST(n2 AS DOUBLE) - 1) / CAST(n2 AS DOUBLE) AS se2
            FROM s
        )
        SELECT n1, n2, m1, m2, m1 - m2 AS diff, sqrt(se2) AS se,
               CASE WHEN se2 > 0 THEN
                 ((m1 - m2) + CAST('2000.0' AS DOUBLE)) / sqrt(se2)
               END AS t_lower,
               CASE WHEN se2 > 0 THEN
                 (CAST('2000.0' AS DOUBLE) - (m1 - m2)) / sqrt(se2)
               END AS t_upper,
               CASE WHEN se2 > 0 THEN
                 ((m1 - m2) + CAST('2000.0' AS DOUBLE)) / sqrt(se2)
                   > CAST('1.6448536269514722' AS DOUBLE)
                 AND (CAST('2000.0' AS DOUBLE) - (m1 - m2)) / sqrt(se2)
                   > CAST('1.6448536269514722' AS DOUBLE)
               END AS equivalent
        FROM d
    """,
)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) for the URGENT vs
    LOW mean order totals at a ±2000.0 equivalence margin: the
    non-inferiority question a plain t-test cannot answer (failing to
    reject difference is NOT evidence of equivalence). Welch-style SE
    from exact decimal sums in ONE scan; both one-sided statistics and
    the joint verdict (each t beyond the z_0.95 critical value — the
    large-n normal approximation, documented) are guarded double
    edges; the margin and critical value are string-routed shared
    literals (the NPV decimal-literal lesson). Class-5: se=0 NULLs all
    three outputs identically on both engines."""
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(12,2)")
    is1 = F.col("o_orderpriority") == "1-URGENT"
    is2 = F.col("o_orderpriority") == "5-LOW"
    z0 = F.lit("0").cast("decimal(12,2)")
    z04 = F.lit("0").cast("decimal(25,4)")
    s = o.agg(
        F.sum(is1.cast("int")).cast("bigint").alias("n1"),
        as_d(F.sum(F.when(is1, p).otherwise(z0))).alias("s1"),
        as_d(F.sum(F.when(is1, p * p).otherwise(z04))).alias("ss1"),
        F.sum(is2.cast("int")).cast("bigint").alias("n2"),
        as_d(F.sum(F.when(is2, p).otherwise(z0))).alias("s2"),
        as_d(F.sum(F.when(is2, p * p).otherwise(z04))).alias("ss2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1") / n1d
    m2 = F.col("s2") / n2d
    se2 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1d) / (n1d - 1) / n1d + (
        F.col("ss2") - F.col("s2") * F.col("s2") / n2d
    ) / (n2d - 1) / n2d
    delta = F.lit("2000.0").cast("double")
    zc = F.lit("1.6448536269514722").cast("double")
    diff = m1 - m2
    tl = (diff + delta) / F.sqrt(se2)
    tu = (delta - diff) / F.sqrt(se2)
    return s.select(
        "n1",
        "n2",
        m1.alias("m1"),
        m2.alias("m2"),
        diff.alias("diff"),
        F.sqrt(se2).alias("se"),
        F.when(se2 > 0, tl).alias("t_lower"),
        F.when(se2 > 0, tu).alias("t_upper"),
        F.when(se2 > 0, (tl > zc) & (tu > zc)).alias("equivalent"),
    )


@register(
    "stat_hartley_fmax",
    tags=("stats", "agg"),
    oracle="""
        WITH s AS (
            SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                                 * CAST(o_totalprice AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sxx
            FROM orders GROUP BY o_orderpriority
        ),
        v AS (
            SELECT g, n,
                   (sxx - sx * sx / CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1) AS var
            FROM s WHERE n > 1
        ),
        ex AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   MAX(var) AS vmax, MIN(var) AS vmin,
                   MIN(CASE WHEN var = (SELECT MAX(var) FROM v)
                            THEN g END) AS g_max,
                   MIN(CASE WHEN var = (SELECT MIN(var) FROM v)
                            THEN g END) AS g_min
            FROM v
        )
        SELECT k, g_max, g_min, vmax, vmin,
               CASE WHEN vmin > 0 THEN vmax / vmin END AS f_max
        FROM ex
    """,
)
def stat_hartley_fmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hartley's F-max variance-ratio screen across the five priority
    cohorts on order totals: max group variance / min group variance —
    the quick homogeneity check run before trusting a pooled-variance
    ANOVA (its formal siblings stat_levene_brown_forsythe and
    stat_anova_oneway share the same base). Group variances are single
    double expressions over exact decimal sums (one scan, one hash
    agg); the extreme groups are picked with a deterministic
    min-group-name tiebreak on exact variance equality, and vmin=0
    (a constant cohort) NULLs the ratio identically on both engines.
    Only k model-sized rows exist after the scan."""
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(12,2)")
    s = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum(p)).alias("sx"),
        as_d(F.sum(p * p)).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    v = s.filter(F.col("n") > 1).select(
        "g",
        "n",
        ((F.col("sxx") - F.col("sx") * F.col("sx") / n_d) / (n_d - 1)).alias(
            "var"
        ),
    )
    # deterministic extreme-group names: re-join on exact equality
    vmax_g = (
        v.crossJoin(F.broadcast(v.agg(F.max("var").alias("vm"))))
        .filter(F.col("var") == F.col("vm"))
        .agg(F.min("g").alias("g_max"))
    )
    vmin_g = (
        v.crossJoin(F.broadcast(v.agg(F.min("var").alias("vm"))))
        .filter(F.col("var") == F.col("vm"))
        .agg(F.min("g").alias("g_min"))
    )
    base = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("var").alias("vmax"),
        F.min("var").alias("vmin"),
    )
    return (
        base.crossJoin(F.broadcast(vmax_g))
        .crossJoin(F.broadcast(vmin_g))
        .select(
            "k",
            "g_max",
            "g_min",
            "vmax",
            "vmin",
            F.when(F.col("vmin") > 0, F.col("vmax") / F.col("vmin")).alias(
                "f_max"
            ),
        )
    )


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
                       for i, p in enumerate(ORDER_PRIORITIES, start=1)
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
            for i, p in enumerate(ORDER_PRIORITIES, start=1)
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
# stat_kendall_w — concordance of the 5 segments' month rankings


_MONTH_GRID_SQL = """
        months AS (
            SELECT DISTINCT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m
            FROM orders
        ),
        segs AS (SELECT DISTINCT c_mktsegment AS segment FROM customer),
        msum AS (
            SELECT c.c_mktsegment AS segment,
                   strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS m,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS x
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        grid AS (
            SELECT months.m, segs.segment,
                   COALESCE(msum.x, CAST(0 AS DECIMAL(18,2))) AS x0
            FROM months CROSS JOIN segs
            LEFT JOIN msum ON msum.m = months.m
                          AND msum.segment = segs.segment
        )
"""


def _month_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, segment, x0): month x segment revenue grid with absent
    cells as exact 0 — every judge ranks every object."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    months = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).distinct()
    segs = c.select(F.col("c_mktsegment").alias("segment")).distinct()
    msum = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").alias("x"))
    )
    return (
        months.crossJoin(F.broadcast(segs))
        .join(F.broadcast(msum), ["m", "segment"], "left")
        .select(
            "m",
            "segment",
            F.coalesce(F.col("x"), F.lit(0).cast("decimal(18,2)")).alias("x0"),
        )
    )


@register(
    "stat_kendall_w",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH {_MONTH_GRID_SQL},
        ranked AS (
            SELECT m, segment, x0,
                   RANK() OVER (PARTITION BY segment ORDER BY x0) AS rk,
                   COUNT(*) OVER (PARTITION BY segment, x0) AS teq
            FROM grid
        ),
        rsum AS (
            SELECT m, CAST(SUM(2 * rk + teq - 1) AS BIGINT) AS r2
            FROM ranked GROUP BY m
        ),
        dims AS (
            SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT segment) AS BIGINT) AS mj
            FROM grid
        ),
        ties AS (
            SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
            FROM (SELECT segment, x0, CAST(COUNT(*) AS BIGINT) AS t
                  FROM grid GROUP BY segment, x0)
        ),
        s4 AS (
            SELECT CAST(SUM((r2 - mj * (n + 1)) * (r2 - mj * (n + 1)))
                        AS BIGINT) AS s4
            FROM rsum CROSS JOIN dims
        )
        SELECT dims.n AS n_months, dims.mj AS m_judges, s4.s4 AS s_numer,
               ties.tsum AS tie_term,
               CASE WHEN dims.mj * dims.mj * (dims.n * dims.n * dims.n - dims.n)
                         - dims.mj * ties.tsum > 0 THEN
                 CAST(3 * s4.s4 AS DOUBLE)
                   / CAST(dims.mj * dims.mj
                            * (dims.n * dims.n * dims.n - dims.n)
                          - dims.mj * ties.tsum AS DOUBLE)
               END AS w
        FROM dims CROSS JOIN ties CROSS JOIN s4
    """,
)
def stat_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across the five market
    segments' rankings of calendar months by revenue: do the segments
    agree on which months are strong? W = 12S / (m^2(n^3-n) - m*sum T)
    with the standard tie correction (Kendall & Babington Smith 1939).
    Judges rank the FULL month grid (absent cells enter as exact
    decimal 0 — the fin_active_share grid lesson), so every judge
    ranks every object and midranks handle the zero ties. Exactness:
    doubled midranks 2r_ij = 2*rank + t_eq - 1 are integers, per-month
    rank sums R2_j and the centered square sum S4 = sum (R2_j -
    m(n+1))^2 = 4S stay in BIGINT (n~85 months, m=5 — S4 < 1e9), the
    tie term sum(t^3-t) is integer, and W = 3*S4 / (m^2(n^3-n) - m*T)
    is ONE double division at the edge. Degenerate all-tied grids zero
    the denominator -> NULL identically on both engines. Scale: corpus
    work is the month x segment aggregation; ranking runs on the
    |months| x |segments| grid relation."""
    grid = _month_grid(spark, sf_dir)
    wrk = Window.partitionBy("segment").orderBy("x0")
    ranked = grid.select(
        "m",
        "segment",
        "x0",
        F.rank().over(wrk).alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("segment", "x0"))
        .alias("teq"),
    )
    rsum = ranked.groupBy("m").agg(
        F.sum(2 * F.col("rk") + F.col("teq") - 1).cast("bigint").alias("r2")
    )
    dims = grid.agg(
        F.countDistinct("m").cast("bigint").alias("n"),
        F.countDistinct("segment").cast("bigint").alias("mj"),
    )
    ties = (
        grid.groupBy("segment", "x0")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).cast("bigint").alias("tsum")
        )
    )
    s4 = (
        rsum.crossJoin(F.broadcast(dims))
        .select(
            (
                (F.col("r2") - F.col("mj") * (F.col("n") + 1))
                * (F.col("r2") - F.col("mj") * (F.col("n") + 1))
            ).alias("sq")
        )
        .agg(F.sum("sq").cast("bigint").alias("s4"))
    )
    den = (
        F.col("mj") * F.col("mj")
        * (F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        - F.col("mj") * F.col("tsum")
    )
    return (
        dims.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(s4))
        .select(
            F.col("n").alias("n_months"),
            F.col("mj").alias("m_judges"),
            F.col("s4").alias("s_numer"),
            F.col("tsum").alias("tie_term"),
            F.when(
                den > 0,
                (3 * F.col("s4")).cast("double") / den.cast("double"),
            ).alias("w"),
        )
    )


# ---------------------------------------------------------------------------
# stat_gk_gamma — ordinal association priority x price quintile


@register(
    "stat_gk_gamma",
    tags=("stats", "agg"),
    oracle="""
        WITH rng AS (
            SELECT MIN(o_totalprice) AS pmin, MAX(o_totalprice) AS pmax
            FROM orders
        ),
        coded AS (
            SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS r,
                   CASE WHEN pmax = pmin THEN 0
                        ELSE LEAST(4, CAST(FLOOR(
                       (CAST(o_totalprice AS DOUBLE)
                        - CAST(pmin AS DOUBLE))
                       / ((CAST(pmax AS DOUBLE) - CAST(pmin AS DOUBLE))
                          / CAST(5 AS DOUBLE))) AS INT)) END AS b
            FROM orders CROSS JOIN rng
        ),
        cells AS (
            SELECT r, b, CAST(COUNT(*) AS BIGINT) AS n
            FROM coded GROUP BY r, b
        ),
        pairs AS (
            SELECT CAST(SUM(CASE WHEN c2.r > c1.r AND c2.b > c1.b
                                 THEN c1.n * c2.n ELSE 0 END) AS BIGINT)
                       AS c_pairs,
                   CAST(SUM(CASE WHEN c2.r > c1.r AND c2.b < c1.b
                                 THEN c1.n * c2.n ELSE 0 END) AS BIGINT)
                       AS d_pairs
            FROM cells c1 CROSS JOIN cells c2
        )
        SELECT c_pairs, d_pairs,
               CASE WHEN c_pairs + d_pairs > 0 THEN
                 CAST(c_pairs - d_pairs AS DOUBLE)
                   / CAST(c_pairs + d_pairs AS DOUBLE)
               END AS gamma
        FROM pairs
    """,
)
def stat_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between order priority (ordinal 1..5) and
    order-value quintile bin: gamma = (C - D)/(C + D) over concordant/
    discordant pairs — the tie-ignoring ordinal association measure
    (Goodman & Kruskal 1954). The pair enumeration runs on the 5x5
    CELL grid (each ordered cell pair contributes n1*n2), never on row
    pairs — the stat_kendall_tau cell-pair precedent. Bins come from
    the exact decimal min/max with the same double bin arithmetic as
    ml_bagging_oob's histogram (deterministic IEEE ops, identical
    expressions). C and D are exact BIGINTs (cell products ~n^2/4:
    ceiling ~sf2000 before C nears 2^63 — documented); gamma is ONE
    double division. Degenerate all-tied tables (C+D=0) NULL
    identically. Corpus work: one scan + one 25-cell agg."""
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_totalprice").alias("pmin"), F.max("o_totalprice").alias("pmax")
    )
    coded = o.crossJoin(F.broadcast(rng)).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("r"),
        F.when(F.col("pmax") == F.col("pmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(4),
                F.floor(
                    (F.col("o_totalprice").cast("double")
                     - F.col("pmin").cast("double"))
                    / ((F.col("pmax").cast("double")
                        - F.col("pmin").cast("double")) / F.lit(5.0))
                ).cast("int"),
            )
        ).alias("b"),
    )
    cells = coded.groupBy("r", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    c1 = cells.select(
        F.col("r").alias("r1"), F.col("b").alias("b1"), F.col("n").alias("n1")
    )
    c2 = cells.select(
        F.col("r").alias("r2"), F.col("b").alias("b2"), F.col("n").alias("n2")
    )
    pairs = c1.crossJoin(F.broadcast(c2)).agg(
        F.sum(
            F.when(
                (F.col("r2") > F.col("r1")) & (F.col("b2") > F.col("b1")),
                F.col("n1") * F.col("n2"),
            ).otherwise(0)
        ).cast("bigint").alias("c_pairs"),
        F.sum(
            F.when(
                (F.col("r2") > F.col("r1")) & (F.col("b2") < F.col("b1")),
                F.col("n1") * F.col("n2"),
            ).otherwise(0)
        ).cast("bigint").alias("d_pairs"),
    )
    tot = F.col("c_pairs") + F.col("d_pairs")
    return pairs.select(
        "c_pairs",
        "d_pairs",
        F.when(
            tot > 0,
            (F.col("c_pairs") - F.col("d_pairs")).cast("double")
            / tot.cast("double"),
        ).alias("gamma"),
    )


# ---------------------------------------------------------------------------
# stat_mantel_haenszel — stratified 2x2 common odds ratio + CMH test


@register(
    "stat_mantel_haenszel",
    tags=("stats", "agg"),
    oracle="""
        WITH coded AS (
            SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS y,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS expo,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS outc
            FROM orders
        ),
        strata AS (
            SELECT y,
                   CAST(SUM(expo * outc) AS BIGINT) AS a,
                   CAST(SUM(expo * (1 - outc)) AS BIGINT) AS b,
                   CAST(SUM((1 - expo) * outc) AS BIGINT) AS c,
                   CAST(SUM((1 - expo) * (1 - outc)) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM coded GROUP BY y
        ),
        folded AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                   CAST(SUM(a) AS BIGINT) AS sum_a,
                   list_reduce(list(CAST(a * d AS DOUBLE) / CAST(n AS DOUBLE)
                                    ORDER BY y), (acc, x) -> acc + x) AS s_ad,
                   list_reduce(list(CAST(b * c AS DOUBLE) / CAST(n AS DOUBLE)
                                    ORDER BY y), (acc, x) -> acc + x) AS s_bc,
                   list_reduce(list(CAST((a + b) * (a + c) AS DOUBLE)
                                      / CAST(n AS DOUBLE)
                                    ORDER BY y), (acc, x) -> acc + x) AS s_e,
                   list_reduce(list(
                       (CAST((a + b) * (c + d) AS DOUBLE)
                        * CAST((a + c) * (b + d) AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          * (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))
                       ORDER BY y), (acc, x) -> acc + x) AS s_v
            FROM strata WHERE n > 1
        )
        SELECT n_strata, sum_a,
               CASE WHEN s_bc > 0 THEN s_ad / s_bc END AS or_mh,
               CASE WHEN s_v > 0 THEN
                 (CAST(sum_a AS DOUBLE) - s_e)
                   * (CAST(sum_a AS DOUBLE) - s_e) / s_v
               END AS cmh_chi2
        FROM folded
    """,
)
def stat_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio and Cochran-Mantel-Haenszel
    chi-square across year strata for the 2x2 of (high order priority)
    x (order fulfilled): does the priority-fulfilment association hold
    pooling over years? OR_MH = sum(a_i d_i/n_i)/sum(b_i c_i/n_i);
    CMH = (sum a - sum E)^2 / sum V with E = (a+b)(a+c)/n and
    V = (a+b)(c+d)(a+c)(b+d) / (n^2(n-1)), no continuity correction
    (documented convention, matched by the reference test). Exactness:
    per-stratum cells are conditional-sum integers; each stratum's
    four double terms are single fixed-parenthesization expressions
    (products stay in BIGINT before ONE cast each); the four
    across-strata sums are ORDER-PINNED folds by year (sorted
    collect_list fold here, ordered list_reduce there) — never a
    partition-ordered float sum. Zero denominators (no discordant
    pairs / single-row strata) NULL identically; strata with n<=1 are
    excluded on both engines. Corpus work: one scan, one |years|-row
    agg."""
    o = load_table(spark, sf_dir, "orders")
    coded = o.select(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("expo"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("outc"),
    )
    strata = (
        coded.groupBy("y")
        .agg(
            F.sum(F.col("expo") * F.col("outc")).cast("bigint").alias("a"),
            F.sum(F.col("expo") * (1 - F.col("outc"))).cast("bigint").alias("b"),
            F.sum((1 - F.col("expo")) * F.col("outc")).cast("bigint").alias("c"),
            F.sum((1 - F.col("expo")) * (1 - F.col("outc")))
            .cast("bigint")
            .alias("d"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") > 1)
    )
    n_d = F.col("n").cast("double")
    t_ad = (F.col("a") * F.col("d")).cast("double") / n_d
    t_bc = (F.col("b") * F.col("c")).cast("double") / n_d
    t_e = ((F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))).cast(
        "double"
    ) / n_d
    t_v = (
        ((F.col("a") + F.col("b")) * (F.col("c") + F.col("d"))).cast("double")
        * ((F.col("a") + F.col("c")) * (F.col("b") + F.col("d"))).cast("double")
    ) / (n_d * n_d * (n_d - F.lit(1.0)))
    folded = strata.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        ordered_fold_sum(F.col("y"), t_ad).alias("s_ad"),
        ordered_fold_sum(F.col("y"), t_bc).alias("s_bc"),
        ordered_fold_sum(F.col("y"), t_e).alias("s_e"),
        ordered_fold_sum(F.col("y"), t_v).alias("s_v"),
    )
    dev = F.col("sum_a").cast("double") - F.col("s_e")
    return folded.select(
        "n_strata",
        "sum_a",
        F.when(F.col("s_bc") > 0, F.col("s_ad") / F.col("s_bc")).alias("or_mh"),
        F.when(F.col("s_v") > 0, dev * dev / F.col("s_v")).alias("cmh_chi2"),
    )


# ---------------------------------------------------------------------------
# stat_ks_uniform / stat_kuiper_uniform — one-sample EDF tests of the
# md5 ladder against U(0,1)


_UNIF_EDF_SQL = """
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
        ),
        edf AS (
            SELECT MAX(n) AS n,
                   CAST(MAX(i * 16777216 - n * k) AS BIGINT) AS dp_s,
                   CAST(MAX(n * k - (i - 1) * 16777216) AS BIGINT) AS dm_s
            FROM pos
        )
"""


def _unif_edf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, dp_s, dm_s): scaled one-sample EDF deviations of the
    md5-uniformized order keys vs U(0,1). u_i = k_i / 2^24 with k the
    first 24 md5 bits — an exact rational, so D+ = max(i/n - u_(i))
    and D- = max(u_(i) - (i-1)/n) scale to INTEGER maxima
    dp_s = max(i*2^24 - n*k_i), dm_s = max(n*k_i - (i-1)*2^24).
    The Spark rank avoids a global sort: 256 buckets on the top 8
    bits, per-bucket ROW_NUMBER, plus a bucket-offset carry (the
    stat_ks_two_sample bucket+carry shape); the oracle uses a plain
    global ROW_NUMBER — same i because both order by (k, key).
    i*2^24 <= 1.7e16 at sf1000 (ceiling ~sf4e5)."""
    o = load_table(spark, sf_dir, "orders")
    uni = o.select(
        F.col("o_orderkey").alias("key"),
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10
        ).cast("bigint").alias("k"),
    )
    bucketed = uni.select("key", "k", F.shiftright("k", 16).alias("bkt"))
    sizes = bucketed.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    woff = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )  # 256-row relation: bounded
    offs = sizes.select(
        "bkt",
        F.coalesce(F.sum("cnt").over(woff), F.lit(0)).cast("bigint").alias("off"),
    )
    tot = sizes.agg(F.sum("cnt").cast("bigint").alias("n"))
    wrn = Window.partitionBy("bkt").orderBy("k", "key")
    pos = (
        bucketed.join(F.broadcast(offs), "bkt")
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n",
            (F.col("off") + F.row_number().over(wrn)).cast("bigint").alias("i"),
        )
    )
    return pos.agg(
        F.max("n").alias("n"),
        F.max(F.col("i") * F.lit(16777216) - F.col("n") * F.col("k"))
        .cast("bigint")
        .alias("dp_s"),
        F.max(F.col("n") * F.col("k") - (F.col("i") - 1) * F.lit(16777216))
        .cast("bigint")
        .alias("dm_s"),
    )


@register(
    "stat_ks_uniform",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH {_UNIF_EDF_SQL}
        SELECT n,
               CAST(dp_s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(16777216 AS DOUBLE)) AS d_plus,
               CAST(dm_s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(16777216 AS DOUBLE)) AS d_minus,
               GREATEST(
                 CAST(dp_s AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(16777216 AS DOUBLE)),
                 CAST(dm_s AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(16777216 AS DOUBLE)))
                   AS d_stat
        FROM edf
    """,
)
def stat_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of the engine's md5 key
    ladder against U(0,1): u = (first 24 md5 bits of the order key) /
    2^24, D = max(D+, D-) over the empirical distribution function —
    the uniformity audit behind every md5-lottery operator in this
    engine (cur_rejection_sample_md5, the bagging weights, the
    deterministic splits): if the ladder drifted from uniform, D blows
    past the ~1.36/sqrt(n) band. EDF deviations are computed as exact
    INTEGER maxima (see _unif_edf: D+ * n * 2^24 = max(i*2^24 - n*k))
    and cross to double in ONE division each; the Spark side ranks via
    256-bucket bucket+carry (no global sort at corpus scale), the
    oracle via plain ROW_NUMBER — identical i by (k, key) ordering.
    Degenerate n=0 cannot occur (orders is non-empty by schema
    contract)."""
    edf = _unif_edf(spark, sf_dir)
    scale = F.col("n").cast("double") * F.lit(16777216.0)
    dp = F.col("dp_s").cast("double") / scale
    dm = F.col("dm_s").cast("double") / scale
    return edf.select(
        "n",
        dp.alias("d_plus"),
        dm.alias("d_minus"),
        F.greatest(dp, dm).alias("d_stat"),
    )


@register(
    "stat_kuiper_uniform",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH {_UNIF_EDF_SQL}
        SELECT n,
               (CAST(dp_s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(16777216 AS DOUBLE)))
               + (CAST(dm_s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(16777216 AS DOUBLE)))
                   AS v_stat
        FROM edf
    """,
)
def stat_kuiper_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's V = D+ + D- on the same md5-uniformized EDF as
    stat_ks_uniform — the rotation-invariant variant that keeps equal
    sensitivity at the distribution's tails (Kuiper 1960), the right
    screen for cyclic drift in a hash ladder. Same exact-integer EDF
    machinery; V is the sum of the two single-division doubles, one
    fixed-order addition on both engines."""
    edf = _unif_edf(spark, sf_dir)
    scale = F.col("n").cast("double") * F.lit(16777216.0)
    return edf.select(
        "n",
        (
            F.col("dp_s").cast("double") / scale
            + F.col("dm_s").cast("double") / scale
        ).alias("v_stat"),
    )


# ---------------------------------------------------------------------------
# stat_median_polish — Tukey two-way decomposition of the year x
# segment revenue grid


_YEARSEG_CENTS_SQL = f"""
        daily AS ({SEG_DAILY_SQL}),
        cell AS (
            SELECT EXTRACT(year FROM d) AS y, segment,
                   CAST(CAST(SUM(x) AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM daily GROUP BY 1, 2
        ),
        yrs AS (SELECT DISTINCT y FROM cell),
        sgs AS (SELECT DISTINCT segment FROM cell),
        grid AS (
            SELECT yrs.y, sgs.segment, COALESCE(cell.v, 0) AS v
            FROM yrs CROSS JOIN sgs
            LEFT JOIN cell ON cell.y = yrs.y AND cell.segment = sgs.segment
        )
"""


# lower-median (the (n+1)//2-th order statistic): integer-exact for
# ANY count parity — the convention this operator pins (a mean-of-
# middles median would leave integers for the odd 7x5 fixture grid but
# break exactness if a year or segment ever dropped out)
_LOMED_ROW = """
            SELECT *,
                   CAST(MAX({med}) OVER (PARTITION BY {part}) AS BIGINT) AS med
            FROM (
                SELECT *,
                       CASE WHEN ROW_NUMBER() OVER (
                                PARTITION BY {part} ORDER BY {val}, {tie})
                            = (COUNT(*) OVER (PARTITION BY {part}) + 1) / 2
                            THEN {val} END AS {med}
                FROM {src}
            )
"""


def _lomed(df: DataFrame, part: str, val: str, tie: str) -> DataFrame:
    """Attach the lower median of ``val`` within ``part`` as `med`."""
    wrn = Window.partitionBy(part).orderBy(val, tie)
    wall = Window.partitionBy(part)
    picked = df.withColumn(
        "_pick",
        F.when(
            F.row_number().over(wrn)
            == (F.count(F.lit(1)).over(wall) + 1) / 2,
            F.col(val),
        ),
    )
    return picked.withColumn(
        "med", F.max("_pick").over(wall).cast("bigint")
    ).drop("_pick")


@register(
    "stat_median_polish",
    tags=("stats", "window"),
    oracle=f"""
        WITH {_YEARSEG_CENTS_SQL},
        r1 AS (
            SELECT y, segment, v - med AS v, med AS ay FROM (
                {_LOMED_ROW.format(src="grid", part="y", val="v",
                                   tie="segment", med="m1")}
            )
        ),
        r2 AS (
            SELECT y, segment, v - med AS v, ay, med AS bs FROM (
                {_LOMED_ROW.format(src="r1", part="segment", val="v",
                                   tie="y", med="m2")}
            )
        ),
        r3 AS (
            SELECT y, segment, v - med AS v, ay + med AS ay, bs FROM (
                {_LOMED_ROW.format(src="r2", part="y", val="v",
                                   tie="segment", med="m3")}
            )
        ),
        r4 AS (
            SELECT y, segment, v - med AS v, ay, bs + med AS bs FROM (
                {_LOMED_ROW.format(src="r3", part="segment", val="v",
                                   tie="y", med="m4")}
            )
        ),
        ma AS (
            SELECT CAST(MAX(CASE WHEN rn = (cnt + 1) / 2 THEN ay END)
                        AS BIGINT) AS med_a
            FROM (SELECT ay,
                         ROW_NUMBER() OVER (ORDER BY ay, y) AS rn,
                         COUNT(*) OVER () AS cnt
                  FROM (SELECT DISTINCT y, ay FROM r4))
        ),
        mb AS (
            SELECT CAST(MAX(CASE WHEN rn = (cnt + 1) / 2 THEN bs END)
                        AS BIGINT) AS med_b
            FROM (SELECT bs,
                         ROW_NUMBER() OVER (ORDER BY bs, segment) AS rn,
                         COUNT(*) OVER () AS cnt
                  FROM (SELECT DISTINCT segment, bs FROM r4))
        )
        SELECT CAST(r4.y AS BIGINT) AS year, r4.segment,
               CAST(r4.v AS DOUBLE) / CAST(100 AS DOUBLE) AS residual,
               CAST(r4.ay - ma.med_a AS DOUBLE) / CAST(100 AS DOUBLE)
                   AS row_effect,
               CAST(r4.bs - mb.med_b AS DOUBLE) / CAST(100 AS DOUBLE)
                   AS col_effect,
               CAST(ma.med_a + mb.med_b AS DOUBLE) / CAST(100 AS DOUBLE)
                   AS overall
        FROM r4 CROSS JOIN ma CROSS JOIN mb
        ORDER BY year, segment
    """,
)
def stat_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish of the year x segment revenue grid — the
    robust two-way decomposition v = overall + row + col + residual
    (Tukey 1977, EDA ch. 11), TWO full row-then-column sweeps with
    effects re-centered by their own medians at the end. Convention
    pinned for exactness: every median is the LOWER median (the
    (n+1)//2-th order statistic, deterministic tie-break by the entity
    key), so the whole decomposition stays in INTEGER cents end-to-end
    for any grid parity — each cell crosses to double exactly once at
    presentation (/100 in double, identical both engines). Absent
    cells enter as exact 0 via the full grid (the fin_active_share
    lesson). Scale: corpus work is the shared daily agg; all four
    sweeps and the effect re-centering run on the |years| x |segments|
    grid relation (35 rows) with bounded windows."""
    daily = seg_daily(spark, sf_dir)
    cell = daily.groupBy(
        F.year("d").alias("y"), "segment"
    ).agg(
        (F.sum("x").cast("decimal(18,2)") * 100).cast("bigint").alias("v")
    )
    yrs = cell.select("y").distinct()
    sgs = cell.select("segment").distinct()
    grid = (
        yrs.crossJoin(F.broadcast(sgs))
        .join(F.broadcast(cell), ["y", "segment"], "left")
        .select(
            "y", "segment", F.coalesce(F.col("v"), F.lit(0)).alias("v")
        )
    )
    r1 = _lomed(grid, "y", "v", "segment").select(
        "y", "segment", (F.col("v") - F.col("med")).alias("v"),
        F.col("med").alias("ay"),
    )
    r2 = _lomed(r1, "segment", "v", "y").select(
        "y", "segment", (F.col("v") - F.col("med")).alias("v"),
        "ay", F.col("med").alias("bs"),
    )
    r3 = _lomed(r2, "y", "v", "segment").select(
        "y", "segment", (F.col("v") - F.col("med")).alias("v"),
        (F.col("ay") + F.col("med")).alias("ay"), "bs",
    )
    r4 = _lomed(r3, "segment", "v", "y").select(
        "y", "segment", (F.col("v") - F.col("med")).alias("v"),
        "ay", (F.col("bs") + F.col("med")).alias("bs"),
    )

    def _global_lomed(df, val, tie, out):
        wrn = Window.orderBy(val, tie)  # effect-sized relation only
        wall = Window.partitionBy(F.lit(1))
        return (
            df.withColumn(
                "_pick",
                F.when(
                    F.row_number().over(wrn)
                    == (F.count(F.lit(1)).over(wall) + 1) / 2,
                    F.col(val),
                ),
            )
            .agg(F.max("_pick").cast("bigint").alias(out))
        )

    ma = _global_lomed(r4.select("y", "ay").distinct(), "ay", "y", "med_a")
    mb = _global_lomed(
        r4.select("segment", "bs").distinct(), "bs", "segment", "med_b"
    )
    return (
        r4.crossJoin(F.broadcast(ma))
        .crossJoin(F.broadcast(mb))
        .select(
            F.col("y").cast("bigint").alias("year"),
            "segment",
            (F.col("v").cast("double") / F.lit(100.0)).alias("residual"),
            ((F.col("ay") - F.col("med_a")).cast("double") / F.lit(100.0))
            .alias("row_effect"),
            ((F.col("bs") - F.col("med_b")).cast("double") / F.lit(100.0))
            .alias("col_effect"),
            ((F.col("med_a") + F.col("med_b")).cast("double") / F.lit(100.0))
            .alias("overall"),
        )
        .orderBy("year", "segment")
    )


# ---------------------------------------------------------------------------
# stat_trimmed_mean / stat_bowley_skew — bucket+carry order statistics


_CENTS_CUM_SQL = """
        cents AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS v
            FROM orders
        ),
        vals AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM cents GROUP BY v
        ),
        cum AS (
            SELECT v, cnt,
                   CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS c,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS n
            FROM vals
        )
"""


def _cents_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, cnt, c, n): distinct order-total cents with cumulative and
    total counts — the bucket+carry rank relation shared by the exact
    order-statistic operators. The Spark cumulative runs over the
    DISTINCT-VALUE relation (value-domain-bounded), not corpus rows;
    the oracle's plain window is equivalent on the same relation."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v")
    )
    vals = cents.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wv = Window.orderBy("v")  # distinct-value relation: domain-bounded
    return vals.select(
        "v",
        "cnt",
        F.sum("cnt").over(wv).cast("bigint").alias("c"),
        F.sum("cnt").over(Window.partitionBy(F.lit(1)))
        .cast("bigint")
        .alias("n"),
    )


@register(
    "stat_trimmed_mean",
    tags=("stats", "window", "agg"),
    oracle=f"""
        WITH {_CENTS_CUM_SQL},
        parts AS (
            SELECT n, n // 20 AS k,
                   CAST(SUM(CAST(v AS DECIMAL(19,0)) * cnt) AS DECIMAL(38,0))
                       AS total,
                   CAST(SUM(CAST(v AS DECIMAL(19,0))
                            * LEAST(cnt, GREATEST(
                                CAST(0 AS BIGINT), n // 20 - (c - cnt))))
                        AS DECIMAL(38,0)) AS bot,
                   CAST(SUM(CAST(v AS DECIMAL(19,0))
                            * LEAST(cnt, GREATEST(
                                CAST(0 AS BIGINT), c - (n - n // 20))))
                        AS DECIMAL(38,0)) AS top
            FROM cum GROUP BY n
        )
        SELECT n, CAST(k AS BIGINT) AS k_each_side,
               CASE WHEN n - 2 * k > 0 THEN
                 CAST(CAST(total - bot - top AS VARCHAR) AS DOUBLE)
                   / (CAST(n - 2 * k AS DOUBLE) * CAST(100 AS DOUBLE))
               END AS trimmed_mean
        FROM parts
    """,
)
def stat_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-each-side trimmed mean of order value: drop the k = n div 20
    smallest and largest observations (integer k, convention pinned)
    and average the middle — the robust location estimate that pairs
    with stat_median_polish's robust decomposition. NO global sort:
    the bottom-k and top-k sums come from the distinct-value
    bucket+carry relation (each value contributes
    clamp(k - rank_before, 0, cnt) tail members — exact integer
    clamps), all three sums accumulate in DECIMAL, one VARCHAR-routed
    division at the edge. Degenerate n <= 2k NULLs identically. Corpus
    work: one value-histogram agg; the cumulative rides the
    domain-bounded distinct-value relation."""
    cum = _cents_cum(spark, sf_dir)
    k = F.expr("n div 20")
    vdec = F.col("v").cast("decimal(19,0)")
    bot_take = F.least(
        F.col("cnt"),
        F.greatest(F.lit(0).cast("bigint"), k - (F.col("c") - F.col("cnt"))),
    )
    top_take = F.least(
        F.col("cnt"),
        F.greatest(
            F.lit(0).cast("bigint"), F.col("c") - (F.col("n") - k)
        ),
    )
    parts = cum.groupBy("n").agg(
        as_d(
            F.sum(vdec * F.col("cnt")).cast("decimal(38,0)")
            - F.sum(vdec * bot_take).cast("decimal(38,0)")
            - F.sum(vdec * top_take).cast("decimal(38,0)")
        ).alias("mid"),
    )
    kk = F.expr("n div 20")
    return parts.select(
        "n",
        kk.cast("bigint").alias("k_each_side"),
        F.when(
            F.col("n") - 2 * kk > 0,
            F.col("mid")
            / ((F.col("n") - 2 * kk).cast("double") * F.lit(100.0)),
        ).alias("trimmed_mean"),
    )


@register(
    "stat_bowley_skew",
    tags=("stats", "window"),
    oracle=f"""
        WITH {_CENTS_CUM_SQL},
        qs AS (
            SELECT
                MAX(CASE WHEN c - cnt < (n + 3) // 4
                          AND c >= (n + 3) // 4 THEN v END) AS q1,
                MAX(CASE WHEN c - cnt < (n + 1) // 2
                          AND c >= (n + 1) // 2 THEN v END) AS q2,
                MAX(CASE WHEN c - cnt < (3 * n + 1) // 4
                          AND c >= (3 * n + 1) // 4 THEN v END) AS q3,
                MAX(n) AS n
            FROM cum
        )
        SELECT n, CAST(q1 AS BIGINT) AS q1_cents,
               CAST(q2 AS BIGINT) AS q2_cents,
               CAST(q3 AS BIGINT) AS q3_cents,
               CASE WHEN q3 > q1 THEN
                 CAST(q3 + q1 - 2 * q2 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
               END AS bowley_skew
        FROM qs
    """,
)
def stat_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of order value: (Q3 + Q1 - 2*Q2) /
    (Q3 - Q1) — the outlier-immune skew that complements the moment
    skew in stat_jarque_bera / agg_skew_kurtosis_exact. Quartiles are
    PINNED exact order statistics (ranks ceil(n/4), ceil(n/2),
    ceil(3n/4) — integer rank arithmetic, no engine interpolation
    convention), located on the distinct-value bucket+carry cumulative
    (the value whose rank range covers the target — one conditional
    max, no global sort). Numerator/denominator are exact integers;
    one guarded division. IQR = 0 NULLs identically."""
    cum = _cents_cum(spark, sf_dir)

    def order_stat(rank_expr):
        return F.max(
            F.when(
                (F.col("c") - F.col("cnt") < rank_expr)
                & (F.col("c") >= rank_expr),
                F.col("v"),
            )
        )

    r1 = F.expr("(n + 3) div 4")
    r2 = F.expr("(n + 1) div 2")
    r3 = F.expr("(3 * n + 1) div 4")
    qs = cum.agg(
        order_stat(r1).alias("q1"),
        order_stat(r2).alias("q2"),
        order_stat(r3).alias("q3"),
        F.max("n").alias("n"),
    )
    return qs.select(
        "n",
        F.col("q1").cast("bigint").alias("q1_cents"),
        F.col("q2").cast("bigint").alias("q2_cents"),
        F.col("q3").cast("bigint").alias("q3_cents"),
        F.when(
            F.col("q3") > F.col("q1"),
            (F.col("q3") + F.col("q1") - 2 * F.col("q2")).cast("double")
            / (F.col("q3") - F.col("q1")).cast("double"),
        ).alias("bowley_skew"),
    )


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
# md5 ladder vs U(0,1), completing the KS/Kuiper family

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
    — the _unif_edf machinery re-exposed at row granularity:
    u_i = k_i/2^24 exact rational; the rank avoids a global sort via
    256 top-byte buckets + a bounded bucket-offset carry; identical i
    to the oracle's plain ROW_NUMBER because both order by (k, key)."""
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
