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

from finance_etl_spark.functions.money import as_d, fsum, o_fsum, o_ordered_fold_sum
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.recipes import (
    DAILY_SCALED_SQL,
    EVENT_DAILY_SQL,
    PHI2_CELL_SQL,
    daily_scaled,
    event_daily,
    midranks2,
    ncdf_sql,
    phi2_cell,
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

# Poisson(1) inverse-CDF ladder over a 16-bit md5 bucket: the exact
# integer thresholds floor(CDF(k) * 65536). Poissonized resampling is
# the standard distributed approximation of the multinomial bootstrap
# (each row's multiplicity in a resample of n rows -> Poisson(1) as
# n grows; Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", Google TR 2012) — and unlike the multinomial it needs no
# global coordination: each (row, replicate) draws independently.
_POIS_THRESH = (24109, 48218, 60273, 64291, 65296, 65497, 65530, 65535)
_N_BOOT = 64


def _pois_case_sql(u: str) -> str:
    """CASE ladder mapping a 16-bit uniform to a Poisson(1) draw."""
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_THRESH)
    )
    return f"CASE {arms} ELSE {len(_POIS_THRESH)} END"


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
                   {_pois_case_sql(
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
    w = F.when(u < _POIS_THRESH[0], 0)
    for idx, t in enumerate(_POIS_THRESH[1:], start=1):
        w = w.when(u < t, idx)
    w = w.otherwise(len(_POIS_THRESH))
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
