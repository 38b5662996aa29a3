"""Core relational operator coverage (SURVEY.md §2.B: scans, projection,
filter, joins of every type, aggregation, windows, sort/limit, set ops).

Most queries are their oracle text run on Spark (``registry.run_sql``);
the rest are DataFrame lineages where they exercise a DataFrame-only
surface, an operator, or a plan the text does not reach. Either way scans
feed Catalyst directly so predicate pushdown / column pruning reach the
parquet reader, and money aggregates use the exact decimal recipe from
functions.money (order/partition independent — safe on a 1000-executor
cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import (
    cents,
    dsum,
    dsum_cents,
    o_davg,
    o_dsum,
    o_lsum,
)
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.recipes import DAILY_Q6_SQL, SEG_DAILY_SQL, daily_q6
from finance_etl_spark.plans.registry import register, run_sql, scratch_dir


# ---------------------------------------------------------------------------
# Scan + filter + aggregate + sort (TPC-H Q1 shape) — flagship.

@register(
    "q1_pricing_summary",
    headline=True,
    tags=("agg", "filter", "sort"),
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {o_dsum('l_quantity')} AS sum_qty,
               {o_dsum('l_extendedprice')} AS sum_base_price,
               {o_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {o_dsum(
                   'l_extendedprice * (1 - l_discount) * (1 + l_tax)',
               )} AS sum_charge,
               {o_davg('l_quantity')} AS avg_qty,
               {o_davg('l_extendedprice')} AS avg_price,
               {o_davg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: scan→filter→hash-agg→sort.

    The shipdate filter and the 11-column projection push down to the
    parquet scan; partial aggregation runs map-side so the shuffle
    carries ≤ (flags × statuses) rows per partition regardless of SF.
    The adaptive loader spreads the partial-agg work across cores when
    the table's physical layout under-splits (fewer row groups than
    cores); on a well-laid-out table it adds nothing.

    Round-16 reshape (guide §1.2 step 2 — per-task work): the four
    dsum aggregates ran every row through four BigDecimal casts+adds
    (decimal(30,10) has no compact fast path at precision 30). All
    money columns are non-negative nearest-double encodings of ≤2-dp
    rationals, so the cents quantization k = floor(x·100 + 0.5) is
    exact, and the derived products stay exact integers: disc_i =
    p_c·(100−d_c) (scale 4, ≤ 1.05e9/row) and charge_i =
    disc_i·(100+t_c) (scale 6, ≤ 1.14e11/row — plain long multiplies).
    Bit-identity with dsum's decimal(30,10) cast of the DOUBLE
    products needs the double to round to the exact rational at 10 dp:
    worst-case IEEE error of p·(1−d) is < 3.5e-11 and of
    p·(1−d)·(1+t) < 6.4e-11 against a 5e-11 half-grid — the first is a
    theorem, the second is verified per row over every SF
    (tests/test_recipes.py::test_q1_cents_exact_per_row: 0 mismatches
    over 666k rows), and the oracle hash gate re-proves it end to end.
    Sums accumulate in DECIMAL(38,0) (compact-long fast path,
    overflow-safe at any SF) with one exact decimal division per group
    at the 4-row edge. The win is per-row long arithmetic replacing
    BigDecimal casts; the shuffle still carries decimal(38,0)
    partial-sum buffers, and the round-robin exchange below the cents
    projection carries the raw doubles.
    """
    from finance_etl_spark.io.readers import load_table_parallel

    li = load_table_parallel(spark, sf_dir, "lineitem")
    qc, pc = cents("l_quantity"), cents("l_extendedprice")
    dc, tc = cents("l_discount"), cents("l_tax")
    disc_i = pc * (100 - dc)
    charge_i = disc_i * (100 + tc)
    rows = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        qc.alias("qc"),
        pc.alias("pc"),
        dc.alias("dc"),
        disc_i.alias("disc_i"),
        charge_i.alias("charge_i"),
    )
    return (
        rows.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_cents("qc", 100).alias("sum_qty"),
            dsum_cents("pc", 100).alias("sum_base_price"),
            dsum_cents("disc_i", 10_000).alias("sum_disc_price"),
            dsum_cents("charge_i", 1_000_000).alias("sum_charge"),
            (dsum_cents("qc", 100) / F.count("qc")).alias("avg_qty"),
            (dsum_cents("pc", 100) / F.count("pc")).alias("avg_price"),
            (dsum_cents("dc", 100) / F.count("dc")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Filter surface: compound predicates, IN, BETWEEN, LIKE, null-safe equality.

@register(
    "filter_predicates",
    tags=("filter",),
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
          AND o_totalprice BETWEEN 100000 AND 200000
          AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
          AND NOT (o_custkey = 42)
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate pushdown: IN + BETWEEN + LIKE + NOT."""
    return run_sql(spark, sf_dir, "filter_predicates")


@register(
    "filter_null_safe_eq",
    tags=("filter", "null"),
    oracle="""
        SELECT c_custkey,
               NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
               (NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL) AS is_building
        FROM customer
        WHERE c_custkey <= 100
    """,
)
def filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=>) over an injected-null column."""
    return run_sql(spark, sf_dir, "filter_null_safe_eq")


# ---------------------------------------------------------------------------
# Joins: inner / left / full / semi / anti / cross / broadcast.

@register(
    "join_inner_agg",
    headline=True,
    tags=("join", "agg"),
    oracle=f"""
        SELECT c.c_mktsegment,
               COUNT(*) AS n_orders,
               {o_dsum('o.o_totalprice')} AS total_revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join + aggregation; dim side broadcast."""
    return run_sql(spark, sf_dir, "join_inner_agg")


@register(
    "join_left_outer",
    tags=("join",),
    oracle="""
        SELECT c.c_custkey, c.c_mktsegment, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count = 0)."""
    return run_sql(spark, sf_dir, "join_left_outer")


@register(
    "join_full_outer",
    tags=("join",),
    oracle="""
        WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
             ss AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
        SELECT COALESCE(cc.nk, ss.nk) AS nationkey,
               COALESCE(cc.n_cust, 0) AS n_cust,
               COALESCE(ss.n_supp, 0) AS n_supp
        FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (nulls on both)."""
    return run_sql(spark, sf_dir, "join_full_outer")


@register(
    "join_left_semi",
    tags=("join",),
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with a >400k order."""
    return run_sql(spark, sf_dir, "join_left_semi")


@register(
    "join_left_anti",
    tags=("join", "dedup"),
    oracle="""
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no orders.

    Same primitive as the reference's incremental dedup
    (reference: utils/data_manager.py:185-195).
    """
    return run_sql(spark, sf_dir, "join_left_anti")


@register(
    "join_broadcast_chain",
    headline=True,
    tags=("join", "agg"),
    oracle=f"""
        SELECT r.r_name AS region, n.n_name AS nation,
               COUNT(*) AS n_customers,
               {o_dsum('c.c_acctbal')} AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """,
)
def join_broadcast_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dim chain: fact ⋈ nation ⋈ region, both dims broadcast
    — zero shuffles until the final aggregation."""
    return run_sql(spark, sf_dir, "join_broadcast_chain")


@register(
    "join_cross",
    tags=("join",),
    oracle="""
        SELECT r.r_name, n.n_name
        FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two small dims (125 rows)."""
    return run_sql(spark, sf_dir, "join_cross")


@register(
    "join_theta_non_equi",
    tags=("join",),
    oracle="""
        SELECT s.s_suppkey, COUNT(*) AS n_richer_customers
        FROM supplier s JOIN customer c ON c.c_acctbal > s.s_acctbal
        GROUP BY s.s_suppkey
    """,
)
def join_theta_non_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join: broadcast-nested-loop on an inequality.

    The small side is broadcast so the inequality is evaluated without a
    shuffle; at scale this only works when one side is dimension-sized —
    which is exactly the supported contract for theta joins. SCALE
    CONTRACT (documented exemption from the no-SF-scaling-broadcast
    rule): an arbitrary theta join has no shuffle strategy — BNLJ
    requires a broadcast side by construction, and the planner picks
    the smaller relation (supplier) by its size, with no shuffle
    alternative to override; when neither side is broadcastable the
    operator must be rewritten (for this accumulating-comparison shape:
    the bucket+carry ECDF join, the house stat_ks_two_sample pattern).
    """
    return run_sql(spark, sf_dir, "join_theta_non_equi")


# ---------------------------------------------------------------------------
# Aggregation breadth: distinct, rollup, cube, grouping sets, pivot.

@register(
    "agg_count_distinct",
    tags=("agg",),
    oracle="""
        SELECT c_mktsegment,
               COUNT(DISTINCT c_nationkey) AS n_nations,
               COUNT(*) AS n_customers
        FROM customer GROUP BY c_mktsegment
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand+two-phase under AQE)."""
    return run_sql(spark, sf_dir, "agg_count_distinct")


@register(
    "agg_rollup",
    tags=("agg",),
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {o_dsum('l_quantity')} AS sum_qty, COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total)."""
    return run_sql(spark, sf_dir, "agg_rollup")


@register(
    "agg_cube",
    tags=("agg",),
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {o_dsum('l_extendedprice')} AS sum_price
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    return run_sql(spark, sf_dir, "agg_cube")


_GROUPING_SETS_SQL = """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


@register(
    "agg_grouping_sets",
    tags=("agg", "sql"),
    oracle=_GROUPING_SETS_SQL,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API."""
    return run_sql(spark, sf_dir, "agg_grouping_sets")


@register(
    "agg_pivot",
    tags=("agg", "pivot"),
    oracle=f"""
        SELECT l_returnflag,
               {o_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O,
               {o_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list → no extra scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )


@register("agg_approx_distinct", tags=("agg", "approx"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (engine-specific sketch — no
    cross-engine oracle; rows-only check + pytest bounds vs exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


# ---------------------------------------------------------------------------
# Windows: ranking, analytic, frames.

@register(
    "window_topk_per_group",
    headline=True,
    tags=("window", "topk"),
    oracle="""
        SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
            SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment: row_number with a unique
    tiebreaker (orderkey) so results are total-order deterministic; the
    window is hash-partitioned on the segment."""
    return run_sql(spark, sf_dir, "window_topk_per_group")


@register(
    "window_rank_dense_ntile",
    tags=("window",),
    oracle="""
        SELECT s_suppkey, s_nationkey, s_acctbal,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               NTILE(3) OVER w AS bucket
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile per nation. The window partitions on
    the grouping key so every task handles one nation's suppliers —
    no single-task global sort (the global-ranking case is covered by
    window_global_row_number via the two-pass operator)."""
    return run_sql(spark, sf_dir, "window_rank_dense_ntile")


@register(
    "window_global_row_number",
    tags=("window", "rank"),
    oracle="""
        SELECT s_suppkey, s_acctbal,
               CAST(ROW_NUMBER() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT) AS rn
        FROM supplier
    """,
)
def window_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering via the two-pass range-partitioned operator
    (operators/ranks.py) — globally ordered partitions + local
    row_number + metadata-sized offsets, instead of an unpartitioned
    window that would serialize the whole table through one task."""
    from finance_etl_spark.operators.ranks import global_row_number

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    return global_row_number(
        s, [F.col("s_acctbal").desc(), F.col("s_suppkey")], out_col="rn"
    )


@register(
    "window_running_balance",
    headline=True,
    tags=("window", "frame"),
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS VARCHAR) AS DOUBLE) AS running_total
        FROM orders
    """,
)
def window_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running account balance: cumulative decimal-exact sum per customer.

    The frame sum is computed in decimal so the cumulative value is
    bit-stable regardless of how the window partitions are scheduled.
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(30,10)")).over(w).cast("double").alias("running_total"),
    )


@register(
    "window_lag_lead_mom",
    tags=("window", "analytic"),
    oracle=f"""
        WITH m AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS ym,
                   {o_dsum('o_totalprice')} AS revenue
            FROM orders GROUP BY 1
        )
        SELECT ym, revenue,
               LAG(revenue) OVER (ORDER BY ym) AS prev_revenue,
               LEAD(revenue) OVER (ORDER BY ym) AS next_revenue,
               revenue - COALESCE(LAG(revenue) OVER (ORDER BY ym), 0) AS mom_delta
        FROM m
    """,
)
def window_lag_lead_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas via lag/lead."""
    return run_sql(spark, sf_dir, "window_lag_lead_mom")


@register(
    "window_range_frame",
    tags=("window", "frame"),
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                              RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS n_similar
        FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: count of same-customer orders within ±10k price."""
    return run_sql(spark, sf_dir, "window_range_frame")


@register(
    "window_first_last",
    tags=("window", "analytic"),
    oracle="""
        SELECT DISTINCT o_custkey,
               FIRST_VALUE(o_orderkey) OVER w AS first_order,
               LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last order per customer over a full-partition frame."""
    return run_sql(spark, sf_dir, "window_first_last")


# ---------------------------------------------------------------------------
# Sort / limit / set operations.

@register(
    "sort_limit_topn",
    tags=("sort", "limit"),
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
)
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — no full sort,
    each partition keeps N rows, the driver merges (scale-safe)."""
    return run_sql(spark, sf_dir, "sort_limit_topn")


@register(
    "sort_multi_key_nulls",
    tags=("sort", "null"),
    oracle="""
        SELECT c_custkey, NULLIF(c_mktsegment, 'MACHINERY') AS seg
        FROM customer
        WHERE c_custkey <= 50
        ORDER BY seg NULLS FIRST, c_custkey DESC
    """,
)
def sort_multi_key_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULLS FIRST placement."""
    return run_sql(spark, sf_dir, "sort_multi_key_nulls")


@register(
    "set_union_all",
    tags=("setop",),
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics, duplicates preserved)."""
    return run_sql(spark, sf_dir, "set_union_all")


@register(
    "set_union_distinct",
    tags=("setop",),
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        UNION
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set semantics): one hash-dedup shuffle over the combined
    branches — Spark plans the distinct as a partial+final aggregate,
    so duplicates collapse map-side before the exchange."""
    return run_sql(spark, sf_dir, "set_union_distinct")


@register(
    "set_intersect",
    tags=("setop",),
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers active in both years."""
    return run_sql(spark, sf_dir, "set_intersect")


@register(
    "set_except",
    tags=("setop",),
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers active in 1995 but not 1996."""
    return run_sql(spark, sf_dir, "set_except")


@register(
    "distinct_rows",
    tags=("setop", "dedup"),
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (hash-dedup of the key pair)."""
    return run_sql(spark, sf_dir, "distinct_rows")


# ---------------------------------------------------------------------------
# Subqueries (correlated EXISTS handled by join_left_semi; here: IN + scalar).

_SUBQUERY_IN_SQL = """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          AND o_totalprice > 350000
"""


@register(
    "subquery_in",
    tags=("subquery", "sql"),
    oracle=_SUBQUERY_IN_SQL,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery (planned as a left-semi join by Catalyst)."""
    return run_sql(spark, sf_dir, "subquery_in")


@register(
    "subquery_scalar",
    tags=("subquery", "sql"),
    oracle=f"""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (SELECT {o_davg('o_totalprice')} * 1.9 FROM orders)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (orders ≥ 1.9× the mean price)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                   / COUNT(o_totalprice) * 1.9
            FROM orders)
        """
    )


@register(
    "agg_salted_hot_key",
    tags=("agg", "skew"),
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               {o_dsum('l_extendedprice')} AS sum_price,
               MAX(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation on a 3-value hot key via salted two-stage
    agg (operators/skew.py): no reducer ever receives a whole key's
    data. Decimal partials re-aggregate exactly, so the result is
    bit-identical to the direct groupBy oracle."""
    from finance_etl_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    partial = [
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("l_extendedprice").cast("decimal(30,10)")).alias("ps"),
        F.max("l_quantity").alias("pm"),
    ]
    merge = [
        F.sum("pn").alias("n_rows"),
        F.sum("ps").cast("double").alias("sum_price"),
        F.max("pm").alias("max_qty"),
    ]
    return salted_agg(li, ["l_returnflag"], partial, merge, n_salts=16)


@register(
    "agg_percentiles",
    tags=("agg", "percentile"),
    oracle="""
        SELECT o_orderstatus,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
               percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99
        FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`: both linear interpolation). The approximate
    path for 100-TB cardinalities is percentile_approx (KLL-sketch-
    style, engine-specific — covered rows-only via agg_approx_distinct's
    pattern)."""
    return run_sql(spark, sf_dir, "agg_percentiles")


@register(
    "join_bucketed_colocated",
    tags=("join", "bucketing", "scale"),
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               COUNT(*) AS n_orders,
               {o_dsum('o.o_totalprice')} AS total_spend
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle join+agg via bucketing: both sides are written as
    catalog tables bucketed (and sorted) on the join key with the same
    bucket count, so the sort-merge join needs NO Exchange on either
    side — and the per-customer aggregate reuses the same partitioning,
    so the whole pipeline runs shuffle-free (asserted in
    tests/test_plan_shapes.py). This is the co-located-join strategy
    for repeated fact/dim joins at 100 TB: pay the partitioning once at
    write time, never again at read time."""
    spark.sql("CREATE DATABASE IF NOT EXISTS engine_buckets")
    loc = scratch_dir("buckets_")
    sides = {
        "cust_b": (
            load_table(spark, sf_dir, "customer").select("c_custkey", "c_name"),
            "c_custkey",
        ),
        "ord_b": (
            load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
            "o_custkey",
        ),
    }
    for name, (df, key) in sides.items():
        spark.sql(f"DROP TABLE IF EXISTS engine_buckets.{name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{loc}/{name}")
            .mode("overwrite")
            .saveAsTable(f"engine_buckets.{name}")
        )
    c = spark.table("engine_buckets.cust_b")
    o = spark.table("engine_buckets.ord_b")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
    )


@register("agg_approx_quantiles", tags=("agg", "percentile", "sketch"))
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group percentiles via percentile_approx
    (Greenwald-Khanna sketch, accuracy 10000 => rank error <= 1/10000)
    — the mergeable-sketch path that replaces agg_percentiles' exact
    sort-based percentile at 100-TB cardinalities: partial sketches
    combine map-side, the shuffle carries one sketch per group, never
    the values. Rows-only (sketch internals are engine-specific);
    tests/test_plan_shapes.py pins the rank-error contract against the
    exact query."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90"),
        F.percentile_approx("o_totalprice", 0.99, 10000).alias("p99"),
    )


@register(
    "agg_arg_max_struct",
    tags=("agg", "struct"),
    oracle="""
        WITH j AS (
            SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
                   row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
            FROM j
        )
        SELECT c_mktsegment,
               MAX(CASE WHEN rn_max = 1 THEN o_orderkey END) AS top_orderkey,
               MAX(o_totalprice) AS top_price,
               MAX(CASE WHEN rn_min = 1 THEN o_orderkey END) AS bottom_orderkey
        FROM r GROUP BY c_mktsegment
    """,
)
def agg_arg_max_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_max/arg_min with deterministic tie-breaking via STRUCT
    ordering: the ordering key is (price, orderkey), so equal prices
    resolve by key — lexicographic struct comparison in Spark ==
    tuple comparison in DuckDB. One hash agg; no window, no self-join
    (the classic 'row of the max' anti-pattern at scale)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("o_orderkey", key).alias("top_orderkey"),
            F.max("o_totalprice").alias("top_price"),
            F.min_by("o_orderkey", key).alias("bottom_orderkey"),
        )
    )


@register(
    "sql_recursive_spine",
    tags=("sql", "recursive", "window"),
    oracle="""
        WITH RECURSIVE spine(m) AS (
            SELECT date_trunc('month', (SELECT MIN(o_orderdate) FROM orders))
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM spine
            WHERE m < date_trunc('month', (SELECT MAX(o_orderdate) FROM orders))
        ),
        rev AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT CAST(spine.m AS DATE) AS month_start,
               COALESCE(rev.n_orders, 0) AS n_orders,
               rev.n_orders IS NULL AS is_gap
        FROM spine LEFT JOIN rev ON spine.m = rev.m
    """,
)
def sql_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) generating a gap-free
    monthly time spine between the first and last order date, left
    joined to per-month order counts — the standard report gap-filling
    pattern, expressed through the SQL parser rather than the DataFrame
    API. The recursion depth is the month span (bounded by the
    calendar, not the data volume); each iteration is one row, and the
    spine side of the join broadcasts. The date BOUNDS are computed
    once driver-side (two metadata-sized scalars) and injected as
    literals: leaving them as scalar subqueries inside the recursive
    step made Spark re-evaluate the MAX() scan on EVERY iteration —
    ~80 fact scans (11 s at sf0.01; 7 s with literals). The remaining
    cost is the recursion executor itself — 80 sequential one-row
    micro-jobs — which is CONSTANT in data volume (calendar-bounded),
    not a scale risk."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    lo, hi = orders.agg(
        F.min("o_orderdate").cast("date"), F.max("o_orderdate").cast("date")
    ).first()
    return spark.sql(
        f"""
        WITH RECURSIVE spine(m) AS (
            SELECT date_trunc('month', CAST('{lo}' AS DATE))
            UNION ALL
            SELECT m + INTERVAL '1' MONTH FROM spine
            WHERE m < date_trunc('month', CAST('{hi}' AS DATE))
        ),
        rev AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT CAST(spine.m AS DATE) AS month_start,
               COALESCE(rev.n_orders, 0) AS n_orders,
               rev.n_orders IS NULL AS is_gap
        FROM spine LEFT JOIN rev ON spine.m = rev.m
        """
    )


# ---------------------------------------------------------------------------
# Multi-join analytics headliner (TPC-H Q3 shape).

@register(
    "q3_shipping_priority",
    headline=True,
    tags=("join", "agg", "topk", "tpch"),
    oracle=f"""
        SELECT l.l_orderkey,
               {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-03-15'
          AND l.l_shipdate > TIMESTAMP '1997-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey ASC
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority report (TPC-H Q3 shape): selective filters on
    all three tables push down to the scans BEFORE the joins, the
    filtered customer side is AQE-sized (broadcast while it fits — no
    orders-by-custkey shuffle at shipped SFs — shuffled at scale),
    and the final top-10 plans as TakeOrderedAndProject — each partition
    keeps 10 rows, the driver merges, nothing resembling a global sort.
    Unique l_orderkey tiebreak makes the LIMIT deterministic."""
    return run_sql(spark, sf_dir, "q3_shipping_priority")


@register(
    "window_distribution_funcs",
    tags=("window", "analytic"),
    oracle="""
        SELECT DISTINCT o_custkey,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS second_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, pr
    """,
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank ((rank-1)/(n-1)) and
    cume_dist (both single IEEE divisions — engine-deterministic) plus
    nth_value over a full-partition frame. Hash-partitioned on
    o_custkey; the three functions share one window sort."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_order"),
    ).distinct()


@register(
    "null_handling_fill_drop",
    tags=("scalar", "null"),
    oracle=f"""
        WITH sparse AS (
            SELECT o_orderkey, o_totalprice,
                   CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
                        ELSE o_totalprice END AS weighted
            FROM orders
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(weighted) AS BIGINT) AS n_after_drop,
               {o_dsum('COALESCE(weighted, 0.0)')}
                 AS sum_filled
        FROM sparse
    """,
)
def null_handling_fill_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions surface: a sparse column (nullif-style CASE)
    flows through na.drop (row filter on the subset) and na.fill
    (constant imputation) — both compile to plain Catalyst filters /
    coalesce projections, fully pushdown-friendly, not row-level Python.
    Counts and the filled decimal sum are cross-checked in one pass."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "weighted",
        F.when(F.col("o_orderpriority") != "3-MEDIUM", F.col("o_totalprice")),
    )
    n_total = o.count()
    n_after_drop = o.na.drop(subset=["weighted"]).count()
    filled = o.na.fill({"weighted": 0.0})
    return filled.agg(
        F.lit(n_total).cast("long").alias("n_total"),
        F.lit(n_after_drop).cast("long").alias("n_after_drop"),
        dsum("weighted").alias("sum_filled"),
    )


@register(
    "scalar_collation_ci",
    tags=("scalar", "string", "spark4"),
    oracle="""
        SELECT CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types_cs,
               CAST(COUNT(DISTINCT lower(p_type)) AS BIGINT) AS n_types_ci,
               CAST(COUNT(CASE WHEN lower(p_brand) = 'brand#13' THEN 1 END) AS BIGINT)
                 AS n_brand13_ci
        FROM (SELECT p_partkey, p_brand,
                     CASE WHEN p_partkey % 2 = 0 THEN upper(p_type) ELSE p_type END
                       AS p_type
              FROM part)
    """,
)
def scalar_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations: case-mixed part types compared under
    UTF8_LCASE collation — COUNT(DISTINCT) collapses case variants and
    a collated equality filter matches either case, with NO manual
    lower() rewrites in the query logic (the oracle lowers explicitly
    because DuckDB 1.0 lacks per-expression collation). Collation is an
    expression property, so comparisons stay JVM-codegen'd."""
    return run_sql(spark, sf_dir, "scalar_collation_ci")


_EXISTS_CORRELATED_SQL = """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_totalprice > 150000)
"""


@register(
    "subquery_exists_correlated",
    tags=("subquery", "sql"),
    oracle=_EXISTS_CORRELATED_SQL,
)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS (customers with an urgent order
    but no large finished one): Catalyst decorrelates both predicates
    into a left-semi and a left-anti hash join on c_custkey — never a
    per-row subquery execution. Expressed in SQL to exercise the
    parser/analyzer path end-to-end."""
    return run_sql(spark, sf_dir, "subquery_exists_correlated")


_LATERAL_TOPK_SQL = """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) t
"""


@register(
    "sql_lateral_topk",
    tags=("subquery", "sql", "topk"),
    oracle=_LATERAL_TOPK_SQL,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LATERAL correlated subquery: per-nation top-2 customers by
    balance. Spark's DecorrelateInnerQuery turns the per-row LIMIT
    subquery into a ranked window join — same shape as
    window_topk_per_group but arrived at through the SQL surface, so
    the optimizer (not the author) removes the O(nations × scan)
    naive execution. Unique c_custkey tiebreak keeps top-2 exact."""
    return run_sql(spark, sf_dir, "sql_lateral_topk")


@register(
    "join_salted_hot_key",
    tags=("join", "skew", "scale"),
    oracle=f"""
        SELECT o.o_orderpriority,
               COUNT(*) AS n,
               {o_dsum('l.l_extendedprice')}
                 AS total_price
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def join_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join (operators/skew.py::salted_join): the
    shuffle key becomes (l_orderkey, salt) so a pathologically hot
    orderkey spreads across 8 reducers instead of serializing one.
    Complements agg_salted_hot_key (AQE splits skewed JOIN partitions
    but cannot split a single monster key's build side; salting can).
    Result is provably identical to the plain join — the oracle runs
    the unsalted SQL."""
    from finance_etl_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(li, o, key="l_orderkey", n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("total_price"),
    )


@register(
    "agg_corr_exact",
    tags=("agg", "stats"),
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS syy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 AS corr_qty_price
        FROM s
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal power sums (n, Σx, Σy,
    Σxy, Σx², Σy² — factors cast to decimal BEFORE multiplying), then
    one double expression with IEEE-exact ops (+,-,*,/,sqrt): the
    result is bit-identical under any partitioning, unlike the
    built-in corr whose streaming co-moment accumulation is
    order-dependent in float. Same single-pass hash-agg plan shape as
    the built-in — the partials are just as mergeable at 100 TB."""
    return run_sql(spark, sf_dir, "agg_corr_exact")


@register(
    "join_hint_shuffle_hash",
    tags=("join", "hint", "scale"),
    oracle="""
        SELECT n.n_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit join-strategy control: SHUFFLE_HASH hint forces a
    shuffled hash join where the planner would otherwise broadcast
    (nation is tiny) — the knob you reach for when a 'small' side is
    too big for one executor's memory but a sort would dominate
    (hash build skips both sort passes of SMJ). Hint surface
    demonstrated and plan-asserted in tests/test_plan_shapes.py; the
    result is strategy-independent, which the oracle confirms."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").hint("shuffle_hash")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "obs_metrics_during_write",
    tags=("observability", "agg"),
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS BIGINT)
                 AS n_large,
               {o_dsum('o_totalprice')}
                 AS total_price
        FROM orders
    """,
)
def obs_metrics_during_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-extra-pass pipeline observability: df.observe attaches
    accumulator-backed metrics (row count, large-order count, decimal
    revenue) to the SAME job that writes the data — no second scan.
    The observed values, harvested after one noop write, must equal
    the oracle's dedicated aggregation pass. At 100 TB an audit scan
    costs as much as the ETL itself; observe() makes it free."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("write_audit")
    audited = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).alias("n_large"),
        dsum("o_totalprice").alias("total_price"),
    )
    audited.write.mode("overwrite").format("noop").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_large"], m["total_price"])],
        "n_rows long, n_large long, total_price double",
    )


@register(
    "q18_large_volume_customer",
    headline=True,
    tags=("join", "agg", "having", "tpch"),
    oracle=f"""
        SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
               {o_dsum('l.l_quantity')} AS total_qty
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
        )
        GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-customer report (TPC-H Q18 shape): the HAVING
    subquery reduces lineitem to qualifying orderkeys FIRST (partial
    agg map-side, tiny survivor set), which then semi-join-filters
    orders BEFORE the wide 3-way join — the big fact table is joined
    only for rows already known to qualify. Catalyst plans the IN as a
    left-semi hash join; no correlated re-execution.

    Round-15 (optimization): one explicit hash repartition on
    l_orderkey right after the projection. Both lineitem consumers —
    the HAVING aggregation and the order-lines join — require exactly
    that distribution, so ReuseExchange collapses the two lineitem
    shuffles into ONE (guide §2.4: operations keyed the same way share
    one exchange), and the partial aggregation over ~|orders| distinct
    keys (which reduces nothing) moves off the single scan task onto
    the post-shuffle side. Alternating min-of-5 A/B at sf0.1: 1.324 s
    → 1.007 s, rows identical. Partition count comes from
    spark.sql.shuffle.partitions with AQE coalescing — scale-adaptive,
    not a local constant."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .repartition(F.col("l_orderkey"))
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("total_qty"))
    )


@register(
    "window_interval_range_frame",
    tags=("window", "frame", "timeseries"),
    oracle="""
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_last_30d,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER w
                    AS STRING) AS DOUBLE) AS spend_last_30d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def window_interval_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per-customer trailing-30-day order
    count and decimal-exact spend, expressed with the SQL INTERVAL
    frame syntax (value-based frames need no row buffering of the
    whole partition — the frame bound is computed from the ORDER BY
    value, so ties and gaps behave correctly, unlike a ROWS
    approximation). Decimal window sums keep the double presentation
    engine-exact."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               COUNT(*) OVER w AS n_last_30d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER w
                    AS DOUBLE) AS spend_last_30d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "q5_local_supplier_volume",
    headline=True,
    tags=("join", "agg", "tpch"),
    oracle=f"""
        SELECT n.n_name,
               {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-01-01'
        GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume report (TPC-H Q5 shape): revenue from
    lineitems where the ordering customer and the supplying supplier
    sit in the same (Asian) nation. The same-nation predicate is an
    equi-join conjunct on the supplier join — a hash join, not a
    post-join filter over a wider product. At the shipped SFs every
    join broadcasts (the date-filtered orders side included), so the
    only shuffle is the final agg over ≤|nation| groups."""
    return run_sql(spark, sf_dir, "q5_local_supplier_volume")


_NOT_IN_FROM_SQL = """
        FROM (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_custkey END AS k,
                   o_totalprice
            FROM orders
        )
        WHERE k NOT IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
"""


@register(
    "subquery_not_in_null_aware",
    tags=("subquery", "anti-join", "three-valued-logic"),
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {o_dsum('o_totalprice')} AS total_price
        {_NOT_IN_FROM_SQL}
    """,
)
def subquery_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN under three-valued logic: the probe key is NULL for
    every 97th order, and SQL says NULL NOT IN (non-empty set) is
    UNKNOWN — those rows must be filtered, which a plain anti-join
    gets wrong (it would keep them). Spark plans this as a null-aware
    anti join (broadcast single-column null-aware variant), the only
    hash-based strategy that honors the semantics; the oracle runs the
    identical SQL so both engines agree on every UNKNOWN row."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        f"""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                   AS total_price
        {_NOT_IN_FROM_SQL}
        """
    )


@register(
    "agg_histogram_bucket",
    tags=("agg", "profile", "histogram"),
    oracle="""
        SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders
        GROUP BY bucket
    """,
)
def agg_histogram_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values: bucket index from an
    IEEE-exact floor-divide (division and floor are correctly rounded,
    so both engines bucket identically — no width_bucket dialect
    dependence), one hash aggregate with map-side partials, output
    cardinality = O(value range / width), independent of row count.
    The per-bucket min/max double as the bucket's observed bounds for
    profiling UIs."""
    return run_sql(spark, sf_dir, "agg_histogram_bucket")


@register(
    "set_except_all",
    tags=("setop",),
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference): each customer key survives
    max(0, multiplicity_1995 − multiplicity_1996) times. Spark plans
    exceptAll as a tagged union + per-key count aggregate + generate —
    one shuffle on the key, never a join of the two sides."""
    return run_sql(spark, sf_dir, "set_except_all")


@register(
    "set_intersect_all",
    tags=("setop",),
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag intersection): each key kept
    min(multiplicity_1995, multiplicity_1996) times — the multiplicity
    contract ANSI specifies and `intersect()` (distinct) erases."""
    return run_sql(spark, sf_dir, "set_intersect_all")


@register(
    "sql_group_by_all",
    tags=("agg", "sql-surface"),
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {o_dsum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 4 / modern-SQL surface): every non-aggregate
    select item becomes a grouping key — the engine resolves the key
    list, so adding a dimension to the SELECT can't silently desync
    from the GROUP BY. Plans identically to the explicit form: one
    partial+final hash aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY ALL
        """
    )


@register(
    "agg_string_concat_ordered",
    tags=("agg", "string"),
    oracle="""
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation
        GROUP BY n_regionkey
    """,
)
def agg_string_concat_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG): nation names
    per region, comma-joined in a DECLARED order — collect_list gives
    partition-arrival order, so the sort must be explicit
    (`sort_array`) for the result to be deterministic under any
    parallelism; concat happens on the ≤|group| aggregate, never on
    raw rows."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "q14_promo_revenue",
    tags=("join", "agg", "tpch"),
    oracle=f"""
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               {o_dsum(
                   "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
                   " ELSE 0 END",
               )}
                   AS promo_revenue,
               {o_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue,
               {o_dsum(
                   "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
                   " ELSE 0 END",
               )}
                   / {o_dsum('l_extendedprice * (1 - l_discount)')} AS promo_frac
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY ship_month
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-revenue share by ship month (TPC-H Q14 shape):
    conditional aggregation after a fact⋈dimension join — part
    broadcasts (only p_partkey/p_type read, column pruning reaches the
    scan), the CASE folds into the partial aggregate so the shuffle
    carries one row per month, and the final share is one IEEE-exact
    double division of two decimal-exact sums."""
    return run_sql(spark, sf_dir, "q14_promo_revenue")


@register(
    "q16_supplier_part_types",
    tags=("join", "agg", "count-distinct", "tpch"),
    oracle="""
        SELECT p.p_type, p.p_size,
               CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'BRAND_1' AND p.p_size IN (1, 5, 9, 13)
        GROUP BY p.p_type, p.p_size
    """,
)
def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-diversity report (TPC-H Q16 shape): how many distinct
    suppliers ship each surviving (type, size) part class. The brand /
    size-IN filters prune the broadcast part side BEFORE the join (the
    fact side never sees excluded parts), and COUNT(DISTINCT) plans as
    the two-stage Expand aggregate — dedup happens partition-local on
    (group, suppkey) before the group-level count, so no group ever
    materializes its full supplier list."""
    return run_sql(spark, sf_dir, "q16_supplier_part_types")


@register(
    "agg_mad_robust",
    tags=("agg", "stats", "percentile"),
    oracle="""
        WITH med AS (
            SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS m FROM orders
        )
        SELECT m AS median_price,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(o_totalprice - m)) AS mad
        FROM orders, med
        GROUP BY m
    """,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation — the robust dispersion statistic
    winsorization and outlier gates should calibrate against (stddev
    is itself corrupted by the outliers being hunted). Two passes by
    necessity (MAD is not a one-pass decomposable aggregate): median
    as a 1-row broadcast into a second exact-percentile aggregate over
    |x − median|. Both passes are plain hash aggregates; swap
    percentile → percentile_approx at 100 TB for a mergeable-sketch
    version with the same plan shape."""
    return run_sql(spark, sf_dir, "agg_mad_robust")


@register(
    "agg_mode_deterministic",
    tags=("agg", "stats"),
    oracle="""
        SELECT o_orderstatus, value_mode, n_occurrences FROM (
            SELECT o_orderstatus, o_orderpriority AS value_mode,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        ) WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with a DECLARED tiebreak (smallest value wins): built-in
    `mode()` picks an arbitrary survivor on count ties, which is a
    nondeterminism bug waiting for a repartition. Two hash aggregates:
    (group, value) counts, then max_by over a (count, reversed-value)
    struct — the second agg's input is already one row per distinct
    value, and no window sort is needed."""
    return run_sql(spark, sf_dir, "agg_mode_deterministic")


@register(
    "window_pct_of_total",
    tags=("window", "agg", "ratio"),
    oracle=f"""
        WITH a AS (
            SELECT n.n_name, {o_dsum('o.o_totalprice')} AS nation_revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT n_name, nation_revenue,
               nation_revenue /
               CAST(CAST(SUM(CAST(nation_revenue AS DECIMAL(30,10))) OVER ()
                    AS STRING) AS DOUBLE) AS revenue_share
        FROM a
    """,
)
def window_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (RATIO_TO_REPORT): each nation's share of
    global revenue via an unpartitioned, unordered window — safe ONLY
    because it runs over the already-aggregated |nation|-row result,
    never the fact table (the aggregate reduces first; the window's
    single partition holds 25 rows at any SF). Share = one IEEE
    division of two decimal-exact doubles."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    a = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice").alias("nation_revenue"))
    )
    # the grand total is itself a DECIMAL window sum: 25 doubles summed
    # in float would be ORDER-DEPENDENT (caught by the sf0.001 sweep —
    # the two engines happened to agree at sf0.01 and diverged by 1 ulp
    # at sf0.001); the decimal route is partition- and order-exact
    w = Window.partitionBy()
    total = F.sum(F.col("nation_revenue").cast("decimal(30,10)")).over(w).cast(
        "double"
    )
    return a.select(
        "n_name",
        "nation_revenue",
        (F.col("nation_revenue") / total).alias("revenue_share"),
    )


@register(
    "dq_benford_digits",
    tags=("curation", "quality", "stats"),
    oracle="""
        SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), 1, 1)
                   AS lead_digit,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0)
                   AS observed_frac
        FROM orders WHERE o_totalprice > 0
        GROUP BY lead_digit
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order amounts — the classic
    fabricated-data screen for financial feeds. The leading digit
    comes from the DECIMAL(18,2) canonical string (both engines print
    plain digits for decimals — no scientific-notation divergence, no
    libm log10 at magnitude boundaries), so the digit extraction is a
    pure codegen'd projection; output is 9 rows regardless of volume.
    The expected-vs-observed comparison is left to the caller since
    log10 expectations are transcendental (rows-only territory)."""
    return run_sql(spark, sf_dir, "dq_benford_digits")


@register(
    "agg_bitwise",
    tags=("agg", "bitwise"),
    oracle="""
        SELECT event_type,
               CAST(bit_and(event_id) AS BIGINT) AS all_and,
               CAST(bit_or(event_id) AS BIGINT) AS any_or,
               CAST(bit_xor(event_id) AS BIGINT) AS parity_xor
        FROM events
        GROUP BY event_type
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface (BIT_AND/BIT_OR/BIT_XOR): flag-mask
    intersection/union and xor parity per group — associative and
    commutative, so partial aggregation merges map-side like any sum,
    and XOR doubles as a cheap membership-diff primitive (two equal
    multisets xor to the same value)."""
    return run_sql(spark, sf_dir, "agg_bitwise")


@register(
    "agg_boolean_logic",
    tags=("agg", "boolean"),
    oracle="""
        SELECT o_orderstatus,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_totalprice > 400000) AS any_over_400k,
               CAST(count_if(o_orderpriority = 'URGENT') AS BIGINT)
                   AS n_urgent
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def agg_boolean_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface: BOOL_AND / BOOL_OR (universal and
    existential quantifiers as aggregates — short-circuitable,
    partial-merge-friendly) and COUNT_IF, the three predicates every
    data-quality report wants without a CASE-WHEN forest."""
    return run_sql(spark, sf_dir, "agg_boolean_logic")


_ABOVE_OWN_AVG_FROM_SQL = """
        FROM orders o
        WHERE o.o_totalprice > (
            SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(30,10)))
                        AS DOUBLE) / COUNT(i.o_totalprice)
            FROM orders i WHERE i.o_custkey = o.o_custkey
        )
        GROUP BY o_orderstatus
"""


@register(
    "subquery_scalar_correlated",
    tags=("subquery", "sql", "decorrelation"),
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_above_own_avg,
               {o_dsum('o_totalprice')} AS total_above
        {_ABOVE_OWN_AVG_FROM_SQL}
    """,
)
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED scalar subquery: orders beating their own customer's
    average price. Written in the per-row lookup style users actually
    write; Catalyst decorrelates it into one per-customer aggregate +
    a co-partitioned equi-join — the subquery executes once as a
    relational plan, never once per outer row (the nested-loop reading
    would be O(rows × rows-per-customer) at 100 TB). The mean uses the
    decimal davg contract so the >-comparison flips identically in
    both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_above_own_avg,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                   AS total_above
        {_ABOVE_OWN_AVG_FROM_SQL}
        """
    )


@register(
    "agg_hll_mergeable_sketch",
    tags=("agg", "approx", "sketch"),
)
def agg_hll_mergeable_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Datasketches HLL, Spark 4
    surface): per-status customer sketches built in one pass, then
    UNIONED into a global estimate — the property approx_count_distinct
    alone doesn't expose. At 100 TB this is the pattern that matters:
    sketch once per partition/segment/day, persist the binary sketch,
    re-aggregate any rollup later WITHOUT rescanning (the union is
    sketch-sized, not data-sized). Rows-only (estimates are
    implementation-defined); the error bound and the
    union==direct-global-sketch consistency are pinned in
    tests/test_plan_shapes.py."""
    o = load_table(spark, sf_dir, "orders")
    per_status = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return per_status.agg(
        F.sum("n_rows").alias("n_rows_total"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
            "est_distinct_custkeys"
        ),
        F.count(F.lit(1)).alias("n_sketches_merged"),
    )


@register(
    "scalar_try_arithmetic",
    tags=("scalar", "ansi", "null-safety"),
    oracle="""
        SELECT o_orderkey,
               o_totalprice / NULLIF(o_orderkey % 7, 0) AS safe_ratio,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE CAST(1 AS BIGINT) END AS divisor_ok
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: try_divide returns NULL on a zero divisor
    instead of either x/0=null-silently (legacy mode) or a runtime
    error (ANSI mode) — the explicit spelling that behaves identically
    under EITHER ansi setting, which is what a library must use since
    it doesn't own the session config. The oracle spells the same
    contract with NULLIF."""
    return run_sql(spark, sf_dir, "scalar_try_arithmetic")


@register(
    "window_running_distinct",
    tags=("window", "distinct"),
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS DATE) AS d,
               CAST(dense_rank() OVER (PARTITION BY o_custkey
                    ORDER BY strftime(o_orderdate, '%Y-%m'))
                    AS BIGINT) AS distinct_months_so_far
        FROM orders
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — which no engine supports
    directly — via the dense_rank identity: with rows ordered by the
    counted expression, dense_rank at each row equals the number of
    distinct values seen so far (per customer: distinct active months
    to date). One hash-partitioned window, no self-join, no
    per-row set materialization; the workaround is exact, not an
    approximation."""
    return run_sql(spark, sf_dir, "window_running_distinct")


@register(
    "sql_scripting_control_flow",
    tags=("sql", "scripting", "spark4"),
    oracle=f"""
        WITH cutoff AS (
            SELECT {o_dsum('o_totalprice')} / COUNT(*) AS avg_price
            FROM orders
        )
        SELECT o_orderstatus,
               CASE WHEN (SELECT avg_price FROM cutoff) > 100000
                    THEN 'high-value book' ELSE 'low-value book' END AS book_label,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {o_dsum('o_totalprice')} AS total_price
        FROM orders
        WHERE o_totalprice > (SELECT avg_price FROM cutoff)
        GROUP BY 1, 2
    """,
)
def sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END): a procedural batch report —
    DECLARE a session variable, SET it from a decimal-exact scalar
    query, branch on it with IF/ELSE, and emit the final SELECT. The
    script's control flow runs on the driver at plan time; every data
    statement is still a full Catalyst-optimized query, so scripting
    adds orchestration, not a row-at-a-time execution model. The
    oracle replays the same logic as one declarative query (scalar
    subquery + CASE), proving script semantics == SQL semantics."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        BEGIN
          DECLARE avg_price DOUBLE;
          DECLARE book_label STRING;
          SET avg_price = (
              SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                     / COUNT(*)
              FROM orders);
          IF avg_price > 100000 THEN
            SET book_label = 'high-value book';
          ELSE
            SET book_label = 'low-value book';
          END IF;
          SELECT o_orderstatus,
                 book_label,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                     AS total_price
          FROM orders
          WHERE o_totalprice > avg_price
          GROUP BY o_orderstatus, book_label;
        END
        """
    )


def _bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join used by join_runtime_bloom_filter (shared with the
    plan-shape test): selective orders subset joined to lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


def _checkpoint_under(confs: dict, build, spark: SparkSession, sf_dir: str) -> DataFrame:
    """``build(spark, sf_dir)`` materialized by an eager localCheckpoint
    while ``confs`` are set, then the session's own values restored: the
    calibration confs shape this one plan and leak into no other."""
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return build(spark, sf_dir).localCheckpoint()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


BLOOM_JOIN_CONFS = {
    # fixture-scale calibration: the injection rule requires the probe
    # side to scan > this threshold (default 10 GiB — sized for real
    # clusters); at 100 TB the default fires on its own
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # the 100-TB shape: the dim subset is too big to broadcast, so the
    # join is shuffle-based and the probe side scans everything unless
    # a runtime filter prunes it
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "join_runtime_bloom_filter",
    tags=("join", "runtime-filter", "optimizer"),
    oracle=f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {o_dsum('l_extendedprice')} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1999-01-01'
        GROUP BY 1
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: when a selective dimension
    subset is too large to broadcast, Spark builds a bloom filter from
    the creation side's join keys and pushes a might_contain predicate
    into the probe-side SCAN — most non-matching fact rows die before
    the shuffle instead of after it. Plan-asserted in
    tests/test_plan_shapes.py (BloomFilter aggregate + might_contain).
    The result is materialized (localCheckpoint) while the calibration
    confs are set, then the session confs are restored — no leakage
    into other queries' plans. Results are filter-invariant, so the
    plain-join oracle checks correctness."""
    return _checkpoint_under(BLOOM_JOIN_CONFS, _bloom_filter_join, spark, sf_dir)


def _skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join used by join_aqe_skew_split (shared with the plan
    test): two thirds of lineitem collapse onto one hot key (a
    realistic power-law key), joined to a 1000-row derived dim."""
    # decode-spread the fact first: AQE splits a skewed REDUCE partition
    # by regrouping its MAP outputs, so a single-map-task scan (one
    # parquet row group) leaves nothing to split — exactly the
    # under-split layout load_table_parallel exists for
    from finance_etl_spark.io.readers import load_table_parallel

    li = load_table_parallel(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 3 > 0, 0)
        .otherwise(F.col("l_orderkey") % 1000)
        .alias("k"),
        "l_extendedprice",
    )
    # plain projection, no agg: OptimizeSkewedJoin requires BOTH join
    # children to be bare shuffle stages (sort over shuffle read) — an
    # aggregate between shuffle and join makes the rule bail
    dim = load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") < 1000
    ).select(F.col("p_partkey").alias("k"), F.col("p_retailprice").alias("attr"))
    return (
        fact.join(dim, "k")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice") + F.col("attr")).alias("total"),
        )
    )


AQE_SKEW_CONFS = {
    # the 100-TB shape: dim too big to broadcast -> sort-merge join
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # fixture-scale calibration (defaults are 256MB/factor 5, sized for
    # real clusters): the hot partition is tens-to-hundreds of KB of
    # compressed shuffle bytes at test SFs
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
}


@register(
    "join_aqe_skew_split",
    tags=("join", "skew", "aqe", "optimizer"),
    oracle=f"""
        WITH fact AS (
            SELECT CASE WHEN l_orderkey % 3 > 0 THEN 0
                        ELSE l_orderkey % 1000 END AS k,
                   l_extendedprice
            FROM lineitem
        ), dim AS (
            SELECT p_partkey AS k, p_retailprice AS attr
            FROM part WHERE p_partkey < 1000
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {o_dsum('l_extendedprice + attr')} AS total
        FROM fact JOIN dim USING (k)
    """,
)
def join_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join handling: a power-law hot key (1/3 of the
    fact collapses onto one value) would serialize a sort-merge join
    behind its largest partition; AQE observes the actual shuffle
    sizes at stage boundary and SPLITS the skewed partition across
    tasks, replicating the matching dim rows — the runtime answer to
    skew you cannot predict at plan time (the manual salting operators
    in operators/skew.py are the plan-time answer). The executed plan
    shows SortMergeJoin(skew=true) — asserted in
    tests/test_plan_shapes.py. Same conf scoping as
    join_runtime_bloom_filter (``_checkpoint_under``). Results are
    plan-invariant, so the plain-join oracle checks correctness."""
    return _checkpoint_under(AQE_SKEW_CONFS, _skew_join, spark, sf_dir)


@register(
    "agg_grouping_id",
    tags=("agg", "rollup", "grouping"),
    oracle=f"""
        SELECT CASE GROUPING(l_returnflag, l_linestatus)
                    WHEN 0 THEN 'cell' WHEN 1 THEN 'flag_total'
                    WHEN 3 THEN 'grand_total' END AS level,
               COALESCE(l_returnflag, '<all>') AS l_returnflag,
               COALESCE(l_linestatus, '<all>') AS l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               {o_dsum('l_extendedprice')} AS total_price
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id(): the bitmask that tells subtotal rows
    apart from data cells whose key value happens to be NULL — the
    only safe way to consume a rollup downstream (COALESCE alone
    cannot distinguish a real NULL group from the subtotal row).
    Labels derive from the mask; both engines compute the identical
    two-bit id."""
    li = load_table(spark, sf_dir, "lineitem")
    gid = F.grouping_id("l_returnflag", "l_linestatus")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_extendedprice").alias("total_price"),
            gid.alias("__gid"),
        )
        .select(
            F.when(F.col("__gid") == 0, "cell")
            .when(F.col("__gid") == 1, "flag_total")
            .when(F.col("__gid") == 3, "grand_total")
            .alias("level"),
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "n_rows",
            "total_price",
        )
    )


@register(
    "sql_pipe_syntax",
    tags=("sql", "pipe", "spark4"),
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               {o_dsum('o_totalprice')} AS total
        FROM orders
        WHERE o_totalprice > 100000
        GROUP BY o_orderstatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.1 ``|>`` operators): the linear
    FROM → WHERE → AGGREGATE → (compare) form that reads in dataflow
    order. Parses to the identical logical plan as the nested SELECT
    the oracle runs — same pushdown, same agg — so this pins that the
    modern surface is sugar, not a second engine path."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > 100000
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                          AS DOUBLE) AS total
           GROUP BY o_orderstatus
        |> SELECT o_orderstatus, n, total
        """
    )


@register("agg_count_min_sketch", tags=("agg", "sketch"))
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: the mergeable point-frequency sketch
    (counters sum, so partial sketches combine associatively — the
    same partial-aggregation topology as HLL). The sketch is built
    distributed (one pass, fixed 0.5% width / 99% confidence memory);
    estimates for the five hottest customers ride back beside their
    exact counts. Rows-only for the driver (estimates are
    approximate by design); the CMS guarantee — estimate ≥ truth and
    ≤ truth + ε·N with probability 1−δ — is asserted in
    tests/test_dedup_vectors.py."""
    o = load_table(spark, sf_dir, "orders")
    blob = o.select(
        F.expr("count_min_sketch(o_custkey, 0.005d, 0.99d, 42)").alias("b")
    ).collect()[0]["b"]
    sketch = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(blob)
    )
    top = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "o_custkey")
        .limit(5)
        .collect()
    )
    rows = [
        (int(r.o_custkey), int(r.exact_n), int(sketch.estimateCount(int(r.o_custkey))))
        for r in top
    ]
    return spark.createDataFrame(
        rows, "o_custkey long, exact_n long, cms_estimate long"
    )


@register(
    "agg_bitmap_distinct",
    tags=("agg", "bitmap", "distinct"),
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_customers
        FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (the warehouse
    bitmap pattern): ids bucket into 32k-wide ranges, each
    (group, bucket) folds into a ≤4 KB bitmap with
    bitmap_construct_agg — bitmaps OR/merge associatively, so partial
    aggregation works like any sum and the per-group state never holds
    raw ids. The distinct count is Σ bitmap_count over the group's
    buckets. Unlike approx_count_distinct this is exact, and unlike
    COUNT(DISTINCT)'s Expand-based two-phase it materializes
    fixed-size state per bucket — the right trade when groups have
    millions of distinct dense ids. Ids shift by +1: bit positions are
    1-based and a 0 id would silently vanish."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               SUM(bitmap_count(b)) AS n_distinct_customers
        FROM (
            SELECT o_orderstatus,
                   bitmap_construct_agg(
                       bitmap_bit_position(o_custkey + 1)) AS b
            FROM orders
            GROUP BY o_orderstatus, bitmap_bucket_number(o_custkey + 1)
        )
        GROUP BY o_orderstatus
        """
    )


@register(
    "agg_regr_slope_exact",
    tags=("agg", "stats"),
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sxx
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                 AS intercept
        FROM s
    """,
)
def agg_regr_slope_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit (price ~ quantity): the regr_slope /
    regr_intercept surface, built from the SAME exact decimal power
    sums as agg_corr_exact so the answer is partitioning-independent —
    built-in REGR_* accumulates float co-moments in stream order and
    is not. One hash agg (mergeable partials), then slope and
    intercept as single IEEE double expressions on the driver-scale
    group rows."""
    return run_sql(spark, sf_dir, "agg_regr_slope_exact")


@register(
    "agg_skew_kurtosis_exact",
    tags=("agg", "stats"),
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS STRING) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4))) AS STRING) AS DOUBLE) AS s2,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4))) AS STRING) AS DOUBLE) AS s3,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4))) AS STRING) AS DOUBLE) AS s4
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                 / ((s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n))) AS skewness,
               (s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                  - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                 / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3
                 AS excess_kurtosis
        FROM s
    """,
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third and fourth standardized moments (skewness, excess
    kurtosis — the fat-tail diagnostics every risk desk runs) from the
    same exact decimal power-sum machinery as agg_corr_exact: one hash
    agg collects n, Σx…Σx⁴ exactly (decimal(8,4) factors keep the
    quartic products inside decimal(38)), then each moment is a single
    IEEE double expression — bit-stable under any partitioning, which
    the built-in skewness/kurtosis (streaming float co-moments) are
    not. The σ³ normalizer is written var·sqrt(var) (IEEE-exact ops)
    on both sides — pow(var, 1.5) routes through libm and diverges by
    1 ulp between engines."""
    return run_sql(spark, sf_dir, "agg_skew_kurtosis_exact")


@register(
    "sql_filter_clause",
    tags=("sql", "agg"),
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               COUNT(*) FILTER (WHERE l_tax = 0) AS n_tax_free,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
                    FILTER (WHERE l_returnflag = 'R') AS STRING) AS DOUBLE)
                 AS returned_revenue
        FROM lineitem GROUP BY l_returnflag
    """,
)
def sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI aggregate FILTER clause — several differently-filtered
    aggregates in ONE pass and one shuffle, where naive SQL would scan
    per aggregate or wrap CASE expressions. Spark compiles FILTER to
    exactly the conditional-aggregation partials the engine's
    when()-based queries use, so this is surface parity with zero plan
    cost; NULL (no qualifying rows) semantics match the standard in
    both engines."""
    from finance_etl_spark.io.readers import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               COUNT(*) FILTER (WHERE l_tax = 0) AS n_tax_free,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
                    FILTER (WHERE l_returnflag = 'R') AS DOUBLE)
                 AS returned_revenue
        FROM lineitem GROUP BY l_returnflag
        """
    )


@register(
    "sql_parameterized_query",
    tags=("sql", "api"),
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
        GROUP BY o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args={...})): values bind as
    typed literals AFTER parsing, so user input can never splice into
    the query text — the injection-safe surface every SQL-facing
    service needs, and parameter markers keep the parse/plan cache hot
    across invocations where f-string literals would make each query
    text unique. Plans identically to the inlined form."""
    from finance_etl_spark.io.readers import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000.0, "status": "F"},
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketches: mergeable distinct sketches that —
# unlike HLL — also support INTERSECTION estimation via the union
# estimate and inclusion-exclusion.

_KMV_K = 256


def kmv_sketches(
    df: DataFrame, group_col: str, key_col: str, k: int = _KMV_K
) -> DataFrame:
    """(group, h, rn): the k smallest normalized 63-bit hashes of the
    DISTINCT keys per group. Build is scale-safe: one distinct shuffle
    on (group, key), then a hash-partitioned window keeps k rows per
    group — sketch size is k·|groups| regardless of data volume, and
    sketches of shards merge by 'union hashes, keep k smallest' (the
    KMV merge rule), so partial sketches combine like any agg."""
    return (
        df.select(F.col(group_col).alias("grp"), F.col(key_col).alias("key"))
        .distinct()
        .select(
            "grp",
            # md5->xxhash64, top bit cleared: uniform on [0, 2^63)
            F.shiftrightunsigned(
                F.xxhash64(F.md5(F.col("key").cast("string"))), 1
            ).alias("h"),
        )
        .withColumn("rn", F.row_number().over(Window.partitionBy("grp").orderBy("h")))
        .filter(F.col("rn") <= k)
    )


def _kmv_estimate(n_rows, kth_h, k: int):
    """(k-1)/x_(k) when the sketch is full, exact count otherwise."""
    frac = kth_h.cast("double") / F.lit(float(1 << 63))
    return F.when(n_rows < k, n_rows.cast("double")).otherwise(
        F.lit(float(k - 1)) / frac
    )


@register("agg_kmv_intersection_sketch", tags=("agg", "sketch", "approx"))
def agg_kmv_intersection_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation: per-priority DISTINCT customer
    sets as KMV sketches, then for every priority pair the union
    estimate from the MERGED sketch (k smallest of the combined
    hashes) and the intersection via inclusion-exclusion — no exact
    pairwise distinct-intersection job, which at 100 TB would be a
    |pairs| × corpus shuffle. Work after the one distinct pass is
    O(|groups|² · k). Error ~ 1/sqrt(k) ≈ 6% at k=256; bound pinned
    in tests/test_sketches.py against exact counts."""
    k = _KMV_K
    o = load_table(spark, sf_dir, "orders")
    sk = kmv_sketches(o, "o_orderpriority", "o_custkey", k)
    per_group = sk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("kth")
    )
    est_g = per_group.select(
        "grp", _kmv_estimate(F.col("n"), F.col("kth"), k).alias("est")
    )
    pairs = (
        est_g.select(F.col("grp").alias("grp_a"), F.col("est").alias("est_a"))
        .crossJoin(
            est_g.select(F.col("grp").alias("grp_b"), F.col("est").alias("est_b"))
        )
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    merged = (
        sk.select(F.col("grp").alias("grp_a"), "h")
        .join(pairs.select("grp_a", "grp_b"), "grp_a")
        .unionByName(
            sk.select(F.col("grp").alias("grp_b"), "h").join(
                pairs.select("grp_a", "grp_b"), "grp_b"
            ).select("grp_a", "h", "grp_b")
        )
        .select("grp_a", "grp_b", "h")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("grp_a", "grp_b").orderBy("h")),
        )
        .filter(F.col("rn") <= k)
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("kth"))
        .select(
            "grp_a",
            "grp_b",
            _kmv_estimate(F.col("n"), F.col("kth"), k).alias("est_union"),
        )
    )
    return (
        pairs.join(merged, ["grp_a", "grp_b"])
        .select(
            "grp_a",
            "grp_b",
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
            ).alias("est_intersection"),
        )
        .orderBy("grp_a", "grp_b")
    )


@register(
    "agg_ab_test_ztest",
    tags=("agg", "stats", "experiment"),
    oracle="""
        WITH assign AS MATERIALIZED (
            SELECT DISTINCT user_id,
                   CASE WHEN (strpos('0123456789abcdef',
                              substr(md5(CAST(user_id AS STRING)), 32, 1)) - 1)
                             % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm
            FROM events
        ),
        conv AS MATERIALIZED (
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 150
        ),
        arms AS MATERIALIZED (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(COUNT(c.user_id) AS BIGINT) AS n_converted
            FROM assign a LEFT JOIN conv c USING (user_id)
            GROUP BY arm
        ),
        wide AS (
            SELECT
                (SELECT n_users FROM arms WHERE arm = 'A') AS n_a,
                (SELECT n_converted FROM arms WHERE arm = 'A') AS c_a,
                (SELECT n_users FROM arms WHERE arm = 'B') AS n_b,
                (SELECT n_converted FROM arms WHERE arm = 'B') AS c_b
        )
        SELECT n_a, c_a, n_b, c_b,
               CAST(c_a AS DOUBLE) / n_a AS rate_a,
               CAST(c_b AS DOUBLE) / n_b AS rate_b,
               (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)) AS z_stat
        FROM wide
    """,
)
def agg_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for experiment analysis: users md5-hash
    into arms A/B (the same deterministic split gate as cur_hash_split
    — assignment is reproducible and join-free), conversion = any
    purchase event, and the pooled z-statistic assembles from integer
    counts with only IEEE-exact ops (+,-,*,/,sqrt) — fully
    oracle-checkable, unlike t-distribution p-values (erf is libm).
    Two distinct aggs + one left join on the user key; no raw-event
    shuffle beyond the per-user distincts.

    NOTE on the hash: both engines compute arm = hash(md5(user_id)) %
    2 where md5 yields the same hex string and the outer hash must
    match too — Spark's xxhash64 and DuckDB's hash() differ, so the
    arm gate uses the md5 hex's last nibble instead."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 32, 1), 16, 10)
        .cast("int")
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    assign = ev.select("user_id").distinct().select("user_id", arm.alias("arm"))
    # conversion = a HIGH-VALUE purchase: with this fixture every user
    # eventually buys something, which would pool the rate to 1.0 and
    # zero the z denominator — the interesting (and well-posed) test is
    # the big-ticket conversion rate
    conv = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    arms = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("converted").alias("n_converted"),
        )
    )
    wide = (
        arms.groupBy()
        .pivot("arm", ["A", "B"])
        .agg(F.first("n_users").alias("n"), F.first("n_converted").alias("c"))
        .select(
            F.col("A_n").alias("n_a"),
            F.col("A_c").alias("c_a"),
            F.col("B_n").alias("n_b"),
            F.col("B_c").alias("c_b"),
        )
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (ra - rb) / F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return wide.select(
        "n_a", "c_a", "n_b", "c_b",
        ra.alias("rate_a"), rb.alias("rate_b"), z.alias("z_stat"),
    )


@register(
    "agg_market_basket",
    tags=("agg", "join", "association"),
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        n_ord AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
        item_cnt AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY l_partkey
        ),
        pair_cnt AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        )
        SELECT part_a, part_b, c_ab, ca.c AS c_a, cb.c AS c_b,
               CAST(c_ab AS DOUBLE) / ca.c AS confidence_a_to_b,
               (CAST(n_ord.n AS DOUBLE) * c_ab)
                   / (CAST(ca.c AS DOUBLE) * cb.c) AS lift
        FROM pair_cnt
        JOIN item_cnt ca ON ca.l_partkey = part_a
        JOIN item_cnt cb ON cb.l_partkey = part_b
        CROSS JOIN n_ord
        WHERE c_ab >= 2
        ORDER BY c_ab DESC, part_a, part_b
        LIMIT 20
    """,
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: co-occurrence counts of part
    pairs within an order, with confidence and lift from exact integer
    counts (one IEEE division each — cross-engine exact, same
    transcendental-free trick as text_collocation_lift). The pair
    self-join keys on l_orderkey, so fan-out is bounded by the per-
    basket item count squared (≤ ~49 in this schema) — per-key
    quadratic with a SMALL, schema-bounded key group, never corpus-
    quadratic; the lift joins run on the |parts|-sized count relation
    and the basket total rides a 1-row broadcast."""
    return run_sql(spark, sf_dir, "agg_market_basket")


@register(
    "window_trailing_distinct",
    tags=("window", "agg", "scale"),
    oracle="""
        WITH daily AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ),
        days AS (SELECT DISTINCT d FROM daily)
        SELECT days.d,
               CAST(COUNT(DISTINCT dl.user_id) AS BIGINT) AS active_7d
        FROM days JOIN daily dl
          ON dl.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY days.d
    """,
)
def window_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the metric SQL
    windows cannot express (COUNT(DISTINCT) OVER a frame is illegal in
    Spark and most engines). Formulation: each (day, user) observation
    is exploded to the ≤7 report days whose trailing window covers it
    (a bounded sequence(), NOT a join against the day spine), then one
    groupBy(report_day).countDistinct. Expansion factor == window
    length, independent of SF; the shuffle keys on report day and the
    distinct aggregates partially map-side. The day-spine join in the
    oracle is the relational equivalent; at 100 TB the exploded form
    wins because it never builds the |days| x |daily| range-join
    intermediate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    covering = daily.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), 6), F.expr("interval 1 day")
            )
        ).alias("rd"),
    )
    # report only days that actually occur in the data (the oracle's
    # `days` relation) — the tail of the explode otherwise invents
    # post-horizon days
    days = daily.select(F.col("d").alias("rd")).distinct()
    return (
        covering.join(days, "rd", "left_semi")
        .groupBy(F.col("rd").alias("d"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


@register(
    "sql_identifier_clause",
    tags=("sql", "surface"),
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                    AS DECIMAL(20,2)) AS STRING) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (SQL-injection-safe dynamic table/column
    names, Spark 3.4+): table AND column names arrive as bound string
    PARAMETERS, never by string-splicing SQL — templated multi-tenant
    queries keep one parse tree per shape. The query itself is a plain
    grouped aggregate; what is under test is the SQL surface binding
    `IDENTIFIER(:tbl)` / `IDENTIFIER(:col)` to a view and a column at
    ANALYSIS time with named-parameter passing."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_ident_v"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(CAST(CAST(SUM(CAST(IDENTIFIER(:col) AS DECIMAL(12,2)))
                    AS DECIMAL(20,2)) AS STRING) AS DOUBLE) AS sum_qty
        FROM IDENTIFIER(:tbl)
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
        args={"tbl": "li_ident_v", "col": "l_quantity"},
    )


@register(
    "sql_udf_create_function",
    tags=("sql", "surface", "udf"),
    oracle=f"""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS charged
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def sql_udf_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (CREATE TEMPORARY FUNCTION ...
    RETURN expr, Spark 3.5+): business logic named ONCE in the catalog
    and reused across queries, yet inlined into the plan at analysis
    time — the charged-amount expression below runs inside whole-stage
    codegen exactly as if written in place (zero UDF-serialization
    cost, unlike Python UDFs). The oracle recomputes the expression
    relationally, proving the function body round-trips through the
    catalog unchanged."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_sqludf_v"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION charged_amount(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DOUBLE
        RETURN price * (1 - disc) * (1 + tax)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(charged_amount(l_extendedprice, l_discount,
                                            l_tax) AS DECIMAL(30,10)))
                    AS DOUBLE) AS charged
        FROM li_sqludf_v
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@register(
    "agg_weighted_median",
    tags=("agg", "stats", "window"),
    oracle="""
        WITH per_val AS (
            SELECT l_returnflag AS grp, CAST(l_extendedprice AS DECIMAL(12,2)) AS x,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY 1, 2
        ),
        cum AS (
            SELECT grp, x, w,
                   CAST(SUM(w) OVER (PARTITION BY grp ORDER BY x
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                   CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT) AS tw
            FROM per_val
        )
        SELECT grp AS l_returnflag,
               CAST(CAST(MIN(x) AS STRING) AS DOUBLE) AS weighted_median,
               MIN(tw) AS total_weight
        FROM cum WHERE cw * 2 >= tw
        GROUP BY grp
        ORDER BY grp
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower weighted-percentile order statistic):
    the smallest value whose cumulative weight reaches half the total
    — quantity-weighted price per return flag here, the estimator
    behind weighted VaR and survey medians that plain
    percentile/median cannot express. Values first collapse to the
    DISTINCT (group, value) aggregate with their weight sums (exact
    BIGINT), so the selection windows run over distinct prices per
    group, not corpus rows; at even larger value domains the same
    bucket + carry-in decomposition as stat_ks_two_sample applies.
    The argmin-over-threshold is MIN over qualifying rows — no float,
    no interpolation, bit-exact in both engines."""
    return run_sql(spark, sf_dir, "agg_weighted_median")


@register(
    "sql_execute_immediate",
    tags=("sql", "surface"),
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL): a query held as a
    STRING executes with named parameter markers bound at run time —
    the stored-procedure/templating surface, parameterized safely
    (values bind as literals in the parsed plan, never by string
    splicing). The dynamic text here filters through a :status
    parameter; the oracle is the equivalent static SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_exec_v"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE sql_text STRING")
    spark.sql(
        """SET VARIABLE sql_text =
           'SELECT o_orderpriority, COUNT(*) AS n
            FROM orders_exec_v WHERE o_orderstatus = :status
            GROUP BY o_orderpriority ORDER BY o_orderpriority'"""
    )
    return spark.sql("EXECUTE IMMEDIATE sql_text USING 'F' AS status")


@register(
    "agg_equidepth_histogram",
    tags=("agg", "stats", "window"),
    oracle="""
        WITH per_val AS (
            SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS x,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM orders GROUP BY 1
        ),
        cum AS (
            SELECT x, w,
                   CAST(SUM(w) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cw,
                   CAST(SUM(w) OVER () AS BIGINT) AS tw
            FROM per_val
        ),
        ks AS (SELECT k FROM range(1, 8 + 1) AS t(k))
        SELECT k, CAST(CAST(MIN(x) AS STRING) AS DOUBLE) AS upper_bound,
               CAST(MIN(cw) AS BIGINT) AS cum_rows,
               MIN(tw) AS total_rows
        FROM cum JOIN ks ON cw * 8 >= k * tw
        GROUP BY k
        ORDER BY k
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram boundaries — the column
    statistic every cost-based optimizer keeps: 8 bucket upper bounds
    such that each bucket holds ~1/8 of the rows, computed as EXACT
    order statistics (smallest value whose cumulative count reaches
    k/8 of the total; integer cross-multiplication, no float, no
    interpolation — so the boundaries hash-match across engines,
    unlike approx_percentile sketches). Values collapse to the
    distinct-value aggregate first; all 8 cut points come from ONE
    cumulative pass fanned out by a broadcast k-range — generalizing
    agg_weighted_median from one cut to k. The cumulative count uses
    the stat_ks_two_sample bucket + carry-in decomposition (value-
    range-partitioned windows + an O(buckets) carry), because the
    distinct value domain IS corpus-scaled — a single global window
    would serialize on one task."""
    return run_sql(spark, sf_dir, "agg_equidepth_histogram")


_RI_RELATIONSHIPS = (
    # (child table, child key, parent table, parent key)
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "dq_referential_integrity",
    tags=("dq", "governance", "join"),
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{ct}.{ck} -> {pt}.{pk}' AS relationship,
               CAST(COUNT(*) AS BIGINT) AS n_child_rows,
               CAST(COUNT(*) FILTER (WHERE {ck} IS NULL) AS BIGINT)
                   AS n_null_keys,
               CAST(COUNT(*) FILTER (WHERE {ck} IS NOT NULL
                   AND {ck} NOT IN (SELECT {pk} FROM {pt})) AS BIGINT)
                   AS n_orphans
        FROM {ct}"""
        for ct, ck, pt, pk in _RI_RELATIONSHIPS
    ),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the full declared FK graph
    (7 relationships): per edge, child rows, NULL keys, and orphan
    keys (non-null child keys with no parent). The constraint-report
    companion to dq_fk_inference (which DISCOVERS the edges): a lake
    without enforced constraints runs exactly this after every load.
    Each edge is one left-anti key join — AQE broadcasts dimension-sized
    parents and shuffles SF-scaling ones (orders/part/customer); counts
    are exact integers. On the generated corpus
    all counts must come back orphan-free — the audit's fixed point —
    which the oracle independently confirms."""
    from finance_etl_spark.io.readers import load_table as _lt

    parts = []
    for ct, ck, pt, pk in _RI_RELATIONSHIPS:
        child = _lt(spark, sf_dir, ct)
        parent = _lt(spark, sf_dir, pt).select(pk).distinct()
        orphans = (
            child.filter(F.col(ck).isNotNull())
            .join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        )
        base = child.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
            F.sum(F.col(ck).isNull().cast("int"))
            .cast("bigint")
            .alias("n_null_keys"),
        )
        parts.append(
            base.crossJoin(orphans).select(
                F.lit(f"{ct}.{ck} -> {pt}.{pk}").alias("relationship"),
                "n_child_rows",
                "n_null_keys",
                "n_orphans",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_ENTROPY_COLS = (
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
    ("customer", "c_mktsegment"),
    ("lineitem", "l_returnflag"),
    ("documents", "lang"),
)


@register(
    "dq_column_entropy",
    tags=("dq", "governance", "agg"),
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{t}.{c}' AS column_name,
               CAST(SUM(n_v) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               -CAST(CAST(SUM(n_v * CAST(ln(CAST(n_v AS DOUBLE)
                       / CAST(n_tot AS DOUBLE))
                    AS DECIMAL(12,6))) AS STRING) AS DOUBLE)
                 / CAST(SUM(n_v) AS DOUBLE) AS entropy_nats
        FROM (SELECT v, n_v, CAST(SUM(n_v) OVER () AS BIGINT) AS n_tot
              FROM (SELECT {c} AS v, CAST(COUNT(*) AS BIGINT) AS n_v
                    FROM {t} GROUP BY {c}))"""
        for t, c in _ENTROPY_COLS
    ),
)
def dq_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per declared categorical column — the
    distribution-health profiler (near-zero entropy flags a collapsed
    or constant column, entropy ≈ ln(k) a uniform one; drift in either
    direction is a data-quality incident). Engine-exact via the
    quantized-log recipe: per distinct value, ln(p) quantizes to
    DECIMAL(12,6) and H = −Σ n_v·ln_q(p_v)/N is an exact decimal dot
    product with one edge division. Per column: one value-key
    shuffle, value-cardinality-sized state."""
    return run_sql(spark, sf_dir, "dq_column_entropy")


@register(
    "agg_cms_portable",
    tags=("agg", "sketch", "approx"),
    oracle="""
        WITH kc AS (
            SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey
        ),
        rs AS (SELECT unnest(generate_series(0, 3)) AS r),
        sketch AS (
            SELECT r,
                   CAST('0x' || substr(md5(CAST(r AS STRING) || ':'
                        || CAST(k AS STRING)), 1, 15) AS BIGINT) % 512
                       AS bucket,
                   CAST(SUM(n) AS BIGINT) AS cnt
            FROM kc CROSS JOIN rs
            GROUP BY 1, 2
        ),
        top5 AS (
            SELECT k, n FROM kc ORDER BY n DESC, k LIMIT 5
        ),
        probes AS (
            SELECT t.k, t.n, r.r,
                   CAST('0x' || substr(md5(CAST(r.r AS STRING) || ':'
                        || CAST(t.k AS STRING)), 1, 15) AS BIGINT) % 512
                       AS bucket
            FROM top5 t CROSS JOIN rs r
        )
        SELECT p.k AS o_custkey, CAST(MIN(p.n) AS BIGINT) AS exact_n,
               CAST(MIN(s.cnt) AS BIGINT) AS cms_estimate
        FROM probes p JOIN sketch s
          ON s.r = p.r AND s.bucket = p.bucket
        GROUP BY p.k
        ORDER BY exact_n DESC, o_custkey
    """,
)
def agg_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable count-min sketch (d=4 rows x w=512 buckets) with
    engine-reproducible md5 hashing — unlike agg_count_min_sketch's
    Spark-native JVM sketch (whose xxhash-based layout no other engine
    can replay), this one is pure relational algebra and hash-oracles
    cross-engine. Build order is the scale-critical part: the corpus
    aggregates to per-key counts FIRST (one map-side-combining
    shuffle on the key), and only the |keys|-sized relation fans out
    x4 into the 2048-bucket sketch — the corpus itself never
    multiplies. Estimates for the 5 hottest keys (deterministic
    count-desc/key tiebreak) probe the sketch with the same md5
    buckets; all arithmetic is exact BIGINT, and the CMS guarantee
    estimate >= truth is pinned in tests. Mergeability is structural:
    bucket counts are sums, so partial sketches combine
    associatively like any aggregate."""
    o = load_table(spark, sf_dir, "orders")
    kc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rs = spark.range(0, 4).select(F.col("id").cast("int").alias("r"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 512
    )
    sketch = (
        kc.crossJoin(F.broadcast(rs))
        .select("r", bucket.alias("bucket"), "n")
        .groupBy("r", "bucket")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
    )
    top5 = kc.orderBy(F.col("n").desc(), "k").limit(5)
    probes = top5.crossJoin(F.broadcast(rs)).select(
        "k", "n", "r", bucket.alias("bucket")
    )
    return (
        probes.join(sketch, ["r", "bucket"])
        .groupBy("k")
        .agg(
            F.min("n").cast("bigint").alias("exact_n"),
            F.min("cnt").cast("bigint").alias("cms_estimate"),
        )
        .select(F.col("k").alias("o_custkey"), "exact_n", "cms_estimate")
        .orderBy(F.col("exact_n").desc(), "o_custkey")
    )


@register(
    "agg_kmv_portable",
    tags=("agg", "sketch", "approx", "distinct"),
    oracle="""
        WITH hk AS (
            SELECT DISTINCT o_orderstatus AS g,
                   CAST('0x' || substr(md5(CAST(o_custkey AS STRING)),
                        1, 15) AS BIGINT) AS h
            FROM orders
        ),
        ranked AS (
            SELECT g, h,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
            FROM hk
        ),
        kept AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(h) AS BIGINT) AS h_k
            FROM ranked WHERE rk <= 64 GROUP BY g
        ),
        exact AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_exact FROM hk GROUP BY g
        )
        SELECT e.g AS o_orderstatus, e.n_exact, k.n_kept,
               CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
                    ELSE CAST(63 AS DOUBLE)
                         * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(k.h_k AS DOUBLE)
               END AS kmv_estimate
        FROM exact e JOIN kept k ON k.g = e.g
        ORDER BY o_orderstatus
    """,
)
def agg_kmv_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable K-minimum-values distinct-count sketch (k=64) with
    engine-reproducible md5 hashing — the mergeable DISTINCT
    estimator whose state is just the k smallest 60-bit hash values
    (union of sketches = merge + re-truncate, so partials combine
    associatively). Estimate = (k-1)·2^60 / h_(k); groups holding
    fewer than k distinct hashes are exact by construction. The
    distinct + row_number window partitions by group (never a global
    sort), and only hash values — never raw keys — cross the
    shuffle. Every quantity is exact BIGINT until the single
    presentation division (bigint→double casts are IEEE
    correctly-rounded on both engines). Accuracy (±1/√k ≈ 12.5%)
    is pinned in tests alongside the hash-oracle."""
    o = load_table(spark, sf_dir, "orders")
    hk = (
        o.select(
            F.col("o_orderstatus").alias("g"),
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    kept = (
        hk.select("g", "h", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 64)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.max("h").cast("bigint").alias("h_k"),
        )
    )
    exact = hk.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    return (
        exact.join(kept, "g")
        .select(
            F.col("g").alias("o_orderstatus"),
            "n_exact",
            "n_kept",
            F.when(
                F.col("n_kept") < 64, F.col("n_kept").cast("double")
            )
            .otherwise(
                F.lit(63).cast("double")
                * F.lit(1152921504606846976).cast("double")
                / F.col("h_k").cast("double")
            )
            .alias("kmv_estimate"),
        )
        .orderBy("o_orderstatus")
    )


# HLL rho from a 15-hex-char string: 4 bits per leading zero char plus
# the first nonzero char's own leading zeros, 1-based. The all-zero
# string (p = 16^-15) pins to the 61 ceiling.
_HLL_CZ = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}


@register(
    "agg_hll_portable",
    tags=("agg", "sketch", "approx", "distinct"),
    oracle="""
        WITH hk AS (
            SELECT DISTINCT o_orderstatus AS g, o_custkey AS k
            FROM orders
        ),
        hashed AS (
            SELECT g,
                   CAST('0x' || substr(md5('b:' || CAST(k AS STRING)),
                        1, 15) AS BIGINT) % 256 AS bucket,
                   substr(md5('r:' || CAST(k AS STRING)), 1, 15) AS hr
            FROM hk
        ),
        rho AS (
            SELECT g, bucket,
                   CASE WHEN hr = '000000000000000' THEN 61
                        ELSE 4 * length(regexp_extract(hr, '^(0*)', 1))
                             + CASE substr(hr,
                                   length(regexp_extract(hr, '^(0*)', 1))
                                   + 1, 1)
                               WHEN '1' THEN 3 WHEN '2' THEN 2
                               WHEN '3' THEN 2 WHEN '4' THEN 1
                               WHEN '5' THEN 1 WHEN '6' THEN 1
                               WHEN '7' THEN 1 ELSE 0 END + 1
                   END AS r
            FROM hashed
        ),
        spine AS (
            SELECT DISTINCT g, unnest(generate_series(0, 255)) AS bucket
            FROM hk
        ),
        regs AS (
            SELECT s.g, s.bucket,
                   COALESCE(MAX(r.r), 0) AS m
            FROM spine s LEFT JOIN rho r
              ON r.g = s.g AND r.bucket = s.bucket
            GROUP BY s.g, s.bucket
        ),
        red AS (
            SELECT g,
                   CAST(CAST(SUM(CAST(1::BIGINT << (60 - m)
                        AS DECIMAL(38,0))) AS STRING) AS DOUBLE) AS s_d,
                   CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS v_empty
            FROM regs GROUP BY g
        ),
        exact AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_exact FROM hk GROUP BY g
        ),
        est AS (
            SELECT e.g, e.n_exact, r.v_empty,
                   (CAST(0.7213 AS DOUBLE)
                    / (CAST(1.0 AS DOUBLE)
                       + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
                   * CAST(65536.0 AS DOUBLE)
                   * CAST(1152921504606846976 AS DOUBLE) / r.s_d AS raw
            FROM exact e JOIN red r ON r.g = e.g
        )
        SELECT g AS o_orderstatus, n_exact, v_empty, raw AS raw_estimate,
               CASE WHEN raw <= CAST(640.0 AS DOUBLE) AND v_empty > 0
                    THEN CAST(256.0 AS DOUBLE)
                         * (FLOOR(CAST(1e6 AS DOUBLE) * ln(
                               CAST(256.0 AS DOUBLE)
                               / CAST(v_empty AS DOUBLE)))
                            / CAST(1e6 AS DOUBLE))
                    ELSE raw END AS hll_estimate
        FROM est
        ORDER BY o_orderstatus
    """,
)
def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (m=256 registers) with engine-reproducible
    md5 hashing — the mergeable cardinality sketch as pure relational
    algebra (registers combine by MAX, so partial sketches merge
    associatively; contrast agg_hll_mergeable_sketch, whose
    Spark-native binary state no other engine can replay). Two
    independent md5 draws give the bucket (60-bit % 256) and the
    rank rho (leading-zero count read off the HEX STRING — 4 bits per
    leading '0' plus a 7-entry table for the first nonzero char — so
    no engine-specific bit intrinsics are needed). The harmonic-mean
    denominator sums exact powers of two, scaled to integers
    (1<<(60-M) as DECIMAL(38,0)) — no floating accumulation; the
    standard small-range linear-counting branch m·ln(m/V) is the only
    libm edge and rides the 1e-6 ln-floor recipe. Scale: distinct
    keys hash map-side into 256·|groups| registers; the corpus never
    crosses a small-key join."""
    o = load_table(spark, sf_dir, "orders")
    hk = (
        o.select(
            F.col("o_orderstatus").alias("g"), F.col("o_custkey").alias("k")
        )
        .distinct()
        .persist()  # consumed by the register build and the exact count
    )
    ks = F.col("k").cast("string")
    hr = F.substring(F.md5(F.concat(F.lit("r:"), ks)), 1, 15)
    nz = F.length(F.regexp_extract(F.col("hr"), "^(0*)", 1))
    cz = F.substring(F.col("hr"), nz + 1, 1)
    cz_map = F.when(cz == "1", 3)
    for ch, v in list(_HLL_CZ.items())[1:]:
        cz_map = cz_map.when(cz == ch, v)
    cz_map = cz_map.otherwise(0)
    rho = (
        hk.select(
            "g",
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("b:"), ks)), 1, 15),
                    16,
                    10,
                ).cast("bigint")
                % 256
            ).alias("bucket"),
            hr.alias("hr"),
        )
        .select(
            "g",
            "bucket",
            F.when(F.col("hr") == "0" * 15, F.lit(61))
            .otherwise(4 * nz + cz_map + 1)
            .alias("r"),
        )
    )
    spine = (
        hk.select("g")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(0, 256).select(F.col("id").alias("bucket"))
            )
        )
    )
    regs = (
        spine.join(rho, ["g", "bucket"], "left")
        .groupBy("g", "bucket")
        .agg(F.coalesce(F.max("r"), F.lit(0)).alias("m"))
    )
    red = regs.groupBy("g").agg(
        F.sum(
            F.expr("shiftleft(1L, 60 - m)").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("s_d"),
        F.sum((F.col("m") == 0).cast("int")).cast("bigint").alias("v_empty"),
    )
    exact = hk.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    raw = (
        alpha
        * F.lit(65536.0)
        * F.lit(1152921504606846976).cast("double")
        / F.col("s_d")
    )
    est = exact.join(red, "g").select(
        "g", "n_exact", "v_empty", raw.alias("raw")
    )
    lc = F.lit(256.0) * (
        F.floor(
            F.lit(1e6) * F.log(F.lit(256.0) / F.col("v_empty").cast("double"))
        )
        / F.lit(1e6)
    )
    return est.select(
        F.col("g").alias("o_orderstatus"),
        "n_exact",
        "v_empty",
        F.col("raw").alias("raw_estimate"),
        F.when((F.col("raw") <= F.lit(640.0)) & (F.col("v_empty") > 0), lc)
        .otherwise(F.col("raw"))
        .alias("hll_estimate"),
    ).orderBy("o_orderstatus")


@register(
    "agg_bloom_portable",
    tags=("agg", "sketch", "approx"),
    oracle="""
        WITH buyers AS MATERIALIZED (
            SELECT DISTINCT o_custkey AS k FROM orders
        ),
        rs AS (SELECT unnest(generate_series(0, 2)) AS r),
        bits AS MATERIALIZED (
            SELECT DISTINCT
                   CAST('0x' || substr(md5(CAST(r AS STRING) || ':'
                        || CAST(k AS STRING)), 1, 15) AS BIGINT) % 2048
                       AS pos
            FROM buyers CROSS JOIN rs
        ),
        probes AS (
            SELECT c.c_custkey AS k, r.r,
                   CAST('0x' || substr(md5(CAST(r.r AS STRING) || ':'
                        || CAST(c.c_custkey AS STRING)), 1, 15) AS BIGINT)
                       % 2048 AS pos
            FROM customer c CROSS JOIN rs r
        ),
        hit AS (
            SELECT p.k,
                   CAST(SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM probes p LEFT JOIN bits b ON b.pos = p.pos
            GROUP BY p.k
        ),
        verdict AS (
            SELECT h.k, (h.n_hit = 3) AS bloom_pos,
                   (bu.k IS NOT NULL) AS is_member
            FROM hit h LEFT JOIN buyers bu ON bu.k = h.k
        )
        SELECT CAST(2048 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes,
               CAST((SELECT COUNT(*) FROM buyers) AS BIGINT) AS n_keys,
               CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_set_bits,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true_members,
               CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_positive,
               CAST(SUM(CASE WHEN bloom_pos AND NOT is_member
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_positives,
               CAST(SUM(CASE WHEN is_member AND NOT bloom_pos
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_negatives
        FROM verdict
    """,
)
def agg_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter (m=2048 bits, k=3) over the buyer-key set
    with engine-reproducible md5 bit positions, probed by the full
    customer dim: the build aggregates the corpus to DISTINCT keys
    first (one shuffle), fans out only the |keys|-sized relation x3
    into bit positions, and the membership probe is a bit-relation
    join — the corpus never multiplies, and the filter itself is a
    relation (mergeable by union, shippable as a broadcast side input
    for join pruning at 100 TB). Zero false negatives is structural
    and pinned; the false-positive census is exact integer output."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    buyers = o.select(F.col("o_custkey").alias("k")).distinct()
    rs = spark.range(0, 3).select(F.col("id").cast("int").alias("r"))
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("r").cast("string"), F.lit(":"), F.col("k").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 2048
    )
    bits = (
        buyers.crossJoin(F.broadcast(rs)).select(pos.alias("pos")).distinct()
    )
    probes = (
        c.select(F.col("c_custkey").alias("k"))
        .crossJoin(F.broadcast(rs))
        .select("k", pos.alias("pos"))
    )
    hit = (
        probes.join(F.broadcast(bits.withColumn("set_", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("set_").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit")
        )
    )
    verdict = hit.join(
        buyers.withColumn("member_", F.lit(1)), "k", "left"
    ).select(
        (F.col("n_hit") == 3).alias("bloom_pos"),
        F.col("member_").isNotNull().alias("is_member"),
    )
    n_keys = buyers.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_set_bits"))
    summary = verdict.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_members"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_positive"),
        F.sum(F.when(F.col("bloom_pos") & ~F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_positives"),
        F.sum(F.when(F.col("is_member") & ~F.col("bloom_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_negatives"),
    )
    return (
        spark.range(1)
        .select(
            F.lit(2048).cast("bigint").alias("m_bits"),
            F.lit(3).cast("bigint").alias("k_hashes"),
        )
        .crossJoin(F.broadcast(n_keys))
        .crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(summary))
    )


@register(
    "geo_grid_knn_join",
    tags=("geo", "join", "spatial"),
    oracle="""
        WITH pts AS MATERIALIZED (
            SELECT c_custkey AS id,
                   CAST((c_custkey * 7919) % 18000000 AS BIGINT) - 9000000
                       AS lat_u,
                   CAST((c_custkey * 104729) % 36000000 AS BIGINT) - 18000000
                       AS lon_u
            FROM customer
        ),
        cells AS MATERIALIZED (
            SELECT id, lat_u, lon_u,
                   CAST(FLOOR(lat_u / 1000000.0) AS BIGINT) AS cy,
                   CAST(FLOOR(lon_u / 1000000.0) AS BIGINT) AS cx
            FROM pts
        ),
        probes AS (
            SELECT * FROM cells WHERE id % 100 = 1
        ),
        offs AS (
            SELECT dx.v AS dx, dy.v AS dy
            FROM (SELECT v FROM (VALUES (-1), (0), (1)) AS t(v)) dx
            CROSS JOIN (SELECT v FROM (VALUES (-1), (0), (1)) AS t(v)) dy
        ),
        cand AS (
            SELECT p.id AS probe_id, c.id AS cand_id,
                   (p.lat_u - c.lat_u) * (p.lat_u - c.lat_u)
                 + (p.lon_u - c.lon_u) * (p.lon_u - c.lon_u) AS d2
            FROM probes p
            JOIN offs o ON TRUE
            JOIN cells c ON c.cy = p.cy + o.dy AND c.cx = p.cx + o.dx
            WHERE c.id <> p.id
        ),
        ranked AS (
            SELECT probe_id, cand_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                       ORDER BY d2, cand_id) AS rnk
            FROM cand
        )
        SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, d2
        FROM ranked WHERE rnk <= 3
        ORDER BY probe_id, rnk
    """,
)
def geo_grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial k-NN via grid bucketing — the pattern that replaces the
    |points|² distance join at scale: points land in 1-degree cells
    (integer micro-degree coordinates derived deterministically from
    the customer key), each probe only meets candidates from its 3x3
    cell neighborhood (a 9-way equi-join on cell ids — shuffle is
    |probes|x9 cell lookups, never all-pairs), and distances are EXACT
    integer squared micro-degrees (equirectangular on synthetic
    coords; swap in haversine behind the same bucketing for real
    geodata). Top-3 per probe with the (d2, cand_id) tiebreak. This is
    the geohash/S2 join shape every geospatial warehouse query
    uses."""
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919) % 18000000 - 9000000)
        .cast("bigint")
        .alias("lat_u"),
        ((F.col("c_custkey") * 104729) % 36000000 - 18000000)
        .cast("bigint")
        .alias("lon_u"),
    )
    cells = pts.select(
        "id",
        "lat_u",
        "lon_u",
        F.floor(F.col("lat_u") / 1000000.0).cast("bigint").alias("cy"),
        F.floor(F.col("lon_u") / 1000000.0).cast("bigint").alias("cx"),
    )
    probes = cells.filter(F.col("id") % 100 == 1).select(
        F.col("id").alias("probe_id"),
        F.col("lat_u").alias("plat"),
        F.col("lon_u").alias("plon"),
        F.col("cy").alias("pcy"),
        F.col("cx").alias("pcx"),
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    cand = (
        probes.join(F.broadcast(offs))
        .join(
            cells,
            (F.col("cy") == F.col("pcy") + F.col("dy"))
            & (F.col("cx") == F.col("pcx") + F.col("dx")),
        )
        .filter(F.col("id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("id").alias("cand_id"),
            (
                (F.col("plat") - F.col("lat_u")) * (F.col("plat") - F.col("lat_u"))
                + (F.col("plon") - F.col("lon_u")) * (F.col("plon") - F.col("lon_u"))
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("d2", "cand_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("probe_id", "rnk", "cand_id", "d2")
        .orderBy("probe_id", "rnk")
    )


@register(
    "agg_decayed_counters",
    tags=("agg", "timeseries"),
    oracle="""
        WITH mx AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders
        ),
        lab AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(mx.dmax - CAST(o.o_orderdate AS DATE) AS BIGINT)
                       AS days_ago,
                   CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS cents
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            CROSS JOIN mx
        ),
        weighted AS (
            SELECT segment,
                   CAST(FLOOR(pow(CAST(0.999 AS DOUBLE),
                        CAST(days_ago AS DOUBLE)) * 1e12) AS BIGINT) AS w_q12,
                   cents
            FROM lab
        )
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_raw,
               CAST(SUM(w_q12) AS BIGINT) AS decayed_count_q12,
               CAST(CAST(SUM(CAST(w_q12 AS DECIMAL(19,0)) * cents)
                    AS STRING) AS DOUBLE) / 1e14 AS decayed_revenue,
               CAST(SUM(w_q12) AS DOUBLE) / 1e12 AS decayed_count
        FROM weighted GROUP BY segment
        ORDER BY segment
    """,
)
def agg_decayed_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed counters (half-life ~693 days at
    lambda=0.999/day) per segment as of the corpus horizon — the
    'trending now' primitive behind recency-weighted dashboards and
    feature stores. Each row's decay weight is ONE libm pow call
    floor-quantized to q12 at birth (the libm-ulp discipline), so
    every aggregate downstream is exact integer / DECIMAL arithmetic
    — merge-safe across partitions and replayable. Decayed counters
    beat sliding windows at scale because state is one number per
    (group), not a window buffer."""
    return run_sql(spark, sf_dir, "agg_decayed_counters")


@register(
    "agg_ams_f2_portable",
    tags=("agg", "sketch", "approx"),
    oracle="""
        WITH kc AS (
            SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_partkey
        ),
        rs AS (SELECT unnest(generate_series(0, 15)) AS j),
        xs AS (
            SELECT j,
                   CAST(SUM((CAST('0x' || substr(md5(CAST(j AS STRING)
                        || ':' || CAST(k AS STRING)), 1, 15) AS BIGINT)
                        % 2 * 2 - 1) * n) AS BIGINT) AS x
            FROM kc CROSS JOIN rs
            GROUP BY j
        ),
        gs AS (
            SELECT j // 4 AS g,
                   CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0))
                       AS gsum
            FROM xs GROUP BY 1
        ),
        med AS (
            SELECT list(CAST(CAST(gsum AS STRING) AS DOUBLE)
                        ORDER BY gsum) AS l
            FROM gs
        ),
        exact AS (
            SELECT CAST(CAST(SUM(CAST(n AS DECIMAL(19,0)) * n) AS STRING)
                        AS DOUBLE) AS f2
            FROM kc
        )
        SELECT exact.f2 AS exact_f2,
               (med.l[2] + med.l[3]) / 8 AS ams_estimate,
               CASE WHEN exact.f2 > 0 THEN
                 ABS((med.l[2] + med.l[3]) / 8 - exact.f2) / exact.f2
               END AS rel_error
        FROM med CROSS JOIN exact
    """,
)
def agg_ams_f2_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable AMS (tug-of-war) sketch of the second frequency moment
    F2 = sum_k count(k)^2 over part keys — the self-join-size /
    skew-detection estimator, completing the portable-sketch family
    (CMS/KMV/HLL/Bloom) with the moments member. 16 independent
    estimators X_j = sum_k sign_j(k)*n_k use md5-derived +-1 signs
    (engine-reproducible, unlike any native hash), combined
    median-of-4-means for the classic variance bound; every X_j, every
    square, and the exact-F2 baseline are exact BIGINT/DECIMAL
    arithmetic, and the 4 group sums reduce through an ORDERED fold
    (sorted list there, array_sort here) so even the median is
    order-free — the whole output hash-oracles. Build order is the
    scale story: ONE map-side-combining key agg reduces the corpus,
    and only the |keys| relation fans out x16; mergeability is
    structural (X_j are sums). Class-5: empty-input F2=0 guards the
    relative error; the estimate itself needs no division by data."""
    li = load_table(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rs = spark.range(0, 16).select(F.col("id").cast("int").alias("j"))
    sign = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        * 2
        - 1
    )
    xs = (
        kc.crossJoin(F.broadcast(rs))
        .select("j", (sign * F.col("n")).alias("sx"))
        .groupBy("j")
        .agg(F.sum("sx").cast("bigint").alias("x"))
    )
    gs = xs.groupBy((F.col("j") / 4).cast("int").alias("g")).agg(
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("gsum")
    )
    med = gs.agg(
        F.array_sort(
            F.collect_list(F.col("gsum").cast("string").cast("double"))
        ).alias("l")
    )
    exact = kc.agg(
        F.sum(F.col("n").cast("decimal(19,0)") * F.col("n"))
        .cast("decimal(38,0)")
        .cast("string")
        .cast("double")
        .alias("f2")
    )
    est = (F.element_at("l", 2) + F.element_at("l", 3)) / 8
    return med.crossJoin(F.broadcast(exact)).select(
        F.col("f2").alias("exact_f2"),
        est.alias("ams_estimate"),
        F.when(F.col("f2") > 0, F.abs(est - F.col("f2")) / F.col("f2")).alias(
            "rel_error"
        ),
    )


@register(
    "sql_distinct_on",
    tags=("sql", "window"),
    oracle="""
        SELECT DISTINCT ON (o_custkey)
               o_custkey,
               o_orderkey AS latest_orderkey,
               CAST(o_orderdate AS DATE) AS latest_orderdate,
               CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING)
                    AS DOUBLE) AS latest_total
        FROM orders
        ORDER BY o_custkey, o_orderdate DESC, o_orderkey
    """,
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON emulation — Postgres/DuckDB's pick-one-row-per-key
    surface, which Spark SQL lacks: latest order per customer with the
    deterministic (o_orderdate DESC, o_orderkey) tiebreak, planned as
    a per-key row_number window + rank-1 filter. The window partitions
    by custkey (bounded orders per customer — parallel across keys,
    never a global sort); at 100 TB the same plan holds because the
    per-partition top-1 is a streaming min over each key group. The
    oracle IS the native DISTINCT ON, pinning that the emulation
    matches the engine-native semantics row-for-row. Money presents
    through the VARCHAR-routed double edge (raw DECIMAL outputs are
    banned fleet-wide — check.py's driver-canon guard)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").cast("date").alias("latest_orderdate"),
            F.col("o_totalprice")
            .cast("decimal(12,2)")
            .cast("string")
            .cast("double")
            .alias("latest_total"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10: geohash encoding — the prefix-shared spatial bucketing key
# (neighboring points share prefixes, so GROUP BY / range scans on the
# geohash cluster spatially). Pure integer bit interleaving realized
# as engine-portable arithmetic (div/mod/multiply — no bit operators,
# whose <<//>> dialects differ), generated once and shared verbatim.


def _geohash_exprs(intdiv) -> tuple[str, str]:
    """(gh30_expr, geohash6_expr): 30-bit interleave of the 15-bit
    normalized lat/lon, then 6 base-32 characters. ``intdiv(a, b)``
    renders integer division in the target dialect."""
    terms = []
    for i in range(15):
        b = 14 - i
        # geohash convention: longitude takes the even (leading) bit
        terms.append(f"(({intdiv('lon15', 2 ** b)}) % 2) * {2 ** (29 - 2 * i)}")
        terms.append(f"(({intdiv('lat15', 2 ** b)}) % 2) * {2 ** (28 - 2 * i)}")
    gh30 = " + ".join(terms)
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = [
        f"substring('{alpha}', CAST(({intdiv('gh30', 2 ** (5 * (5 - g)))}) % 32"
        f" + 1 AS INT), 1)"
        for g in range(6)
    ]
    return gh30, "concat(" + ", ".join(chars) + ")"


_GH30_DUCK, _GH6_DUCK = _geohash_exprs(lambda a, b: f"{a} // {b}")
_GH30_SPARK, _GH6_SPARK = _geohash_exprs(lambda a, b: f"{a} div {b}")


@register(
    "geo_geohash_encode",
    tags=("geo", "scalar", "spatial"),
    oracle=f"""
        WITH pts AS (
            SELECT c_custkey AS id,
                   CAST((c_custkey * 7919) % 18000000 AS BIGINT) - 9000000
                       AS lat_u,
                   CAST((c_custkey * 104729) % 36000000 AS BIGINT) - 18000000
                       AS lon_u
            FROM customer WHERE c_custkey % 100 = 1
        ),
        norm AS (
            SELECT id, lat_u, lon_u,
                   ((lat_u + 9000000) * 32768) // 18000000 AS lat15,
                   ((lon_u + 18000000) * 32768) // 36000000 AS lon15
            FROM pts
        ),
        bits AS (
            SELECT id, lat_u, lon_u, CAST({_GH30_DUCK} AS BIGINT) AS gh30
            FROM norm
        )
        SELECT id AS c_custkey, lat_u, lon_u, gh30,
               {_GH6_DUCK} AS geohash6
        FROM bits ORDER BY c_custkey
    """,
)
def geo_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-6 encoding of the deterministic micro-degree points
    (same derivation as geo_grid_knn_join): quantize lat/lon to 15
    bits each by pure integer division, interleave (lon leads, the
    geohash convention) into a 30-bit key, emit 6 base-32 chars — the
    prefix-shared spatial bucketing key that makes GROUP BY/range
    scans cluster spatially at any scale. Every step is integer
    div/mod/multiply plus substring — the arithmetic both engines
    execute identically (bit operators avoided: their dialects
    differ) — generated once by _geohash_exprs and shared verbatim.
    Per-row scalar work, zero shuffle beyond the scan filter; the 1%
    probe sample keeps the output model-sized while the expression is
    corpus-rate-ready. No division by data (divisors are constants)."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.filter(F.col("c_custkey") % 100 == 1).select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 7919) % 18000000).cast("bigint") - 9000000).alias(
            "lat_u"
        ),
        (
            ((F.col("c_custkey") * 104729) % 36000000).cast("bigint") - 18000000
        ).alias("lon_u"),
    )
    norm = pts.selectExpr(
        "id",
        "lat_u",
        "lon_u",
        "((lat_u + 9000000) * 32768) div 18000000 AS lat15",
        "((lon_u + 18000000) * 32768) div 36000000 AS lon15",
    )
    bits = norm.selectExpr(
        "id", "lat_u", "lon_u", f"CAST({_GH30_SPARK} AS BIGINT) AS gh30"
    )
    return bits.selectExpr(
        "id AS c_custkey",
        "lat_u",
        "lon_u",
        "gh30",
        f"{_GH6_SPARK} AS geohash6",
    ).orderBy("c_custkey")


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
    return run_sql(spark, sf_dir, "window_weighted_moving_avg")


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


# ---------------------------------------------------------------------------
# sql_quantified_rewrite — ALL-predicate emulation


@register(
    "sql_quantified_rewrite",
    tags=("sql", "subquery"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dominating,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2)))
                    AS STRING) AS DOUBLE) AS max_price
        FROM orders
        WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) = 1998
          AND o_totalprice > ALL (
              SELECT o_totalprice FROM orders
              WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) = 1992)
    """,
)
def sql_quantified_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparison predicate (> ALL) — a surface Spark SQL
    does NOT parse — rewritten to its scalar-aggregate equivalent:
    x > ALL(S) == x > (SELECT MAX(S)) when S is non-empty, with the
    empty-S edge (ALL over empty is TRUE; MAX over empty is NULL,
    which would wrongly drop every row) guarded by an explicit
    IS-empty branch. Here: 1998 orders whose value dominates EVERY
    1992 order. The oracle runs DuckDB's native > ALL, so the rewrite
    is verified against a real quantified-predicate implementation,
    not against itself. The MAX subquery is a 1-row broadcast; the
    probe side is a pushed-down year filter scan. The empty edge is
    not theoretical: the sf0.001 fixture has NO 1992 orders, so the
    guard branch is exercised (and agrees with DuckDB's native ALL)
    at every round's triple-SF sweep."""
    o = load_table(spark, sf_dir, "orders")
    y92 = o.filter(F.year("o_orderdate") == 1992).agg(
        F.max("o_totalprice").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n92"),
    )
    y98 = o.filter(F.year("o_orderdate") == 1998)
    dominating = y98.crossJoin(F.broadcast(y92)).filter(
        (F.col("n92") == 0) | (F.col("o_totalprice") > F.col("mx"))
    )
    return dominating.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dominating"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("string")
        .cast("double")
        .alias("max_price"),
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
    return run_sql(spark, sf_dir, "window_dist_functions")


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
            FROM w1 WHERE array_length(l) = 7
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
