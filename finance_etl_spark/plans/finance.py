"""Finance-domain operators the reference's users live on, re-expressed
Spark-first: as-of FX conversion, double-entry trial balance, ACT/360
interest accrual, two-way 1:1 reconciliation matching, and FIFO tax-lot
cost-basis allocation.

The reference (ibqp/finance-etl, utils/data_manager.py:59-95) ingests
bank statements and securities reports; these queries are the analytic
layer such a pipeline feeds. Every query is fully ANSI-SQL-expressible
and oracle-checked; money follows the decimal-exact contract in
plans/registry.py (DECIMAL in flight, ONE double cast at the edge;
per-row double arithmetic is IEEE-deterministic cross-engine).

Scale notes per query are in the docstrings — no cross joins on
SF-scaled tables, every join keyed, windows partitioned by business
keys whose group size is bounded (per-nation rate lists, per-part lot
lists), never by an SF-scaled global ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import (
    DEC,
    as_d,
    dsum,
    o_dsum,
    o_ordered_fold_sum,
    ordered_fold_sum,
)
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.operators.joins import asof_join
from finance_etl_spark.plans.recipes import (
    MARKET_MODEL_SQL,
    MKT_RET_SQL,
    SEG_DAILY_SQL,
    SEG_PNL_DAILY_SQL,
    SEG_RET_SQL,
    dd_q6,
    market_model_sums,
    mkt_returns,
    ncdf_sql,
    o_dd_q6,
    o_ret_q9,
    ret_q9,
    seg_daily,
    seg_pnl_daily,
    seg_returns,
)
from finance_etl_spark.plans.registry import register

# Quarterly FX spine bounds covering the orders fixture (1995-01..2001-08).
_FX_START, _FX_END = "1995-01-01", "2001-07-01"


def _fx_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_nationkey, rd DATE, rate_milli INT): deterministic quarterly
    per-nation FX-rate fixture derived from the nation table — a date
    spine (sequence + explode) cross the 25-row nation dim. Tiny at any
    SF (nations are fixed), so downstream as-of joins see a bounded
    right side."""
    nation = load_table(spark, sf_dir, "nation")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(_FX_START)),
                F.to_date(F.lit(_FX_END)),
                F.expr("interval 3 months"),
            )
        ).alias("rd")
    )
    return nation.crossJoin(spine).select(
        "n_nationkey",
        "rd",
        (
            F.lit(1000)
            + F.col("n_nationkey") * 10
            + (F.year("rd") - 1995) * 4
            + (F.quarter("rd") - 1)
        ).cast("int").alias("rate_milli"),
    )


_FX_RATES_SQL = f"""
    SELECT n_nationkey, rd, CAST(1000 + n_nationkey * 10
           + (year(rd) - 1995) * 4 + (quarter(rd) - 1) AS INT) AS rate_milli
    FROM nation, (SELECT CAST(unnest(generate_series(
             DATE '{_FX_START}', DATE '{_FX_END}', INTERVAL 3 MONTH)) AS DATE) AS rd)
"""


@register(
    "fin_fx_convert_asof",
    tags=("finance", "asof", "join"),
    oracle=f"""
        WITH rates AS ({_FX_RATES_SQL}),
        o AS (
            SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS od,
                   c_nationkey
            FROM orders JOIN customer ON o_custkey = c_custkey
        ),
        conv AS (
            SELECT o.c_nationkey, o.o_totalprice,
                   CAST(o.o_totalprice AS DECIMAL(30,10)) * r.rate_milli
                       AS local_milli
            FROM o ASOF JOIN rates r
              ON o.c_nationkey = r.n_nationkey AND o.od >= r.rd
        )
        SELECT n.n_name, COUNT(*) AS n_orders,
               CAST(CAST(SUM(local_milli) AS VARCHAR) AS DOUBLE) / 1000.0
                   AS local_total,
               {o_dsum('o_totalprice')} AS base_total
        FROM conv JOIN nation n ON conv.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
)
def fin_fx_convert_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report-currency conversion with backward as-of FX rates: each
    order picks the latest quarterly rate at-or-before its order date
    (the standard spot-rate convention for revaluing foreign-currency
    receivables).

    Scale: the rate table is dimension-sized (nations x quarters), so
    the as-of union+window shuffles |orders| + |rates| rows once on
    (nationkey, date) — per-nation windows are balanced because nations
    partition customers roughly evenly. Conversion itself is per-row
    IEEE double math (deterministic); totals go through the decimal
    sum. Reference parity: data_manager.py:59-95 normalizes statement
    amounts per-account; this is the same shape at analytic scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("od"),
            "c_nationkey",
        )
    )
    rated = asof_join(
        o,
        _fx_rates(spark, sf_dir).withColumnRenamed("n_nationkey", "c_nationkey"),
        on="c_nationkey",
        left_ts="od",
        right_ts="rd",
        value_cols=["rate_milli"],
    )
    # Conversion stays EXACT: decimal(price) x integer milli-rate, summed
    # in decimal; ONE double division at the presentation edge. A per-row
    # double product re-quantized into decimal is divergence class 2
    # (registry docstring) — the binary expansion can tie at the 10th
    # decimal and round differently per engine.
    conv = rated.withColumn(
        "local_milli", F.col("o_totalprice").cast(DEC) * F.col("rate_milli")
    )
    return (
        conv.join(F.broadcast(nation), conv.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("local_milli").cast("double") / F.lit(1000.0)).alias(
                "local_total"
            ),
            dsum("o_totalprice").alias("base_total"),
        )
    )


@register(
    "fin_trial_balance",
    tags=("finance", "agg"),
    oracle=f"""
        WITH postings AS (
            SELECT year(o_orderdate) AS yr, 'AR' AS account,
                   CAST(o_totalprice AS DECIMAL(30,10)) AS amt FROM orders
            UNION ALL
            SELECT year(o_orderdate), 'REVENUE',
                   -CAST(o_totalprice AS DECIMAL(30,10)) FROM orders
            UNION ALL
            SELECT year(o_orderdate), 'CASH',
                   CAST(o_totalprice AS DECIMAL(30,10))
            FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT year(o_orderdate), 'AR',
                   -CAST(o_totalprice AS DECIMAL(30,10))
            FROM orders WHERE o_orderstatus = 'F'
        )
        SELECT COALESCE(CAST(yr AS VARCHAR), 'ALL') AS yr,
               COALESCE(account, 'ALL') AS account,
               CAST(CAST(SUM(CASE WHEN amt > 0 THEN amt ELSE 0 END) AS VARCHAR)
                    AS DOUBLE) AS debits,
               CAST(CAST(SUM(CASE WHEN amt < 0 THEN -amt ELSE 0 END) AS VARCHAR)
                    AS DOUBLE) AS credits,
               CAST(CAST(SUM(amt) AS VARCHAR) AS DOUBLE) AS balance
        FROM postings
        GROUP BY GROUPING SETS ((yr, account), ())
    """,
)
def fin_trial_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-entry trial balance: orders post AR/REVENUE on booking
    and CASH/AR on settlement ('F' status); per (year, account) debits,
    credits, and net — plus the grand-total row, whose balance MUST be
    exactly 0.0 (the double-entry invariant, provable only because the
    ledger is decimal end-to-end; a float ledger drifts).

    Scale: one shuffle on the grouping-set key; the posting union is
    map-side (no shuffle) and the grand-total cell aggregates partials,
    not rows. Reference parity: data_manager.py:85-89's signed-amount
    normalization (T11) is what makes amounts post-able."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        "o_orderstatus",
        F.col("o_totalprice").cast(DEC).alias("amt"),
    )
    post = lambda acct, sign, flt: (  # noqa: E731
        (orders.filter(flt) if flt is not None else orders).select(
            "yr", F.lit(acct).alias("account"), (sign * F.col("amt")).alias("amt")
        )
    )
    settled = F.col("o_orderstatus") == "F"
    postings = (
        post("AR", F.lit(1), None)
        .unionByName(post("REVENUE", F.lit(-1), None))
        .unionByName(post("CASH", F.lit(1), settled))
        .unionByName(post("AR", F.lit(-1), settled))
    )
    zero = F.lit(0).cast(DEC)
    return (
        postings.groupingSets(
            [[F.col("yr"), F.col("account")], []], F.col("yr"), F.col("account")
        )
        .agg(
            F.sum(F.when(F.col("amt") > 0, F.col("amt")).otherwise(zero))
            .cast("double")
            .alias("debits"),
            F.sum(F.when(F.col("amt") < 0, -F.col("amt")).otherwise(zero))
            .cast("double")
            .alias("credits"),
            F.sum("amt").cast("double").alias("balance"),
        )
        .select(
            F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("yr"),
            F.coalesce(F.col("account"), F.lit("ALL")).alias("account"),
            "debits",
            "credits",
            "balance",
        )
    )


@register(
    "fin_interest_accrual",
    tags=("finance", "datetime"),
    oracle=f"""
        SELECT year(o.o_orderdate) AS yr,
               COUNT(*) AS n_lines,
               CAST(SUM(date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE))) AS BIGINT) AS total_days,
               CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,10))
                             * date_diff('day', CAST(o.o_orderdate AS DATE),
                                         CAST(l.l_shipdate AS DATE)))
                    AS VARCHAR) AS DOUBLE) * (0.05 / 360.0) AS accrued_interest
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
        GROUP BY year(o.o_orderdate)
    """,
)
def fin_interest_accrual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACT/360 interest accrual: each open line accrues
    principal x 5% x actual_days/360 between order and ship date (the
    money-market day-count convention). Per-row accrual is pure IEEE
    double arithmetic — deterministic cross-engine — and the yearly
    totals run through the exact decimal sum.

    Scale: one equi-join lineitem⋈orders on orderkey (co-partitioned
    shuffle), one grouped agg on year — partial-aggregated map-side to
    a handful of rows."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = l.join(o, l.l_orderkey == o.o_orderkey).select(
        F.year("o_orderdate").alias("yr"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
        "l_extendedprice",
    ).filter(F.col("days") >= 0)
    # principal x days stays exact (decimal x int); the day-count factor
    # 0.05/360 is applied ONCE to the exact sum — one double multiply,
    # IEEE-deterministic (avoids divergence class 2, see registry doc).
    principal_days = F.col("l_extendedprice").cast(DEC) * F.col("days")
    return j.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("days").alias("total_days"),
        (F.sum(principal_days).cast("double") * (F.lit(0.05) / F.lit(360.0))).alias(
            "accrued_interest"
        ),
    )


@register(
    "fin_reconciliation_match",
    tags=("finance", "join", "window"),
    oracle=f"""
        WITH bank AS (
            SELECT o_custkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, o_totalprice
                                      ORDER BY o_orderdate, o_orderkey) AS rn
            FROM orders WHERE o_orderkey % 13 <> 0
        ),
        ledger AS (
            SELECT o_custkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, o_totalprice
                                      ORDER BY o_orderdate, o_orderkey) AS rn
            FROM orders WHERE o_orderkey % 7 <> 0
        )
        SELECT CASE WHEN l.o_custkey IS NULL THEN 'missing_in_ledger'
                    WHEN b.o_custkey IS NULL THEN 'missing_in_bank'
                    ELSE 'matched' END AS status,
               COUNT(*) AS n,
               {o_dsum('COALESCE(b.o_totalprice, l.o_totalprice)')} AS amount
        FROM bank b FULL OUTER JOIN ledger l
          ON b.o_custkey = l.o_custkey
         AND b.o_totalprice = l.o_totalprice
         AND b.rn = l.rn
        GROUP BY 1
    """,
)
def fin_reconciliation_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way bank-vs-ledger reconciliation with 1:1 matching: equal
    (custkey, amount) rows pair off in date order via per-group
    ROW_NUMBER on BOTH sides + full-outer equi-join on (key, amount,
    rn) — the distributed formulation of greedy sequential matching
    (duplicate amounts consume one counterpart each, never double-
    match). Unmatched residue is classified per side.

    Scale: two partitioned windows + one full-outer sort-merge join,
    all on the same (custkey, amount) shuffle key — AQE coalesces the
    three stages onto one exchange footprint. No driver-side loop, no
    quadratic amount matching. Reference parity: the incremental loads
    in data_manager.py:172-201 assume feeds reconcile; this op is the
    audit for that assumption."""
    orders = load_table(spark, sf_dir, "orders")

    def side(mod: int) -> DataFrame:
        w = Window.partitionBy("o_custkey", "o_totalprice").orderBy(
            "o_orderdate", "o_orderkey"
        )
        return (
            orders.filter(F.col("o_orderkey") % mod != 0)
            .select("o_custkey", "o_totalprice", "o_orderdate", "o_orderkey")
            .withColumn("rn", F.row_number().over(w))
            .select("o_custkey", "o_totalprice", "rn")
        )

    b = side(13).alias("b")
    l = side(7).alias("l")
    joined = b.join(
        l,
        (F.col("b.o_custkey") == F.col("l.o_custkey"))
        & (F.col("b.o_totalprice") == F.col("l.o_totalprice"))
        & (F.col("b.rn") == F.col("l.rn")),
        "full_outer",
    )
    status = (
        F.when(F.col("l.o_custkey").isNull(), F.lit("missing_in_ledger"))
        .when(F.col("b.o_custkey").isNull(), F.lit("missing_in_bank"))
        .otherwise(F.lit("matched"))
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.coalesce(F.col("b.o_totalprice"), F.col("l.o_totalprice"))).alias(
            "amount"
        ),
    )


@register(
    "fin_fifo_cost_basis",
    headline=True,
    tags=("finance", "window", "join"),
    oracle="""
        WITH buys AS (
            SELECT l_partkey, l_orderkey, l_linenumber,
                   l_extendedprice, l_quantity,
                   SUM(CAST(l_quantity AS DECIMAL(30,10))) OVER w AS hi,
                   SUM(CAST(l_quantity AS DECIMAL(30,10))) OVER w
                       - CAST(l_quantity AS DECIMAL(30,10)) AS lo
            FROM lineitem WHERE l_returnflag = 'N' AND l_partkey % 25 = 0
            WINDOW w AS (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber)
        ),
        sells AS (
            SELECT l_partkey, l_orderkey, l_linenumber,
                   SUM(CAST(l_quantity AS DECIMAL(30,10))) OVER w AS hi,
                   SUM(CAST(l_quantity AS DECIMAL(30,10))) OVER w
                       - CAST(l_quantity AS DECIMAL(30,10)) AS lo
            FROM lineitem WHERE l_returnflag = 'R' AND l_partkey % 25 = 0
            WINDOW w AS (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber)
        )
        SELECT s.l_partkey AS partkey,
               s.l_orderkey AS sell_order, s.l_linenumber AS sell_line,
               b.l_orderkey AS buy_order, b.l_linenumber AS buy_line,
               CAST(least(b.hi, s.hi) - greatest(b.lo, s.lo) AS DOUBLE)
                   AS alloc_qty,
               CAST(least(b.hi, s.hi) - greatest(b.lo, s.lo) AS DOUBLE)
                   * (b.l_extendedprice / b.l_quantity) AS alloc_cost
        FROM sells s JOIN buys b
          ON s.l_partkey = b.l_partkey
         AND b.lo < s.hi AND s.lo < b.hi
    """,
)
def fin_fifo_cost_basis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO tax-lot allocation: per part, 'R' lines (sells) consume 'N'
    lines (buy lots) in ship-date order. Lots and sells become
    half-open intervals on the per-key cumulative-quantity axis
    (decimal cumsums — exact, so interval endpoints are identical
    cross-engine); FIFO allocation IS the interval overlap, computed by
    an equi-join on partkey with a range predicate, alloc_qty =
    least(hi,hi) - greatest(lo,lo). Cost basis prices each allocation
    at the buy lot's unit cost (per-row IEEE double).

    Scale: the join is keyed on partkey (shuffle/sort-merge), range
    condition only WITHIN a key's bounded lot list — never a cross
    join; each sell touches only the O(1) lots its interval overlaps
    (amortized: total output rows <= buys + sells per key). The %25
    key sample keeps oracle output bounded; the plan is SF-invariant.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 25 == 0)

    def lots(flag: str, keep_price: bool) -> DataFrame:
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        qty = F.col("l_quantity").cast(DEC)
        df = (
            l.filter(F.col("l_returnflag") == flag)
            .withColumn("hi", F.sum(qty).over(w))
            .withColumn("lo", F.col("hi") - qty)
        )
        cols = ["l_partkey", "l_orderkey", "l_linenumber", "lo", "hi"]
        if keep_price:
            cols += ["l_extendedprice", "l_quantity"]
        return df.select(*cols)

    buys = lots("N", keep_price=True).alias("b")
    sells = lots("R", keep_price=False).alias("s")
    alloc = F.least(F.col("b.hi"), F.col("s.hi")) - F.greatest(
        F.col("b.lo"), F.col("s.lo")
    )
    return (
        sells.join(
            buys,
            (F.col("s.l_partkey") == F.col("b.l_partkey"))
            & (F.col("b.lo") < F.col("s.hi"))
            & (F.col("s.lo") < F.col("b.hi")),
        )
        .select(
            F.col("s.l_partkey").alias("partkey"),
            F.col("s.l_orderkey").alias("sell_order"),
            F.col("s.l_linenumber").alias("sell_line"),
            F.col("b.l_orderkey").alias("buy_order"),
            F.col("b.l_linenumber").alias("buy_line"),
            alloc.cast("double").alias("alloc_qty"),
            (
                alloc.cast("double")
                * (F.col("b.l_extendedprice") / F.col("b.l_quantity"))
            ).alias("alloc_cost"),
        )
    )


@register(
    "fin_settlement_t2",
    tags=("finance", "datetime"),
    oracle="""
        WITH o AS (
            SELECT CAST(o_orderdate AS DATE) AS td, isodow(o_orderdate) AS wd
            FROM orders
        ),
        s AS (
            SELECT td,
                   td + INTERVAL (CASE WHEN wd <= 3 THEN 2
                                       WHEN wd <= 5 THEN 4
                                       WHEN wd = 6 THEN 3
                                       ELSE 2 END) DAY AS sd
            FROM o
        )
        SELECT isodow(sd) AS settle_dow,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(CAST(sd AS DATE)) AS first_settle,
               MAX(CAST(sd AS DATE)) AS last_settle,
               CAST(SUM(date_diff('day', td, CAST(sd AS DATE))) AS BIGINT) AS total_lag_days
        FROM s GROUP BY 1
    """,
)
def fin_settlement_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+2 settlement-date roll under the weekend convention: trades
    settle two BUSINESS days after trade date (Mon-Wed → +2 calendar,
    Thu/Fri → +4, Sat → +3, Sun → +2; holiday calendars drop in as an
    extra lookup dim). The case analysis is closed-form on the ISO
    weekday — pure per-row date arithmetic, no join, no shuffle except
    the final distribution agg; the invariant (nothing settles on a
    weekend) is pytest-asserted.

    Reference parity: the reference parses statement dates with
    per-source formats (utils/data_manager.py:69-75) but has no
    settlement logic — this is the op its users hand-roll in pandas."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("td"),
        (F.weekday(F.col("o_orderdate")) + 1).alias("wd"),
    )
    shift = (
        F.when(F.col("wd") <= 3, 2)
        .when(F.col("wd") <= 5, 4)
        .when(F.col("wd") == 6, 3)
        .otherwise(2)
    )
    s = o.withColumn("sd", F.date_add(F.col("td"), shift))
    return s.groupBy((F.weekday("sd") + 1).alias("settle_dow")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("sd").alias("first_settle"),
        F.max("sd").alias("last_settle"),
        F.sum(F.datediff("sd", "td")).alias("total_lag_days"),
    )


@register(
    "fin_var_historical",
    tags=("finance", "window", "agg"),
    oracle=f"""
        WITH daily AS (
            SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS d,
                   SUM(CAST(o.o_totalprice AS DECIMAL(30,10))
                       * CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE -1 END) AS net
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT segment, d, net,
                   row_number() OVER (PARTITION BY segment ORDER BY net, d) AS rn,
                   COUNT(*) OVER (PARTITION BY segment) AS n
            FROM daily
        )
        SELECT segment, n AS n_days,
               CAST(CAST(net AS VARCHAR) AS DOUBLE) AS var_5pct
        FROM ranked
        WHERE rn = CAST(ceil(0.05 * n) AS BIGINT)
    """,
)
def fin_var_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 5% Value-at-Risk per market segment: daily net flows
    (settled inflows minus open outflows, decimal-exact), then the 5th
    PERCENTILE AS AN ORDER STATISTIC — row_number selection at
    ceil(0.05 n), not interpolation — so the reported VaR is an actual
    observed day (percentile_disc semantics) and bit-identical across
    engines; (net, date) ordering makes ties deterministic.

    Scale: daily aggregation shuffles once on (segment, day);
    per-segment ranking windows partition on segment — day counts per
    segment are bounded by the calendar, not the SF, so the window
    never becomes the scale bottleneck."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    signed = F.col("o_totalprice").cast(DEC) * F.when(
        F.col("o_orderstatus") == "F", 1
    ).otherwise(-1)
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.sum(signed).alias("net"))
    )
    w = Window.partitionBy("segment").orderBy("net", "d")
    ranked = daily.select(
        "segment",
        "net",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("segment")).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.ceil(F.lit(0.05) * F.col("n")).cast("long")
    ).select(
        "segment",
        F.col("n").alias("n_days"),
        F.col("net").cast("double").alias("var_5pct"),
    )


# Progressive fee schedule: (lower bound, marginal rate in basis points).
_FEE_TIERS = ((0, 50), (50_000, 30), (150_000, 10))


def _tier_fee_expr(amount):
    """Marginal (progressive) fee in EXACT basis points x decimal:
    each tier charges its rate on the slice of the amount inside the
    tier — the tax-bracket formula. All arithmetic stays decimal x
    integer until the single presentation division by 10_000."""
    total = None
    bounds = [t[0] for t in _FEE_TIERS] + [None]
    for (lo, bps), hi in zip(_FEE_TIERS, bounds[1:]):
        width = (
            F.least(amount, F.lit(hi)) - F.lit(lo)
            if hi is not None
            else amount - F.lit(lo)
        )
        slice_amt = F.greatest(width, F.lit(0).cast(DEC)).cast(DEC)
        part = slice_amt * bps
        total = part if total is None else total + part
    return total


def _tier_fee_sql(amount: str) -> str:
    # every literal is cast to DECIMAL: DuckDB promotes mixed
    # least(DECIMAL, INTEGER) through DOUBLE, which would make the fee
    # sum order-dependent (caught by the differential gate)
    dec = "CAST({} AS DECIMAL(30,10))".format
    parts = []
    bounds = [t[0] for t in _FEE_TIERS] + [None]
    for (lo, bps), hi in zip(_FEE_TIERS, bounds[1:]):
        capped = f"least({amount}, {dec(hi)})" if hi is not None else amount
        # the slice is re-capped to DECIMAL(30,10) before the bps
        # multiply: SUM() widened the amount to DECIMAL(38,10), and
        # (38,10) x int overflows DuckDB's decimal width, silently
        # falling back to DOUBLE (order-dependent sums)
        parts.append(
            f"CAST(greatest({capped} - {dec(lo)}, {dec(0)}) "
            f"AS DECIMAL(30,10)) * {bps}"
        )
    return " + ".join(parts)


@register(
    "fin_fee_tiering",
    tags=("finance", "scalar"),
    oracle=f"""
        WITH cust AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS volume
            FROM orders GROUP BY o_custkey
        ),
        fees AS (
            SELECT o_custkey, volume,
                   {_tier_fee_sql('volume')} AS fee_bps
            FROM cust
        )
        SELECT CAST(CASE WHEN volume < 400000 THEN 1
                         WHEN volume < 800000 THEN 2
                         WHEN volume < 1200000 THEN 3
                         WHEN volume < 1600000 THEN 4
                         ELSE 5 END AS INT) AS vol_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS total_volume,
               CAST(CAST(SUM(fee_bps) AS VARCHAR) AS DOUBLE) / 10000.0
                   AS total_fees
        FROM fees GROUP BY 1
    """,
)
def fin_fee_tiering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive (marginal) fee computation — the tax-bracket
    formula: each customer's annual volume pays 50 bps on the first
    50k, 30 bps to 150k, 10 bps above, fee = Σ slice x rate. The
    bracket arithmetic is DECIMAL x integer-bps throughout (exact);
    the one division by 10^4 happens on the aggregated total. Report:
    per volume-quartile bucket, customers, volume, and fee take.

    Scale: one groupBy per customer (partial-agg), then pure map-side
    bracket math — the progressive formula is a closed-form
    least/greatest chain, NOT a join against a tier table, so adding
    tiers changes an expression, never the shuffle count."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("volume")
    )
    fees = cust.withColumn("fee_bps", _tier_fee_expr(F.col("volume")))
    return (
        fees.groupBy(
            F.when(F.col("volume") < 400000, 1)
            .when(F.col("volume") < 800000, 2)
            .when(F.col("volume") < 1200000, 3)
            .when(F.col("volume") < 1600000, 4)
            .otherwise(5)
            .cast("int")
            .alias("vol_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("volume").cast("double").alias("total_volume"),
            (F.sum("fee_bps").cast("double") / F.lit(10000.0)).alias(
                "total_fees"
            ),
        )
    )


@register(
    "fin_ar_aging",
    tags=("finance", "agg", "datetime"),
    oracle=f"""
        WITH open_ar AS (
            SELECT o_orderkey, o_totalprice,
                   date_diff('day', CAST(o_orderdate AS DATE),
                             DATE '1998-08-01') AS age_days
            FROM orders
            WHERE o_orderstatus <> 'F'
              AND o_orderdate < TIMESTAMP '1998-08-01'
        )
        SELECT CASE WHEN age_days <= 30 THEN '0-30'
                    WHEN age_days <= 60 THEN '31-60'
                    WHEN age_days <= 90 THEN '61-90'
                    ELSE '90+' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_invoices,
               {o_dsum('o_totalprice')} AS open_amount,
               CAST(MAX(age_days) AS BIGINT) AS oldest_days
        FROM open_ar GROUP BY 1
    """,
)
def fin_ar_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable AGING: unsettled orders bucketed by days
    outstanding at the 1998-08-01 reporting date (0-30/31-60/61-90/
    90+) with open amounts per bucket — the collections report every
    finance team runs weekly. Bucket logic is a per-row CASE on an
    integer day difference; one shuffle for the 4-row aggregate.
    The reporting date is a parameter (fixed here so the oracle
    hash-matches); production binds current_date."""
    import datetime as dt

    asof = dt.date(1998, 8, 1)
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") != "F")
        & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 8, 1)))
    )
    age = F.datediff(F.lit(asof), F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("90+")
    )
    return o.select(bucket.alias("bucket"), "o_totalprice", age.alias("age")).groupBy(
        "bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_invoices"),
        dsum("o_totalprice").alias("open_amount"),
        F.max("age").cast("long").alias("oldest_days"),
    )


@register(
    "fin_wash_sale_detect",
    tags=("finance", "join", "range"),
    oracle=f"""
        WITH trades AS MATERIALIZED (
            SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
                   CAST(l.l_shipdate AS DATE) AS d,
                   l.l_orderkey, l.l_linenumber,
                   l.l_returnflag, l.l_discount, l.l_extendedprice
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        loss_sells AS (
            SELECT * FROM trades
            WHERE l_returnflag = 'R' AND l_discount > 0.05
        ),
        buys AS (
            SELECT custkey, partkey, d FROM trades WHERE l_returnflag <> 'R'
        ),
        washed AS (
            SELECT s.custkey, s.l_orderkey, s.l_linenumber,
                   s.l_extendedprice * s.l_discount AS loss_amt,
                   COUNT(*) AS n_repurchases,
                   MIN(b.d) AS first_repurchase
            FROM loss_sells s
            JOIN buys b ON b.custkey = s.custkey AND b.partkey = s.partkey
                       AND b.d > s.d AND b.d <= s.d + INTERVAL 30 DAY
            GROUP BY 1, 2, 3, 4
        )
        SELECT custkey,
               CAST(COUNT(*) AS BIGINT) AS n_wash_sales,
               CAST(SUM(n_repurchases) AS BIGINT) AS n_repurchases,
               {o_dsum('loss_amt')} AS disallowed_loss,
               MIN(first_repurchase) AS earliest_repurchase
        FROM washed
        GROUP BY custkey
        ORDER BY n_wash_sales DESC, custkey
        LIMIT 25
    """,
)
def fin_wash_sale_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wash-sale detection (IRS §1091 shape): a loss-making sale
    followed by a repurchase of the SAME instrument by the SAME
    account within 30 days disallows the loss. Sells-at-loss here are
    returned lines with deep discounts; buys are everything else.
    The pairing is an equi-join on (account, instrument) with the
    30-day window as a residual range predicate — the join explodes
    only where one account re-trades one instrument, which is the
    sparse real-world profile, never |sells| x |buys|. Loss amounts
    follow the dsum decimal contract; each sell counts once however
    many repurchases it matches (per-sell GROUP BY before the account
    rollup)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    trades = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_shipdate").cast("date").alias("d"),
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_discount",
        "l_extendedprice",
    )
    sells = trades.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_discount") > 0.05)
    )
    buys = trades.filter(F.col("l_returnflag") != "R").select(
        F.col("custkey").alias("b_custkey"),
        F.col("partkey").alias("b_partkey"),
        F.col("d").alias("b_d"),
    )
    washed = (
        sells.join(
            buys,
            on=[
                F.col("b_custkey") == F.col("custkey"),
                F.col("b_partkey") == F.col("partkey"),
                F.col("b_d") > F.col("d"),
                F.col("b_d") <= F.date_add(F.col("d"), 30),
            ],
        )
        .groupBy(
            "custkey",
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * F.col("l_discount")).alias("loss_amt"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_repurchases"),
            F.min("b_d").alias("first_repurchase"),
        )
    )
    return (
        washed.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_wash_sales"),
            F.sum("n_repurchases").alias("n_repurchases"),
            dsum("loss_amt").alias("disallowed_loss"),
            F.min("first_repurchase").alias("earliest_repurchase"),
        )
        .orderBy(F.col("n_wash_sales").desc(), "custkey")
        .limit(25)
    )


def irr_bisect(days, amounts, lo: float = -0.95, hi: float = 10.0,
               iters: int = 80):
    """Deterministic IRR by fixed-iteration bisection on
    npv(r) = Σ cf_i / (1+r)^(days_i/365). Returns None when the NPV
    has no sign change on [lo, hi] (no real root bracketed). Pure
    numpy; shared by the operator and the pytest reference."""
    import numpy as np

    t = np.asarray(days, dtype="float64") / 365.0
    cf = np.asarray(amounts, dtype="float64")

    def npv(r):
        return float((cf / np.power(1.0 + r, t)).sum())

    f_lo, f_hi = npv(lo), npv(hi)
    if f_lo == 0.0:
        return lo
    if f_hi == 0.0:
        return hi
    if (f_lo > 0) == (f_hi > 0):
        return None
    for _ in range(iters):
        mid = 0.5 * (lo + hi)
        f_mid = npv(mid)
        if f_mid == 0.0:
            return mid
        if (f_mid > 0) == (f_lo > 0):
            lo, f_lo = mid, f_mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


def _irr_oracle(iters: int = 80) -> str:
    """Unrolled-bisection DuckDB oracle for fin_irr_per_order — the
    fixed-round unrolling recipe applied to ROOT FINDING: each of the
    80 iterations is one MATERIALIZED CTE holding (k, lo, hi, f_lo)
    and one flows-join NPV aggregation for the midpoint. Float
    tolerance analysis: libm pow / summation-order perturbations are
    ~1 ulp, which shifts the bracketed root by ~ulp/|npv'| ≈ 1e-13 —
    so the DECIMAL(12,6)-quantized IRR both sides emit is stable
    unless a root sits within 1e-13 of a quantization boundary
    (probability ~1e-7 per order). Every CTE is MATERIALIZED: each
    state is consumed twice and DuckDB re-inlines CTEs (registry
    divergence note 9)."""
    ctes = []
    prev = "b0"
    for i in range(1, iters + 1):
        ctes.append(f"""
        m{i} AS MATERIALIZED (
            SELECT f.k, ANY_VALUE(0.5 * (s.lo + s.hi)) AS mid,
                   SUM(f.cf / power(1.0 + 0.5 * (s.lo + s.hi), f.t)) AS f_mid
            FROM flows f JOIN {prev} s ON s.k = f.k
            GROUP BY f.k
        ),
        b{i} AS MATERIALIZED (
            SELECT s.k,
                   CASE WHEN (m.f_mid > 0) = (s.f_lo > 0)
                        THEN m.mid ELSE s.lo END AS lo,
                   CASE WHEN (m.f_mid > 0) = (s.f_lo > 0)
                        THEN s.hi ELSE m.mid END AS hi,
                   CASE WHEN (m.f_mid > 0) = (s.f_lo > 0)
                        THEN m.f_mid ELSE s.f_lo END AS f_lo
            FROM {prev} s JOIN m{i} m ON m.k = s.k
        )""")
        prev = f"b{i}"
    return f"""
        WITH flows AS MATERIALIZED (
            SELECT o.o_orderkey AS k, CAST(0 AS DOUBLE) / 365.0 AS t,
                   CAST(-o.o_totalprice AS DOUBLE) AS cf
            FROM orders o WHERE o.o_orderkey % 199 = 0
            UNION ALL
            SELECT o.o_orderkey AS k,
                   CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS DOUBLE) / 365.0 AS t,
                   CAST(l.l_extendedprice AS DOUBLE) AS cf
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey % 199 = 0
        ),
        ends AS (
            SELECT k,
                   SUM(cf / power(1.0 + CAST(-0.95 AS DOUBLE), t)) AS f_lo,
                   SUM(cf / power(1.0 + CAST(10.0 AS DOUBLE), t)) AS f_hi
            FROM flows GROUP BY k
        ),
        b0 AS MATERIALIZED (
            SELECT k, CAST(-0.95 AS DOUBLE) AS lo,
                   CAST(10.0 AS DOUBLE) AS hi, f_lo
            FROM ends WHERE (f_lo > 0) <> (f_hi > 0)
        ),
        {','.join(ctes)},
        counts AS (
            SELECT k, CAST(COUNT(*) AS INT) AS n_flows
            FROM flows GROUP BY k
        )
        SELECT c.k AS o_orderkey, c.n_flows,
               CAST(CAST(CAST(0.5 * (b.lo + b.hi) AS DECIMAL(12,6))
                    AS VARCHAR) AS DOUBLE) AS irr
        FROM counts c LEFT JOIN {prev} b ON b.k = c.k
        ORDER BY o_orderkey
    """


@register(
    "fin_irr_per_order",
    tags=("finance", "udf", "iterative"),
    oracle=_irr_oracle(),
)
def fin_irr_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal rate of return per order: the purchase (-o_totalprice
    at order date) against its delivery cashflows (+l_extendedprice at
    each ship date), solved by 80-iteration bisection — deterministic
    to the bit for a fixed flow set, unlike Newton (whose trajectory
    depends on float derivative noise). Root-finding is per-group
    SEQUENTIAL, so the distributed shape is applyInPandas keyed by
    order: flows co-locate via ONE shuffle, each task solves thousands
    of small problems with vectorized numpy NPV. A 1-in-199 key gate
    bounds the demo output, applied BEFORE the join so the fact scan
    prunes too. Hash-oracled (promoted from rows-only in r7): the 80
    fixed bisection rounds unroll as MATERIALIZED CTEs in DuckDB
    (_irr_oracle), and the emitted IRR is DECIMAL(12,6)-quantized so
    ~1e-13 libm-pow root perturbations cannot surface;
    tests/test_round4_ops.py additionally pins npv(irr)≈0 and
    equality with a driver-side bisection on the same flows."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_orderkey"), F.lit(199)) == 0
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.pmod(F.col("l_orderkey"), F.lit(199)) == 0
    )
    outflow = o.select(
        F.col("o_orderkey").alias("k"),
        F.lit(0).alias("day"),
        (-F.col("o_totalprice")).alias("cf"),
    )
    inflow = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == o.o_orderkey,
    ).select(
        F.col("o_orderkey").alias("k"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("day"),
        F.col("l_extendedprice").alias("cf"),
    )
    flows = outflow.unionByName(inflow)

    def solve(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["day", "cf"]).reset_index(drop=True)
        r = irr_bisect(pdf["day"].to_numpy(), pdf["cf"].to_numpy())
        if r is not None:
            # DECIMAL(12,6) quantization makes the emitted IRR engine-
            # exact (see _irr_oracle's tolerance analysis); the raw
            # root is pinned separately by the round-4 pytest
            from decimal import ROUND_HALF_UP, Decimal

            r = float(
                Decimal(repr(r)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
        return pd.DataFrame(
            {
                "o_orderkey": [int(pdf["k"].iloc[0])],
                "n_flows": [len(pdf)],
                "irr": [r],
            }
        )

    return (
        flows.groupBy("k")
        .applyInPandas(solve, "o_orderkey long, n_flows int, irr double")
        .orderBy("o_orderkey")
    )


@register(
    "fin_currency_triangulation",
    tags=("finance", "join"),
    oracle=f"""
        WITH rates AS (
            SELECT n_nationkey,
                   CAST(1000 + n_nationkey * 10 + (1997 - 1995) * 4 AS INT)
                       AS rate_milli
            FROM nation
        ),
        fact AS (
            SELECT s.s_nationkey AS supp_nation, c.c_nationkey AS cust_nation,
                   l.l_extendedprice
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE CAST(l.l_shipdate AS DATE)
                  BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
        )
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {o_dsum('f.l_extendedprice')} AS supp_ccy_total,
               {o_dsum('f.l_extendedprice')} * rc.rate_milli / rs.rate_milli
                   AS cust_ccy_total
        FROM fact f
        JOIN rates rs ON rs.n_nationkey = f.supp_nation
        JOIN rates rc ON rc.n_nationkey = f.cust_nation
        JOIN nation ns ON ns.n_nationkey = f.supp_nation
        JOIN nation nc ON nc.n_nationkey = f.cust_nation
        GROUP BY 1, 2, rc.rate_milli, rs.rate_milli
        ORDER BY 1, 2
    """,
)
def fin_currency_triangulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-rate currency triangulation: invoices priced in the
    SUPPLIER's currency converted into each CUSTOMER's currency
    through the base currency (cross rate = rate_cust / rate_supp,
    the no-arbitrage identity), using the Q1-1997 rate snapshot.
    Amounts aggregate EXACTLY in decimal per (supplier-nation,
    customer-nation) cell first; the cross-rate multiply/divide is a
    single double expression on the O(nations²) aggregate — per-group,
    not per-row, so no float accumulates and the division happens once
    per cell. Rates and nation dims broadcast; the only corpus-scale
    work is the filtered fact join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate")
        .cast("date")
        .between(F.lit("1997-01-01"), F.lit("1997-03-31"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rates = nation.select(
        "n_nationkey",
        (F.lit(1000) + F.col("n_nationkey") * 10 + F.lit((1997 - 1995) * 4))
        .cast("int")
        .alias("rate_milli"),
    )
    fact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("supp_nation"),
            F.col("c_nationkey").alias("cust_nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("supp_ccy_total"),
        )
    )
    rs = rates.select(
        F.col("n_nationkey").alias("supp_nation"),
        F.col("rate_milli").alias("rs_milli"),
    )
    rc = rates.select(
        F.col("n_nationkey").alias("cust_nation"),
        F.col("rate_milli").alias("rc_milli"),
    )
    ns = nation.select(
        F.col("n_nationkey").alias("supp_nation"),
        F.col("n_name").alias("supp_name"),
    )
    nc = nation.select(
        F.col("n_nationkey").alias("cust_nation"),
        F.col("n_name").alias("cust_name"),
    )
    return (
        fact.join(F.broadcast(rs), "supp_nation")
        .join(F.broadcast(rc), "cust_nation")
        .join(F.broadcast(ns), "supp_nation")
        .join(F.broadcast(nc), "cust_nation")
        .select(
            F.col("supp_name").alias("supp_nation"),
            F.col("cust_name").alias("cust_nation"),
            "n_lines",
            "supp_ccy_total",
            (
                F.col("supp_ccy_total") * F.col("rc_milli") / F.col("rs_milli")
            ).alias("cust_ccy_total"),
        )
        .orderBy("supp_nation", "cust_nation")
    )


@register(
    "fin_var_parametric",
    tags=("finance", "stats", "join"),
    oracle="""
        WITH daily AS MATERIALIZED (
            SELECT c.c_nationkey AS nation, CAST(o.o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS r
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE CAST(o.o_orderdate AS DATE)
                  BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
            GROUP BY 1, 2
        ),
        spine AS MATERIALIZED (
            SELECT n.n_nationkey AS nation, dd.d, COALESCE(x.r, CAST(0 AS DECIMAL(18,2))) AS r
            FROM nation n
            CROSS JOIN (SELECT DISTINCT d FROM daily) dd
            LEFT JOIN daily x ON x.nation = n.n_nationkey AND x.d = dd.d
        ),
        t AS MATERIALIZED (SELECT COUNT(DISTINCT d) AS nt FROM spine),
        sums AS MATERIALIZED (
            SELECT nation, CAST(SUM(r) AS DECIMAL(24,2)) AS s FROM spine GROUP BY 1
        ),
        cross_terms AS MATERIALIZED (
            SELECT a.nation AS ni, b.nation AS nj,
                   CAST(SUM(CAST(a.r AS DECIMAL(20,2)) * CAST(b.r AS DECIMAL(17,2)))
                        AS DECIMAL(30,4)) AS sxy
            FROM spine a JOIN spine b ON a.d = b.d
            GROUP BY 1, 2
        ),
        cells AS (
            SELECT ct.ni, ct.nj,
                   CAST(nt AS DECIMAL(8,0)) * ct.sxy
                     - CAST(sa.s AS DECIMAL(19,2)) * CAST(sb.s AS DECIMAL(18,2))
                       AS ncov
            FROM cross_terms ct
            JOIN sums sa ON sa.nation = ct.ni
            JOIN sums sb ON sb.nation = ct.nj
            CROSS JOIN t
        )
        SELECT CAST((SELECT nt FROM t) AS BIGINT) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(CAST(SUM(ncov) AS VARCHAR) AS DOUBLE)
                 / ((SELECT nt FROM t) * ((SELECT nt FROM t) - 1.0))
                 / (25.0 * 25.0) AS port_variance,
               1.645 * sqrt(CAST(CAST(SUM(ncov) AS VARCHAR) AS DOUBLE)
                 / ((SELECT nt FROM t) * ((SELECT nt FROM t) - 1.0))
                 / (25.0 * 25.0)) AS var95
        FROM cells
    """,
)
def fin_var_parametric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric (variance-covariance) portfolio VaR over the
    25-nation daily-revenue 'book', equal-weighted: portfolio variance
    wᵀΣw folds the full 25x25 covariance matrix, but NO float
    covariance is ever accumulated — each cell's numerator
    T·Σxy − Σx·Σy stays an exact decimal built from per-day cross
    terms (one day-keyed self-join of the T×25 daily relation, cost
    T·625 rows), the 625 cell numerators SUM EXACTLY in decimal
    (associative), and the single double division + sqrt + z-scale
    happens once at the edge. Missing (nation, day) cells are
    zero-filled from the nation×day spine so every series has length
    T. Complements fin_var_historical (order-statistic VaR): same
    book, the model-based twin. Corpus-scale work is one filtered
    fact aggregation; everything after runs on dimension-sized
    relations."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nation")
    )
    daily = (
        o.filter(
            F.col("o_orderdate")
            .cast("date")
            .between(F.lit("1996-01-01"), F.lit("1996-03-31"))
        )
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("r")
        )
    )
    days = daily.select("d").distinct()
    spine = (
        nation.crossJoin(F.broadcast(days))
        .join(daily, ["nation", "d"], "left")
        .select(
            "nation",
            "d",
            F.coalesce(F.col("r"), F.lit(0).cast("decimal(18,2)")).alias("r"),
        )
        .persist()
    )
    nt = spine.select("d").distinct().count()
    sums = spine.groupBy("nation").agg(
        F.sum("r").cast("decimal(24,2)").alias("s")
    )
    a = spine.select(
        F.col("nation").alias("ni"), "d", F.col("r").cast("decimal(20,2)").alias("ra")
    )
    b = spine.select(
        F.col("nation").alias("nj"),
        F.col("d").alias("d_b"),
        F.col("r").cast("decimal(17,2)").alias("rb"),
    )
    cross_terms = (
        a.join(b, a.d == b.d_b)
        .groupBy("ni", "nj")
        .agg(F.sum(F.col("ra") * F.col("rb")).cast("decimal(30,4)").alias("sxy"))
    )
    sa = sums.select(F.col("nation").alias("ni"), F.col("s").cast("decimal(19,2)").alias("sa"))
    sb = sums.select(F.col("nation").alias("nj"), F.col("s").cast("decimal(18,2)").alias("sb"))
    cells = (
        cross_terms.join(F.broadcast(sa), "ni")
        .join(F.broadcast(sb), "nj")
        .select(
            (
                F.lit(nt).cast("decimal(8,0)") * F.col("sxy")
                - F.col("sa") * F.col("sb")
            ).alias("ncov")
        )
    )
    total = cells.agg(F.sum("ncov").cast("double").alias("num"), F.count(F.lit(1)).alias("n_cells"))
    var_expr = F.col("num") / (F.lit(float(nt)) * (F.lit(float(nt)) - F.lit(1.0))) / F.lit(625.0)
    out = total.select(
        F.lit(nt).cast("long").alias("n_days"),
        F.col("n_cells"),
        var_expr.alias("port_variance"),
        (F.lit(1.645) * F.sqrt(var_expr)).alias("var95"),
    )
    spine.unpersist()
    return out


@register(
    "fin_expected_shortfall",
    tags=("finance", "window", "agg"),
    oracle="""
        WITH daily AS (
            SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS d,
                   SUM(CAST(o.o_totalprice AS DECIMAL(30,10))
                       * CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE -1 END)
                       AS net
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT segment, d, net,
                   row_number() OVER (PARTITION BY segment
                       ORDER BY net, d) AS rn,
                   COUNT(*) OVER (PARTITION BY segment) AS n
            FROM daily
        ),
        tail AS (
            SELECT * FROM ranked WHERE rn <= CAST(ceil(0.05 * n) AS BIGINT)
        )
        SELECT segment,
               CAST(ANY_VALUE(n) AS BIGINT) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_tail,
               CAST(CAST(MAX(net) AS VARCHAR) AS DOUBLE) AS var_5pct,
               CAST(CAST(SUM(net) AS VARCHAR) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS es_5pct
        FROM tail
        GROUP BY segment
    """,
)
def fin_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR) at 5% per market segment — the
    coherent tail-risk measure Basel moved to after VaR: the MEAN of
    the worst ceil(0.05·n) daily nets, alongside the VaR boundary
    (= the tail's max, matching fin_var_historical's order-statistic
    convention). The tail nets stay DECIMAL through the mean's sum —
    one exact division at the edge — so ES is engine-exact, unlike an
    interpolated percentile. Same one (segment, day) shuffle +
    calendar-bounded segment windows as the VaR query."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    signed = F.col("o_totalprice").cast(DEC) * F.when(
        F.col("o_orderstatus") == "F", 1
    ).otherwise(-1)
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.sum(signed).alias("net"))
    )
    w = Window.partitionBy("segment").orderBy("net", "d")
    ranked = daily.select(
        "segment",
        "net",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("segment")).alias("n"),
    )
    tail = ranked.filter(
        F.col("rn") <= F.ceil(F.lit(0.05) * F.col("n")).cast("long")
    )
    return tail.groupBy("segment").agg(
        F.first("n").cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.max("net").cast("double").alias("var_5pct"),
        (F.sum("net").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "es_5pct"
        ),
    )


# ---------------------------------------------------------------------------
# Straight-line amortization in integer cents (round 7 continuation).
# The annuity formula needs pow() (libm — would demote the query to
# rows-only); straight-line (fixed principal part + interest on the
# outstanding balance) keeps every cell in BIGINT cents, and because
# the balance declines linearly the 24-month schedule needs NO
# sequential recurrence at all: balance(m) = max(P - m*pp, 0) in
# closed form, so the whole book amortizes as one month fan-out +
# hash agg — the same declare-don't-iterate shape as the fixed-round
# unrolled graph oracles.

_AMORT_TERM = 24
_AMORT_BPS = {  # annual rate in basis points by order priority
    "1-URGENT": 900,
    "2-HIGH": 800,
    "3-MEDIUM": 700,
    "4-NOT SPECIFIED": 600,
    "5-LOW": 500,
}


@register(
    "fin_amortization_schedule",
    tags=("finance", "agg"),
    oracle=f"""
        WITH loans AS (
            SELECT o_orderkey,
                   o_orderpriority AS priority,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS principal_cents,
                   CASE o_orderpriority
                        {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _AMORT_BPS.items())}
                        ELSE 0 END AS bps
            FROM orders WHERE o_orderkey % 997 = 0
        ),
        sched AS (
            SELECT priority, principal_cents, bps, m,
                   (principal_cents + {_AMORT_TERM - 1}) // {_AMORT_TERM} AS pp,
                   GREATEST(principal_cents
                            - m * ((principal_cents + {_AMORT_TERM - 1})
                                   // {_AMORT_TERM}), 0) AS balance
            FROM loans
            CROSS JOIN (SELECT UNNEST(range({_AMORT_TERM})) AS m) months
        )
        SELECT priority,
               CAST(COUNT(DISTINCT principal_cents) AS BIGINT) AS n_principals,
               CAST(COUNT(*) // {_AMORT_TERM} AS BIGINT) AS n_loans,
               CAST(SUM(CASE WHEN m = 0 THEN principal_cents ELSE 0 END)
                    AS BIGINT) AS total_principal_cents,
               CAST(SUM((balance * bps) // 120000) AS BIGINT)
                   AS total_interest_cents,
               CAST(CAST(SUM((balance * bps) // 120000) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(CASE WHEN m = 0 THEN principal_cents ELSE 0 END)
                        AS VARCHAR) AS DOUBLE) AS interest_to_principal
        FROM sched
        GROUP BY priority
        ORDER BY priority
    """,
)
def fin_amortization_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-month straight-line amortization of a sampled loan book
    (principal = order total in integer cents, rate tiered by
    priority): fixed principal part ceil(P/24), interest accrued
    monthly on the outstanding balance at bps/12 with floor rounding
    — every cell BIGINT cents, so the entire schedule is engine-exact
    (the annuity alternative needs libm pow and could only be
    rows-only). The linear balance makes the schedule closed-form per
    (loan, month): one 24-row broadcast fan-out, map-side combine,
    O(priorities) output — no recurrence, no window, no shuffle
    growth at any book size. Integer division is DIV on both engines;
    the single double at the edge is the interest/principal ratio."""
    o = load_table(spark, sf_dir, "orders")
    expr = None
    for k, v in _AMORT_BPS.items():
        expr = (
            F.when(F.col("o_orderpriority") == k, v)
            if expr is None
            else expr.when(F.col("o_orderpriority") == k, v)
        )
    loans = o.filter(F.col("o_orderkey") % 997 == 0).select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("principal_cents"),
        expr.otherwise(0).alias("bps"),
    )
    months = spark.range(_AMORT_TERM).select(F.col("id").alias("m"))
    sched = loans.join(F.broadcast(months)).select(
        "priority",
        "principal_cents",
        "m",
        F.expr(
            f"GREATEST(principal_cents - m * ((principal_cents + {_AMORT_TERM - 1})"
            f" DIV {_AMORT_TERM}), 0) * bps DIV 120000"
        ).alias("interest_cents"),
    )
    return (
        sched.groupBy("priority")
        .agg(
            F.countDistinct("principal_cents").alias("n_principals"),
            F.expr(f"COUNT(*) DIV {_AMORT_TERM}").alias("n_loans"),
            F.sum(
                F.when(F.col("m") == 0, F.col("principal_cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("total_principal_cents"),
            F.sum("interest_cents").cast("bigint").alias("total_interest_cents"),
        )
        .select(
            "priority",
            "n_principals",
            "n_loans",
            "total_principal_cents",
            "total_interest_cents",
            (
                F.col("total_interest_cents").cast("double")
                / F.col("total_principal_cents").cast("double")
            ).alias("interest_to_principal"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration (round 7 continuation): how
# concentrated is supplier revenue within each nation — the antitrust
# / supply-risk twin of stat_gini_coefficient (Gini measures
# inequality of the distribution, HHI measures market power of the
# top of it; 1/HHI is the "effective number of suppliers"). HHI =
# sum of squared revenue shares = (sum rev_i^2) / (sum rev_i)^2, so
# it reduces to two exact decimal sums per nation and ONE double
# division at the edge — no per-supplier share division anywhere.


@register(
    "fin_herfindahl_concentration",
    tags=("finance", "agg"),
    oracle="""
        WITH rev AS (
            SELECT s.s_nationkey AS nation, l.l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
            FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY 1, 2
        ),
        agg AS (
            SELECT nation,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                   SUM(r) AS tot,
                   SUM(r * r) AS sq
            FROM rev GROUP BY nation
        )
        SELECT nation, n_suppliers,
               CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS total_revenue,
               CAST(CAST(sq AS VARCHAR) AS DOUBLE)
                 / (CAST(CAST(tot AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(tot AS VARCHAR) AS DOUBLE)) AS hhi,
               1.0 / (CAST(CAST(sq AS VARCHAR) AS DOUBLE)
                 / (CAST(CAST(tot AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(tot AS VARCHAR) AS DOUBLE))) AS effective_n
        FROM agg
        ORDER BY nation
    """,
)
def fin_herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI of supplier revenue within each nation: per-(nation,
    supplier) exact decimal revenue from one keyed agg (the supplier
    join is AQE-sized — broadcast while small), then HHI = Σr²/(Σr)² per
    nation from two exact decimal sums with a single IEEE edge — no
    per-supplier share is ever divided, so there is no float sum of
    shares to order-depend on. effective_n = 1/HHI reads as "this
    market behaves like N equal suppliers" — the supply-concentration
    risk number. Corpus-scale work is one suppkey-keyed agg;
    everything after is O(nations x suppliers-per-nation)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("nation")
    )
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("nation", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("r")
        )
    )
    agg = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("r").alias("tot"),
        F.sum(F.col("r") * F.col("r")).alias("sq"),
    )
    tot = F.col("tot").cast("double")
    hhi = F.col("sq").cast("double") / (tot * tot)
    return agg.select(
        "nation",
        "n_suppliers",
        tot.alias("total_revenue"),
        hhi.alias("hhi"),
        (F.lit(1.0) / hhi).alias("effective_n"),
    ).orderBy("nation")


_BS_D1 = (
    "((ln(spot / strike) + (CAST(0.02 AS DOUBLE)"
    " + sigma * sigma / CAST(2.0 AS DOUBLE))) / sigma)"
)
_BS_D2 = f"({_BS_D1} - sigma)"
_BS_CALL = (
    f"(spot * {ncdf_sql(_BS_D1)}"
    f" - strike * exp(-CAST(0.02 AS DOUBLE)) * {ncdf_sql(_BS_D2)})"
)
_BS_PUT = f"({_BS_CALL} - spot + strike * exp(-CAST(0.02 AS DOUBLE)))"


@register(
    "fin_black_scholes_grid",
    tags=("finance", "pricing"),
    oracle=f"""
        WITH spot AS (
            SELECT n.n_nationkey,
                   {o_dsum('o.o_totalprice')}
                     / CAST(COUNT(*) AS DOUBLE) AS spot,
                   CAST(10 + (n.n_nationkey % 5) * 5 AS DOUBLE)
                     / CAST(100 AS DOUBLE) AS sigma
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY n.n_nationkey
        ),
        ks AS (SELECT unnest([80, 90, 100, 110, 120]) AS k_pct),
        grid AS (
            SELECT n_nationkey, k_pct, spot, sigma,
                   spot * CAST(k_pct AS DOUBLE) / CAST(100 AS DOUBLE)
                       AS strike
            FROM spot CROSS JOIN ks
        )
        SELECT n_nationkey, k_pct, spot, strike, sigma,
               CAST(FLOOR({_BS_CALL} * 1e6) AS BIGINT) AS call_q6,
               CAST(FLOOR({_BS_PUT} * 1e6) AS BIGINT) AS put_q6
        FROM grid
        ORDER BY n_nationkey, k_pct
    """,
)
def fin_black_scholes_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Black-Scholes European option pricing over a per-nation
    moneyness grid (T=1y, r=2%, per-nation vol tier): the closed-form
    pricing kernel every risk system carries, expressed as pure
    column arithmetic — spot = exact decimal average order value per
    customer nation, five strikes at 80–120% moneyness, N(d) via the
    Abramowitz-Stegun polynomial (no erf intrinsic needed on either
    engine). The ln/exp libm edge rides the floor-quantize recipe:
    prices present as floor(px·1e6) BIGINTs (a 1-ulp cross-engine
    libm divergence can only flip a floor on a ~1e-10 boundary
    sliver). Scale: one snowflake-broadcast scan to 25 spot rows; the
    125-row grid is dimension-sized. Put prices come from put-call
    parity applied to the SAME call expression, which the pytest
    checks against the exact parity identity and an erf-based
    reference price."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spot = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_nationkey")
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(30,10)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("spot"),
            (
                (10 + (F.min("n_nationkey") % 5) * 5).cast("double")
                / F.lit(100).cast("double")
            ).alias("sigma"),
        )
    )
    ks = spark.createDataFrame(
        [(80,), (90,), (100,), (110,), (120,)], "k_pct int"
    )
    grid = spot.crossJoin(F.broadcast(ks)).select(
        "n_nationkey",
        "k_pct",
        "spot",
        (
            F.col("spot")
            * F.col("k_pct").cast("double")
            / F.lit(100).cast("double")
        ).alias("strike"),
        "sigma",
    )
    return grid.select(
        "n_nationkey",
        "k_pct",
        "spot",
        "strike",
        "sigma",
        F.expr(f"CAST(FLOOR({_BS_CALL} * 1e6) AS BIGINT)").alias("call_q6"),
        F.expr(f"CAST(FLOOR({_BS_PUT} * 1e6) AS BIGINT)").alias("put_q6"),
    ).orderBy("n_nationkey", "k_pct")


# ---------------------------------------------------------------------------
# Round-9 finance additions: risk-adjusted performance (Sharpe /
# Sortino), closed-form bond pricing with duration, and IFRS9-style
# expected-credit-loss staging. All three keep the decimal-exact
# contract: corpus-scale sums are exact (DECIMAL / quantized BIGINT),
# doubles appear only in per-row shared expressions or at the final
# presentation edge.


@register(
    "fin_sharpe_sortino",
    tags=("finance", "window", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        ret AS (
            SELECT segment,
                   {o_ret_q9('x', 'xp')} AS r_q9
            FROM (
                SELECT segment, x,
                       LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                FROM daily
            ) WHERE xp IS NOT NULL
        ),
        s AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(r_q9) AS BIGINT) AS sr,
                   CAST(CAST(SUM(CAST(r_q9 AS DECIMAL(19,0)) * r_q9)
                        AS VARCHAR) AS DOUBLE) AS srr,
                   CAST(SUM(CASE WHEN r_q9 < 0 THEN r_q9 ELSE 0 END)
                        AS BIGINT) AS sd_,
                   CAST(CAST(SUM(CASE WHEN r_q9 < 0
                                 THEN CAST(r_q9 AS DECIMAL(19,0)) * r_q9
                                 ELSE CAST(0 AS DECIMAL(19,0)) END)
                        AS VARCHAR) AS DOUBLE) AS sdd
            FROM ret GROUP BY segment
        )
        SELECT segment, n,
               CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS mean_ret,
               sqrt(srr / CAST(n AS DOUBLE)
                    - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) / 1e9
                   AS vol,
               sqrt(sdd / CAST(n AS DOUBLE)) / 1e9 AS downside_vol,
               CASE WHEN srr / CAST(n AS DOUBLE)
                       - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)) > 0 THEN
               (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
                 / sqrt(srr / CAST(n AS DOUBLE)
                        - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)))
                 * sqrt(CAST(252 AS DOUBLE)) END AS sharpe_ann,
               CASE WHEN sdd > 0 THEN
               (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
                 / sqrt(sdd / CAST(n AS DOUBLE))
                 * sqrt(CAST(252 AS DOUBLE)) END AS sortino_ann
        FROM s ORDER BY segment
    """,
)
def fin_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe and Sortino (target 0) per market segment on
    day-over-day revenue returns. The corpus collapses to exact
    decimal daily sums; each return is ONE shared double expression
    immediately floor-quantized to a q9 BIGINT, so every cross-day
    aggregate (sum, sum-of-squares, downside sums) is exact integer /
    DECIMAL arithmetic — no float accumulation-order exposure — and
    the ratios are single double edge expressions. The lag window
    partitions by segment over calendar-bounded day counts; corpus
    work is one map-side-combining agg + one AQE-sized customer join."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d")
    ret = (
        daily.withColumn("xp", F.lag("x").over(w))
        .filter(F.col("xp").isNotNull())
        .select(
            "segment",
            ret_q9(F.col("x"), F.col("xp")).alias("r_q9"),
        )
    )
    s = ret.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r_q9").cast("bigint").alias("sr"),
        as_d(
            F.sum(F.col("r_q9").cast("decimal(19,0)") * F.col("r_q9")).cast(
                "decimal(38,0)"
            )
        ).alias("srr"),
        F.sum(F.when(F.col("r_q9") < 0, F.col("r_q9")).otherwise(0))
        .cast("bigint")
        .alias("sd_"),
        as_d(
            F.sum(
                F.when(
                    F.col("r_q9") < 0,
                    F.col("r_q9").cast("decimal(19,0)") * F.col("r_q9"),
                ).otherwise(F.lit(0).cast("decimal(19,0)"))
            ).cast("decimal(38,0)")
        ).alias("sdd"),
    )
    nd_ = F.col("n").cast("double")
    mean = F.col("sr").cast("double") / nd_
    var = F.col("srr") / nd_ - mean * mean
    dvol = F.sqrt(F.col("sdd") / nd_)
    return s.select(
        "segment",
        "n",
        (mean / F.lit(1e9)).alias("mean_ret"),
        (F.sqrt(var) / F.lit(1e9)).alias("vol"),
        (dvol / F.lit(1e9)).alias("downside_vol"),
        F.when(var > 0, mean / F.sqrt(var) * F.sqrt(F.lit(252.0))).alias(
            "sharpe_ann"
        ),
        F.when(
            F.col("sdd") > 0, mean / dvol * F.sqrt(F.lit(252.0))
        ).alias("sortino_ann"),
    ).orderBy("segment")


@register(
    "fin_bond_duration_grid",
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
        )
        SELECT n_nationkey, cpn, mat, yld,
               CAST(FLOOR((cpn / yld
                    * (CAST(1 AS DOUBLE) - pow(CAST(1 AS DOUBLE) + yld, -mat))
                    + pow(CAST(1 AS DOUBLE) + yld, -mat)) * 1e8) AS BIGINT)
                   AS price_q8,
               CAST(FLOOR((
                    (CAST(1 AS DOUBLE) + yld) / yld
                    - (CAST(1 AS DOUBLE) + yld
                       + CAST(mat AS DOUBLE) * (cpn - yld))
                      / (cpn * (pow(CAST(1 AS DOUBLE) + yld, mat)
                                - CAST(1 AS DOUBLE)) + yld)
               ) * 1e8) AS BIGINT) AS macaulay_q8
        FROM grid
        ORDER BY n_nationkey, cpn, mat
    """,
)
def fin_bond_duration_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form annual-coupon bond pricing over a (nation-yield x
    coupon x maturity) grid: price = c/y (1-(1+y)^-T) + (1+y)^-T and
    the Macaulay duration closed form D = (1+y)/y - [1+y+T(c-y)] /
    [c((1+y)^T - 1) + y] (face 1). Yields derive deterministically
    from the nation key (1%..5.5%); the grid is a 25x3x4 broadcast
    fan-out — model-sized at any SF. Both outputs floor-quantize at
    q8 so the driver hash sees integers; the pytest reference re-
    derives both from the explicit cashflow sum."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    y = n.withColumn(
        "yld",
        F.lit(0.01) + (F.col("n_nationkey") % 10).cast("double") * F.lit(0.005),
    )
    cpn = spark.createDataFrame([(0.02,), (0.04,), (0.06,)], "cpn double")
    mat = spark.createDataFrame([(2,), (5,), (10,), (30,)], "mat int")
    grid = y.crossJoin(F.broadcast(cpn)).crossJoin(F.broadcast(mat))
    one = F.lit(1.0)
    yld, c_, t_ = F.col("yld"), F.col("cpn"), F.col("mat").cast("double")
    disc = F.pow(one + yld, -F.col("mat").cast("double"))
    price = c_ / yld * (one - disc) + disc
    mac = (one + yld) / yld - (one + yld + t_ * (c_ - yld)) / (
        c_ * (F.pow(one + yld, t_) - one) + yld
    )
    return grid.select(
        "n_nationkey",
        "cpn",
        "mat",
        "yld",
        F.floor(price * F.lit(1e8)).cast("bigint").alias("price_q8"),
        F.floor(mac * F.lit(1e8)).cast("bigint").alias("macaulay_q8"),
    ).orderBy("n_nationkey", "cpn", "mat")


@register(
    "fin_ecl_staging",
    tags=("finance", "agg"),
    oracle="""
        WITH open_ar AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS ead_cents,
                   CAST(DATE '1998-08-02' - CAST(o_orderdate AS DATE)
                        AS BIGINT) AS dpd
            FROM orders WHERE o_orderstatus = 'O'
        ),
        staged AS (
            SELECT CASE WHEN dpd <= 180 THEN 1
                        WHEN dpd <= 540 THEN 2
                        ELSE 3 END AS stage,
                   ead_cents,
                   CASE WHEN dpd <= 180 THEN 200
                        WHEN dpd <= 540 THEN 1500
                        ELSE 10000 END AS pd_bp
            FROM open_ar
        ),
        agg AS (
            SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_receivables,
                   CAST(SUM(ead_cents) AS BIGINT) AS ead_cents,
                   CAST(SUM(CAST(ead_cents AS DECIMAL(29,0)) * pd_bp * 45)
                        AS DECIMAL(38,0)) AS ecl_num
            FROM staged GROUP BY stage
        ),
        tot AS (SELECT CAST(SUM(ead_cents) AS BIGINT) AS ead_all FROM agg)
        SELECT stage, n_receivables,
               CAST(ead_cents AS DOUBLE) / 100 AS ead,
               CAST(CAST(ecl_num AS VARCHAR) AS DOUBLE) / 1e8 AS ecl,
               CAST(ead_cents AS DOUBLE) / CAST(ead_all AS DOUBLE)
                   AS ead_share
        FROM agg CROSS JOIN tot
        ORDER BY stage
    """,
)
def fin_ecl_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IFRS9-style expected-credit-loss staging over the open
    receivables book: days-past-due as of the fixture horizon
    (1998-08-02) buckets each open order into stage 1/2/3, a literal
    PD curve in BASIS POINTS and a 45% LGD make the per-row loss
    ead_cents * pd_bp * 45 exact integer arithmetic, and per-stage
    sums accumulate in DECIMAL(38,0) (overflow-safe at 100-TB EAD).
    Presentation divides once at the edge. One corpus scan, one
    3-group agg — nothing else."""
    o = load_table(spark, sf_dir, "orders")
    open_ar = o.filter(F.col("o_orderstatus") == "O").select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("ead_cents"),
        F.datediff(F.lit("1998-08-02").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("dpd"),
    )
    staged = open_ar.select(
        F.when(F.col("dpd") <= 180, 1)
        .when(F.col("dpd") <= 540, 2)
        .otherwise(3)
        .alias("stage"),
        "ead_cents",
        F.when(F.col("dpd") <= 180, 200)
        .when(F.col("dpd") <= 540, 1500)
        .otherwise(10000)
        .alias("pd_bp"),
    )
    agg = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_receivables"),
        F.sum("ead_cents").cast("bigint").alias("ead_cents"),
        F.sum(F.col("ead_cents").cast("decimal(29,0)") * F.col("pd_bp") * 45)
        .cast("decimal(38,0)")
        .alias("ecl_num"),
    )
    tot = agg.agg(F.sum("ead_cents").cast("bigint").alias("ead_all"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "n_receivables",
            (F.col("ead_cents").cast("double") / 100).alias("ead"),
            (F.col("ecl_num").cast("string").cast("double") / F.lit(1e8)).alias("ecl"),
            (F.col("ead_cents").cast("double") / F.col("ead_all").cast("double")).alias(
                "ead_share"
            ),
        )
        .orderBy("stage")
    )


@register(
    "fin_woe_iv_binning",
    tags=("finance", "ml", "agg"),
    oracle="""
        WITH lab AS (
            SELECT o_orderpriority AS bin,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
            FROM orders
        ),
        per AS (
            SELECT bin,
                   CAST(SUM(1 - bad) AS BIGINT) AS n_good,
                   CAST(SUM(bad) AS BIGINT) AS n_bad
            FROM lab GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(n_good) AS BIGINT) AS g,
                   CAST(SUM(n_bad) AS BIGINT) AS b
            FROM per
        ),
        woe AS (
            SELECT p.bin, p.n_good, p.n_bad,
                   CAST(p.n_good AS DOUBLE) / CAST(t.g AS DOUBLE) AS dg,
                   CAST(p.n_bad AS DOUBLE) / CAST(t.b AS DOUBLE) AS db,
                   CASE WHEN p.n_good > 0 AND p.n_bad > 0 THEN
                   ln((CAST(p.n_good AS DOUBLE) / CAST(t.g AS DOUBLE))
                      / (CAST(p.n_bad AS DOUBLE) / CAST(t.b AS DOUBLE))) END
                       AS woe
            FROM per p CROSS JOIN tot t
        ),
        iv AS (
            SELECT list_reduce(
                       list((dg - db) * woe ORDER BY bin)
                           FILTER (WHERE woe IS NOT NULL),
                       (acc, x) -> acc + x) AS iv_total
            FROM woe
        )
        SELECT w.bin, w.n_good, w.n_bad, w.dg, w.db, w.woe, i.iv_total
        FROM woe w CROSS JOIN iv i
        ORDER BY w.bin
    """,
)
def fin_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value binning — the credit-
    scorecard feature transform: order priority as the candidate
    variable, finalized status as the 'bad' flag. Per-bin good/bad
    counts are one exact-integer corpus agg; distribution shares and
    WoE = ln(dg/db) are single shared double expressions; the IV total
    folds (dg-db)*woe over the 5 bins in PINNED bin order on both
    engines. Degenerate bins (zero good or bad) cannot occur on this
    fixture; at production the same NULL-guard pattern as
    ml_cohen_kappa applies."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    per = lab.groupBy("bin").agg(
        F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
        F.sum("bad").cast("bigint").alias("n_bad"),
    )
    tot = per.agg(
        F.sum("n_good").cast("bigint").alias("g"),
        F.sum("n_bad").cast("bigint").alias("b"),
    )
    dg = F.col("n_good").cast("double") / F.col("g").cast("double")
    db = F.col("n_bad").cast("double") / F.col("b").cast("double")
    woe = per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_good",
        "n_bad",
        dg.alias("dg"),
        db.alias("db"),
        F.when(
            (F.col("n_good") > 0) & (F.col("n_bad") > 0), F.log(dg / db)
        ).alias("woe"),
    )
    iv = woe.filter(F.col("woe").isNotNull()).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", ((F.col("dg") - F.col("db")) * F.col("woe")).alias("term")))),
            F.lit(0.0),
            lambda acc, s: acc + s["term"],
        ).alias("iv_total")
    )
    return (
        woe.crossJoin(F.broadcast(iv))
        .select("bin", "n_good", "n_bad", "dg", "db", "woe", "iv_total")
        .orderBy("bin")
    )


@register(
    "fin_velocity_flags",
    tags=("finance", "fraud", "window"),
    oracle="""
        WITH o AS (
            SELECT o_custkey AS cust,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) AS day
            FROM orders
        ),
        vel AS (
            SELECT cust, day,
                   CAST(COUNT(*) OVER (PARTITION BY cust ORDER BY day
                        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS v30
            FROM o
        ),
        per AS (
            SELECT cust,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(MAX(v30) AS BIGINT) AS max_velocity
            FROM vel GROUP BY cust
        ),
        peak AS (
            SELECT v.cust, CAST(MIN(v.day) AS BIGINT) AS first_peak_day
            FROM vel v JOIN per p
              ON p.cust = v.cust AND v.v30 = p.max_velocity
            GROUP BY v.cust
        )
        SELECT p.cust AS custkey, p.n_orders, p.max_velocity,
               DATE '1970-01-01' + CAST(k.first_peak_day AS INT)
                   AS first_peak_date
        FROM per p JOIN peak k ON k.cust = p.cust
        WHERE p.max_velocity >= 3
        ORDER BY p.max_velocity DESC, p.cust
    """,
)
def fin_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-velocity fraud screen: for every customer, the
    maximum number of orders inside ANY trailing 30-day window (a
    per-customer RANGE frame over integer epoch days — group sizes
    bounded by customer behavior, not SF), flagging customers whose
    peak velocity clears the threshold, with the earliest day the
    peak occurs (deterministic min-day tiebreak). All exact integer
    arithmetic; the date arithmetic is epoch-day based so both
    engines agree byte-for-byte."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    )
    w = Window.partitionBy("cust").orderBy("day").rangeBetween(-29, 0)
    vel = o.select(
        "cust", "day", F.count(F.lit(1)).over(w).cast("bigint").alias("v30")
    )
    per = vel.groupBy("cust").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.max("v30").cast("bigint").alias("max_velocity"),
    )
    peak = (
        vel.join(
            per.select(F.col("cust").alias("cust_p"), "max_velocity"),
            (F.col("cust") == F.col("cust_p")) & (F.col("v30") == F.col("max_velocity")),
        )
        .groupBy("cust")
        .agg(F.min("day").cast("bigint").alias("first_peak_day"))
    )
    return (
        per.join(peak, "cust")
        .filter(F.col("max_velocity") >= 3)
        .select(
            F.col("cust").alias("custkey"),
            "n_orders",
            "max_velocity",
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("first_peak_day").cast("int")
            ).alias("first_peak_date"),
        )
        .orderBy(F.col("max_velocity").desc(), "custkey")
    )


@register(
    "fin_vwap_benchmark",
    tags=("finance", "agg"),
    oracle="""
        WITH fills AS (
            SELECT l_partkey AS part,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS notional_cents,
                   CAST(l_quantity AS BIGINT) AS qty,
                   l_orderkey, l_linenumber
            FROM lineitem
        ),
        vwap AS (
            SELECT part,
                   CAST(COUNT(*) AS BIGINT) AS n_fills,
                   CAST(SUM(qty) AS BIGINT) AS total_qty,
                   CAST(SUM(notional_cents) AS BIGINT) AS total_notional,
                   CAST(SUM(notional_cents) AS DOUBLE)
                     / CAST(SUM(qty) AS DOUBLE) AS vwap_cents
            FROM fills GROUP BY part
        ),
        top AS (
            SELECT * FROM vwap
            ORDER BY total_notional DESC, part LIMIT 25
        ),
        shortfall AS (
            SELECT t.part, t.n_fills, t.total_qty, t.vwap_cents,
                   CAST(SUM(CASE WHEN CAST(f.notional_cents AS DOUBLE)
                                      / f.qty > t.vwap_cents
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_above_vwap
            FROM top t JOIN fills f ON f.part = t.part
            GROUP BY t.part, t.n_fills, t.total_qty, t.vwap_cents
        )
        SELECT part, n_fills, total_qty,
               vwap_cents / 100 AS vwap,
               n_above_vwap,
               CAST(n_above_vwap AS DOUBLE) / CAST(n_fills AS DOUBLE)
                   AS frac_above_vwap
        FROM shortfall
        ORDER BY part
    """,
)
def fin_vwap_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per instrument (part) and the
    execution-quality census against it: VWAP = Σ notional / Σ qty
    from EXACT integer cents and quantities (one double division),
    then for the 25 highest-notional parts, the fraction of fills
    executed above their VWAP — each fill's unit price and the
    comparison are shared double expressions over exact integers. Two
    map-side-combining aggregations; the benchmark join broadcasts
    the 25-row top relation."""
    li = load_table(spark, sf_dir, "lineitem")
    fills = li.select(
        F.col("l_partkey").alias("part"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("notional_cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    vwap = fills.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fills"),
        F.sum("qty").cast("bigint").alias("total_qty"),
        F.sum("notional_cents").cast("bigint").alias("total_notional"),
        (
            F.sum("notional_cents").cast("double") / F.sum("qty").cast("double")
        ).alias("vwap_cents"),
    )
    top = vwap.orderBy(F.col("total_notional").desc(), "part").limit(25)
    tj = top.select(
        F.col("part").alias("tpart"), "n_fills", "total_qty", "vwap_cents"
    )
    shortfall = (
        fills.join(F.broadcast(tj), F.col("part") == F.col("tpart"))
        .groupBy("part", "n_fills", "total_qty", "vwap_cents")
        .agg(
            F.sum(
                F.when(
                    F.col("notional_cents").cast("double") / F.col("qty")
                    > F.col("vwap_cents"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_above_vwap")
        )
    )
    return shortfall.select(
        "part",
        "n_fills",
        "total_qty",
        (F.col("vwap_cents") / F.lit(100.0)).alias("vwap"),
        "n_above_vwap",
        (
            F.col("n_above_vwap").cast("double") / F.col("n_fills").cast("double")
        ).alias("frac_above_vwap"),
    ).orderBy("part")


@register(
    "fin_stress_delta_gamma",
    tags=("finance", "closed-form", "risk"),
    oracle="""
        WITH y AS (
            SELECT n_nationkey,
                   CAST(0.01 AS DOUBLE)
                     + CAST(n_nationkey % 10 AS DOUBLE) * CAST(0.005 AS DOUBLE)
                       AS yld
            FROM nation
        ),
        grid AS (
            SELECT n_nationkey, yld, m.mat
            FROM y CROSS JOIN (SELECT unnest([2, 5, 10, 30]) AS mat) m
        ),
        base AS (
            SELECT n_nationkey, yld, mat,
                   CAST(0.04 AS DOUBLE) / yld
                     * (CAST(1 AS DOUBLE) - pow(CAST(1 AS DOUBLE) + yld, -mat))
                     + pow(CAST(1 AS DOUBLE) + yld, -mat) AS p0,
                   (CAST(1 AS DOUBLE) + yld) / yld
                     - (CAST(1 AS DOUBLE) + yld
                        + CAST(mat AS DOUBLE) * (CAST(0.04 AS DOUBLE) - yld))
                       / (CAST(0.04 AS DOUBLE)
                          * (pow(CAST(1 AS DOUBLE) + yld, mat)
                             - CAST(1 AS DOUBLE)) + yld) AS mac,
                   list_reduce(
                       list_transform(generate_series(1, mat),
                           t -> CAST(t AS DOUBLE) * (t + 1)
                                * (CASE WHEN t = mat
                                   THEN CAST(1.04 AS DOUBLE)
                                   ELSE CAST(0.04 AS DOUBLE) END)
                                * pow(CAST(1 AS DOUBLE) + yld,
                                      -(CAST(t AS DOUBLE) + 2))),
                       (a, x) -> a + x) AS cx_num
            FROM grid
        ),
        shocked AS (
            SELECT b.*, s.dy_bp,
                   CAST(s.dy_bp AS DOUBLE) / 10000 AS dy
            FROM base b
            CROSS JOIN (SELECT unnest([-200, -100, -50, 50, 100, 200])
                        AS dy_bp) s
        )
        SELECT n_nationkey, mat, dy_bp,
               CAST(FLOOR(p0 * 1e8) AS BIGINT) AS p0_q8,
               CAST(FLOOR((
                   CASE WHEN abs(yld + dy) < 1e-12
                        THEN CAST(0.04 AS DOUBLE) * mat + 1
                        ELSE CAST(0.04 AS DOUBLE) / (yld + dy)
                          * (CAST(1 AS DOUBLE)
                             - pow(CAST(1 AS DOUBLE) + yld + dy, -mat))
                          + pow(CAST(1 AS DOUBLE) + yld + dy, -mat) END - p0
               ) * 1e8) AS BIGINT) AS pnl_exact_q8,
               CAST(FLOOR((
                   - mac / (CAST(1 AS DOUBLE) + yld) * dy * p0
                   + CAST(0.5 AS DOUBLE) * (cx_num / p0) * dy * dy * p0
               ) * 1e8) AS BIGINT) AS pnl_delta_gamma_q8
        FROM shocked
        ORDER BY n_nationkey, mat, dy_bp
    """,
)
def fin_stress_delta_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-gamma stress P&L for the 4%-coupon bond book across six
    parallel yield shocks: exact closed-form repricing versus the
    modified-duration + convexity second-order approximation. The
    convexity numerator folds t(t+1)·cf·(1+y)^-(t+2) over the cashflow
    sequence in ASCENDING t on both engines (ordered left fold —
    deterministic); everything else is the shared closed-form double
    fragments of fin_bond_duration_grid, floor-quantized at q8. The
    25x4x6 grid is a broadcast fan-out — model-sized at any SF. The
    pytest reference checks the approximation error shrinks with
    |shock| (the gamma term's job)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    y = n.withColumn(
        "yld",
        F.lit(0.01) + (F.col("n_nationkey") % 10).cast("double") * F.lit(0.005),
    )
    mat = spark.createDataFrame([(2,), (5,), (10,), (30,)], "mat int")
    grid = y.crossJoin(F.broadcast(mat))
    one = F.lit(1.0)
    c_ = F.lit(0.04)
    yld, t_ = F.col("yld"), F.col("mat").cast("double")
    disc = F.pow(one + yld, -t_)
    p0 = c_ / yld * (one - disc) + disc
    mac = (one + yld) / yld - (one + yld + t_ * (c_ - yld)) / (
        c_ * (F.pow(one + yld, t_) - one) + yld
    )
    cx_num = F.aggregate(
        F.sequence(F.lit(1), F.col("mat")),
        F.lit(0.0),
        lambda acc, t: acc
        + t.cast("double")
        * (t + 1).cast("double")
        * F.when(t == F.col("mat"), F.lit(1.04)).otherwise(F.lit(0.04))
        * F.pow(one + yld, -(t.cast("double") + 2)),
    )
    base = grid.select(
        "n_nationkey", "yld", "mat",
        p0.alias("p0"), mac.alias("mac"), cx_num.alias("cx_num"),
    )
    shocks = spark.createDataFrame(
        [(-200,), (-100,), (-50,), (50,), (100,), (200,)], "dy_bp int"
    )
    shocked = base.crossJoin(F.broadcast(shocks)).withColumn(
        "dy", F.col("dy_bp").cast("double") / 10000
    )
    ys = F.col("yld") + F.col("dy")
    disc_s = F.pow(one + ys, -F.col("mat").cast("double"))
    # y -> 0 limit: price is just the undiscounted cashflow sum
    p_s = F.when(
        F.abs(ys) < 1e-12, c_ * F.col("mat").cast("double") + 1
    ).otherwise(c_ / ys * (one - disc_s) + disc_s)
    return shocked.select(
        "n_nationkey",
        "mat",
        "dy_bp",
        F.floor(F.col("p0") * F.lit(1e8)).cast("bigint").alias("p0_q8"),
        F.floor((p_s - F.col("p0")) * F.lit(1e8)).cast("bigint").alias(
            "pnl_exact_q8"
        ),
        F.floor(
            (
                -F.col("mac")
                / (one + F.col("yld"))
                * F.col("dy")
                * F.col("p0")
                + F.lit(0.5)
                * (F.col("cx_num") / F.col("p0"))
                * F.col("dy")
                * F.col("dy")
                * F.col("p0")
            )
            * F.lit(1e8)
        )
        .cast("bigint")
        .alias("pnl_delta_gamma_q8"),
    ).orderBy("n_nationkey", "mat", "dy_bp")


@register(
    "fin_netting_sets",
    tags=("finance", "agg", "join"),
    oracle="""
        WITH flows AS (
            SELECT s.s_nationkey AS dr, c.c_nationkey AS cr,
                   CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * 100 AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey <> c.c_nationkey
            GROUP BY dr, cr
        ),
        pairs AS (
            SELECT LEAST(dr, cr) AS a, GREATEST(dr, cr) AS b,
                   CAST(SUM(cents) AS BIGINT) AS gross_cents,
                   CAST(SUM(CASE WHEN dr < cr THEN cents
                            ELSE -cents END) AS BIGINT) AS signed_cents
            FROM flows GROUP BY a, b
        )
        SELECT a, b, gross_cents,
               CAST(abs(signed_cents) AS BIGINT) AS net_cents,
               CAST(1 AS DOUBLE)
                 - CAST(abs(signed_cents) AS DOUBLE)
                   / CAST(gross_cents AS DOUBLE) AS netting_benefit
        FROM pairs
        ORDER BY a, b
    """,
)
def fin_netting_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral netting sets on the cross-border trade flows: for
    every nation pair, the gross two-way exposure versus the netted
    single payment (|a→b − b→a|) and the netting benefit — the
    settlement-compression number clearing houses quote. Flows are
    exact integer cents from one 4-way fact join (dims broadcast);
    the pair reduction is canonical least/greatest keying with a
    signed sum — gross and net stay exact BIGINTs, the benefit is one
    double division. 300 output rows at any SF."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("dr"), F.col("c_nationkey").alias("cr")
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    pairs = flows.groupBy(
        F.least("dr", "cr").alias("a"), F.greatest("dr", "cr").alias("b")
    ).agg(
        F.sum("cents").cast("bigint").alias("gross_cents"),
        F.sum(
            F.when(F.col("dr") < F.col("cr"), F.col("cents")).otherwise(
                -F.col("cents")
            )
        )
        .cast("bigint")
        .alias("signed_cents"),
    )
    return pairs.select(
        "a",
        "b",
        "gross_cents",
        F.abs(F.col("signed_cents")).cast("bigint").alias("net_cents"),
        (
            F.lit(1.0)
            - F.abs(F.col("signed_cents")).cast("double")
            / F.col("gross_cents").cast("double")
        ).alias("netting_benefit"),
    ).orderBy("a", "b")


@register(
    "fin_revenue_recognition",
    tags=("finance", "agg"),
    oracle="""
        WITH base AS (
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS cents,
                   date_trunc('month', CAST(o_orderdate AS DATE)) AS m0
            FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        ),
        sched AS (
            SELECT o_orderkey, m0, k.i,
                   CASE WHEN k.i < 5 THEN cents // 6
                        ELSE cents - 5 * (cents // 6) END AS rec_cents,
                   m0 + to_months(CAST(k.i AS INT)) AS rec_month
            FROM base CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS i) k
        )
        SELECT CAST(rec_month AS DATE) AS rec_month,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_contracts,
               CAST(SUM(rec_cents) AS BIGINT) AS recognized_cents
        FROM sched
        GROUP BY rec_month
        ORDER BY rec_month
    """,
)
def fin_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Straight-line revenue recognition over a 6-month service
    period for 1998 bookings: each contract's cents split by INTEGER
    division with the remainder recognized in the final month — the
    accounting-exact allocation (the six tranches sum back to the
    contract total by construction, pytest-pinned). The 6x fan-out is
    a broadcast spine on the already-aggregated base; monthly rollup
    is one exact-integer agg. This is the deferred-revenue waterfall
    every SaaS ledger materializes."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m0"),
    )
    k = spark.range(0, 6).select(F.col("id").cast("int").alias("i"))
    sched = base.crossJoin(F.broadcast(k)).select(
        "o_orderkey",
        F.add_months(F.col("m0"), F.col("i")).alias("rec_month"),
        F.when(F.col("i") < 5, F.floor(F.col("cents") / 6).cast("bigint"))
        .otherwise(
            F.col("cents") - 5 * F.floor(F.col("cents") / 6).cast("bigint")
        )
        .alias("rec_cents"),
    )
    return (
        sched.groupBy("rec_month")
        .agg(
            F.count_distinct("o_orderkey").cast("bigint").alias("n_contracts"),
            F.sum("rec_cents").cast("bigint").alias("recognized_cents"),
        )
        .orderBy("rec_month")
    )


@register(
    "fin_zero_curve_bootstrap",
    tags=("finance", "closed-form"),
    oracle="""
        WITH par AS (
            SELECT n_nationkey,
                   CAST(0.01 AS DOUBLE)
                     + CAST(n_nationkey % 10 AS DOUBLE) * CAST(0.004 AS DOUBLE)
                       AS p1
            FROM nation
        ),
        curve AS (
            SELECT n_nationkey, p1,
                   p1 + CAST(0.0020 AS DOUBLE) AS p2,
                   p1 + CAST(0.0035 AS DOUBLE) AS p3,
                   p1 + CAST(0.0045 AS DOUBLE) AS p4,
                   p1 + CAST(0.0050 AS DOUBLE) AS p5
            FROM par
        ),
        boot AS (
            SELECT *,
                   CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + p1) AS d1
            FROM curve
        ),
        b2 AS (SELECT *, (CAST(1 AS DOUBLE) - p2 * d1)
                         / (CAST(1 AS DOUBLE) + p2) AS d2 FROM boot),
        b3 AS (SELECT *, (CAST(1 AS DOUBLE) - p3 * (d1 + d2))
                         / (CAST(1 AS DOUBLE) + p3) AS d3 FROM b2),
        b4 AS (SELECT *, (CAST(1 AS DOUBLE) - p4 * (d1 + d2 + d3))
                         / (CAST(1 AS DOUBLE) + p4) AS d4 FROM b3),
        b5 AS (SELECT *, (CAST(1 AS DOUBLE) - p5 * (d1 + d2 + d3 + d4))
                         / (CAST(1 AS DOUBLE) + p5) AS d5 FROM b4)
        SELECT n_nationkey,
               CAST(FLOOR(d1 * 1e8) AS BIGINT) AS d1_q8,
               CAST(FLOOR(d5 * 1e8) AS BIGINT) AS d5_q8,
               CAST(FLOOR((pow(d1, CAST(-1 AS DOUBLE)) - 1) * 1e8)
                    AS BIGINT) AS z1_q8,
               CAST(FLOOR((pow(d2, CAST(-1 AS DOUBLE) / 2) - 1) * 1e8)
                    AS BIGINT) AS z2_q8,
               CAST(FLOOR((pow(d3, CAST(-1 AS DOUBLE) / 3) - 1) * 1e8)
                    AS BIGINT) AS z3_q8,
               CAST(FLOOR((pow(d4, CAST(-1 AS DOUBLE) / 4) - 1) * 1e8)
                    AS BIGINT) AS z4_q8,
               CAST(FLOOR((pow(d5, CAST(-1 AS DOUBLE) / 5) - 1) * 1e8)
                    AS BIGINT) AS z5_q8
        FROM b5
        ORDER BY n_nationkey
    """,
)
def fin_zero_curve_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-coupon curve bootstrapping from a 5-point par-yield curve
    per nation: the classic recursion d_t = (1 - p_t * sum_{i<t} d_i)
    / (1 + p_t) unrolled as five chained column expressions — pure
    per-row arithmetic, no aggregation, no shuffle, bit-identical on
    both engines; annualized zero rates come off the discount factors
    with one pow each, and every output floor-quantizes at q8 (pow is
    libm — the quantize discipline). This is the curve-construction
    step upstream of every pricing op in the fin family."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    one = F.lit(1.0)
    p1 = F.lit(0.01) + (F.col("n_nationkey") % 10).cast("double") * F.lit(0.004)
    c = n.select(
        "n_nationkey",
        p1.alias("p1"),
        (p1 + F.lit(0.0020)).alias("p2"),
        (p1 + F.lit(0.0035)).alias("p3"),
        (p1 + F.lit(0.0045)).alias("p4"),
        (p1 + F.lit(0.0050)).alias("p5"),
    )
    c = c.withColumn("d1", one / (one + F.col("p1")))
    c = c.withColumn(
        "d2", (one - F.col("p2") * F.col("d1")) / (one + F.col("p2"))
    )
    c = c.withColumn(
        "d3",
        (one - F.col("p3") * (F.col("d1") + F.col("d2"))) / (one + F.col("p3")),
    )
    c = c.withColumn(
        "d4",
        (one - F.col("p4") * (F.col("d1") + F.col("d2") + F.col("d3")))
        / (one + F.col("p4")),
    )
    c = c.withColumn(
        "d5",
        (
            one
            - F.col("p5")
            * (F.col("d1") + F.col("d2") + F.col("d3") + F.col("d4"))
        )
        / (one + F.col("p5")),
    )
    q8 = lambda col: F.floor(col * F.lit(1e8)).cast("bigint")  # noqa: E731
    z = lambda d, t: F.pow(F.col(d), F.lit(-1.0) / t) - one  # noqa: E731
    return c.select(
        "n_nationkey",
        q8(F.col("d1")).alias("d1_q8"),
        q8(F.col("d5")).alias("d5_q8"),
        q8(z("d1", 1)).alias("z1_q8"),
        q8(z("d2", 2)).alias("z2_q8"),
        q8(z("d3", 3)).alias("z3_q8"),
        q8(z("d4", 4)).alias("z4_q8"),
        q8(z("d5", 5)).alias("z5_q8"),
    ).orderBy("n_nationkey")


@register(
    "fin_max_drawdown",
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
        scored AS (
            SELECT segment, d, equity, peak, peak - equity AS drawdown
            FROM dd
        ),
        best AS (
            SELECT segment, d AS trough_date, equity, peak, drawdown,
                   ROW_NUMBER() OVER (PARTITION BY segment
                       ORDER BY drawdown DESC, d) AS pk
            FROM scored
        )
        SELECT segment,
               CAST(drawdown AS BIGINT) AS max_drawdown_cents,
               trough_date,
               CAST(peak AS BIGINT) AS peak_equity_cents,
               CAST(drawdown AS DOUBLE) / CAST(peak AS DOUBLE)
                   AS drawdown_frac
        FROM best WHERE pk = 1
        ORDER BY segment
    """,
)
def fin_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per market segment on the signed daily P&L
    equity curve: drawdown_t = running-max(equity) - equity — the
    min-reset mirror of the tabular-CUSUM identity, again two stacked
    per-segment windows over exact integer cents with no fold or UDF.
    The deepest trough (deterministic earliest-date tiebreak) with its
    peak and fractional depth is THE risk number portfolio reviews
    lead with. Complements ts_max_drawdown (relative drawdown of an
    always-positive activity curve per event series): this one runs on
    a SIGNED P&L curve in exact integer cents and reports the trough
    date and peak, the fields a risk report needs. Corpus work is one
    broadcast-join daily agg; windows partition per segment over
    calendar-bounded rows."""
    daily = seg_pnl_daily(spark, sf_dir)
    weq = (
        Window.partitionBy("segment")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    eq = daily.select(
        "segment",
        "d",
        F.sum("pnl_cents").over(weq).cast("bigint").alias("equity"),
        F.row_number().over(Window.partitionBy("segment").orderBy("d")).alias("rn"),
    )
    wmax = (
        Window.partitionBy("segment")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = eq.withColumn("peak", F.max("equity").over(wmax).cast("bigint"))
    scored = dd.withColumn("drawdown", F.col("peak") - F.col("equity"))
    wpick = Window.partitionBy("segment").orderBy(
        F.col("drawdown").desc(), F.col("d")
    )
    best = scored.withColumn("pk", F.row_number().over(wpick)).filter(
        F.col("pk") == 1
    )
    return best.select(
        "segment",
        F.col("drawdown").cast("bigint").alias("max_drawdown_cents"),
        F.col("d").alias("trough_date"),
        F.col("peak").cast("bigint").alias("peak_equity_cents"),
        (F.col("drawdown").cast("double") / F.col("peak").cast("double")).alias(
            "drawdown_frac"
        ),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Round-10 finance wave: factor exposure (CAPM), day-count convention
# comparison, bet sizing (Kelly), liquidity (Amihud), and drawdown-
# normalized performance (Calmar). Same exact-arithmetic contract as
# fin_sharpe_sortino: the corpus collapses to exact decimal daily
# sums, every cross-day return is ONE shared double expression floor-
# quantized to an integer immediately, and all cross-row reductions
# run on exact integers/decimals. Class-5 division edges NULL-guarded
# identically on both engines.

@register(
    "fin_capm_beta",
    tags=("finance", "window", "stats"),
    oracle=f"""
        WITH {MARKET_MODEL_SQL}
        SELECT segment, n,
               CASE WHEN CAST(n AS DOUBLE) * smm
                         - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) > 0 THEN
                 (CAST(n AS DOUBLE) * srm
                  - CAST(sr AS DOUBLE) * CAST(sm AS DOUBLE))
                 / (CAST(n AS DOUBLE) * smm
                    - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
               END AS beta,
               CASE WHEN CAST(n AS DOUBLE) * smm
                         - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) > 0 THEN
                 (CAST(sr AS DOUBLE)
                  - (CAST(n AS DOUBLE) * srm
                     - CAST(sr AS DOUBLE) * CAST(sm AS DOUBLE))
                    / (CAST(n AS DOUBLE) * smm
                       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                    * CAST(sm AS DOUBLE))
                 / CAST(n AS DOUBLE) / CAST(1e9 AS DOUBLE)
               END AS alpha_daily
        FROM s ORDER BY segment
    """,
)
def fin_capm_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM market-model regression per segment: beta and daily alpha
    of each segment's day-over-day revenue return against the whole-
    market return (the all-segment daily total) — the factor-exposure
    decomposition behind every performance-attribution report. Both
    return series floor-quantize to q9 BIGINTs off exact decimal daily
    sums (the fin_sharpe_sortino recipe), so the five sufficient sums
    are exact integer/DECIMAL arithmetic and beta/alpha assemble in
    one guarded double expression (zero market variance NULLs both).
    Scale: corpus work is one broadcast-join daily agg; the market
    series and all windows live on O(days) calendar-bounded rows (the
    unpartitioned market lag window is a ~730-row relation, never the
    corpus)."""
    daily = seg_daily(spark, sf_dir).persist()
    s = market_model_sums(daily)
    n_d = F.col("n").cast("double")
    sr_d = F.col("sr").cast("double")
    sm_d = F.col("sm").cast("double")
    var_m = n_d * F.col("smm") - sm_d * sm_d
    beta = (n_d * F.col("srm") - sr_d * sm_d) / var_m
    return s.select(
        "segment",
        "n",
        F.when(var_m > 0, beta).alias("beta"),
        F.when(
            var_m > 0, (sr_d - beta * sm_d) / n_d / F.lit(1e9)
        ).alias("alpha_daily"),
    ).orderBy("segment")


@register(
    "fin_daycount_conventions",
    tags=("finance", "scalar", "agg"),
    oracle="""
        WITH accr AS (
            SELECT o_orderpriority AS priority,
                   CAST(FLOOR(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                   AS VARCHAR) AS DOUBLE)
                        * CAST(0.05 AS DOUBLE)
                        * CAST(360 * (2002 - EXTRACT(year FROM o_orderdate))
                               + 30 * (1 - EXTRACT(month FROM o_orderdate))
                               + (1 - LEAST(EXTRACT(day FROM o_orderdate), 30))
                               AS DOUBLE)
                        / CAST(360 AS DOUBLE) * 100) AS BIGINT) AS a30360,
                   CAST(FLOOR(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                   AS VARCHAR) AS DOUBLE)
                        * CAST(0.05 AS DOUBLE)
                        * CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                         DATE '2002-01-01') AS DOUBLE)
                        / CAST(360 AS DOUBLE) * 100) AS BIGINT) AS aact360,
                   CAST(FLOOR(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                   AS VARCHAR) AS DOUBLE)
                        * CAST(0.05 AS DOUBLE)
                        * CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                         DATE '2002-01-01') AS DOUBLE)
                        / CAST(365 AS DOUBLE) * 100) AS BIGINT) AS aact365
            FROM orders
        )
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a30360) AS DOUBLE) / 100 AS accrued_30_360,
               CAST(SUM(aact360) AS DOUBLE) / 100 AS accrued_act_360,
               CAST(SUM(aact365) AS DOUBLE) / 100 AS accrued_act_365,
               CAST(SUM(a30360) - SUM(aact360) AS DOUBLE) / 100
                   AS basis_30_360_vs_act_360
        FROM accr GROUP BY priority ORDER BY priority
    """,
)
def fin_daycount_conventions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accrued-interest comparison under the three day-count
    conventions every fixed-income system must agree on — US 30/360
    (without the Feb end-of-month rule; documented simplification),
    ACT/360 (money market), ACT/365 (bond basis) — at 5% from each
    order date to a fixed 2002-01-01 settlement. The day counts are
    pure integer date arithmetic; each per-row accrual is ONE
    IEEE-deterministic double expression floor-quantized to exact
    cents, so the per-priority totals and the 30/360-vs-ACT/360 basis
    gap are exact integer sums (class-1: no raw double reduction).
    One scan, one hash agg, no joins; no division by data (class-5:
    denominators are literal constants)."""
    o = load_table(spark, sf_dir, "orders")
    p_d = as_d(F.col("o_totalprice").cast("decimal(12,2)"))
    d30 = (
        F.lit(360) * (F.lit(2002) - F.year("o_orderdate"))
        + F.lit(30) * (F.lit(1) - F.month("o_orderdate"))
        + (F.lit(1) - F.least(F.dayofmonth("o_orderdate"), F.lit(30)))
    ).cast("double")
    dact = F.datediff(
        F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("double")
    accr = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(p_d * F.lit(0.05) * d30 / F.lit(360.0) * 100)
        .cast("bigint")
        .alias("a30360"),
        F.floor(p_d * F.lit(0.05) * dact / F.lit(360.0) * 100)
        .cast("bigint")
        .alias("aact360"),
        F.floor(p_d * F.lit(0.05) * dact / F.lit(365.0) * 100)
        .cast("bigint")
        .alias("aact365"),
    )
    return (
        accr.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum("a30360").cast("double") / 100).alias("accrued_30_360"),
            (F.sum("aact360").cast("double") / 100).alias("accrued_act_360"),
            (F.sum("aact365").cast("double") / 100).alias("accrued_act_365"),
            (
                (F.sum("a30360") - F.sum("aact360")).cast("double") / 100
            ).alias("basis_30_360_vs_act_360"),
        )
        .orderBy("priority")
    )


@register(
    "fin_kelly_fraction",
    tags=("finance", "agg"),
    oracle="""
        WITH bets AS (
            SELECT o.o_orderpriority AS priority,
                   CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END AS win,
                   CAST(l.l_extendedprice AS DECIMAL(18,2)) AS v
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        s AS (
            SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(win) AS BIGINT) AS wins,
                   CAST(CAST(SUM(CASE WHEN win = 1 THEN v
                                      ELSE CAST(0 AS DECIMAL(18,2)) END)
                        AS VARCHAR) AS DOUBLE) AS wv,
                   CAST(CAST(SUM(CASE WHEN win = 0 THEN v
                                      ELSE CAST(0 AS DECIMAL(18,2)) END)
                        AS VARCHAR) AS DOUBLE) AS lv
            FROM bets GROUP BY priority
        )
        SELECT priority, n, wins,
               CAST(wins AS DOUBLE) / CAST(n AS DOUBLE) AS p_win,
               CASE WHEN wins > 0 AND wins < n AND lv / CAST(n - wins AS DOUBLE) > 0
                    THEN (wv / CAST(wins AS DOUBLE))
                         / (lv / CAST(n - wins AS DOUBLE)) END AS odds_b,
               CASE WHEN wins > 0 AND wins < n AND wv > 0 THEN
                 CAST(wins AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(1 AS DOUBLE)
                    - CAST(wins AS DOUBLE) / CAST(n AS DOUBLE))
                   / ((wv / CAST(wins AS DOUBLE))
                      / (lv / CAST(n - wins AS DOUBLE)))
               END AS kelly_f
        FROM s ORDER BY priority
    """,
)
def fin_kelly_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kelly-criterion bet sizing per order priority, treating each
    line as a bet that wins when the item is kept (returnflag <> 'R'):
    f* = p - (1-p)/b with win probability p from exact counts and odds
    b = avg win value / avg loss value from exact decimal sums —
    everything reduces in ONE co-partitioned lineitem⋈orders join +
    one hash agg, statistics assemble in one guarded double edge
    expression. Class-5 edges: all-win (no losses => b undefined),
    all-loss (p=0), and zero win value all NULL f* via the same CASE
    on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    dec = "decimal(18,2)"
    bets = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.when(F.col("l_returnflag") != "R", 1).otherwise(0).alias("win"),
        F.col("l_extendedprice").cast(dec).alias("v"),
    )
    s = bets.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("win").cast("bigint").alias("wins"),
        as_d(
            F.sum(
                F.when(F.col("win") == 1, F.col("v")).otherwise(
                    F.lit(0).cast(dec)
                )
            )
        ).alias("wv"),
        as_d(
            F.sum(
                F.when(F.col("win") == 0, F.col("v")).otherwise(
                    F.lit(0).cast(dec)
                )
            )
        ).alias("lv"),
    )
    n_d = F.col("n").cast("double")
    w_d = F.col("wins").cast("double")
    l_d = (F.col("n") - F.col("wins")).cast("double")
    p = w_d / n_d
    b = (F.col("wv") / w_d) / (F.col("lv") / l_d)
    has_both = (F.col("wins") > 0) & (F.col("wins") < F.col("n"))
    return s.select(
        "priority",
        "n",
        "wins",
        p.alias("p_win"),
        F.when(has_both & (F.col("lv") / l_d > 0), b).alias("odds_b"),
        F.when(has_both & (F.col("wv") > 0), p - (1 - p) / b).alias("kelly_f"),
    ).orderBy("priority")


@register(
    "fin_amihud_illiquidity",
    tags=("finance", "window", "risk"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        r AS (
            SELECT segment, d, x,
                   LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
            FROM daily
        ),
        q AS (
            SELECT segment,
                   CAST(FLOOR(ABS(CAST(CAST(x AS VARCHAR) AS DOUBLE)
                                  / CAST(CAST(xp AS VARCHAR) AS DOUBLE)
                                  - CAST(1 AS DOUBLE))
                              / CAST(CAST(x AS VARCHAR) AS DOUBLE)
                              * CAST(1e18 AS DOUBLE)) AS BIGINT) AS iq
            FROM r WHERE xp IS NOT NULL
        )
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(CAST(SUM(CAST(iq AS DECIMAL(38,0))) AS VARCHAR)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e18
                   AS amihud_illiq
        FROM q GROUP BY segment ORDER BY segment
    """,
)
def fin_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per market segment: the mean over days of
    |daily return| / daily dollar volume — price impact per traded
    dollar, THE standard cross-sectional liquidity proxy. Returns and
    volumes come from the exact decimal daily relation; each day's
    ratio is ONE IEEE-deterministic double expression floor-quantized
    at q18 (ratios live near 1e-8, so q18 keeps ~10 significant
    digits), making the mean an exact integer sum divided once at the
    edge. Scale: one broadcast-join daily agg; the lag window
    partitions per segment over calendar-bounded rows. Class-5 note:
    the volume denominator is a sum of strictly positive order totals
    and the lag filter removes the missing-previous-day edge, so no
    division can degenerate — documented rather than guarded."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d")
    q = (
        daily.withColumn("xp", F.lag("x").over(w))
        .filter(F.col("xp").isNotNull())
        .select(
            "segment",
            F.floor(
                F.abs(as_d(F.col("x")) / as_d(F.col("xp")) - F.lit(1.0))
                / as_d(F.col("x"))
                * F.lit(1e18)
            )
            .cast("bigint")
            .alias("iq"),
        )
    )
    return (
        q.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (
                as_d(F.sum(F.col("iq").cast("decimal(38,0)")))
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e18)
            ).alias("amihud_illiq"),
        )
        .orderBy("segment")
    )


@register(
    "fin_calmar_ratio",
    tags=("finance", "window", "risk"),
    oracle=f"""
        WITH daily AS ({SEG_PNL_DAILY_SQL}),
        eq AS (
            SELECT segment, d,
                   CAST(SUM(pnl_cents) OVER (PARTITION BY segment ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS equity
            FROM daily
        ),
        dd AS (
            SELECT segment, equity,
                   CAST(MAX(equity) OVER (PARTITION BY segment ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
            FROM eq
        ),
        s AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(MAX(peak - equity) AS BIGINT) AS max_dd_cents
            FROM dd GROUP BY segment
        ),
        tot AS (
            SELECT segment, CAST(SUM(pnl_cents) AS BIGINT) AS total_cents
            FROM daily GROUP BY segment
        )
        SELECT s.segment, s.n_days, s.max_dd_cents,
               CAST(t.total_cents AS DOUBLE) * 252
                   / CAST(s.n_days AS DOUBLE) / 100 AS ann_pnl,
               CASE WHEN s.max_dd_cents > 0 THEN
                 (CAST(t.total_cents AS DOUBLE) * 252
                  / CAST(s.n_days AS DOUBLE))
                 / CAST(s.max_dd_cents AS DOUBLE) END AS calmar
        FROM s JOIN tot t ON t.segment = s.segment
        ORDER BY s.segment
    """,
)
def fin_calmar_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio per market segment on the signed daily P&L curve:
    annualized P&L (total / active days x 252) divided by the maximum
    drawdown — the drawdown-normalized performance number CTA/fund
    reports lead with, complementing fin_max_drawdown (which reports
    the trough) by turning it into a return-per-unit-pain ratio. The
    equity curve and running peak are the same two stacked per-segment
    windows over exact integer cents (prefix sum + running max — the
    max-reset identity family); the ratio is one guarded double edge
    expression (a never-drawn-down segment NULLs via the same CASE on
    both engines). Corpus work: one broadcast-join daily agg; windows
    per segment over calendar-bounded rows."""
    daily = seg_pnl_daily(spark, sf_dir).persist()
    w = Window.partitionBy("segment").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    eq = daily.select(
        "segment", "d", F.sum("pnl_cents").over(w).cast("bigint").alias("equity")
    )
    dd = eq.select(
        "segment",
        "equity",
        F.max("equity").over(w).cast("bigint").alias("peak"),
    )
    s = dd.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max(F.col("peak") - F.col("equity")).cast("bigint").alias("max_dd_cents"),
    )
    tot = daily.groupBy("segment").agg(
        F.sum("pnl_cents").cast("bigint").alias("total_cents")
    )
    ann = (
        F.col("total_cents").cast("double")
        * 252
        / F.col("n_days").cast("double")
    )
    return (
        s.join(tot, "segment")
        .select(
            "segment",
            "n_days",
            "max_dd_cents",
            (ann / 100).alias("ann_pnl"),
            F.when(
                F.col("max_dd_cents") > 0,
                ann / F.col("max_dd_cents").cast("double"),
            ).alias("calmar"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Round-10 continuation: NPV rate grid and Ulcer index.


@register(
    "fin_npv_rate_grid",
    tags=("finance", "agg"),
    oracle="""
        WITH cf AS (
            SELECT o_orderpriority AS priority,
                   CAST(EXTRACT(year FROM o_orderdate) - 1995 AS BIGINT) AS t,
                   CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
                        AS DOUBLE) AS cf
            FROM orders
        )
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(FLOOR(cf * (CASE WHEN t = 0 THEN CAST('1.0' AS DOUBLE) WHEN t = 1 THEN CAST('0.970873786407767' AS DOUBLE) WHEN t = 2 THEN CAST('0.9425959091337544' AS DOUBLE) WHEN t = 3 THEN CAST('0.9151416593531595' AS DOUBLE) WHEN t = 4 THEN CAST('0.8884870479156888' AS DOUBLE) WHEN t = 5 THEN CAST('0.8626087843841639' AS DOUBLE) WHEN t = 6 THEN CAST('0.8374842566836542' AS DOUBLE) WHEN t = 7 THEN CAST('0.8130915113433536' AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 100 AS npv_3pct,
               CAST(CAST(SUM(CAST(FLOOR(cf * (CASE WHEN t = 0 THEN CAST('1.0' AS DOUBLE) WHEN t = 1 THEN CAST('0.9523809523809523' AS DOUBLE) WHEN t = 2 THEN CAST('0.9070294784580498' AS DOUBLE) WHEN t = 3 THEN CAST('0.863837598531476' AS DOUBLE) WHEN t = 4 THEN CAST('0.8227024747918819' AS DOUBLE) WHEN t = 5 THEN CAST('0.7835261664684589' AS DOUBLE) WHEN t = 6 THEN CAST('0.7462153966366275' AS DOUBLE) WHEN t = 7 THEN CAST('0.7106813301301214' AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 100 AS npv_5pct,
               CAST(CAST(SUM(CAST(FLOOR(cf * (CASE WHEN t = 0 THEN CAST('1.0' AS DOUBLE) WHEN t = 1 THEN CAST('0.9259259259259258' AS DOUBLE) WHEN t = 2 THEN CAST('0.8573388203017831' AS DOUBLE) WHEN t = 3 THEN CAST('0.7938322410201696' AS DOUBLE) WHEN t = 4 THEN CAST('0.7350298527964533' AS DOUBLE) WHEN t = 5 THEN CAST('0.6805831970337529' AS DOUBLE) WHEN t = 6 THEN CAST('0.6301696268831045' AS DOUBLE) WHEN t = 7 THEN CAST('0.5834903952621338' AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 100 AS npv_8pct
        FROM cf GROUP BY priority ORDER BY priority
    """,
)
def fin_npv_rate_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net present value of each priority's order cash-flow stream at
    a 3/5/8% discount-rate grid, with flows bucketed to whole years
    from the 1995 epoch — the rate-sensitivity table every treasury
    model tabulates (the closed-form companion to fin_irr_per_order's
    root-finder). The discount factors (1+r)^-t are Python-generated
    double LITERALS shared verbatim by both dialects (both engines
    parse the identical literal to the identical IEEE double), so each
    per-row discounted flow is one deterministic double product,
    floor-quantized to exact cents before summation — no libm pow at
    query time, no float accumulation (class-1), no division by data
    (class-5). One scan, one hash agg per priority."""
    o = load_table(spark, sf_dir, "orders")
    cf = o.select(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") - 1995).cast("bigint").alias("t"),
        F.col("o_totalprice")
        .cast("decimal(12,2)")
        .cast("string")
        .cast("double")
        .alias("cf"),
    )
    agg = cf.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(SUM(CAST(FLOOR(cf * (CASE WHEN t = 0 THEN CAST('1.0' AS DOUBLE) WHEN t = 1 THEN CAST('0.970873786407767' AS DOUBLE) WHEN t = 2 THEN CAST('0.9425959091337544' AS DOUBLE) WHEN t = 3 THEN CAST('0.9151416593531595' AS DOUBLE) WHEN t = 4 THEN CAST('0.8884870479156888' AS DOUBLE) WHEN t = 5 THEN CAST('0.8626087843841639' AS DOUBLE) WHEN t = 6 THEN CAST('0.8374842566836542' AS DOUBLE) WHEN t = 7 THEN CAST('0.8130915113433536' AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100) AS DECIMAL(38,0))) AS STRING)").cast("double").alias("raw_npv_3pct"),
        F.expr("CAST(SUM(CAST(FLOOR(cf * (CASE WHEN t = 0 THEN CAST('1.0' AS DOUBLE) WHEN t = 1 THEN CAST('0.9523809523809523' AS DOUBLE) WHEN t = 2 THEN CAST('0.9070294784580498' AS DOUBLE) WHEN t = 3 THEN CAST('0.863837598531476' AS DOUBLE) WHEN t = 4 THEN CAST('0.8227024747918819' AS DOUBLE) WHEN t = 5 THEN CAST('0.7835261664684589' AS DOUBLE) WHEN t = 6 THEN CAST('0.7462153966366275' AS DOUBLE) WHEN t = 7 THEN CAST('0.7106813301301214' AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100) AS DECIMAL(38,0))) AS STRING)").cast("double").alias("raw_npv_5pct"),
        F.expr("CAST(SUM(CAST(FLOOR(cf * (CASE WHEN t = 0 THEN CAST('1.0' AS DOUBLE) WHEN t = 1 THEN CAST('0.9259259259259258' AS DOUBLE) WHEN t = 2 THEN CAST('0.8573388203017831' AS DOUBLE) WHEN t = 3 THEN CAST('0.7938322410201696' AS DOUBLE) WHEN t = 4 THEN CAST('0.7350298527964533' AS DOUBLE) WHEN t = 5 THEN CAST('0.6805831970337529' AS DOUBLE) WHEN t = 6 THEN CAST('0.6301696268831045' AS DOUBLE) WHEN t = 7 THEN CAST('0.5834903952621338' AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100) AS DECIMAL(38,0))) AS STRING)").cast("double").alias("raw_npv_8pct"),
    )
    return agg.select(
        "priority",
        "n",
        (F.col("raw_npv_3pct") / 100).alias("npv_3pct"),
        (F.col("raw_npv_5pct") / 100).alias("npv_5pct"),
        (F.col("raw_npv_8pct") / 100).alias("npv_8pct"),
    ).orderBy("priority")


@register(
    "fin_ulcer_index",
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
               sqrt(CAST(CAST(SUM(CAST(ddq AS DECIMAL(19,0)) * ddq)
                          AS VARCHAR) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS ulcer_index,
               CAST(MAX(ddq) AS DOUBLE) / 1e6 AS max_dd_pct
        FROM dd GROUP BY segment ORDER BY segment
    """,
)
def fin_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per market segment on the daily revenue level: the
    ROOT-MEAN-SQUARE percentage drawdown from the running peak — the
    depth-AND-duration pain measure (a long shallow slump hurts the
    ulcer index where fin_max_drawdown's single trough misses it).
    Each day's drawdown percentage is one deterministic double
    expression over exact decimal (x, running-max) pairs, floor-
    quantized at q6 BEFORE squaring (the class-2 rule: the square
    stays exact DECIMAL integer arithmetic, never a >2^53 double cast
    back to decimal); the RMS is one sqrt edge over exact sums.
    Class-5: the running max is bounded below by the first day's
    strictly positive revenue, so the divisor cannot degenerate —
    documented, not guarded. Windows partition per segment over
    calendar-bounded rows; corpus work is the one daily agg."""
    daily = seg_daily(spark, sf_dir)
    w = Window.partitionBy("segment").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = daily.select(
        "segment",
        dd_q6(F.max("x").over(w), F.col("x"))
        .alias("ddq"),
    )
    return (
        dd.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (
                F.sqrt(
                    F.sum(F.col("ddq").cast("decimal(19,0)") * F.col("ddq"))
                    .cast("decimal(38,0)")
                    .cast("string")
                    .cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                / F.lit(1e6)
            ).alias("ulcer_index"),
            (F.max("ddq").cast("double") / F.lit(1e6)).alias("max_dd_pct"),
        )
        .orderBy("segment")
    )


@register(
    "fin_tracking_error",
    tags=("finance", "window", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        {SEG_RET_SQL},
        act AS (
            SELECT rs.segment, rs.r - rm.m AS a
            FROM rs JOIN rm ON rm.d = rs.d
        ),
        s AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a) AS BIGINT) AS sa,
                   CAST(CAST(SUM(CAST(a AS DECIMAL(19,0)) * a) AS VARCHAR)
                        AS DOUBLE) AS saa
            FROM act GROUP BY segment
        )
        SELECT segment, n,
               CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) / 1e9
                   AS mean_active_ret,
               CASE WHEN n > 1 AND saa - CAST(sa AS DOUBLE)
                         * CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) > 0 THEN
                 sqrt((saa - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                       / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) / 1e9
                   * sqrt(CAST(252 AS DOUBLE))
               END AS tracking_error_ann,
               CASE WHEN n > 1 AND saa - CAST(sa AS DOUBLE)
                         * CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) > 0 THEN
                 (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE))
                 / (sqrt((saa - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                          / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
                    / sqrt(CAST(252 AS DOUBLE)))
               END AS information_ratio_ann
        FROM s ORDER BY segment
    """,
)
def fin_tracking_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized tracking error and information ratio per segment
    against the whole-market benchmark: active return a_t = r_t - m_t
    on the q9-quantized daily returns (EXACT integer differences — the
    fin_capm_beta series reused), TE = sd(a)*sqrt(252), IR =
    mean(a)/sd(a)*sqrt(252) — the pair that turns CAPM's beta into a
    benchmark-relative performance verdict. Sufficient sums exact;
    statistics are guarded double edges (n<=1 or zero active variance
    — a segment that IS the market — NULLs both on both engines).
    Scale: same one-daily-agg + calendar-bounded-window shape as
    fin_sharpe_sortino."""
    daily = seg_daily(spark, sf_dir).persist()
    rs = seg_returns(daily)
    rm = mkt_returns(daily)
    act = rs.join(F.broadcast(rm), "d").select(
        "segment", (F.col("r") - F.col("m")).alias("a")
    )
    s = act.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("sa"),
        as_d(F.sum(F.col("a").cast("decimal(19,0)") * F.col("a"))).alias("saa"),
    )
    n_d = F.col("n").cast("double")
    sa_d = F.col("sa").cast("double")
    ss = F.col("saa") - sa_d * sa_d / n_d
    sd = F.sqrt(ss / (n_d - 1))
    ok = (F.col("n") > 1) & (ss > 0)
    return s.select(
        "segment",
        "n",
        (sa_d / n_d / F.lit(1e9)).alias("mean_active_ret"),
        F.when(ok, sd / F.lit(1e9) * F.sqrt(F.lit(252.0))).alias(
            "tracking_error_ann"
        ),
        F.when(ok, (sa_d / n_d) / (sd / F.sqrt(F.lit(252.0)))).alias(
            "information_ratio_ann"
        ),
    ).orderBy("segment")


@register(
    "fin_omega_ratio",
    tags=("finance", "window", "risk"),
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
        s AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN r > 0 THEN r ELSE 0 END) AS BIGINT)
                       AS gains,
                   CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) AS BIGINT)
                       AS losses,
                   CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_up
            FROM ret GROUP BY segment
        )
        SELECT segment, n,
               CAST(gains AS DOUBLE) / 1e9 AS gain_sum,
               CAST(losses AS DOUBLE) / 1e9 AS loss_sum,
               CAST(n_up AS DOUBLE) / CAST(n AS DOUBLE) AS win_rate,
               CASE WHEN losses > 0 THEN
                 CAST(gains AS DOUBLE) / CAST(losses AS DOUBLE)
               END AS omega
        FROM s ORDER BY segment
    """,
)
def fin_omega_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omega ratio at threshold 0 per market segment: the probability-
    weighted gains over losses (sum of positive daily returns / sum of
    |negative| returns) — the risk measure that uses the WHOLE return
    distribution where Sharpe keeps two moments; plus the win rate.
    On the q9-quantized return series every sum is an exact BIGINT, so
    Omega is a single guarded double division (a segment with no down
    days NULLs on both engines — class 5). Same one-daily-agg +
    per-segment-window shape as the rest of the return family."""
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
    s = ret.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("gains"),
        F.sum(F.when(F.col("r") < 0, -F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("losses"),
        F.sum(F.when(F.col("r") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
    )
    return s.select(
        "segment",
        "n",
        (F.col("gains").cast("double") / F.lit(1e9)).alias("gain_sum"),
        (F.col("losses").cast("double") / F.lit(1e9)).alias("loss_sum"),
        (F.col("n_up").cast("double") / F.col("n").cast("double")).alias(
            "win_rate"
        ),
        F.when(
            F.col("losses") > 0,
            F.col("gains").cast("double") / F.col("losses").cast("double"),
        ).alias("omega"),
    ).orderBy("segment")


@register(
    "fin_var_exception_backtest",
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
        test AS (
            SELECT ret.segment, ret.r, v.var_q9
            FROM ret JOIN var_t v ON v.segment = ret.segment
            WHERE ret.d >= DATE '1998-01-01'
        ),
        s AS (
            SELECT segment, CAST(MIN(var_q9) AS BIGINT) AS var_q9,
                   CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN r < var_q9 THEN 1 ELSE 0 END)
                        AS BIGINT) AS exceptions
            FROM test GROUP BY segment
        )
        SELECT segment,
               CAST(var_q9 AS DOUBLE) / 1e9 AS var_95,
               n_test, exceptions,
               CAST(n_test AS DOUBLE) * CAST('0.05' AS DOUBLE) AS expected,
               CASE WHEN n_test > 0 THEN
                 (CAST(exceptions AS DOUBLE)
                  - CAST(n_test AS DOUBLE) * CAST('0.05' AS DOUBLE))
                 / sqrt(CAST(n_test AS DOUBLE) * CAST('0.05' AS DOUBLE)
                        * (1 - CAST('0.05' AS DOUBLE)))
               END AS binom_z
        FROM s ORDER BY segment
    """,
)
def fin_var_exception_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample VaR exception backtest per segment — the Basel-
    style count test behind every traffic-light report: estimate the
    95% historical VaR on the FIRST half of the return series (the
    lower order statistic at rank ceil(n/20) — computed as the exact
    integer (n+19) div 20 on BOTH engines so the rank can never take a
    double-rounding path, per the round-10 advisor note — deterministic
    (r, d) tiebreak), count second-half days breaching it, and score the
    count against Binomial(n, 5%) with the normal-approximation z
    (the Kupiec POF likelihood ratio needs ln — kept off the oracle
    surface per the libm rule; the binomial z is the same evidence).
    Exact q9 integer returns, exact counts, one guarded double edge;
    the per-segment rank window runs on O(days) calendar-bounded rows.
    Class-5: an empty test window NULLs z via the same CASE (and the
    estimation window is non-empty by the fixture's date span,
    documented)."""
    daily = seg_daily(spark, sf_dir)
    ret = seg_returns(daily).persist()  # estimation window AND test window
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
                F.col("rk")
                == F.expr("CAST((n1 + 19) DIV 20 AS BIGINT)"),
                F.col("r"),
            )
        ).alias("var_q9")
    )
    test = ret.filter(F.col("d") >= cut).join(F.broadcast(var_t), "segment")
    s = test.groupBy("segment").agg(
        F.min("var_q9").cast("bigint").alias("var_q9"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("r") < F.col("var_q9"), 1).otherwise(0))
        .cast("bigint")
        .alias("exceptions"),
    )
    p = F.lit("0.05").cast("double")
    n_d = F.col("n_test").cast("double")
    return s.select(
        "segment",
        (F.col("var_q9").cast("double") / F.lit(1e9)).alias("var_95"),
        "n_test",
        "exceptions",
        (n_d * p).alias("expected"),
        F.when(
            F.col("n_test") > 0,
            (F.col("exceptions").cast("double") - n_d * p)
            / F.sqrt(n_d * p * (1 - p)),
        ).alias("binom_z"),
    ).orderBy("segment")


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


# ---------------------------------------------------------------------------
# fin_information_ratio — active-return consistency per segment


@register(
    "fin_information_ratio",
    tags=("finance", "window", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        {SEG_RET_SQL},
        act AS (
            SELECT rs.segment, rs.r - rm.m AS a
            FROM rs JOIN rm ON rm.d = rs.d
        ),
        s AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(a AS DECIMAL(19,0))) AS VARCHAR)
                        AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(a AS DECIMAL(19,0)) * a) AS VARCHAR)
                        AS DOUBLE) AS s2
            FROM act GROUP BY segment
        )
        SELECT segment, n AS n_days,
               CASE WHEN n > 1
                         AND (CAST(n AS DOUBLE) * s2 - s1 * s1) > 0 THEN
                 (s1 / CAST(n AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1)
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
               END AS ir_daily
        FROM s ORDER BY segment
    """,
)
def fin_information_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily information ratio per segment against the whole-market
    book: IR = mean(active return) / sd(active return), the
    consistency-of-outperformance number that complements
    fin_tracking_error (which reports only the denominator). Active
    returns are DIFFERENCES of the shared q9-quantized integers (exact
    BIGINTs); mean and sample sd come from two decimal power sums
    crossing to double once each; IR is ONE guarded expression. Zero
    active variance NULLs identically. Corpus work is the shared daily
    agg; the join and moments ride the calendar-bounded return
    relation."""
    daily = seg_daily(spark, sf_dir)
    rs = seg_returns(daily)
    rm = mkt_returns(seg_daily(spark, sf_dir))
    act = rs.join(F.broadcast(rm), "d").select(
        "segment", (F.col("r") - F.col("m")).alias("a")
    )
    s = act.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum(F.col("a").cast("decimal(19,0)"))).alias("s1"),
        as_d(F.sum(F.col("a").cast("decimal(19,0)") * F.col("a"))).alias("s2"),
    )
    n_d = F.col("n").cast("double")
    var_num = n_d * F.col("s2") - F.col("s1") * F.col("s1")
    return s.select(
        "segment",
        F.col("n").alias("n_days"),
        F.when(
            (F.col("n") > 1) & (var_num > 0),
            (F.col("s1") / n_d) / F.sqrt(var_num / (n_d * (n_d - 1))),
        ).alias("ir_daily"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# fin_m2_modigliani — risk-adjusted return on the market's vol scale


@register(
    "fin_m2_modigliani",
    tags=("finance", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        {SEG_RET_SQL},
        segm AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(r AS DECIMAL(19,0))) AS VARCHAR)
                        AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(r AS DECIMAL(19,0)) * r) AS VARCHAR)
                        AS DOUBLE) AS s2
            FROM rs GROUP BY segment
        ),
        mm AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nm,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(19,0))) AS VARCHAR)
                        AS DOUBLE) AS m1,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(19,0)) * m) AS VARCHAR)
                        AS DOUBLE) AS m2s
            FROM rm
        )
        SELECT segment, n AS n_days,
               CASE WHEN n > 1
                         AND (CAST(n AS DOUBLE) * s2 - s1 * s1) > 0 THEN
                 (s1 / CAST(n AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1)
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
               END AS sharpe_daily,
               CASE WHEN n > 1 AND nm > 1
                         AND (CAST(n AS DOUBLE) * s2 - s1 * s1) > 0 THEN
                 ((s1 / CAST(n AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1)
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))))
                 * sqrt((CAST(nm AS DOUBLE) * m2s - m1 * m1)
                        / (CAST(nm AS DOUBLE) * (CAST(nm AS DOUBLE) - 1)))
               END AS m2_daily
        FROM segm CROSS JOIN mm
        ORDER BY segment
    """,
)
def fin_m2_modigliani(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modigliani-Modigliani risk-adjusted performance per segment
    (rf = 0, documented): M2 = Sharpe_segment * sd_market — what the
    segment would have returned if levered to the market's volatility,
    directly comparable across segments in return units (Modigliani &
    Modigliani 1997). Same integer power-sum machinery as
    fin_information_ratio (q9 returns, decimal sums, single VARCHAR
    crossings); sharpe and m2 are each ONE guarded expression whose
    sub-terms repeat VERBATIM on both engines so the float paths are
    identical. Zero segment variance NULLs both outputs identically."""
    daily = seg_daily(spark, sf_dir)
    rs = seg_returns(daily)
    rm = mkt_returns(seg_daily(spark, sf_dir))
    segm = rs.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum(F.col("r").cast("decimal(19,0)"))).alias("s1"),
        as_d(F.sum(F.col("r").cast("decimal(19,0)") * F.col("r"))).alias("s2"),
    )
    mm = rm.agg(
        F.count(F.lit(1)).cast("bigint").alias("nm"),
        as_d(F.sum(F.col("m").cast("decimal(19,0)"))).alias("m1"),
        as_d(F.sum(F.col("m").cast("decimal(19,0)") * F.col("m"))).alias("m2s"),
    )
    n_d = F.col("n").cast("double")
    nm_d = F.col("nm").cast("double")
    var_num = n_d * F.col("s2") - F.col("s1") * F.col("s1")
    sharpe = (F.col("s1") / n_d) / F.sqrt(var_num / (n_d * (n_d - 1)))
    sd_mkt = F.sqrt(
        (nm_d * F.col("m2s") - F.col("m1") * F.col("m1"))
        / (nm_d * (nm_d - 1))
    )
    return (
        segm.crossJoin(F.broadcast(mm))
        .select(
            "segment",
            F.col("n").alias("n_days"),
            F.when((F.col("n") > 1) & (var_num > 0), sharpe).alias(
                "sharpe_daily"
            ),
            F.when(
                (F.col("n") > 1) & (F.col("nm") > 1) & (var_num > 0),
                sharpe * sd_mkt,
            ).alias("m2_daily"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# fin_portfolio_turnover — year-over-year mix churn


@register(
    "fin_portfolio_turnover",
    tags=("finance", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        ys AS (
            SELECT EXTRACT(year FROM d) AS y, segment,
                   CAST(SUM(x) AS DECIMAL(18,2)) AS xs
            FROM daily GROUP BY 1, 2
        ),
        yrs AS (SELECT DISTINCT y FROM ys),
        sgs AS (SELECT DISTINCT segment FROM ys),
        grid AS (
            SELECT yrs.y, sgs.segment,
                   COALESCE(ys.xs, CAST(0 AS DECIMAL(18,2))) AS xs
            FROM yrs CROSS JOIN sgs
            LEFT JOIN ys ON ys.y = yrs.y AND ys.segment = sgs.segment
        ),
        yt AS (
            SELECT y, CAST(SUM(xs) AS DECIMAL(18,2)) AS xy
            FROM grid GROUP BY y
        ),
        terms AS (
            SELECT g.y, yt.xy, ytp.xy AS xyp,
                   ABS(CAST(g.xs AS DECIMAL(19,2))
                         * CAST(ytp.xy AS DECIMAL(19,2))
                       - CAST(gp.xs AS DECIMAL(19,2))
                         * CAST(yt.xy AS DECIMAL(19,2))) AS num,
                   CASE WHEN g.xs > 0 THEN 1 ELSE 0 END AS present
            FROM grid g
            JOIN grid gp ON gp.y = g.y - 1 AND gp.segment = g.segment
            JOIN yt ON yt.y = g.y
            JOIN yt ytp ON ytp.y = g.y - 1
            WHERE yt.xy > 0 AND ytp.xy > 0
        )
        SELECT CAST(y AS BIGINT) AS year,
               CAST(SUM(present) AS BIGINT) AS n_segments,
               CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE)
                 / (CAST(2 AS DOUBLE)
                    * CAST(CAST(xy AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(xyp AS VARCHAR) AS DOUBLE)) AS turnover
        FROM terms GROUP BY y, xy, xyp ORDER BY year
    """,
)
def fin_portfolio_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year portfolio turnover of the segment revenue mix:
    T_y = 1/2 * sum_s |w_{y,s} - w_{y-1,s}| — the one-period churn
    sibling of fin_active_share (same common-exact-denominator
    algebra: |x_ys * X_{y-1} - x_{y-1,s} * X_y| summed as exact
    DECIMAL(38,4), ONE double division by 2*X_y*X_{y-1} at the edge),
    over the FULL segment grid so a segment entering or leaving the
    book contributes its whole weight. n_segments counts segments with
    revenue in year y. Years with a zero-revenue side are excluded by
    an exact decimal guard (cannot occur at shipped SFs; documented).
    Corpus work is the shared daily agg; the grid/lag joins ride the
    |years| x |segments| relation."""
    daily = seg_daily(spark, sf_dir)
    ys = daily.groupBy(F.year("d").alias("y"), "segment").agg(
        F.sum("x").cast("decimal(18,2)").alias("xs")
    )
    yrs = ys.select("y").distinct()
    sgs = ys.select("segment").distinct()
    grid = (
        yrs.crossJoin(F.broadcast(sgs))
        .join(F.broadcast(ys), ["y", "segment"], "left")
        .select(
            "y",
            "segment",
            F.coalesce(F.col("xs"), F.lit(0).cast("decimal(18,2)")).alias("xs"),
        )
    )
    yt = grid.groupBy("y").agg(F.sum("xs").cast("decimal(18,2)").alias("xy"))
    gp = grid.select(
        (F.col("y") + 1).alias("y"),
        "segment",
        F.col("xs").alias("xsp"),
    )
    ytp = yt.select((F.col("y") + 1).alias("y"), F.col("xy").alias("xyp"))
    terms = (
        grid.join(F.broadcast(gp), ["y", "segment"])
        .join(F.broadcast(yt), "y")
        .join(F.broadcast(ytp), "y")
        .filter((F.col("xy") > 0) & (F.col("xyp") > 0))
        .select(
            "y",
            "xy",
            "xyp",
            F.abs(
                F.col("xs").cast("decimal(19,2)")
                * F.col("xyp").cast("decimal(19,2)")
                - F.col("xsp").cast("decimal(19,2)")
                * F.col("xy").cast("decimal(19,2)")
            ).alias("num"),
            F.when(F.col("xs") > 0, 1).otherwise(0).alias("present"),
        )
    )
    return (
        terms.groupBy("y", "xy", "xyp")
        .agg(
            F.sum("present").cast("bigint").alias("n_segments"),
            (
                as_d(F.sum("num"))
                / (F.lit(2.0) * as_d(F.col("xy")) * as_d(F.col("xyp")))
            ).alias("turnover"),
        )
        .select(
            F.col("y").cast("bigint").alias("year"), "n_segments", "turnover"
        )
        .orderBy("year")
    )


# ---------------------------------------------------------------------------
# fin_brinson_attribution — allocation / selection / interaction


@register(
    "fin_brinson_attribution",
    tags=("finance", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        pdaily AS (
            SELECT c.c_mktsegment AS segment,
                   EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS y,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS xp
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
            GROUP BY 1, 2
        ),
        bys AS (
            SELECT EXTRACT(year FROM d) AS y, segment,
                   CAST(SUM(x) AS DECIMAL(18,2)) AS xb
            FROM daily GROUP BY 1, 2
        ),
        yrs AS (SELECT DISTINCT y FROM bys),
        sgs AS (SELECT DISTINCT segment FROM bys),
        grid AS (
            SELECT yrs.y, sgs.segment,
                   COALESCE(bys.xb, CAST(0 AS DECIMAL(18,2))) AS xb,
                   COALESCE(pdaily.xp, CAST(0 AS DECIMAL(18,2))) AS xp
            FROM yrs CROSS JOIN sgs
            LEFT JOIN bys ON bys.y = yrs.y AND bys.segment = sgs.segment
            LEFT JOIN pdaily ON pdaily.y = yrs.y
                            AND pdaily.segment = sgs.segment
        ),
        tots AS (
            SELECT y, CAST(SUM(xb) AS DECIMAL(18,2)) AS tb,
                   CAST(SUM(xp) AS DECIMAL(18,2)) AS tp
            FROM grid GROUP BY y
        ),
        j AS (
            SELECT g.y, g.segment,
                   CAST(CAST(g.xb AS VARCHAR) AS DOUBLE) AS xb,
                   CAST(CAST(g.xp AS VARCHAR) AS DOUBLE) AS xp,
                   CAST(CAST(gp.xb AS VARCHAR) AS DOUBLE) AS xbp,
                   CAST(CAST(gp.xp AS VARCHAR) AS DOUBLE) AS xpp,
                   CAST(CAST(t.tb AS VARCHAR) AS DOUBLE) AS tb,
                   CAST(CAST(tp2.tb AS VARCHAR) AS DOUBLE) AS tbp,
                   CAST(CAST(t.tp AS VARCHAR) AS DOUBLE) AS tpv,
                   CAST(CAST(tp2.tp AS VARCHAR) AS DOUBLE) AS tpp
            FROM grid g
            JOIN grid gp ON gp.y = g.y - 1 AND gp.segment = g.segment
            JOIN tots t ON t.y = g.y
            JOIN tots tp2 ON tp2.y = g.y - 1
        )
        SELECT CAST(y AS BIGINT) AS year, segment,
               CASE WHEN xbp > 0 AND xpp > 0 AND tbp > 0 AND tpp > 0 THEN
                 (xpp / tpp - xbp / tbp) * ((xb / xbp - 1) - (tb / tbp - 1))
               END AS allocation,
               CASE WHEN xbp > 0 AND xpp > 0 AND tbp > 0 AND tpp > 0 THEN
                 (xbp / tbp) * ((xp / xpp - 1) - (xb / xbp - 1))
               END AS selection,
               CASE WHEN xbp > 0 AND xpp > 0 AND tbp > 0 AND tpp > 0 THEN
                 (xpp / tpp - xbp / tbp) * ((xp / xpp - 1) - (xb / xbp - 1))
               END AS interaction
        FROM j ORDER BY year, segment
    """,
)
def fin_brinson_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brinson-Hood-Beebower performance attribution of the
    HIGH-PRIORITY order book (the 'portfolio': priorities 1-2) against
    the whole book (the 'benchmark'), categories = market segments,
    periods = years, weights = PRIOR-year value shares, returns =
    year-over-year revenue growth per category: allocation =
    (w_p - w_b)(r_b,s - r_b), selection = w_b (r_p,s - r_b,s),
    interaction = (w_p - w_b)(r_p,s - r_b,s) (Brinson, Hood & Beebower
    1986). Exactness: every input crosses decimal->double ONCE
    (VARCHAR route), each effect is ONE fixed-parenthesization
    expression with sub-terms repeated verbatim on both engines — no
    multi-term float sums. A zero prior-year value on any of the four
    sides NULLs all three effects identically (the r_b total-return
    term uses the same guard set; documented — at shipped SFs every
    year/segment has revenue on both sides). Corpus work: two
    broadcast-dim aggs; the attribution rides the year x segment
    grid."""
    daily = seg_daily(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pdaily = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").alias("xp"))
    )
    bys = daily.groupBy(F.year("d").alias("y"), "segment").agg(
        F.sum("x").cast("decimal(18,2)").alias("xb")
    )
    yrs = bys.select("y").distinct()
    sgs = bys.select("segment").distinct()
    zero = F.lit(0).cast("decimal(18,2)")
    grid = (
        yrs.crossJoin(F.broadcast(sgs))
        .join(F.broadcast(bys), ["y", "segment"], "left")
        .join(F.broadcast(pdaily), ["y", "segment"], "left")
        .select(
            "y",
            "segment",
            F.coalesce(F.col("xb"), zero).alias("xb"),
            F.coalesce(F.col("xp"), zero).alias("xp"),
        )
    )
    tots = grid.groupBy("y").agg(
        F.sum("xb").cast("decimal(18,2)").alias("tb"),
        F.sum("xp").cast("decimal(18,2)").alias("tp"),
    )
    gp = grid.select(
        (F.col("y") + 1).alias("y"),
        "segment",
        F.col("xb").alias("xbp_d"),
        F.col("xp").alias("xpp_d"),
    )
    totp = tots.select(
        (F.col("y") + 1).alias("y"),
        F.col("tb").alias("tbp_d"),
        F.col("tp").alias("tpp_d"),
    )
    j = (
        grid.join(F.broadcast(gp), ["y", "segment"])
        .join(F.broadcast(tots), "y")
        .join(F.broadcast(totp), "y")
        .select(
            "y",
            "segment",
            as_d(F.col("xb")).alias("xb"),
            as_d(F.col("xp")).alias("xp"),
            as_d(F.col("xbp_d")).alias("xbp"),
            as_d(F.col("xpp_d")).alias("xpp"),
            as_d(F.col("tb")).alias("tb"),
            as_d(F.col("tbp_d")).alias("tbp"),
            as_d(F.col("tp")).alias("tpv"),
            as_d(F.col("tpp_d")).alias("tpp"),
        )
    )
    ok = (
        (F.col("xbp") > 0)
        & (F.col("xpp") > 0)
        & (F.col("tbp") > 0)
        & (F.col("tpp") > 0)
    )
    wp = F.col("xpp") / F.col("tpp")
    wb = F.col("xbp") / F.col("tbp")
    rbs = F.col("xb") / F.col("xbp") - 1
    rps = F.col("xp") / F.col("xpp") - 1
    rb = F.col("tb") / F.col("tbp") - 1
    return j.select(
        F.col("y").cast("bigint").alias("year"),
        "segment",
        F.when(ok, (wp - wb) * (rbs - rb)).alias("allocation"),
        F.when(ok, wb * (rps - rbs)).alias("selection"),
        F.when(ok, (wp - wb) * (rps - rbs)).alias("interaction"),
    ).orderBy("year", "segment")


# ---------------------------------------------------------------------------
# fin_burke_ratio — drawdown-depth-penalized performance


@register(
    "fin_burke_ratio",
    tags=("finance", "window"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        pk AS (
            SELECT d, xm,
                   MAX(xm) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS peak
            FROM mkt
        ),
        flagged AS (
            SELECT d, xm, peak,
                   CASE WHEN xm < peak THEN 1 ELSE 0 END AS below,
                   ROW_NUMBER() OVER (ORDER BY d) AS rn
            FROM pk
        ),
        isl AS (
            SELECT *,
                   rn - ROW_NUMBER() OVER (PARTITION BY below ORDER BY d)
                       AS grp
            FROM flagged
        ),
        eps AS (
            SELECT grp,
                   CAST(FLOOR(MAX(
                       CAST(CAST(peak - xm AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(peak AS VARCHAR) AS DOUBLE))
                       * CAST(1e9 AS DOUBLE)) AS BIGINT) AS q
            FROM isl WHERE below = 1 GROUP BY grp
        ),
        dd AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_episodes,
                   CAST(CAST(SUM(CAST(q AS DECIMAL(19,0)) * q) AS VARCHAR)
                        AS DOUBLE) AS sq2
            FROM eps
        ),
        mu AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(19,0))) AS VARCHAR)
                        AS DOUBLE) AS s1
            FROM rm
        )
        SELECT mu.n_days, dd.n_episodes,
               dd.sq2 / CAST(1e18 AS DOUBLE) AS sum_dd2,
               CASE WHEN dd.sq2 > 0 AND mu.n_days > 0 THEN
                 ((mu.s1 / CAST(1e9 AS DOUBLE)) / CAST(mu.n_days AS DOUBLE))
                 / sqrt(dd.sq2 / CAST(1e18 AS DOUBLE))
               END AS burke_daily
        FROM mu CROSS JOIN dd
    """,
)
def fin_burke_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burke ratio of the whole-market daily revenue series: mean
    daily return divided by sqrt(sum of squared drawdown depths) over
    below-peak EPISODES (Burke 1994) — penalizes many deep drawdowns
    harder than max-drawdown-based Calmar (fin_calmar_ratio). The
    running peak is an exact decimal window max; each day's drawdown
    fraction is one VARCHAR-routed division; episodes come from the
    standard gaps-and-islands double row_number; each episode's MAX
    depth is a deterministic double max, q9-FLOOR-quantized to BIGINT
    so the across-episodes sum of squares is an exact DECIMAL — the
    only unbounded-count float sum is thereby integerized. Burke is
    ONE guarded expression. No drawdowns (sq2 = 0) NULLs identically.
    The running-peak window is calendar-bounded (O(days))."""
    daily = seg_daily(spark, sf_dir)
    mkt = daily.groupBy("d").agg(F.sum("x").cast("decimal(18,2)").alias("xm"))
    wd = Window.orderBy("d")  # calendar-bounded
    pk = mkt.select(
        "d",
        "xm",
        F.max("xm").over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("peak"),
    )
    flagged = pk.select(
        "d",
        "xm",
        "peak",
        F.when(F.col("xm") < F.col("peak"), 1).otherwise(0).alias("below"),
        F.row_number().over(wd).alias("rn"),
    )
    isl = flagged.withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(Window.partitionBy("below").orderBy("d")),
    )
    eps = (
        isl.filter(F.col("below") == 1)
        .groupBy("grp")
        .agg(
            F.floor(
                F.max(
                    as_d(F.col("peak") - F.col("xm")) / as_d(F.col("peak"))
                )
                * F.lit(1e9)
            ).cast("bigint").alias("q")
        )
    )
    dd = eps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
        as_d(F.sum(F.col("q").cast("decimal(19,0)") * F.col("q"))).alias(
            "sq2"
        ),
    )
    rm = mkt_returns(seg_daily(spark, sf_dir))
    mu = rm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        as_d(F.sum(F.col("m").cast("decimal(19,0)"))).alias("s1"),
    )
    sum_dd2 = F.col("sq2") / F.expr("CAST(1e18 AS DOUBLE)")
    return (
        mu.crossJoin(F.broadcast(dd))
        .select(
            "n_days",
            "n_episodes",
            sum_dd2.alias("sum_dd2"),
            F.when(
                (F.col("sq2") > 0) & (F.col("n_days") > 0),
                (
                    (F.col("s1") / F.expr("CAST(1e9 AS DOUBLE)"))
                    / F.col("n_days").cast("double")
                )
                / F.sqrt(sum_dd2),
            ).alias("burke_daily"),
        )
    )


# ---------------------------------------------------------------------------
# fin_cornish_fisher_var — higher-moment VaR correction


@register(
    "fin_cornish_fisher_var",
    tags=("finance", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        r6 AS (
            SELECT CAST(FLOOR(CAST(m AS DOUBLE) / CAST(1e3 AS DOUBLE))
                        AS BIGINT) AS v
            FROM rm
        ),
        split AS (
            SELECT v, v // 10000 AS a, v % 10000 AS b FROM r6
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
        ),
        zc AS (SELECT CAST('2.3263478740408408' AS DOUBLE) AS z)
        SELECT n,
               mu / CAST(1e6 AS DOUBLE) AS mean_r,
               CASE WHEN m2 > 0 THEN sqrt(m2) / CAST(1e6 AS DOUBLE) END
                   AS sd_r,
               CASE WHEN m2 > 0 THEN
                 m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) END AS skewness,
               CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurtosis,
               CASE WHEN m2 > 0 THEN
                 -((mu / CAST(1e6 AS DOUBLE))
                   + (sqrt(m2) / CAST(1e6 AS DOUBLE))
                     * (z
                        + (z * z - 1)
                          * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))) / 6
                        + (z * z * z - 3 * z)
                          * (m4 / (m2 * m2) - 3) / 24
                        - (2 * z * z * z - 5 * z)
                          * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                          * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))) / 36))
               END AS var_99_cf
        FROM m CROSS JOIN zc
    """,
)
def fin_cornish_fisher_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cornish-Fisher 99% VaR of the whole-market daily revenue
    return: the four-moment quantile correction z_cf = z + (z^2-1)S/6
    + (z^3-3z)(K-3)/24 - (2z^3-5z)S^2/36, VaR = -(mu + sigma*z_cf)
    (Cornish & Fisher 1938; the parametric-VaR upgrade every fat-tail
    desk runs next to fin_var_parametric's normal). Returns are
    re-quantized to q6 (micro-units) so the fourth power sum fits the
    jarque-bera five-binomial-sum machinery with SIGNED a/b (both
    engines' integer div/mod truncate toward zero identically, so
    v = 1e4*a + b holds exactly for negatives); the 99% normal
    quantile is a string-routed literal; every moment/statistic is ONE
    identically-parenthesized double expression with sqrt(m2)^3 (not
    libm pow). Zero variance NULLs all risk outputs identically. One
    scan, one 8-number agg."""
    rm = mkt_returns(seg_daily(spark, sf_dir))
    r6 = rm.select(
        F.floor(F.col("m").cast("double") / F.expr("CAST(1e3 AS DOUBLE)"))
        .cast("bigint")
        .alias("v")
    )
    base = r6.select(
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
    ).select(
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
    m3 = F.col("s3") / n_d - 3 * mu * (F.col("s2") / n_d) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n_d
        - 4 * mu * (F.col("s3") / n_d)
        + 6 * mu * mu * (F.col("s2") / n_d)
        - 3 * mu * mu * mu * mu
    )
    sk = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    ku = m4 / (m2 * m2)
    z = F.expr("CAST('2.3263478740408408' AS DOUBLE)")
    e6 = F.expr("CAST(1e6 AS DOUBLE)")
    zcf = (
        z
        + (z * z - 1) * sk / 6
        + (z * z * z - 3 * z) * (ku - 3) / 24
        - (2 * z * z * z - 5 * z) * sk * sk / 36
    )
    return s.select(
        "n",
        (mu / e6).alias("mean_r"),
        F.when(m2 > 0, F.sqrt(m2) / e6).alias("sd_r"),
        F.when(m2 > 0, sk).alias("skewness"),
        F.when(m2 > 0, ku).alias("kurtosis"),
        F.when(m2 > 0, -((mu / e6) + (F.sqrt(m2) / e6) * zcf)).alias(
            "var_99_cf"
        ),
    )


# ---------------------------------------------------------------------------
# fin_sterling_ratio — mean return over AVERAGE drawdown depth


@register(
    "fin_sterling_ratio",
    tags=("finance", "window"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        pk AS (
            SELECT d, xm,
                   MAX(xm) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS peak
            FROM mkt
        ),
        flagged AS (
            SELECT d, xm, peak,
                   CASE WHEN xm < peak THEN 1 ELSE 0 END AS below,
                   ROW_NUMBER() OVER (ORDER BY d) AS rn
            FROM pk
        ),
        isl AS (
            SELECT *,
                   rn - ROW_NUMBER() OVER (PARTITION BY below ORDER BY d)
                       AS grp
            FROM flagged
        ),
        eps AS (
            SELECT grp,
                   CAST(FLOOR(MAX(
                       CAST(CAST(peak - xm AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(peak AS VARCHAR) AS DOUBLE))
                       * CAST(1e9 AS DOUBLE)) AS BIGINT) AS q
            FROM isl WHERE below = 1 GROUP BY grp
        ),
        dd AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_episodes,
                   CAST(SUM(q) AS BIGINT) AS sq
            FROM eps
        ),
        mu AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(19,0))) AS VARCHAR)
                        AS DOUBLE) AS s1
            FROM rm
        )
        SELECT mu.n_days, dd.n_episodes,
               CASE WHEN dd.n_episodes > 0 THEN
                 CAST(dd.sq AS DOUBLE)
                   / (CAST(dd.n_episodes AS DOUBLE) * CAST(1e9 AS DOUBLE))
               END AS avg_drawdown,
               CASE WHEN dd.sq > 0 AND mu.n_days > 0 THEN
                 ((mu.s1 / CAST(1e9 AS DOUBLE)) / CAST(mu.n_days AS DOUBLE))
                 / (CAST(dd.sq AS DOUBLE)
                    / (CAST(dd.n_episodes AS DOUBLE) * CAST(1e9 AS DOUBLE)))
               END AS sterling_daily
        FROM mu CROSS JOIN dd
    """,
)
def fin_sterling_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sterling ratio (average-drawdown flavor, convention pinned: no
    10% haircut, all episodes weighted equally): mean daily return
    divided by the AVERAGE below-peak episode depth — the linear-
    penalty sibling of fin_burke_ratio's quadratic penalty, same
    gaps-and-islands episode machinery, q9-integerized episode depths
    so the across-episodes average is a ratio of exact integers. Zero
    drawdown NULLs identically. Running-peak window is O(days)."""
    daily = seg_daily(spark, sf_dir)
    mkt = daily.groupBy("d").agg(F.sum("x").cast("decimal(18,2)").alias("xm"))
    wd = Window.orderBy("d")  # calendar-bounded
    pk = mkt.select(
        "d",
        "xm",
        F.max("xm").over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("peak"),
    )
    flagged = pk.select(
        "d",
        "xm",
        "peak",
        F.when(F.col("xm") < F.col("peak"), 1).otherwise(0).alias("below"),
        F.row_number().over(wd).alias("rn"),
    )
    isl = flagged.withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(Window.partitionBy("below").orderBy("d")),
    )
    eps = (
        isl.filter(F.col("below") == 1)
        .groupBy("grp")
        .agg(
            F.floor(
                F.max(
                    as_d(F.col("peak") - F.col("xm")) / as_d(F.col("peak"))
                )
                * F.lit(1e9)
            ).cast("bigint").alias("q")
        )
    )
    dd = eps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
        F.sum("q").cast("bigint").alias("sq"),
    )
    rm = mkt_returns(seg_daily(spark, sf_dir))
    mu = rm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        as_d(F.sum(F.col("m").cast("decimal(19,0)"))).alias("s1"),
    )
    e9 = F.expr("CAST(1e9 AS DOUBLE)")
    avg_dd = F.col("sq").cast("double") / (
        F.col("n_episodes").cast("double") * e9
    )
    return (
        mu.crossJoin(F.broadcast(dd))
        .select(
            "n_days",
            "n_episodes",
            F.when(F.col("n_episodes") > 0, avg_dd).alias("avg_drawdown"),
            F.when(
                (F.col("sq") > 0) & (F.col("n_days") > 0),
                ((F.col("s1") / e9) / F.col("n_days").cast("double"))
                / avg_dd,
            ).alias("sterling_daily"),
        )
    )


# ---------------------------------------------------------------------------
# fin_upside_potential_ratio — partial-moment performance


@register(
    "fin_upside_potential_ratio",
    tags=("finance", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        {SEG_RET_SQL},
        s AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN r > 0 THEN r ELSE 0 END) AS BIGINT)
                       AS up1,
                   CAST(CAST(SUM(CASE WHEN r < 0
                                 THEN CAST(r AS DECIMAL(19,0)) * r
                                 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS dn2
            FROM rs GROUP BY segment
        )
        SELECT segment, n AS n_days,
               CAST(up1 AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(1e9 AS DOUBLE))
                   AS upside_potential,
               CASE WHEN dn2 > 0 THEN
                 sqrt(dn2 / CAST(n AS DOUBLE)) / CAST(1e9 AS DOUBLE)
               END AS downside_deviation,
               CASE WHEN dn2 > 0 THEN
                 (CAST(up1 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(1e9 AS DOUBLE)))
                 / (sqrt(dn2 / CAST(n AS DOUBLE)) / CAST(1e9 AS DOUBLE))
               END AS upr
        FROM s ORDER BY segment
    """,
)
def fin_upside_potential_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upside potential ratio per segment at threshold 0 (Sortino &
    van der Meer 1991): E[max(r,0)] / sqrt(E[min(r,0)^2]) — rewards
    upside while penalizing only downside dispersion, the partial-
    moment refinement of fin_sharpe_sortino (which shares the
    denominator but uses MEAN excess in the numerator). The upside sum
    is a conditional BIGINT sum of q9 returns; the downside second
    partial moment is a conditional DECIMAL sum crossing to double
    once; both population moments (/n, convention pinned) and the
    ratio are fixed single expressions. No negative days -> NULL
    identically. One scan on the shared return relation."""
    daily = seg_daily(spark, sf_dir)
    rs = seg_returns(daily)
    s = rs.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("up1"),
        as_d(
            F.sum(
                F.when(
                    F.col("r") < 0,
                    F.col("r").cast("decimal(19,0)") * F.col("r"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
        ).alias("dn2"),
    )
    n_d = F.col("n").cast("double")
    e9 = F.expr("CAST(1e9 AS DOUBLE)")
    upp = F.col("up1").cast("double") / (n_d * e9)
    ddev = F.sqrt(F.col("dn2") / n_d) / e9
    return s.select(
        "segment",
        F.col("n").alias("n_days"),
        upp.alias("upside_potential"),
        F.when(F.col("dn2") > 0, ddev).alias("downside_deviation"),
        F.when(F.col("dn2") > 0, upp / ddev).alias("upr"),
    ).orderBy("segment")


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
