"""Invariant tests for the finance-domain batch (plans/finance.py).

These assert the *business* invariants the oracle hash can't express:
double-entry nets to exactly zero, FIFO conserves quantity, 1:1
reconciliation never double-matches, as-of rates are never from the
future.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from finance_etl_spark.plans import get


def _run(spark, sf_dir, name):
    return get(name).build(spark, sf_dir)


def test_trial_balance_double_entry_nets_to_zero(spark, sf_dir):
    rows = _run(spark, sf_dir, "fin_trial_balance").collect()
    total = [r for r in rows if r.yr == "ALL" and r.account == "ALL"]
    assert len(total) == 1
    # decimal ledger => the grand total is EXACTLY 0.0, not epsilon-close
    assert total[0].balance == 0.0
    # each column is independently decimal-exact, but their DOUBLE
    # presentations are rounded separately — so the cross-column check
    # is epsilon-bounded (1 ulp of the magnitudes involved)
    for r in rows:
        assert abs(r.debits - r.credits - r.balance) < 1e-6 * max(
            1.0, abs(r.debits)
        )


def test_fifo_allocation_conserves_sell_quantity(spark, sf_dir):
    """Each sell's allocations must sum to its full quantity whenever
    cumulative buys cover the sell's interval (lot conservation)."""
    from finance_etl_spark.io.readers import load_table

    alloc = (
        _run(spark, sf_dir, "fin_fifo_cost_basis")
        .groupBy("partkey", "sell_order", "sell_line")
        .agg(F.sum("alloc_qty").alias("allocated"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 25 == 0)
    buy_total = l.filter(F.col("l_returnflag") == "N").groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("buy_qty")
    )
    sells = (
        l.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_orderkey").alias("sell_order"),
            F.col("l_linenumber").alias("sell_line"),
            "l_quantity",
            F.sum("l_quantity")
            .over(
                Window.partitionBy("l_partkey").orderBy(
                    "l_shipdate", "l_orderkey", "l_linenumber"
                )
            )
            .alias("cum_sell"),
        )
        .join(buy_total.withColumnRenamed("l_partkey", "partkey"), "partkey")
    )
    covered = sells.filter(F.col("cum_sell") <= F.col("buy_qty"))
    bad = (
        covered.join(alloc, ["partkey", "sell_order", "sell_line"], "left")
        .filter(
            (F.col("allocated").isNull())
            | (F.abs(F.col("allocated") - F.col("l_quantity")) > 1e-9)
        )
        .count()
    )
    assert bad == 0


def test_fifo_allocations_positive_and_lot_bounded(spark, sf_dir):
    df = _run(spark, sf_dir, "fin_fifo_cost_basis")
    assert df.filter(F.col("alloc_qty") <= 0).count() == 0
    # no allocation can exceed either side's line quantity (<= 50 in TPC-H)
    assert df.filter(F.col("alloc_qty") > 50).count() == 0


def test_reconciliation_one_to_one_no_double_match(spark, sf_dir):
    """matched + missing_in_bank == |ledger| and matched +
    missing_in_ledger == |bank| — every row consumed exactly once."""
    from finance_etl_spark.io.readers import load_table

    rows = {r.status: r.n for r in _run(spark, sf_dir, "fin_reconciliation_match").collect()}
    orders = load_table(spark, sf_dir, "orders")
    n_bank = orders.filter(F.col("o_orderkey") % 13 != 0).count()
    n_ledger = orders.filter(F.col("o_orderkey") % 7 != 0).count()
    matched = rows.get("matched", 0)
    assert matched + rows.get("missing_in_ledger", 0) == n_bank
    assert matched + rows.get("missing_in_bank", 0) == n_ledger


def test_fx_asof_never_uses_future_rate(spark, sf_dir):
    """Rebuild the rated orders and assert rd <= order date for all."""
    from finance_etl_spark.io.readers import load_table
    from finance_etl_spark.operators.joins import asof_join
    from finance_etl_spark.plans.finance import _fx_rates

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    o = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("o_orderdate").cast("date").alias("od"), "c_nationkey"
    )
    rates = _fx_rates(spark, sf_dir).withColumnRenamed("n_nationkey", "c_nationkey")
    rated = asof_join(
        o, rates.select("c_nationkey", "rd", "rate_milli"),
        on="c_nationkey", left_ts="od", right_ts="rd",
        value_cols=["rate_milli"],
    )
    # every order is on/after the spine start, so a rate always exists
    assert rated.filter(F.col("rate_milli").isNull()).count() == 0
    # monotone rate schedule: milli-rate's quarter component never exceeds
    # what the order date allows — recompute the applied quarter and compare
    applied = rated.withColumn(
        "max_allowed",
        1000
        + F.col("c_nationkey") * 10
        + (F.year("od") - 1995) * 4
        + (F.quarter("od") - 1),
    )
    assert applied.filter(F.col("rate_milli") > F.col("max_allowed")).count() == 0


def test_settlement_never_on_weekend(spark, sf_dir):
    rows = _run(spark, sf_dir, "fin_settlement_t2").collect()
    dows = {r.settle_dow for r in rows}
    assert dows <= {1, 2, 3, 4, 5}  # ISO Mon..Fri only


def test_var_is_an_observed_day(spark, sf_dir):
    """VaR must equal an actual daily net (order statistic, not an
    interpolated value)."""
    from finance_etl_spark.io.readers import load_table

    var_rows = {r.segment: r.var_5pct for r in _run(spark, sf_dir, "fin_var_historical").collect()}
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    signed = F.col("o_totalprice").cast("decimal(30,10)") * F.when(
        F.col("o_orderstatus") == "F", 1
    ).otherwise(-1)
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"),
                 F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(signed).cast("double").alias("net"))
    )
    observed = {
        (r.segment, r.net) for r in daily.collect()
    }
    for seg, v in var_rows.items():
        assert (seg, v) in observed


def test_fee_tiering_marginal_formula_continuity(spark):
    """The bracket chain must equal the hand-computed marginal fee at
    boundary, interior, and top-tier volumes (continuity at tier
    edges is what distinguishes marginal from cliff pricing)."""
    from finance_etl_spark.plans.finance import _FEE_TIERS, _tier_fee_sql

    rows = spark.createDataFrame(
        [(0.0,), (49999.0,), (50000.0,), (50001.0,), (150000.0,), (200000.0,)],
        "v double",
    ).select(
        F.col("v"),
        (
            F.expr(_tier_fee_sql("CAST(v AS DECIMAL(30,10))")).cast("double") / 10000.0
        ).alias("fee"),
    )
    got = {r.v: r.fee for r in rows.collect()}

    def expected(v):
        fee = 0.0
        bounds = [t[0] for t in _FEE_TIERS] + [None]
        for (lo, bps), hi in zip(_FEE_TIERS, bounds[1:]):
            top = min(v, hi) if hi is not None else v
            fee += max(top - lo, 0.0) * bps / 10000.0
        return fee

    for v, fee in got.items():
        assert abs(fee - expected(v)) < 1e-9, (v, fee, expected(v))


def test_ar_aging_buckets_partition_open_orders(spark, sf_dir):
    """Bucket counts must sum to the number of open (non-F) orders
    before the reporting date, and no bucket may overlap another."""
    import datetime as dt

    from finance_etl_spark.io.readers import load_table

    rows = _run(spark, sf_dir, "fin_ar_aging").collect()
    total = sum(r.n_invoices for r in rows)
    o = load_table(spark, sf_dir, "orders")
    expected = o.filter(
        (F.col("o_orderstatus") != "F")
        & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 8, 1)))
    ).count()
    assert total == expected
    assert {r.bucket for r in rows} <= {"0-30", "31-60", "61-90", "90+"}
