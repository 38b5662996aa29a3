"""Money-safe aggregation and the column-level cross-engine recipes.

The reference keeps monetary amounts as float64 in flight
(reference: utils/data_manager.py:75) and Numeric(10,2) at rest
(reference: db_init.py:39). This engine aggregates money in
DecimalType — exact, associative, therefore order- and
partition-independent, which is what makes results reproducible on a
1000-executor cluster where partial-aggregation order is arbitrary.

Every recipe whose result must be bit-identical between Spark and the
DuckDB oracle lives here as a pair: the Spark Column builder and, next
to it, its ``o_``-prefixed DuckDB SQL twin. Query modules call these;
they never restate either half inline. Table-level fragments (daily
series, return series, shared CTEs) live in plans/recipes.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,10)"
D38 = "decimal(38,0)"


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, dec: str = DEC) -> Column:
    """Exact (decimal) sum presented as double.

    Order-independent: every input is rounded once to 10 decimal places,
    then summed exactly; the final decimal→double cast is correctly
    rounded. Identical bits regardless of partitioning.
    """
    return F.sum(_col(col).cast(dec)).cast("double")


def o_dsum(expr: str) -> str:
    """DuckDB twin of dsum. The final cast routes through VARCHAR
    because DuckDB's int128→double conversion differs from a
    correctly-rounded decimal→double by 1 ulp."""
    return f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(30,10))) AS STRING) AS DOUBLE)"


def davg(col: Column | str, dec: str = DEC) -> Column:
    """Exact-sum average: (decimal sum → double) / count(col)."""
    c = _col(col)
    return F.sum(c.cast(dec)).cast("double") / F.count(c)


def o_davg(expr: str) -> str:
    """DuckDB twin of davg."""
    return f"({o_dsum(expr)} / COUNT({expr}))"


def fsum(col: Column, scale: int = 6) -> Column:
    """ENGINE-AGNOSTIC double sum: floor(x·10^s) summed as
    DECIMAL(38,0), divided back at the edge. Unlike dsum's
    double→DECIMAL cast — whose rounding path measurably differs three
    ways between Spark (shortest-repr HALF_UP), DuckDB's direct cast
    (exact binary expansion), and DuckDB's VARCHAR route (17-digit
    formatting; see operators/pagerank.py) — floor, exact integer
    summation, and the VARCHAR-routed decimal→double presentation are
    identical everywhere. Quantization error is ≤ rows·10^-s, so pick
    s against the magnitude you present."""
    return (
        F.sum(F.floor(col * F.lit(10.0**scale)).cast(D38)).cast("double")
        / F.lit(10.0**scale)
    )


def o_fsum(expr: str, scale: int = 6) -> str:
    """DuckDB twin of fsum."""
    return (
        f"CAST(CAST(SUM(CAST(FLOOR(({expr}) * 1e{scale})"
        f" AS DECIMAL(38,0))) AS STRING) AS DOUBLE) / 1e{scale}"
    )


def qsum(col: Column, scale: int = 6) -> Column:
    """fsum's integer form: SUM(floor(x·10^s)) in DECIMAL(38,0),
    presented as an exact BIGINT in 10^-s units."""
    return F.sum(F.floor(col * F.lit(10.0**scale)).cast(D38)).cast("bigint")


def o_qsum(expr: str, scale: int = 6) -> str:
    """DuckDB twin of qsum."""
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * 1e{scale}) AS DECIMAL(38,0)))"
        " AS BIGINT)"
    )


def lsum(col: Column, scale: int = 6) -> Column:
    """qsum with per-row BIGINT quantization and a BIGINT sum: cheaper,
    and exact while |Σ floor(x·10^s)| < 2^63 (bounded, daily-sized
    groups)."""
    return F.sum(F.floor(col * F.lit(10.0**scale)).cast("bigint")).cast("bigint")


def o_lsum(expr: str, scale: int = 6) -> str:
    """DuckDB twin of lsum."""
    return f"CAST(SUM(CAST(FLOOR(({expr}) * 1e{scale}) AS BIGINT)) AS BIGINT)"


def as_d(c: Column) -> Column:
    """Decimal → double via the VARCHAR route (cross-engine exact).
    DuckDB twin: CAST(CAST(x AS STRING) AS DOUBLE)."""
    return c.cast("string").cast("double")


def ordered_fold_sum(order_col: Column, term_col: Column) -> Column:
    """Pinned-order double sum: collect (order, term) structs, sort by
    the order field, fold from 0.0 — byte-identical on both engines
    because the addition order is data-defined, not partition-defined."""
    return F.aggregate(
        F.array_sort(
            F.collect_list(F.struct(order_col.alias("o"), term_col.alias("t")))
        ),
        F.lit(0.0),
        lambda acc, s: acc + s["t"],
    )


def o_ordered_fold_sum(order_expr: str, term_expr: str) -> str:
    """DuckDB twin of ordered_fold_sum."""
    return f"list_reduce(list({term_expr} ORDER BY {order_expr}), (a, x) -> a + x)"


def cents(col: Column | str, unit: int = 100) -> Column:
    """Exact integer quantization of a ≤2-dp money double.

    k = floor(x·unit + 0.5) equals the HALF_UP decimal cast exactly
    when x is the nearest-double encoding of a ≤2-dp rational (x·unit
    lands within ~1e-9·|x| of the integer, far from the .5 boundary)
    and |x·unit| < 2^53. The floor makes this hold for both signs
    (a bare long cast truncates toward zero). Null-preserving.
    Prerequisite for the dsum_cents fast path below — only adopt per
    column with that proof (see ml_ols_normal_equations for the
    template).
    """
    return F.floor(_col(col) * unit + F.lit(0.5)).cast("long")


def dsum_cents(col: Column | str, k: int) -> Column:
    """dsum's bit-identical fast path over a cents-scaled long column.

    dsum(x) = CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE). When a
    long column c == round(x·k) exactly for every row (cents(), or an
    integer product of cents columns whose decimal(30,10) cast of the
    double twin equals the exact rational — verify per expression, see
    tests/test_recipes.py::test_q1_cents_exact_per_row), then SUM(c) / k
    is the same rational as the decimal sum, so the presented double is
    the same correctly rounded value. SUM accumulates in DECIMAL(38,0) —
    the compact-long fast path until a partial sum exceeds 2^63·1e-18,
    overflow-safe at any SF — and ONE exact decimal division per group
    restores the scale. decimal(30,0) / k plans with adjusted scale
    max(38 - 30, 6) ≥ 6 under allowPrecisionLoss, whatever decimal
    width the literal k folds to, so the quotient is exact for
    k ≤ 10^6 (its true scale is ≤ 6). No per-row BigDecimal work
    remains.
    """
    return (
        F.sum(_col(col).cast(D38)).cast("decimal(30,0)")
        / F.lit(k).cast("decimal(9,0)")
    ).cast("double")
