"""Cross-engine recipes: every Spark half in functions/money.py and
plans/recipes.py must give the same canonical rows as its DuckDB SQL
twin on the same sf0.001 input, and no other module may restate a
recipe, a long SQL fragment or a constant, or import another plans
module's private name. Queries live by domain: no plans module is
named after the round that added it, and no module binds a name twice."""

import ast
import math
import os
import pathlib
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from finance_etl_spark.functions import money
from finance_etl_spark.functions.money import (
    as_d,
    cents,
    davg,
    dsum,
    fsum,
    lsum,
    o_davg,
    o_dsum,
    o_fsum,
    o_lsum,
    o_ordered_fold_sum,
    o_qsum,
    ordered_fold_sum,
    qsum,
)
from finance_etl_spark.io.readers import TABLES, load_table
from finance_etl_spark.plans import recipes as R
from finance_etl_spark.session import PERF_CONFS, RUNTIME_CONFS, configure

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from check import canon  # noqa: E402
from conftest import SF_DIR  # noqa: E402

PKG = REPO / "finance_etl_spark"
RECIPE_HOMES = {PKG / "functions" / "money.py", PKG / "plans" / "recipes.py"}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    yield c
    c.close()


def _rows(cols, rows):
    return sorted(tuple(canon(r[i]) for i in range(len(cols))) for r in rows)


def _spark(df):
    return _rows(df.columns, [tuple(r) for r in df.collect()])


def _duck(con, sql):
    tbl = con.execute(sql).fetch_arrow_table()
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return _rows(tbl.column_names, list(zip(*cols)) if tbl.num_rows else [])


def _li(s, d):
    return load_table(s, d, "lineitem")


def _ev(s, d):
    return load_table(s, d, "events")


# a spread of z-scores in [-3, 3], identical arithmetic on both engines
_Z = "(CAST(o_orderkey % 61 AS DOUBLE) - CAST(30 AS DOUBLE)) / CAST(10 AS DOUBLE)"

# (id, Spark builder (spark, sf_dir) -> DataFrame, DuckDB SQL). Column
# order must match between the two halves.
COLUMN_CASES = [
    (
        "dsum",
        lambda s, d: _li(s, d).groupBy("l_returnflag").agg(dsum("l_extendedprice")),
        f"SELECT l_returnflag, {o_dsum('l_extendedprice')} FROM lineitem GROUP BY 1",
    ),
    (
        "davg",
        lambda s, d: _li(s, d).groupBy("l_returnflag").agg(davg("l_discount")),
        f"SELECT l_returnflag, {o_davg('l_discount')} FROM lineitem GROUP BY 1",
    ),
    (
        "fsum",
        lambda s, d: _ev(s, d)
        .groupBy("event_type")
        .agg(fsum(F.col("value") * F.col("value"), 9)),
        f"SELECT event_type, {o_fsum('value * value', 9)} FROM events GROUP BY 1",
    ),
    (
        "qsum",
        lambda s, d: _ev(s, d).groupBy("event_type").agg(qsum(F.col("value"))),
        f"SELECT event_type, {o_qsum('value')} FROM events GROUP BY 1",
    ),
    (
        "lsum",
        lambda s, d: _ev(s, d).groupBy("event_type").agg(lsum(F.col("value"), 3)),
        f"SELECT event_type, {o_lsum('value', 3)} FROM events GROUP BY 1",
    ),
    (
        "as_d",
        lambda s, d: _li(s, d)
        .groupBy("l_linestatus")
        .agg(as_d(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")))),
        "SELECT l_linestatus, CAST(CAST(SUM(CAST(l_extendedprice AS"
        " DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) FROM lineitem GROUP BY 1",
    ),
    (
        "ordered_fold_sum",
        lambda s, d: _ev(s, d)
        .groupBy("event_type")
        .agg(ordered_fold_sum(F.col("event_id"), F.col("value") / F.lit(3.0))),
        "SELECT event_type, "
        + o_ordered_fold_sum("event_id", "value / CAST(3 AS DOUBLE)")
        + " FROM events GROUP BY 1",
    ),
    (
        "ret_q9",
        lambda s, d: R.seg_daily(s, d)
        .withColumn("xp", F.lag("x").over(Window.partitionBy("segment").orderBy("d")))
        .select("segment", "d", R.ret_q9(F.col("x"), F.col("xp"))),
        f"""WITH daily AS ({R.SEG_DAILY_SQL})
        SELECT segment, d, {R.o_ret_q9('x', 'xp')} FROM (
            SELECT segment, d, x,
                   LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
            FROM daily)""",
    ),
    (
        "dd_q6",
        lambda s, d: R.seg_daily(s, d).select(
            "segment",
            "d",
            R.dd_q6(
                F.max("x").over(Window.partitionBy("segment").orderBy("d")),
                F.col("x"),
            ),
        ),
        f"""WITH daily AS ({R.SEG_DAILY_SQL})
        SELECT segment, d, {R.o_dd_q6('mx', 'x')} FROM (
            SELECT segment, d, x,
                   MAX(x) OVER (PARTITION BY segment ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS mx
            FROM daily)""",
    ),
    (
        "phi2_cell",
        lambda s, d: (
            load_table(s, d, "orders")
            .groupBy(
                F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
            )
            .agg(F.count(F.lit(1)).alias("o"))
            .select(
                "r",
                "c",
                "o",
                F.sum("o").over(Window.partitionBy("r")).alias("nr"),
                F.sum("o").over(Window.partitionBy("c")).alias("nc"),
                F.sum("o").over(Window.partitionBy()).alias("n"),
            )
            .select("r", "c", R.phi2_cell())
        ),
        f"""WITH cells AS (
            SELECT o_orderpriority AS r, o_orderstatus AS c, COUNT(*) AS o
            FROM orders GROUP BY 1, 2),
        m AS (
            SELECT r, c, o, SUM(o) OVER (PARTITION BY r) AS nr,
                   SUM(o) OVER (PARTITION BY c) AS nc, SUM(o) OVER () AS n
            FROM cells)
        SELECT r, c, {R.PHI2_CELL_SQL} FROM m""",
    ),
    (
        "pois_case",
        lambda s, d: load_table(s, d, "orders").select(
            "o_orderkey", R.pois_case(F.col("o_orderkey") * 7919 % 65536)
        ),
        f"SELECT o_orderkey, {R.pois_case_sql('o_orderkey * 7919 % 65536')}"
        " FROM orders",
    ),
    (
        "ncdf_sql",
        lambda s, d: load_table(s, d, "orders").select(
            "o_orderkey",
            F.expr(R.ncdf_sql(_Z)),
        ),
        "SELECT o_orderkey, "
        + R.ncdf_sql(_Z)
        + " FROM orders",
    ),
]

TABLE_CASES = [
    ("seg_daily", lambda s, d: R.seg_daily(s, d), R.SEG_DAILY_SQL),
    (
        "seg_returns",
        lambda s, d: R.seg_returns(R.seg_daily(s, d)),
        f"WITH daily AS ({R.SEG_DAILY_SQL}), {R.SEG_RET_SQL} SELECT * FROM rs",
    ),
    (
        "mkt_returns",
        lambda s, d: R.mkt_returns(R.seg_daily(s, d)),
        f"WITH daily AS ({R.SEG_DAILY_SQL}), {R.MKT_RET_SQL} SELECT * FROM rm",
    ),
    (
        "market_model_sums",
        lambda s, d: R.market_model_sums(R.seg_daily(s, d)),
        f"WITH {R.MARKET_MODEL_SQL} SELECT * FROM s",
    ),
    ("seg_pnl_daily", lambda s, d: R.seg_pnl_daily(s, d), R.SEG_PNL_DAILY_SQL),
    ("event_daily", lambda s, d: R.event_daily(s, d), R.EVENT_DAILY_SQL),
    ("event_daily_rn", lambda s, d: R.event_daily_rn(s, d), R.EVENT_DAILY_RN_SQL),
    ("event_daily_xq", lambda s, d: R.event_daily_xq(s, d), R.EVENT_DAILY_XQ_SQL),
    ("daily_scaled", lambda s, d: R.daily_scaled(s, d), R.DAILY_SCALED_SQL),
    ("daily_q6", lambda s, d: R.daily_q6(s, d), R.DAILY_Q6_SQL),
    (
        "cusum_changepoint",
        lambda s, d: R.cusum_changepoint(R.event_daily_xq(s, d)),
        R.CUSUM_CHANGEPOINT_SQL,
    ),
    (
        "tokens",
        lambda s, d: R.tokens(load_table(s, d, "documents")),
        # DuckDB's subscripts are 1-based, posexplode's 0-based
        f"SELECT doc_id, pos - 1, tok FROM ({R.TOKENS_SQL})",
    ),
    (
        "trade_pairs",
        lambda s, d: R.trade_pairs(s, d),
        f"WITH {R.STRONG_TRADE_CTE} SELECT * FROM u",
    ),
    (
        "trade_edges_undirected",
        lambda s, d: R.trade_edges_undirected(s, d),
        f"WITH {R.GRAPH_EDGE_CTE} SELECT * FROM ku",
    ),
    (
        "midranks2",
        lambda s, d: R.midranks2(load_table(s, d, "orders"), "o_custkey", 50),
        """WITH c AS (SELECT o_custkey AS v, COUNT(*) AS t FROM orders GROUP BY 1)
        SELECT v, CAST(2 * (SUM(t) OVER (ORDER BY v) - t) + t + 1 AS BIGINT) FROM c""",
    ),
]


@pytest.mark.parametrize(
    "build,sql",
    [c[1:] for c in COLUMN_CASES + TABLE_CASES],
    ids=[c[0] for c in COLUMN_CASES + TABLE_CASES],
)
def test_spark_half_matches_duckdb_twin(spark, sf_dir, con, build, sql):
    got = _spark(build(spark, sf_dir))
    assert got, "empty result cannot tell the twins apart"
    assert got == _duck(con, sql)


def test_ncdf_sql_matches_erf(spark):
    zs = [-4.0, -1.96, -0.5, 0.0, 0.3, 1.0, 2.5]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = [r[0] for r in df.select(F.expr(R.ncdf_sql("z"))).collect()]
    for z, p in zip(zs, got):
        assert abs(p - 0.5 * (1 + math.erf(z / math.sqrt(2)))) < 7.5e-8


def test_cents_half_up_both_signs(spark):
    """cents() must equal Decimal HALF_UP for negative inputs too: a
    ≤2-dp amount sits within ~1e-9 of an integer number of cents, so
    after the +0.5 shift it lands next to a .5 boundary, which a bare
    truncating long cast crosses toward zero for every negative x."""
    vals = [
        "-2.55", "-2.50", "-0.05", "-0.01", "-0.5", "-1.15", "-123.45",
        "-1e6", "0", "0.01", "0.05", "0.5", "1.15", "2.55", "123.45",
    ]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = [r[0] for r in df.select(cents("x")).collect()]
    want = [
        int((Decimal(v) * 100).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for v in vals
    ]
    assert got == want


@pytest.mark.parametrize("sf", ("sf0.001", "sf0.01", "sf0.1"))
def test_q1_cents_exact_per_row(spark, sf):
    """q1_pricing_summary sums money as cents-scaled longs
    (money.dsum_cents). That equals dsum only if, on every row, the
    decimal(30,10) cast of each double expression is the exact rational
    its cents integer stands for. The raw columns hold by theorem; the
    disc_price and charge products are checked here, row by row."""
    li = load_table(spark, os.path.join(os.path.dirname(SF_DIR), sf), "lineitem")
    qc, pc, dc, tc = (
        cents(c) for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    disc_i = pc * (100 - dc)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pairs = {
        "qty": (F.col("l_quantity"), qc, 100),
        "price": (F.col("l_extendedprice"), pc, 100),
        "discount": (F.col("l_discount"), dc, 100),
        "disc_price": (disc, disc_i, 10_000),
        "charge": (disc * (1 + F.col("l_tax")), disc_i * (100 + tc), 1_000_000),
    }

    def exact(c, k):  # the rational c / k at dsum's decimal(30,10)
        return (c.cast("decimal(30,0)") / F.lit(k).cast("decimal(9,0)")).cast(
            "decimal(30,10)"
        )

    row = li.select(
        *[
            F.sum((dbl.cast("decimal(30,10)") != exact(c, k)).cast("long")).alias(name)
            for name, (dbl, c, k) in pairs.items()
        ],
        F.count(F.lit(1)).alias("n_rows"),
    ).first()
    assert row["n_rows"] > 0
    assert {name: row[name] for name in pairs} == dict.fromkeys(pairs, 0)


class _FakeConf:
    def __init__(self, refuse):
        self.refuse, self.applied = refuse, {}

    def set(self, key, value):
        if key == self.refuse:
            raise RuntimeError(f"{key} is read-only here")
        self.applied[key] = value


class _FakeSession:
    def __init__(self, refuse):
        self.conf = _FakeConf(refuse)


@pytest.mark.parametrize(
    "key", ["spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"]
)
def test_configure_raises_when_semantic_conf_refused(key):
    with pytest.raises(RuntimeError, match=key):
        configure(_FakeSession(key))


@pytest.mark.parametrize("key", sorted(PERF_CONFS))
def test_configure_tolerates_refused_perf_conf(key):
    s = _FakeSession(key)
    configure(s)
    assert s.conf.applied == {k: v for k, v in RUNTIME_CONFS.items() if k != key}


def test_get_spark_session_carries_runtime_confs(spark):
    for k, v in RUNTIME_CONFS.items():
        assert spark.conf.get(k) == v


def _plans_modules():
    return sorted((PKG / "plans").glob("*.py"))


def test_no_private_imports_across_plans_modules():
    bad = []
    for p in _plans_modules():
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "finance_etl_spark.plans"
            ):
                bad += [
                    f"{p.name}: {a.name}" for a in node.names if a.name.startswith("_")
                ]
    assert not bad


def test_column_recipes_defined_only_in_recipe_homes():
    names = {"_as_d", "_fsum", "_ordered_fold_sum", "as_d", "fsum", "ordered_fold_sum"}
    bad = []
    for p in sorted(PKG.rglob("*.py")):
        if p in RECIPE_HOMES:
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.FunctionDef) and node.name in names:
                bad.append(f"{p.name}:{node.lineno} def {node.name}")
            if isinstance(node, ast.Assign):
                bad += [
                    f"{p.name}:{node.lineno} {t.id} ="
                    for t in node.targets
                    if isinstance(t, ast.Name) and (t.id in names or t.id == "DEC")
                ]
    assert not bad
    assert money.DEC == "decimal(30,10)"


def test_loops_materialize_only_through_iterate():
    """Every iterative operator runs its rounds through
    operators/iterate.py, which checkpoints, tests convergence and
    releases superseded rounds; no other for/while body materializes."""
    calls = {"localCheckpoint", "persist", "cache"}
    bad = set()
    for p in sorted(PKG.rglob("*.py")):
        if p == PKG / "operators" / "iterate.py":
            continue
        for loop in ast.walk(ast.parse(p.read_text())):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            bad |= {
                f"{p.relative_to(PKG)}:{n.lineno} .{n.func.attr}("
                for stmt in loop.body + loop.orelse
                for n in ast.walk(stmt)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in calls
            }
    assert not bad, sorted(bad)


def _bindings(node):
    """Names a module-level statement binds."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return [(a.asname or a.name).split(".")[0] for a in node.names]
    targets = node.targets if isinstance(node, ast.Assign) else []
    if isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_module_names_bound_once():
    """A later binding silently replaces an earlier one (two queries'
    helpers concatenated into one module, a patched constant), so each
    module-level name in plans/ and tests/ is bound exactly once."""
    bad = []
    for p in _plans_modules() + sorted((REPO / "tests").glob("*.py")):
        seen = set()
        for node in ast.parse(p.read_text()).body:
            for name in _bindings(node):
                if name in seen:
                    bad.append(f"{p.relative_to(REPO)}:{node.lineno} {name}")
                seen.add(name)
    assert not bad, bad


def test_no_twin_fragments_across_plans_modules():
    """A SQL literal of 120+ characters (whitespace-normalised) or a
    module-level tuple/str constant lives in one plans module; a second
    module imports it from plans/recipes.py instead of restating it,
    whole or inside a longer literal."""
    literals, consts = {}, {}
    for p in _plans_modules():
        tree = ast.parse(p.read_text())
        literals[p.name] = [
            " ".join(node.value.split())
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
        ]
        for node in tree.body:
            if isinstance(node, ast.Assign):
                try:
                    value = ast.literal_eval(node.value)
                except ValueError:
                    continue
                if isinstance(value, (tuple, str)):
                    consts.setdefault(repr(value), set()).add(p.name)
    blobs = {name: "\0".join(texts) for name, texts in literals.items()}
    twins = sorted(
        (name, other, text[:80])
        for name, texts in literals.items()
        for text in {t for t in texts if len(t) >= 120}
        for other, blob in blobs.items()
        if other != name and text in blob
    )
    twins += sorted((v[:80], sorted(m)) for v, m in consts.items() if len(m) > 1)
    assert not twins, twins


def test_no_round_modules():
    """Queries live in their domain's plans module, not in a module
    named after the round that added them. Test modules keep their
    names: a test's id includes its module, so moving a test renames it."""
    found = [
        str(p.relative_to(REPO))
        for p in (PKG / "plans").glob("*.py")
        if re.search(r"round\d", p.stem)
    ]
    assert not found, found
