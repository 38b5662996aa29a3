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
from finance_etl_spark.plans.registry import SQL_FUNCTIONS, register_functions
from finance_etl_spark.session import PERF_CONFS, RUNTIME_CONFS, configure

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from check import canon, rows_to_multiset  # noqa: E402
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


# (function, input columns, its calls, DuckDB rows, Spark rows): the
# calls run on both engines over one edge-case VALUES table, DuckDB's
# built-in against registry.SQL_FUNCTIONS. Only the literals are spelled
# per engine (list literals; a backslash inside a string).
FUNCTION_CASES = [
    (
        "list_sum",
        "a",
        "list_sum(a)",
        "([1.5, 2.25]::DOUBLE[]), ([-0.5]::DOUBLE[]), ([]::DOUBLE[]),"
        " (NULL::DOUBLE[]), ([NULL, 1.0]::DOUBLE[]), ([NULL]::DOUBLE[])",
        "(array(1.5D, 2.25D)), (array(-0.5D)), (CAST(array() AS ARRAY<DOUBLE>)),"
        " (CAST(NULL AS ARRAY<DOUBLE>)), (array(NULL, 1D)),"
        " (CAST(array(NULL) AS ARRAY<DOUBLE>))",
    ),
    (
        "array_length",
        "a",
        "array_length(a)",
        "(['a', 'b']), (['']), ([]::VARCHAR[]), (NULL::VARCHAR[]), ([NULL, 'x'])",
        "(array('a', 'b')), (array('')), (CAST(array() AS ARRAY<STRING>)),"
        " (CAST(NULL AS ARRAY<STRING>)), (array(NULL, 'x'))",
    ),
    (
        "isodow",
        "d",
        "isodow(d)",
        # a Sunday, a Monday, a Saturday
        *["(DATE '2024-03-03'), (DATE '2024-03-04'), (DATE '2024-03-09'), (NULL)"] * 2,
    ),
    (
        "sha256",
        "s",
        "sha256(s)",
        *["('abc'), (''), ('héllo'), (NULL)"] * 2,
    ),
    (
        "string_split",
        "s, sep",
        "string_split(s, sep), string_split(s, ' '), string_split(s, '.')",
        "('a b  c', ' '), ('a b ', ' '), ('', ' '), (NULL, ' '), ('a.b.c', '.'),"
        " ('a|b*c', '|'), ('a*b', '*'), ('a[b]c', ']'), ('abc', ''),"
        r" ('x\y\', '\')",
        "('a b  c', ' '), ('a b ', ' '), ('', ' '), (NULL, ' '), ('a.b.c', '.'),"
        " ('a|b*c', '|'), ('a*b', '*'), ('a[b]c', ']'), ('abc', ''),"
        r" ('x\\y\\', '\\')",
    ),
    (
        "regexp_split_to_array",
        "s",
        "regexp_split_to_array(s, '[0-9]+')",
        *["('a1b22c'), ('9x9'), ('abc'), (''), (NULL)"] * 2,
    ),
    (
        "array_to_string",
        "a",
        "array_to_string(a, ','), array_to_string(a, '')",
        "(['a', 'b']), (['a', NULL, 'b']), (['']), ([NULL]::VARCHAR[]),"
        " ([]::VARCHAR[]), (NULL::VARCHAR[])",
        "(array('a', 'b')), (array('a', NULL, 'b')), (array('')),"
        " (CAST(array(NULL) AS ARRAY<STRING>)), (CAST(array() AS ARRAY<STRING>)),"
        " (CAST(NULL AS ARRAY<STRING>))",
    ),
    (
        "list_sort",
        "a",
        "list_sort(a)",
        "([3.0, -1.5, NULL, 2.0]::DOUBLE[]), ([]::DOUBLE[]), (NULL::DOUBLE[])",
        "(array(3D, -1.5D, NULL, 2D)), (CAST(array() AS ARRAY<DOUBLE>)),"
        " (CAST(NULL AS ARRAY<DOUBLE>))",
    ),
    (
        "json_extract_string",
        "j",
        "json_extract_string(j, '$.k')",
        *[
            """('{"k": 3}'), ('{"k": "x y"}'), ('{"k": true}'), ('{"k": null}'),"""
            """ ('{"a": 1}'), ('{"k": {"b": [1, 2]}}'), ('{"k": ""}'), (NULL)"""
        ]
        * 2,
    ),
    (
        "strftime",
        "ts",
        # every pattern an oracle uses, on a timestamp and on a date
        "strftime(ts, '%Y-%m'), strftime(ts, '%Y-%m-%d'),"
        " strftime(ts, '%Y-%m-%d %H:%M:%S'), strftime(CAST(ts AS DATE), '%Y-%m-%d')",
        *[
            "(TIMESTAMP '2024-03-05 07:08:09'), (TIMESTAMP '1999-12-31 23:59:59.5'),"
            " (NULL)"
        ]
        * 2,
    ),
    (
        "to_minutes",
        "n",
        # Arrow renders the two engines' intervals differently; add it
        "TIMESTAMP '2024-01-01 00:00:00' + to_minutes(n)",
        *["(0), (90), (-5), (NULL)"] * 2,
    ),
    (
        "epoch_us",
        "ts",
        "epoch_us(ts)",
        *[
            "(TIMESTAMP '2024-01-01 00:00:01.5'), (TIMESTAMP '1969-12-31 23:59:59'),"
            " (NULL)"
        ]
        * 2,
    ),
]


@pytest.mark.parametrize(
    "cols,calls,duck_rows,spark_rows",
    [c[1:] for c in FUNCTION_CASES],
    ids=[c[0] for c in FUNCTION_CASES],
)
def test_sql_function_matches_duckdb_builtin(spark, con, cols, calls, duck_rows, spark_rows):
    def text(rows):
        return f"SELECT {cols}, {calls} FROM (VALUES {rows}) AS t({cols})"

    register_functions(spark, calls)
    got = _spark(spark.sql(text(spark_rows)))
    assert got == _duck(con, text(duck_rows))


def test_every_sql_function_has_a_twin_case():
    assert [c[0] for c in FUNCTION_CASES] == list(SQL_FUNCTIONS)


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


def _registered_builders():
    """(module path, query name, its register() call, the builder def)
    for every registered builder in plans/."""
    for p in _plans_modules():
        for node in ast.parse(p.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            for deco in node.decorator_list:
                if isinstance(deco, ast.Call) and getattr(deco.func, "id", "") == "register":
                    yield p, deco.args[0].value, deco, node


def _run_sql_queries():
    """Queries whose builder is their oracle text run by plans.registry.run_sql."""
    return sorted(
        name
        for _, name, _, fn in _registered_builders()
        if any(
            isinstance(x, ast.Call) and getattr(x.func, "id", "") == "run_sql"
            for x in ast.walk(fn)
        )
    )


def test_builders_run_their_oracle_text_only_through_run_sql():
    """A builder that hands its own oracle text to ``spark.sql`` restates
    run_sql (and registers its views by hand); it calls run_sql instead.
    A run_sql call names the query whose builder makes it."""
    bad = []
    for p, name, deco, fn in _registered_builders():
        oracle = next((k.value for k in deco.keywords if k.arg == "oracle"), None)
        for x in ast.walk(fn):
            if not isinstance(x, ast.Call):
                continue
            if (
                isinstance(x.func, ast.Attribute)
                and x.func.attr == "sql"
                and x.args
                and oracle is not None
                and ast.dump(x.args[0]) == ast.dump(oracle)
            ):
                bad.append(f"{p.name}::{fn.name} runs its oracle through .sql")
            if getattr(x.func, "id", "") == "run_sql" and x.args[2].value != name:
                bad.append(f"{p.name}::{fn.name} runs {x.args[2].value}'s text")
    assert not bad, bad


def _queries_named_in_tests():
    return {
        node.value
        for p in (REPO / "tests").glob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    }


@pytest.mark.parametrize(
    "name", sorted(set(_run_sql_queries()) - _queries_named_in_tests())
)
def test_sql_text_query_matches_duckdb(spark, sf_dir, con, name):
    """A query written once as SQL text that no other test names: Spark
    and DuckDB parse the same text and return the same rows."""
    from finance_etl_spark import plans

    spec = plans.get(name)
    df = spec.build(spark, sf_dir)
    got = rows_to_multiset([c.lower() for c in df.columns], [tuple(r) for r in df.collect()])
    tbl = con.execute(spec.oracle).fetch_arrow_table()
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    want = rows_to_multiset(
        [c.lower() for c in tbl.column_names], list(zip(*cols)) if tbl.num_rows else []
    )
    assert df.columns == tbl.column_names
    # q7's FRANCE/GERMANY pair has no trade in the sf0.001 fixture
    assert got or name == "q7_volume_shipping"
    assert got == want


# Builders whose oracle Spark parses (after run_sql's hint strip, with
# AS VARCHAR read as AS STRING) that stay DataFrame builders, each with
# why: the Spark-only path it exercises, the error its text meets on
# Spark, or the rule its text failed (CHANGES.md has the numbers).
BUILDER_KEEP = {
    # plans/curation.py
    "cur_curriculum_order": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "cur_decontaminate": "text fails on Spark: no function generate_subscripts",
    "cur_dedup_components": "Spark-only: calls operators/components",
    "cur_dedup_survivors": "Spark-only: calls operators/components",
    "cur_e2e_training_prep": "Spark-only: calls operators/ranks",
    "cur_entity_resolution": "Spark-only: calls operators/components",
    "cur_incremental_agg_merge": "Spark-only: cache on PERSIST_KEEP",
    "cur_incremental_join_view": "Spark-only: cache on PERSIST_KEEP",
    "cur_merge_upsert": "Spark-only: calls operators/merge",
    "cur_pii_redact": "text fails on Spark: CAST_INVALID_INPUT (DuckDB's regexp_replace 'g' option is Spark's position argument)",
    "cur_preference_pairs": "(a) column types int vs bigint (builder vs text)",
    "cur_rejection_sample_md5": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "cur_span_corruption_masks": "text fails on Spark: no function generate_subscripts",
    "cur_stratified_sample": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "cur_weighted_sample": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "cur_winsorize_outliers": "(c) x4 corpus: text 2.469 s vs builder 1.297 s",
    "dq_dp_noisy_counts": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "dq_profile_columns": "pin: test_plan_shapes.py::test_profile_columns_single_scan fails on the text",
    "dq_table_checksum": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "graph_avg_neighbor_degree": "Spark-only: persist on PERSIST_KEEP",
    "graph_bfs_distance": "Spark-only: persist on PERSIST_KEEP",
    "graph_community_labelprop": "Spark-only: calls operators/components",
    "graph_components_star": "Spark-only: calls operators/components",
    "graph_eccentricity_diameter": "Spark-only: localCheckpoint",
    "graph_edge_triangle_support": "pin: test_plan_shapes.py::test_edge_triangle_support_joins_are_key_joins fails on the text",
    "graph_harmonic_closeness": "Spark-only: localCheckpoint",
    "graph_hits": "text fails on Spark: no function quantile_cont",
    "graph_katz_centrality": "Spark-only: localCheckpoint",
    "graph_kcore_peel": "Spark-only: runs operators/iterate",
    "graph_ktruss_peel2": "Spark-only: runs operators/iterate",
    "graph_modularity_score": "Spark-only: persist on PERSIST_KEEP",
    "graph_pagerank_trade": "Spark-only: calls operators/pagerank",
    "graph_path_length_histogram": "Spark-only: localCheckpoint",
    "graph_rich_club": "(a) column types int vs bigint (builder vs text)",
    # plans/finance.py
    "fin_active_share": "plan: CartesianProduct (plan-shape audit)",
    "fin_fx_convert_asof": "text fails on Spark: no function unnest",
    "fin_var_parametric": "Spark-only: persist on PERSIST_KEEP",
    # plans/governance.py
    "dq_dp_binomial_counts": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "dq_expectations_quarantine": "(b) parent won 5/6 reps, median 0.25 vs 0.33 s",
    "dq_srm_check": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    # plans/ingest_parity.py
    "ddl_schema_evolution": "Spark-only: ingest, DDL, source or sink surface",
    "ddl_table_roundtrip": "Spark-only: ingest, DDL, source or sink surface",
    "dq_constraint_checks": "Spark-only: ingest, DDL, source or sink surface",
    "ingest_csv_quoted_multiline": "Spark-only: ingest, DDL, source or sink surface",
    "ingest_gzip_csv": "Spark-only: ingest, DDL, source or sink surface",
    "ingest_map_lookup": "Spark-only: ingest, DDL, source or sink surface",
    "ingest_pandas_api_parity": "Spark-only: ingest, DDL, source or sink surface",
    "ingest_signed_amount": "Spark-only: ingest, DDL, source or sink surface",
    "ingest_surrogate_key_nulls": "Spark-only: ingest, DDL, source or sink surface",
    "ingest_type_inference_audit": "text fails on Spark: no function regexp_matches",
    "ingest_xml_roundtrip": "Spark-only: ingest, DDL, source or sink surface",
    "sink_compact_small_files": "Spark-only: ingest, DDL, source or sink surface",
    "sink_dynamic_partition_overwrite": "Spark-only: ingest, DDL, source or sink surface",
    "sink_dynamic_partition_pruning": "Spark-only: ingest, DDL, source or sink surface",
    "sink_multi_format_roundtrip": "Spark-only: ingest, DDL, source or sink surface",
    "sink_nested_struct_pruning": "Spark-only: ingest, DDL, source or sink surface",
    "sink_partitioned_pruning": "Spark-only: ingest, DDL, source or sink surface",
    "sink_zorder_clustering": "Spark-only: ingest, DDL, source or sink surface",
    "source_python_datasource": "Spark-only: ingest, DDL, source or sink surface",
    # plans/jdbc_queries.py
    "jdbc_incremental_load": "Spark-only: JDBC source or sink",
    "jdbc_roundtrip_region": "Spark-only: JDBC source or sink",
    # plans/ml.py
    "ml_ab_cuped": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "ml_ab_sequential_sprt": "Spark-only: calls operators/ranks",
    "ml_calibration_bins": "(c) x4 corpus: text 1.12 s vs builder 0.622 s",
    "ml_chi2_feature_select": "text fails on Spark: no function unnest",
    "ml_conformal_ols_interval": "pin: test_plan_shapes.py::test_conformal_interval_windows_are_bucketed fails on the text",
    "ml_decision_stump_split": "(b) parent won 5/6 reps, median 0.48 vs 0.57 s",
    "ml_feature_hashing": "text fails on Spark: no function unnest",
    "ml_gbdt_boost_round": "(b) parent won 6/6 reps, median 0.96 vs 1.41 s",
    "ml_gbdt_two_rounds": "(b) parent won 6/6 reps, median 1.98 vs 2.21 s",
    "ml_isotonic_calibration": "Spark-only: persist on PERSIST_KEEP",
    "ml_kfold_ols_eval": "(b) parent won 6/6 reps, median 2.84 vs 3.92 s",
    "ml_naive_bayes_classify": "text fails on Spark: no function unnest",
    "ml_ols_normal_equations": "(b) parent won 6/6 reps, median 0.75 vs 1.20 s",
    "ml_perceptron_2round": "text fails on Spark: UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.AGGREGATE_FUNCTION_MIXED_OUTER_LOCAL_REFERENCES",
    "ml_permutation_importance": "Spark-only: calls operators/ranks",
    "ml_psi_drift": "text fails on Spark: no function unnest",
    "ml_quantile_binning": "pin: test_plan_shapes.py::test_quantile_binning_no_global_sort_window fails on the text",
    "ml_quantile_regression_grid": "pin: test_plan_shapes.py::test_quantile_grid_factored_fanout fails on the text",
    "ml_split_balance_audit": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    # plans/multimodal.py
    "mm_binary_metadata": "text fails on Spark: WRONG_NUM_ARGS.WITHOUT_SUGGESTION (DuckDB's one-argument encode)",
    "mm_frame_sample": "text fails on Spark: no function unnest",
    "mm_text_embedding_features": "text fails on Spark: no function list_transform",
    "mm_video_scene_cut": "text fails on Spark: no function unnest",
    # plans/relational.py
    "agg_ab_test_ztest": "text fails on Spark: no function strpos",
    "agg_arg_max_struct": "(b) parent won 6/6 reps, median 0.30 vs 0.52 s",
    "agg_bitmap_distinct": "Spark SQL surface: the builder is its own Spark SQL text",
    "agg_bloom_portable": "text fails on Spark: no function unnest",
    "agg_cms_portable": "text fails on Spark: no function unnest",
    "agg_grouping_id": "text fails on Spark: WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
    "agg_hll_portable": "text fails on Spark: no function unnest",
    "agg_kmv_portable": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "agg_pivot": "Spark-only: exercises the DataFrame pivot API",
    "agg_salted_hot_key": "Spark-only: calls operators/skew",
    "dq_referential_integrity": "(a) text ran over 10x the builder at sf0.1: NOT IN in COUNT FILTER plans a null-aware nested-loop join",
    "geo_grid_knn_join": "(b) parent won 6/6 reps, median 0.54 vs 1.50 s",
    "join_aqe_skew_split": "Spark-only: localCheckpoint",
    "join_bucketed_colocated": "Spark-only: cache on PERSIST_KEEP",
    "join_hint_shuffle_hash": "pin: test_plan_shapes.py::test_shuffle_hash_hint_overrides_broadcast fails on the text",
    "join_runtime_bloom_filter": "Spark-only: localCheckpoint",
    "join_salted_hot_key": "Spark-only: calls operators/skew",
    "null_handling_fill_drop": "Spark-only: exercises the DataFrame na.drop/na.fill API",
    "obs_metrics_during_write": "Spark-only: exercises an Observation on a write",
    "q18_large_volume_customer": "(b) parent won 5/6 reps, median 1.02 vs 1.12 s; a re-run 6/6",
    "q1_pricing_summary": "(b) parent won 6/6 reps, median 1.39 vs 1.70 s",
    "sql_distinct_on": "text fails on Spark: UNRESOLVED_ROUTINE (DISTINCT ON parses as a call of ON)",
    "sql_execute_immediate": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_filter_clause": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_group_by_all": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_identifier_clause": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_parameterized_query": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_pipe_syntax": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_recursive_spine": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_scripting_control_flow": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_udf_create_function": "Spark SQL surface: the builder is its own Spark SQL text",
    "sql_values_inline_table": "Spark SQL surface: the builder is its own Spark SQL text",
    "subquery_not_in_null_aware": "Spark SQL surface: the builder is its own Spark SQL text",
    "subquery_scalar": "Spark SQL surface: the builder is its own Spark SQL text",
    "subquery_scalar_correlated": "Spark SQL surface: the builder is its own Spark SQL text",
    "window_distribution_funcs": "(b) parent won 6/6 reps, median 0.32 vs 0.66 s",
    "window_global_row_number": "Spark-only: calls operators/ranks",
    "window_hampel_filter": "text fails on Spark: no function list",
    "window_interval_range_frame": "Spark SQL surface: the builder is its own Spark SQL text",
    "window_pct_of_total": "(c) x4 corpus: text 0.814 s vs builder 0.526 s",
    "window_running_balance": "headline: its oracle stays byte-identical, and Spark does not parse its AS VARCHAR",
    "window_trailing_distinct": "pin: test_plan_shapes.py::test_trailing_distinct_no_range_join fails on the text",
    # plans/scalars.py
    "array_explode_outer": "Spark-only: exercises explode_outer",
    "json_schema_parse": "Spark-only: exercises from_json with a schema",
    "json_variant_extract": "Spark-only: exercises the VARIANT type (parse_json, try_variant_get)",
    "scalar_hash_funcs": "(b) parent won 6/6 reps, median 0.077 vs 0.093 s",
    "scalar_mask_pii": "text fails on Spark: CAST_INVALID_INPUT (DuckDB's regexp_replace 'g' option is Spark's position argument)",
    "scalar_string_advanced": "text fails on Spark: no function strpos",
    # plans/stats.py
    "stat_ad_uniform": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "stat_bootstrap_ci": "text fails on Spark: no function unnest",
    "stat_cuzick_trend": "Spark-only: persist on PERSIST_KEEP (recipes.midranks2)",
    "stat_cvm_two_sample": "Spark-only: persist on PERSIST_KEEP",
    "stat_cvm_uniform": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "stat_dunn_posthoc": "Spark-only: persist on PERSIST_KEEP",
    "stat_effect_sizes": "Spark-only: persist on PERSIST_KEEP",
    "stat_gini_coefficient": "Spark-only: persist on PERSIST_KEEP",
    "stat_hypergeom_surprise": "Spark-only: persist on PERSIST_KEEP",
    "stat_jackknife_ratio_se": "(b) parent won 5/6 reps, median 1.40 vs 1.67 s",
    "stat_jonckheere_terpstra": "pin: test_plan_shapes.py::test_mood_jt_rank_windows_bucket_partitioned fails on the text",
    "stat_ks_two_sample": "pin: test_plan_shapes.py::test_ks_two_sample_scans_fact_once fails on the text",
    "stat_ks_uniform": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "stat_kuiper_uniform": "text raises on Spark: CAST_INVALID_INPUT, a '0x...' string cast to BIGINT",
    "stat_mannwhitney_u": "Spark-only: persist on PERSIST_KEEP",
    "stat_spearman_corr": "Spark-only: persist on PERSIST_KEEP (recipes.midranks2)",
    "stat_wilcoxon_signed_rank": "Spark-only: persist on PERSIST_KEEP (recipes.midranks2)",
    # plans/streaming_queries.py
    "stream_live_backfill_tail": "Spark-only: Structured Streaming source or sink",
    "stream_live_cdc_to_snapshot": "Spark-only: Structured Streaming source or sink",
    "stream_live_cusum_alarm": "Spark-only: Structured Streaming source or sink",
    "stream_live_dedup_admission": "Spark-only: Structured Streaming source or sink",
    "stream_live_dedup_watermark": "Spark-only: Structured Streaming source or sink",
    "stream_live_foreachbatch_sink": "Spark-only: Structured Streaming source or sink",
    "stream_live_observed_metrics": "Spark-only: Structured Streaming source or sink",
    "stream_live_perplexity_admission": "text fails on Spark: no function unnest",
    "stream_live_python_source": "Spark-only: Structured Streaming source or sink",
    "stream_live_rocksdb_state": "Spark-only: Structured Streaming source or sink",
    "stream_live_scd2_enrich": "Spark-only: Structured Streaming source or sink",
    "stream_live_session_window": "Spark-only: Structured Streaming source or sink",
    "stream_live_stateful_totals": "Spark-only: Structured Streaming source or sink",
    "stream_live_static_enrich": "Spark-only: Structured Streaming source or sink",
    "stream_live_stream_full_outer": "Spark-only: Structured Streaming source or sink",
    "stream_live_stream_left_outer": "Spark-only: Structured Streaming source or sink",
    "stream_live_topk_per_window": "Spark-only: Structured Streaming source or sink",
    "stream_live_tumbling_agg": "Spark-only: Structured Streaming source or sink",
    "stream_session_window": "Spark-only: Structured Streaming source or sink",
    "stream_tumbling_window": "text fails on Spark: no function time_bucket",
    # plans/tableformat.py
    "sink_bloom_file_skipping": "Spark-only: table-format sink",
    "sink_copy_on_write_update": "Spark-only: table-format sink",
    "sink_file_stats_skipping": "Spark-only: table-format sink",
    "sink_manifest_count_pushdown": "Spark-only: table-format sink",
    "sink_merge_on_read_deletes": "Spark-only: table-format sink",
    "sink_multi_table_tx": "Spark-only: table-format sink",
    "sink_parquet_codec_roundtrip": "Spark-only: table-format sink",
    "sink_partition_evolution": "Spark-only: table-format sink",
    "sink_python_datasource_writer": "Spark-only: table-format sink",
    "sink_snapshot_time_travel": "Spark-only: table-format sink",
    # plans/text.py
    "text_bigram_coverage": "text fails on Spark: no function generate_subscripts",
    "text_bm25_topk": "text fails on Spark: no function generate_subscripts",
    "text_boilerplate_ngrams": "text fails on Spark: no function generate_series",
    "text_bpe_pair_counts": "text fails on Spark: no function generate_subscripts",
    "text_burstiness": "text fails on Spark: no function unnest",
    "text_c4_gopher_filters": "text fails on Spark: no function generate_subscripts",
    "text_charclass_profile": "text fails on Spark: CAST_INVALID_INPUT (DuckDB's regexp_replace 'g' option is Spark's position argument)",
    "text_chunk_overlap": "text fails on Spark: no function unnest",
    "text_code_detect": "(b) parent won 6/6 reps, median 0.40 vs 0.69 s (the builder reads documents with load_table_parallel)",
    "text_containment_pairs": "Spark-only: calls operators/dedup",
    "text_dataset_card": "scale: the text sorts every document within its source for the median (a handful of partitions); the builder selects it from a per-source length histogram",
    "text_dedup_incremental_batch": "Spark-only: calls operators/dedup",
    "text_feature_hashing": "text fails on Spark: no function generate_subscripts",
    "text_fingerprint": "text fails on Spark: no function list_distinct",
    "text_fuzzy_join_edit1": "Spark-only: calls operators/dedup",
    "text_hapax_ratio": "text fails on Spark: no function unnest",
    "text_js_divergence": "text fails on Spark: no function unnest",
    "text_keyword_rake": "text fails on Spark: no function generate_subscripts",
    "text_kneser_ney_bigram": "text fails on Spark: no function generate_subscripts",
    "text_ngram_entropy": "text fails on Spark: no function unnest",
    "text_ngram_jaccard_pairs": "Spark-only: calls operators/dedup",
    "text_ngram_novelty": "text fails on Spark: no function unnest",
    "text_ngram_stats": "text fails on Spark: no function generate_subscripts",
    "text_perplexity_filter": "text fails on Spark: no function list_filter",
    "text_pmi_bigrams": "text fails on Spark: no function generate_subscripts",
    "text_quality_score": "text fails on Spark: no function generate_subscripts",
    "text_repetition_filter": "text fails on Spark: no function generate_subscripts",
    "text_simpson_diversity": "text fails on Spark: no function unnest",
    "text_smog_index": "text fails on Spark: MISSING_ATTRIBUTES.RESOLVED_ATTRIBUTE_MISSING_FROM_INPUT",
    "text_source_chi2_drift": "text fails on Spark: no function generate_subscripts",
    "text_tfidf": "text fails on Spark: no function generate_subscripts",
    "text_token_burstiness": "text fails on Spark: no function generate_subscripts",
    "text_token_count": "(a) rows and column types differ (builder vs text)",
    "text_token_stats": "text fails on Spark: no function generate_subscripts",
    "text_type_token_ratio": "text fails on Spark: no function unnest",
    "text_vocab_coverage": "text fails on Spark: no function generate_subscripts",
    "text_winnow_fingerprint": "text fails on Spark: no function list_transform",
    "text_yule_k": "text fails on Spark: no function unnest",
    "text_zipf_fit": "text fails on Spark: no function unnest",
    # plans/timeseries.py
    "ts_arch_lm_screen": "text fails on Spark: no function to_days",
    "ts_asof_nearest": "Spark-only: calls operators/joins",
    "ts_attribution_markov_removal": "(b) parent won 6/6 reps, median 1.80 vs 9.07 s",
    "ts_cross_correlation": "text fails on Spark: no function unnest",
    "ts_ewma_smooth": "text fails on Spark: no function list_reduce",
    "ts_hypertable_rollup": "(d) parent won 5/6 reps at sf0.01, median 0.42 vs 0.49 s; a re-run 2/6",
    "ts_interval_union_coverage": "(b) parent won 5/6 reps, median 0.58 vs 0.80 s",
    "ts_max_concurrency": "scale: the text's running sum is one unpartitioned window over every event boundary; the builder runs it per day with a carry-in",
    "ts_ohlc_vwap_bars": "pin: test_plan_shapes.py::test_ohlc_bars_single_agg_no_window_no_sort fails on the text",
    "ts_range_join": "Spark-only: calls operators/joins",
    "ts_range_join_bucketed": "Spark-only: calls operators/joins",
    "ts_rolling_median": "text fails on Spark: INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC (median over a frame)",
    "ts_seasonal_baseline": "(a) rows differ on Spark (`dayofweek` base)",
    "ts_sessionize": "Spark-only: calls operators/sessionize",
    "ts_viterbi_2state": "(b) parent won 6/6 reps, median 0.47 vs 15.47 s",
    # plans/tokenizer.py
    "text_tokenizer_fertility": "text fails on Spark: no function unnest",
    "text_wordpiece_encode": "text fails on Spark: no function unnest",
    # plans/tpch.py
    "q10_returned_items": "(b) parent won 5/6 reps, median 0.37 vs 0.43 s",
    "q22_dormant_customers": "Spark SQL surface: the builder is its own Spark SQL text",
    # plans/udf_queries.py
    "agg_heavy_hitters": "Spark-only: Python UDF surface",
    "udf_arrow_optimized_scalar": "Spark-only: Python UDF surface",
    "udf_arrow_udtf_lateral": "Spark-only: Python UDF surface",
    "udf_grouped_agg_weighted_mean": "Spark-only: Python UDF surface",
    "udf_grouped_median": "Spark-only: Python UDF surface",
    "udf_map_in_arrow": "Spark-only: Python UDF surface",
    "udf_pandas_normalize": "Spark-only: Python UDF surface",
    "udf_table_function_tokens": "Spark-only: Python UDF surface",
    "udf_window_grouped_agg": "Spark-only: Python UDF surface",
    # plans/vectors.py
    "cur_active_learning_batch": "Spark-only: persist on PERSIST_KEEP",
    "ml_logreg_gd": "Spark-only: persist on PERSIST_KEEP",
    "vec_binary_hamming_topk": "text fails on Spark: no function list_transform",
    "vec_cosine_histogram": "text fails on Spark: no function list_transform",
    "vec_cosine_near_dup_pairs": "text fails on Spark: no function list_transform",
    "vec_cosine_topk": "text fails on Spark: no function list_transform",
    "vec_dim_stats": "text fails on Spark: no function generate_subscripts",
    "vec_farthest_point_init": "Spark-only: persist on PERSIST_KEEP",
    "vec_hard_negatives": "text fails on Spark: no function list_transform",
    "vec_knn_classify": "text fails on Spark: no function list_transform",
    "vec_mips_topk": "text fails on Spark: no function list_transform",
    "vec_mmr_unrolled": "Spark-only: runs operators/iterate",
    "vec_norm_stats": "text fails on Spark: no function list_transform",
    "vec_quantize_int8": "text fails on Spark: no function list_transform",
    "vec_retrieval_eval": "text fails on Spark: no function list_transform",
}


_VARCHAR = re.compile(r"\bAS\s+VARCHAR\b", re.IGNORECASE)


def _as_spark_parses(oracle):
    """An oracle as run_sql would hand it to Spark, with DuckDB's
    ``AS VARCHAR`` spelled ``AS STRING``: a cast alone cannot hide an
    oracle from the guards below."""
    from finance_etl_spark.plans.registry import spark_text

    return _VARCHAR.sub("AS STRING", spark_text(oracle))


def test_parseable_oracles_are_written_once(spark):
    """A builder whose oracle Spark parses calls run_sql or is on
    BUILDER_KEEP; a keep-list entry whose query no longer qualifies
    is stale. The check parses each text and reads no data."""
    from pyspark.errors import ParseException

    from finance_etl_spark import plans

    parser = spark._jsparkSession.sessionState().sqlParser()

    def parses(text):
        try:
            parser.parsePlan(_as_spark_parses(text))
        except ParseException:
            return False
        return True

    written_once = set(_run_sql_queries())
    held = {
        name
        for _, name, _, _ in _registered_builders()
        if name not in written_once
        and plans.get(name).oracle
        and parses(plans.get(name).oracle)
    }
    assert not held - BUILDER_KEEP.keys(), sorted(held - BUILDER_KEEP.keys())
    assert not BUILDER_KEEP.keys() - held, sorted(BUILDER_KEEP.keys() - held)


_FAILS = "text fails on Spark: "


def test_failing_texts_still_fail_on_spark(spark, sf_dir):
    """A ``text fails on Spark`` reason names the missing function or the
    error class. With registry.SQL_FUNCTIONS registered, each such text
    must still fail Spark analysis with that error, so a reason cannot go
    stale when a function or a spelling arrives. Analysis runs over
    footer-only views and launches no job."""
    from finance_etl_spark import plans
    from finance_etl_spark.io.readers import TABLES, register_views

    stale = []
    for name, why in sorted(BUILDER_KEEP.items()):
        if not why.startswith(_FAILS):
            continue
        reason = why[len(_FAILS) :]
        want = (
            f"`{reason[len('no function '):]}`"
            if reason.startswith("no function ")
            else f"[{reason.split()[0]}]"
        )
        text = _as_spark_parses(plans.get(name).oracle)
        register_views(spark, sf_dir, tuple(t for t in TABLES if re.search(rf"\b{t}\b", text)))
        register_functions(spark, text)
        try:
            spark.sql(text)
        except Exception as e:  # noqa: BLE001 - the error text is the check
            if want.lower() not in str(e).lower():
                stale.append(f"{name}: {str(e).splitlines()[0][:160]}")
        else:
            stale.append(f"{name}: the text analyses")
    assert not stale, stale


def test_no_oracle_calls_a_volatile_function():
    """run_sql drops the MATERIALIZED hint, so Spark may evaluate a CTE at
    each reference: that gives the same rows only while no oracle draws a
    random number or a fresh id."""
    from finance_etl_spark import plans

    volatile = re.compile(r"\b(random|rand|uuid|gen_random_uuid)\s*\(", re.IGNORECASE)
    assert not [n for n, text in plans.all_oracles().items() if volatile.search(text)]


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
    # a variable may be called cents (centroids, a cents-scaled frame); a
    # function of these names, or a lambda bound to one, restates a recipe
    funcs = names | {"cents", "dsum_cents"}
    bad = []
    for p in sorted(PKG.rglob("*.py")):
        if p in RECIPE_HOMES:
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.FunctionDef) and node.name in funcs:
                bad.append(f"{p.name}:{node.lineno} def {node.name}")
            if isinstance(node, ast.Assign):
                lam = isinstance(node.value, ast.Lambda)
                bad += [
                    f"{p.name}:{node.lineno} {t.id} ="
                    for t in node.targets
                    if isinstance(t, ast.Name)
                    and (t.id in names or t.id == "DEC" or (lam and t.id in funcs))
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


# Every persist()/cache() in the package, by module::function, with why
# it stays. A persist costs a materialising job and leaves blocks behind
# for the caller; Catalyst's exchange reuse already shares a repeated
# subtree. A new one brings a load-gated `tools/probe.py ab` measurement.
PERSIST_KEEP = {
    # headline queries: measured to pay, or reached by the benchmark
    "plans/ml.py::_bagging_pipeline": "headline-measured",
    "plans/stats.py::_pooled_parts": "headline-measured",
    "operators/dedup.py::minhash_lsh_dedup_pairs": "headline-measured",
    "plans/text.py::text_perplexity_filter": "headline-measured",
    "operators/components.py::connected_components": "paired unpersist",
    "operators/components.py::label_propagation": "paired unpersist",
    "operators/pagerank.py::pagerank": "paired unpersist",
    "plans/curation.py::graph_bfs_distance": "paired unpersist",
    "plans/finance.py::fin_var_parametric": "paired unpersist",
    "plans/ml.py::kmeans_fit": "paired unpersist",
    "plans/streaming_queries.py::stream_live_dedup_admission": "paired unpersist",
    "plans/streaming_queries.py::stream_live_perplexity_admission": "paired unpersist",
    "plans/vectors.py::_train_logreg": "paired unpersist",
    "plans/vectors.py::vec_farthest_point_init": "paired unpersist",
    # tests/test_plan_shapes.py pins their InMemoryRelation
    "plans/ml.py::ml_psi_drift": "plan-shape-pinned",
    "plans/curation.py::graph_avg_neighbor_degree": "plan-shape-pinned",
    # Spark refuses a query on only the corrupt-record column of an
    # uncached CSV read
    "plans/ingest_parity.py::ingest_corrupt_quarantine": "functional",
    # the persisted arm won >= 5 of 6 alternating sf0.1 reps with a
    # median more than 10 % faster (CHANGES.md has the table)
    "operators/dedup.py::ngram_pair_counts": "measured win",
    "plans/curation.py::cur_decontaminate": "measured win",
    "plans/curation.py::graph_modularity_score": "measured win",
    "plans/curation.py::graph_transitivity_global": "measured win",
    "plans/finance.py::fin_var_exception_backtest": "measured win",
    "plans/ml.py::ml_isotonic_calibration": "measured win",
    "plans/multimodal.py::mm_image_dedup_clusters": "measured win",
    "plans/multimodal.py::mm_phash_near_dup": "measured win",
    "plans/recipes.py::midranks2": "measured win",
    "plans/relational.py::agg_hll_portable": "measured win",
    "plans/stats.py::stat_gini_coefficient": "measured win",
    "plans/stats.py::stat_hypergeom_surprise": "measured win",
    "plans/stats.py::stat_lorenz_deciles": "measured win",
    "plans/text.py::text_minhash_md5_twin": "measured win",
    "plans/text.py::text_minhash_recall_eval": "measured win",
    "plans/text.py::text_span_dedup": "measured win",
    "plans/vectors.py::vec_ann_ivf_topk": "measured win",
    "plans/vectors.py::vec_matryoshka_eval": "measured win",
    "plans/vectors.py::vec_mmr_unrolled": "measured win",
}


def _calls_by_function(attrs):
    """module::function -> the .attr(...) calls in that top-level def."""
    found = {}
    for p in sorted(PKG.rglob("*.py")):
        for fn in ast.parse(p.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = [
                n.func.attr
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in attrs
            ]
            if calls:
                found[f"{p.relative_to(PKG)}::{fn.name}"] = calls
    return found


def test_every_persist_is_on_the_keep_list():
    """A persist/cache call outside PERSIST_KEEP fails, a keep-list entry
    with no persist left is stale, and a "paired unpersist" entry
    still releases what it persists."""
    found = _calls_by_function({"persist", "cache", "unpersist"})
    persists = {k for k, calls in found.items() if {"persist", "cache"} & set(calls)}
    assert not persists - PERSIST_KEEP.keys(), sorted(persists - PERSIST_KEEP.keys())
    assert not PERSIST_KEEP.keys() - persists, sorted(PERSIST_KEEP.keys() - persists)
    unpaired = [
        k
        for k, why in PERSIST_KEEP.items()
        if why == "paired unpersist" and "unpersist" not in found[k]
    ]
    assert not unpaired, unpaired


def test_audited_queries_leave_no_cache(spark, sf_dir, con):
    """Queries whose persists the audit removed, run back to back in one
    session with no clearCache() between them: none leaves cached
    blocks behind, and each still matches its oracle."""
    from finance_etl_spark import plans

    jsc = spark.sparkContext._jsc

    def held():
        infos = jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos), jsc.getPersistentRDDs().size()

    before = held()
    for name in (
        "fin_capm_beta",
        "stat_kendall_tau",
        "ml_standard_scaler",
        "vec_rrf_fusion",
        "ts_cross_correlation",
    ):
        spec = plans.get(name)
        got = _spark(spec.build(spark, sf_dir))
        assert held() == before, name
        assert got and got == _duck(con, spec.oracle), name


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
    whole or inside a longer literal. Within a module such a literal is
    stated once too: an oracle and its builder's ``spark.sql`` text
    share one module constant."""
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
    twins += sorted(
        (name, name, text[:80])
        for name, texts in literals.items()
        for i, text in enumerate(texts)
        if len(text) >= 120
        and any(text in t for j, t in enumerate(texts) if j != i)
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


def test_no_machine_paths_in_package():
    """Paths into the repository derive from the module's location, so
    the package runs from any checkout."""
    bad = [
        f"{p.relative_to(REPO)}:{node.lineno} {node.value[:60]!r}"
        for p in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("/root/")
    ]
    assert not bad, bad
