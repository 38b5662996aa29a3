"""Unit tests for the scalar-function layer: surrogate keys (null
encoding), strftime translation, decimal money aggregation."""

import datetime as dt
import hashlib

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from finance_etl_spark.functions.datetime import strftime_to_java
from finance_etl_spark.functions.keys import surrogate_key, surrogate_key_sql
from finance_etl_spark.functions.money import dsum
from finance_etl_spark.functions.sqltext import ident, literal, map_literal
from finance_etl_spark.plans.ingest_parity import _sql_key


def test_surrogate_key_null_encodes_as_nan(spark):
    """Nulls in key columns must hash as the literal 'nan' — pandas
    astype(str) parity (reference utils/data_manager.py:62)."""
    df = spark.createDataFrame(
        [Row(a="x", b=None, c=1), Row(a=None, b="y", c=None)]
    )
    out = df.select(surrogate_key(["a", "b", "c"]).alias("k")).collect()
    exp0 = hashlib.md5(b"x#nan#1").hexdigest()
    exp1 = hashlib.md5(b"nan#y#nan").hexdigest()
    assert [r.k for r in out] == [exp0, exp1]


def test_surrogate_key_forms_hash_alike(spark):
    """The Column form, the Spark SQL text and the DuckDB oracle's text
    give the same key on null, string, integer and date parts."""
    rows = [
        ("x", 1, dt.date(2025, 1, 3), "a#b"),
        (None, -7, None, ""),
        ("y", None, dt.date(1999, 12, 31), None),
        (None, None, None, None),
    ]
    cols = ["s", "i", "d", "odd name"]
    df = spark.createDataFrame(rows, "s string, i bigint, d date, `odd name` string")
    by_column = [r.k for r in df.select(surrogate_key(cols).alias("k")).collect()]
    by_text = [r.k for r in df.selectExpr(f"{surrogate_key_sql(cols)} AS k").collect()]
    con = duckdb.connect()
    con.execute('CREATE TABLE t (n INT, s VARCHAR, i BIGINT, d DATE, "odd name" VARCHAR)')
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", [(n, *r) for n, r in enumerate(rows)])
    by_duckdb = [k for (k,) in con.execute(f"SELECT {_sql_key(cols)} FROM t ORDER BY n").fetchall()]
    want = [
        hashlib.md5("#".join("nan" if v is None else str(v) for v in r).encode()).hexdigest()
        for r in rows
    ]
    assert by_column == by_text == by_duckdb == want


def test_sql_literals_match_lit(spark):
    """Config values rendered as SQL text keep the type and value
    ``F.lit`` gives them; names and strings survive quotes and
    backslashes."""
    values = [7, -1, 2**40, 1.5, -2.5e-7, True, "a'b\\c\\d{8}", "", None]
    df = spark.range(1)
    text = df.selectExpr(*(f"{literal(v)} AS {ident(f'c`{i}')}" for i, v in enumerate(values)))
    cols = df.select(*(F.lit(v).alias(f"c`{i}") for i, v in enumerate(values)))
    assert text.schema == cols.schema
    assert text.first() == cols.first()
    lookup = df.selectExpr(f"{map_literal({'D': -1, 'C': 1})}['D'] AS m")
    assert lookup.first().m == -1


def test_surrogate_key_distinguishes_null_positions(spark):
    df = spark.createDataFrame([Row(a="x", b=None), Row(a=None, b="x")])
    out = {r.k for r in df.select(surrogate_key(["a", "b"]).alias("k")).collect()}
    assert len(out) == 2


@pytest.mark.parametrize(
    "py,java",
    [
        ("%d.%m.%Y", "dd.MM.yyyy"),
        ("%Y-%m-%d", "yyyy-MM-dd"),
        ("%Y/%m/%d %H:%M:%S", "yyyy/MM/dd HH:mm:ss"),
        ("%d %b %Y", "dd MMM yyyy"),
        ("%Y-%m-%dT%H:%M:%S", "yyyy-MM-dd'T'HH:mm:ss"),
    ],
)
def test_strftime_translation(py, java):
    assert strftime_to_java(py) == java


def test_strftime_rejects_unknown_directive():
    with pytest.raises(ValueError):
        strftime_to_java("%Q")


def test_strftime_roundtrip_parses(spark):
    fmt = strftime_to_java("%d.%m.%Y")
    out = spark.createDataFrame([Row(s="03.01.2025")]).select(
        F.to_timestamp("s", fmt).alias("t")
    ).collect()
    assert str(out[0].t) == "2025-01-03 00:00:00"


def test_dsum_order_and_partition_independent(spark):
    """The decimal-sum recipe must produce identical bits regardless of
    row order or partitioning (the 1000-executor reproducibility
    contract)."""
    vals = [((-1) ** i) * (1.1 ** (i % 50)) * 0.37 for i in range(2000)]
    a = spark.createDataFrame([(v,) for v in vals], "v double").repartition(1)
    b = spark.createDataFrame([(v,) for v in reversed(vals)], "v double").repartition(13)
    ra = a.agg(dsum("v").alias("s")).collect()[0].s
    rb = b.agg(dsum("v").alias("s")).collect()[0].s
    assert ra == rb  # exact bit equality, not approx
