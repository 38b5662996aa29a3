"""DDL (X1-X3), parquet sink (D1-D4), and the UDF/UDTF API surfaces."""

import gc
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import Row
from pyspark.sql import functions as F

from finance_etl_spark.io.ddl import build_schema, recreate_tables
from finance_etl_spark.io.sinks import append_new_records, read_existing_keys
from finance_etl_spark.operators.incremental import with_surrogate_key
from finance_etl_spark.session import count_py4j_calls

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FIELDS = {
    "surrogate_key": {"type": "String", "nullable": False},
    "acc_number": {"type": "String"},
    "dt": {"type": "Timestamp", "timezone": True},
    "amount": {"type": "Decimal", "precision": 18, "scale": 2},
    "year": {"type": "Integer"},
}


def test_build_schema_type_mapping():
    st = build_schema(FIELDS)
    assert st["surrogate_key"].dataType.simpleString() == "string"
    assert not st["surrogate_key"].nullable
    assert st["dt"].dataType.simpleString() == "timestamp"
    assert st["amount"].dataType.simpleString() == "decimal(18,2)"
    assert st["year"].dataType.simpleString() == "int"


def test_recreate_tables_roundtrip(spark, tmp_path):
    tables = {"stm": FIELDS, "sec": {"surrogate_key": {"type": "String"}}}
    recreate_tables(spark, "fin_test", tables, str(tmp_path / "wh"))
    assert spark.catalog.tableExists("fin_test.stm")
    got = dict(spark.table("fin_test.stm").dtypes)
    assert got["amount"] == "decimal(18,2)"
    # destructive re-init must succeed on existing tables (X3)
    recreate_tables(spark, "fin_test", tables, str(tmp_path / "wh"))
    assert spark.table("fin_test.sec").count() == 0


def test_parquet_sink_incremental(spark, tmp_path):
    sink = str(tmp_path / "t")
    df = with_surrogate_key(
        spark.createDataFrame([Row(a="x", v=1), Row(a="y", v=2)]), ["a"]
    )
    assert append_new_records(df, sink) == 2
    assert append_new_records(df, sink) == 0  # idempotent re-run
    more = with_surrogate_key(
        spark.createDataFrame([Row(a="y", v=2), Row(a="z", v=3)]), ["a"]
    )
    assert append_new_records(more, sink) == 1  # only 'z' is new
    assert spark.read.parquet(sink).count() == 3


def test_append_contract(spark, tmp_path, count_jobs):
    """The returned count is what the sink gained; with a sink present
    an append is the key broadcast plus the write, nothing is left
    cached, and a zero-new re-run keeps the sink as it was."""
    sink = str(tmp_path / "t")
    sc = spark.sparkContext

    def cached_bytes():  # other tests may have left their own
        return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())

    def rows_and_keys():
        got = spark.read.parquet(sink).agg(
            F.count(F.lit(1)), F.countDistinct("surrogate_key")
        ).first()
        return tuple(got)

    def batch(lo, hi):
        return with_surrogate_key(
            spark.range(lo, hi).select(F.col("id").cast("string").alias("a")), ["a"]
        )

    assert append_new_records(batch(0, 50), sink) == 50
    assert rows_and_keys() == (50, 50)
    for lo, hi in [(40, 120), (100, 130)]:
        before, cached_before = rows_and_keys()[0], cached_bytes()
        n, jobs = count_jobs(append_new_records, batch(lo, hi), sink)
        assert cached_bytes() <= cached_before
        assert n == rows_and_keys()[0] - before == hi - max(lo, before)
        assert jobs <= 2
    assert append_new_records(batch(0, 130), sink) == 0  # zero-new re-run
    assert rows_and_keys() == (130, 130)
    assert read_existing_keys(spark, sink).count() == 130


def test_key_scan_py4j_calls_do_not_grow_with_the_sink(spark, tmp_path):
    """The scan finds its footer with one listing per directory level,
    so a sink of 12 appends costs the driver what a sink of 2 does."""

    def sink(appends):
        path = str(tmp_path / f"sink{appends}")
        for i in range(appends):
            batch = spark.range(100 * i, 100 * (i + 1), numPartitions=2)
            append_new_records(
                with_surrogate_key(batch.selectExpr("CAST(id AS STRING) AS a"), ["a"]),
                path,
            )
        return path

    def calls(path):  # py4j frees of unrelated proxies only ever add calls
        counts = []
        for _ in range(3):
            gc.collect()
            with count_py4j_calls() as n:
                read_existing_keys(spark, path)
            counts.append(n[0])
        return min(counts)

    small, large = sink(2), sink(12)
    assert calls(small) == calls(large)
    assert read_existing_keys(spark, large).count() == 1200


def test_corrupt_sink_raises_instead_of_rewriting(spark, tmp_path):
    sink = tmp_path / "t"
    assert read_existing_keys(spark, str(sink)) is None  # no sink yet
    df = with_surrogate_key(spark.createDataFrame([Row(a="x", v=1)]).coalesce(1), ["a"])
    assert append_new_records(df, str(sink)) == 1
    (part,) = [p for p in sink.iterdir() if p.name.startswith("part-")]
    part.write_bytes(b"not a parquet file")
    (sink / f".{part.name}.crc").unlink()  # let the reader see the bytes
    with pytest.raises(Py4JJavaError, match="is not a Parquet file"):
        append_new_records(df, str(sink))


def test_rowwise_udf_agrees_with_builtin(spark, sf_dir):
    from finance_etl_spark.functions.udfs import token_count_rowwise
    from finance_etl_spark.io.readers import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    cmp = d.select(
        token_count_rowwise("text").alias("py"),
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("jvm"),
    )
    assert cmp.filter(F.col("py") != F.col("jvm")).count() == 0


def test_plans_import_raises_no_user_warning():
    """Importing the query registry declares every UDF without a warning,
    so an import under ``-W error::UserWarning`` succeeds."""
    out = subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c", "from finance_etl_spark import plans"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]


def test_python_workers_import_the_package_from_any_directory(tmp_path, sf_dir):
    """A driver started outside the checkout, on a session it built
    itself, with the repo only on its own sys.path (as __spark_entry__.py
    puts it there): the Python workers that run a pandas UDF and a Python
    data source still import the package."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
from finance_etl_spark import plans
for name in ("udf_grouped_median", "source_python_datasource"):
    print(name, len(plans.get(name).build(spark, {sf_dir!r}).collect()))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = dict(line.split() for line in out.stdout.splitlines())
    assert set(rows) == {"udf_grouped_median", "source_python_datasource"}
    assert all(int(n) > 0 for n in rows.values())


def test_udtf_split_words(spark):
    from pyspark.sql.functions import udtf

    from finance_etl_spark.functions.udfs import SplitWords

    split_words = udtf(SplitWords, returnType="doc_id long, pos int, tok string")
    spark.udtf.register("split_words", split_words)
    out = spark.sql(
        "SELECT * FROM split_words(42L, 'alpha  beta gamma')"
    ).collect()
    assert [(r.pos, r.tok) for r in out] == [(0, "alpha"), (1, "beta"), (2, "gamma")]
    assert all(r.doc_id == 42 for r in out)


def test_transcendentals_match_python_libm(spark):
    import math

    vals = [0.01, 0.5, 1.0, 2.7, 1234.56, 98765.4321]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v double")
    rows = df.select(
        "i", F.log("v").alias("ln_v"), F.exp(F.col("v") / 100000).alias("exp_v")
    ).collect()
    for r in rows:
        v = vals[r.i]
        assert r.ln_v == pytest.approx(math.log(v), rel=1e-12)
        assert r.exp_v == pytest.approx(math.exp(v / 100000), rel=1e-12)
