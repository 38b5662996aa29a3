"""JDBC source/sink queries (reference D1-D4, utils/db_manager.py:53-91),
exercised for real against embedded Apache Derby — the JDBC engine that
ships on Spark's classpath — so the adapter code in io/sinks.py is
oracle-checked, not just compiled.

On a cluster the same adapters point at Postgres/MySQL with the driver
jar on ``spark.jars``; writes then run one connection per partition
(versus the reference's single-connection row loop via pandas
``to_sql``, utils/db_manager.py:85-91). Embedded Derby is single-JVM by
design, which matches local[*] exactly and keeps the test hermetic.

Identifier note: Spark's JDBC writer creates case-sensitive (quoted)
column names, and Derby folds unquoted identifiers to upper case —
read-back queries therefore quote every column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_etl_spark.io.readers import load_table
from finance_etl_spark.io.sinks import jdbc_append, jdbc_read, jdbc_scan_keys
from finance_etl_spark.operators.incremental import (
    incremental_new_records,
    with_surrogate_key,
)
from finance_etl_spark.plans.registry import register, scratch_dir

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _fresh_db() -> str:
    """A new embedded-Derby URL per invocation so the append-only sink
    semantics stay idempotent across repeated harness runs."""
    return f"jdbc:derby:{scratch_dir('derby_')}/db;create=true"


@register(
    "jdbc_roundtrip_region",
    tags=("jdbc", "source", "sink"),
    oracle="SELECT r_regionkey, r_name FROM region",
)
def jdbc_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+D3: append ``region`` to a JDBC table, read it back with a
    pushdown query — the oracle proves byte-equality with the parquet
    source after the JDBC round trip (reference ``_insert_data`` /
    ``_select_data``, utils/db_manager.py:75-91)."""
    url = _fresh_db()
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    jdbc_append(r, url, "region_rt", DERBY_PROPS)
    return jdbc_read(
        spark, url, 'SELECT "r_regionkey", "r_name" FROM region_rt', DERBY_PROPS
    )


@register(
    "jdbc_incremental_load",
    tags=("jdbc", "incremental", "sink"),
    oracle="SELECT n_nationkey, n_name FROM nation",
)
def jdbc_incremental_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+J1+D3+D4 end-to-end over JDBC: load a first batch, scan the
    sink's existing surrogate keys (projection pushed into the remote
    SQL), anti-join the full source against them, append only the new
    rows, and skip the write when nothing is new (third pass). The
    read-back must equal the source exactly once — the reference's
    idempotent-load contract (main.py:22-29)."""
    url = _fresh_db()
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    keyed = with_surrogate_key(n, ["n_nationkey", "n_name"])

    jdbc_append(keyed.filter(F.col("n_nationkey") < 10), url, "nation_inc", DERBY_PROPS)
    # incremental passes: second loads the remainder, third is a no-op
    for _ in range(2):
        existing = jdbc_scan_keys(
            spark, url, "nation_inc", key_col='"surrogate_key"', properties=DERBY_PROPS
        ).withColumnRenamed('"surrogate_key"', "surrogate_key")
        new = incremental_new_records(keyed, existing)
        if not new.isEmpty():  # D4: conditional load
            jdbc_append(new, url, "nation_inc", DERBY_PROPS)

    return jdbc_read(
        spark, url, 'SELECT "n_nationkey", "n_name" FROM nation_inc', DERBY_PROPS
    )
