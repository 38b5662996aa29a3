"""Load-side operators (reference D1-D4, utils/db_manager.py:53-91),
generalized over two backends:

- parquet/catalog tables (the engine's own storage; testable here)
- JDBC (the reference's Postgres path; same call shape, requires a
  driver jar on the classpath — adapters below, exercised only where
  a driver is present)

The incremental contract (key scan -> anti-join -> append the new rows)
is identical across backends; only the physical reader/writer differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from finance_etl_spark.io.readers import parquet_schema
from finance_etl_spark.operators.incremental import incremental_new_records


# --- parquet-backed (engine-native) -----------------------------------------

def read_existing_keys(
    spark: SparkSession, path: str, key_col: str = "surrogate_key"
) -> DataFrame | None:
    """D1: key scan with projection pushdown — only the key column is
    read from the sink (column pruning reaches the parquet reader).
    The schema comes from one footer, so the scan launches no job, and
    that footer is found with one listing per directory level
    (``io.readers._first_data_file``), so building the scan makes the
    same number of py4j calls however many appends the sink holds.

    Returns None only when the sink does not exist yet or holds no data
    file. Any other failure (an unreadable or corrupt part file) raises:
    treating it as an empty sink would append every row again and
    duplicate surrogate keys."""
    try:
        schema = parquet_schema(spark, path)
    except FileNotFoundError:
        return None
    return spark.read.schema(schema).parquet(path).select(key_col)


def append_new_records(
    source: DataFrame, path: str, key_col: str = "surrogate_key"
) -> int:
    """D3+D4+J1: anti-join against existing keys and append only the
    new rows, in one Spark job besides the key broadcast. Returns rows
    written, counted by an ``Observation`` on the written rows.

    D4 (conditional load) holds for rows, not files: a batch with no
    new key adds 0 rows and returns 0, but Spark still commits one
    schema-only part file, as it does for every empty write partition.
    The sink stays readable by ``read_existing_keys``. Skipping that
    file would need a second job over the batch before the write."""
    existing = read_existing_keys(source.sparkSession, path, key_col)
    new = source if existing is None else incremental_new_records(
        source, existing, key_col
    )
    # unnamed: concurrent or nested appends cannot share a metric name
    seen = Observation()
    counted = new.observe(seen, F.count(F.lit(1)).alias("n"))
    counted.write.mode("append").parquet(path)
    return seen.get["n"]


# --- JDBC (reference parity; needs a driver jar) ----------------------------

def jdbc_read(
    spark: SparkSession, url: str, query: str, properties: dict | None = None
) -> DataFrame:
    """D2: generic JDBC select (reference _select_data,
    utils/db_manager.py:75-83). Catalyst pushes projections/filters
    into the remote query where the dialect allows."""
    reader = spark.read.format("jdbc").option("url", url).option(
        "query", query
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_scan_keys(
    spark: SparkSession,
    url: str,
    table: str,
    key_col: str = "surrogate_key",
    properties: dict | None = None,
) -> DataFrame:
    """D1: existing-key scan — the projection is pushed into the remote
    SQL, so only key bytes cross the wire (the reference does this by
    hand at utils/db_manager.py:56-57)."""
    return jdbc_read(
        spark, url, f"SELECT {key_col} FROM {table}", properties
    )


def jdbc_append(
    df: DataFrame, url: str, table: str, properties: dict | None = None
) -> None:
    """D3: batched parallel append (one JDBC connection per partition —
    versus the reference's single-connection row loop via to_sql,
    utils/db_manager.py:85-91)."""
    writer = df.write.format("jdbc").option("url", url).option(
        "dbtable", table
    ).mode("append")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
