"""Reference ingest-parity queries (SURVEY.md §2.A) with DuckDB oracles.

Both sides are generated from the SAME ingest config
(fixtures/ingest_config.yaml): the Spark side via ingest.pipeline, the
oracle side by emitting equivalent DuckDB SQL over ``read_csv`` of the
committed fixture files. This exercises S1-S4, P1-P4, T1-T3, T5-T11,
U1, J1 and F1 end-to-end (T4 ``processed_at`` is non-deterministic and
is checked rows-only / in pytest).

Reference semantics covered here: utils/data_manager.py:34-44 (S2),
:143-159 (S3), :161-170 (S4), :46-57 (P1/P2), :59-95 (T1-T11, P3),
:138 (U1), :172-201 (J1).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_etl_spark.functions.keys import surrogate_key, surrogate_key_sql
from finance_etl_spark.functions.money import dsum, o_dsum
from finance_etl_spark.ingest import load_config, read_group, run_ingest, transform_group
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.registry import register, scratch_dir

REPO_ROOT = Path(__file__).resolve().parent.parent.parent
FIX_DIR = str(REPO_ROOT / "fixtures" / "ingest")
CONFIG_PATH = str(REPO_ROOT / "fixtures" / "ingest_config.yaml")

CONFIG = load_config(CONFIG_PATH)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL generation (mirrors ingest.pipeline from the same config).

def _q(s: str) -> str:
    return s.replace("'", "''")


def _sql_raw(cfg) -> str:
    """read_csv + rename + filename metadata for one file group."""
    glob = f"{FIX_DIR}/{cfg.bank}_*_{cfg.mapping_type}_*.csv"
    renames = ", ".join(
        f'"{src}" AS "{dst}"' for src, dst in cfg.original_fields.items()
    )
    return f"""
        SELECT {renames},
               regexp_extract(filename, '([^/]+)$', 1) AS file_name,
               regexp_extract(regexp_extract(filename, '([^/]+)$', 1),
                              '{CONFIG.file_pattern}', 2) AS acc_type
        FROM read_csv('{glob}', delim='{_q(cfg.csv_separator)}', header=true,
                      all_varchar=true, filename=true)
    """


def _sql_key(cols) -> str:
    return surrogate_key_sql(cols, quote=lambda c: f'"{c}"')


def _sql_case(d: dict, key_col: str) -> str:
    whens = " ".join(
        f"WHEN '{_q(str(k))}' THEN "
        + (f"'{_q(v)}'" if isinstance(v, str) else str(v))
        for k, v in d.items()
    )
    return f'(CASE "{key_col}" {whens} END)'


def _sql_transform(cfg) -> str:
    """SELECT list mirroring transform_group, minus processed_at."""
    key = _sql_key(cfg.surrogate_key_columns)
    if cfg.mapping_type == "stm":
        f = _q(cfg.date_format)
        cols = [
            f"{key} AS surrogate_key",
            '"acc_number"',
            f"{_sql_case(cfg.accounts, 'acc_number')} AS acc_name",
            f"strptime(\"dt\", '{f}') AS dt",
            f"year(strptime(\"dt\", '{f}')) AS \"year\"",
            f"strftime(strptime(\"dt\", '{f}'), '%Y-%m') AS ym",
            f"TRY_CAST(replace(\"sum\", ',', '.') AS DOUBLE)"
            f" * {_sql_case(cfg.debit_multiplier, 'dc')} AS \"sum\"",
            '"dc"',
            '"payee"',
            f"'{_q(cfg.bank)}' AS bank_name",
            '"acc_type"',
            '"file_name"',
        ]
    else:
        f = _q(cfg.date_format)
        cols = [
            f"{key} AS surrogate_key",
            f"strptime(\"send_dt\", '{f}') AS send_dt",
            f"strptime(\"effect_dt\", '{f}') AS effect_dt",
            f"year(strptime(\"effect_dt\", '{f}')) AS effect_year",
            f"strftime(strptime(\"effect_dt\", '{f}'), '%Y-%m') AS effect_ym",
            '"isin"',
            '"quantity"',
            '"price"',
            f"'{_q(cfg.bank)}' AS bank_name",
            '"acc_type"',
            '"file_name"',
        ]
    return ",\n               ".join(cols)


def _sql_pipeline(mapping_type: str) -> str:
    """WITH-chained union of all configured banks for one mapping_type."""
    ctes, selects = [], []
    for cfg in CONFIG.groups:
        if cfg.mapping_type != mapping_type:
            continue
        raw = f"{cfg.bank}_{cfg.mapping_type}_raw"
        t = f"{cfg.bank}_{cfg.mapping_type}_t"
        ctes.append(f"{raw} AS ({_sql_raw(cfg)})")
        ctes.append(
            f"{t} AS (SELECT {_sql_transform(cfg)} FROM {raw} WHERE acc_type <> '')"
        )
        selects.append(f"SELECT * FROM {t}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


_STM_FIELDS_NO_TS = [
    c
    for c in CONFIG.group("stm", "alpha").desired_fields
    if c != "processed_at"
]
_SEC_FIELDS_NO_TS = [
    c for c in CONFIG.group("sec", "beta").desired_fields if c != "processed_at"
]


# ---------------------------------------------------------------------------
# Pipelines (S1-S4, P1-P3, T1-T11, U1).

@register(
    "ingest_stm_pipeline",
    tags=("ingest", "csv"),
    oracle=_sql_pipeline("stm"),
)
def ingest_stm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full bank-statement ingest: multi-bank CSV glob read, filename
    metadata, rename, surrogate key on raw values, account lookup,
    date parse (per-bank strftime format), comma-normalize + try_cast +
    D/C sign flip, final projection, cross-bank union."""
    return run_ingest(spark, FIX_DIR, CONFIG)["stm"].select(*_STM_FIELDS_NO_TS)


@register(
    "ingest_sec_pipeline",
    tags=("ingest", "csv"),
    oracle=_sql_pipeline("sec"),
)
def ingest_sec_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Securities-report ingest: dual date parse + effect_year/ym."""
    return run_ingest(spark, FIX_DIR, CONFIG)["sec"].select(*_SEC_FIELDS_NO_TS)


@register(
    "ingest_file_metadata",
    tags=("ingest", "csv"),
    oracle=f"""
        WITH stm AS ({_sql_pipeline('stm')}),
             sec AS ({_sql_pipeline('sec')})
        SELECT file_name, bank_name, acc_type, mapping_type, COUNT(*) AS n_rows
        FROM (SELECT file_name, bank_name, acc_type, 'stm' AS mapping_type FROM stm
              UNION ALL
              SELECT file_name, bank_name, acc_type, 'sec' AS mapping_type FROM sec)
        GROUP BY file_name, bank_name, acc_type, mapping_type
    """,
)
def ingest_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file load accounting (S3 metadata + A1 counts). Files that
    fail the regex or have no config never appear — skip semantics."""
    parts = []
    for t, df in run_ingest(spark, FIX_DIR, CONFIG).items():
        parts.append(
            df.select(
                "file_name", "bank_name", "acc_type", F.lit(t).alias("mapping_type")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("file_name", "bank_name", "acc_type", "mapping_type").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "ingest_incremental_new",
    tags=("ingest", "dedup"),
    oracle=f"""
        WITH stm AS ({_sql_pipeline('stm')}),
             existing AS (SELECT surrogate_key FROM stm
                          WHERE file_name = 'alpha_current_stm_20250101.csv')
        SELECT s.* FROM stm s
        ANTI JOIN existing e ON s.surrogate_key = e.surrogate_key
    """,
)
def ingest_incremental_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 incremental anti-join dedup: treat the first file's keys as
    already loaded; only genuinely new rows survive (duplicate rows in
    later files are dropped). Reference utils/data_manager.py:172-201."""
    from finance_etl_spark.operators.incremental import incremental_new_records

    stm = run_ingest(spark, FIX_DIR, CONFIG)["stm"].select(*_STM_FIELDS_NO_TS)
    existing = stm.filter(
        F.col("file_name") == "alpha_current_stm_20250101.csv"
    ).select("surrogate_key")
    return incremental_new_records(stm, existing)


# ---------------------------------------------------------------------------
# Standalone T-op queries over fixtures / parquet.

@register(
    "ingest_safe_cast",
    tags=("ingest", "scalar"),
    oracle=f"""
        WITH raw AS ({_sql_raw(CONFIG.group('stm', 'alpha'))})
        SELECT acc_number, "dt", "sum" AS raw_amount,
               replace("sum", ',', '.') AS normalized,
               TRY_CAST(replace("sum", ',', '.') AS DOUBLE) AS parsed
        FROM raw WHERE acc_type <> ''
    """,
)
def ingest_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9+T10 isolated: decimal-comma normalize then coerce-to-null
    cast ('N/A' -> null, reference utils/data_manager.py:75)."""
    cfg = CONFIG.group("stm", "alpha")
    raw = read_group(spark, FIX_DIR, cfg, CONFIG.file_pattern)
    normalized = F.regexp_replace(F.col("sum"), ",", ".")
    return raw.select(
        "acc_number",
        "dt",
        F.col("sum").alias("raw_amount"),
        normalized.alias("normalized"),
        normalized.try_cast("double").alias("parsed"),
    )


@register(
    "ingest_surrogate_key_nulls",
    tags=("ingest", "hash"),
    oracle="""
        SELECT c_custkey,
               md5(concat_ws('#',
                   coalesce(CAST(c_custkey AS STRING), 'nan'),
                   coalesce(nullif(c_mktsegment, 'BUILDING'), 'nan'),
                   coalesce(c_name, 'nan'))) AS surrogate_key
        FROM customer
    """,
)
def ingest_surrogate_key_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2: '#'-joined MD5 key with null->'nan' encoding (pandas
    astype(str) parity; reference utils/data_manager.py:62-63). The
    nullif injects nulls so the encoding is actually exercised."""
    c = load_table(spark, sf_dir, "customer")
    key = surrogate_key(
        [
            F.col("c_custkey"),
            F.nullif("c_mktsegment", F.lit("BUILDING")),
            F.col("c_name"),
        ]
    )
    return c.select("c_custkey", key.alias("surrogate_key"))


@register(
    "ingest_map_lookup",
    tags=("ingest", "join"),
    oracle="""
        SELECT n_nationkey, n_name,
               (CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
                                 WHEN 2 THEN 'ASIA' END) AS region_name
        FROM nation
    """,
)
def ingest_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: literal-map lookup, missing key -> null (regions 3,4 are
    deliberately absent from the map, matching pandas .map)."""
    n = load_table(spark, sf_dir, "nation")
    lookup = F.create_map(
        F.lit(0), F.lit("AFRICA"), F.lit(1), F.lit("AMERICA"), F.lit(2), F.lit("ASIA")
    )
    return n.select(
        "n_nationkey", "n_name", lookup[F.col("n_regionkey")].alias("region_name")
    )


@register(
    "ingest_signed_amount",
    tags=("ingest", "scalar"),
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               o_totalprice * (CASE o_orderstatus WHEN 'F' THEN -1
                               WHEN 'O' THEN 1 WHEN 'P' THEN 1 END) AS signed_amount
        FROM orders
    """,
)
def ingest_signed_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: debit/credit sign flip via multiplier-map lookup
    (reference utils/data_manager.py:76), applied to order status."""
    o = load_table(spark, sf_dir, "orders")
    mult = F.create_map(
        F.lit("F"), F.lit(-1), F.lit("O"), F.lit(1), F.lit("P"), F.lit(1)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * mult[F.col("o_orderstatus")]).alias("signed_amount"),
    )


@register("ingest_load_stamp", tags=("ingest",))
def ingest_load_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: current UTC load timestamp — non-deterministic, rows-only
    check (pytest asserts the value is 'now' within tolerance)."""
    stm = run_ingest(spark, FIX_DIR, CONFIG)["stm"]
    return stm.groupBy("bank_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("processed_at").alias("loaded_at"),
    )


FIX_CORRUPT_DIR = str(REPO_ROOT / "fixtures" / "ingest_corrupt")


@register(
    "ingest_corrupt_quarantine",
    tags=("ingest", "csv", "permissive"),
    oracle=f"""
        WITH good AS (
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
                   COUNT(*) AS n_good
            FROM read_csv('{FIX_CORRUPT_DIR}/alpha_*_stm_*.csv', delim=';',
                          header=true, all_varchar=true, ignore_errors=true,
                          filename=true)
            GROUP BY 1
        ),
        lines AS (
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
                   COUNT(*) - 1 AS n_rows
            FROM read_csv('{FIX_CORRUPT_DIR}/alpha_*_stm_*.csv', delim=chr(1),
                          header=false, all_varchar=true,
                          columns={{'line': 'VARCHAR'}}, filename=true)
            GROUP BY 1
        )
        SELECT l.file_name,
               coalesce(g.n_good, 0) AS n_good,
               l.n_rows - coalesce(g.n_good, 0) AS n_quarantined
        FROM lines l LEFT JOIN good g USING (file_name)
    """,
)
def ingest_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row error isolation (S2 cross-cutting semantics): PERMISSIVE
    read of a fixture containing structurally-malformed lines, split
    into clean rows vs quarantined raw lines, summarized per file. The
    reference throws the whole file away on any error
    (utils/data_manager.py:42-44); here 3 of 5 rows survive and the 2
    malformed lines stay auditable. The DuckDB oracle derives the same
    counts independently via ignore_errors + a raw line count."""
    from finance_etl_spark.ingest import read_group_permissive
    from finance_etl_spark.ingest.pipeline import CORRUPT_COL

    cfg = CONFIG.group("stm", "alpha")
    df = read_group_permissive(spark, FIX_CORRUPT_DIR, cfg, CONFIG.file_pattern)
    # Spark disallows queries whose only referenced CSV column is the
    # corrupt-record channel (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
    # documented workaround is caching the parsed relation. Real
    # pipelines don't hit this: quarantine_split consumers always
    # reference data columns.
    df = df.cache()
    return df.groupBy("file_name").agg(
        F.sum(F.when(F.col(CORRUPT_COL).isNull(), 1).otherwise(0)).alias("n_good"),
        F.sum(F.when(F.col(CORRUPT_COL).isNotNull(), 1).otherwise(0)).alias(
            "n_quarantined"
        ),
    )


@register(
    "ddl_table_roundtrip",
    tags=("ddl", "catalog"),
    oracle="SELECT r_regionkey, r_name FROM region",
)
def ddl_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1-X3 end-to-end: CREATE SCHEMA, destructive drop+create of a
    table whose StructType comes from the reference's 5-type config
    vocabulary (db_init.py:20-43), INSERT the region dimension, read
    back by catalog name. External LOCATION (tempdir) so the query is
    independent of the session's warehouse directory."""
    from finance_etl_spark.io.ddl import recreate_tables

    recreate_tables(
        spark,
        "engine_ddl",
        {
            "region_cfg": {
                "r_regionkey": {"type": "Integer", "nullable": False},
                "r_name": {"type": "String", "length": 64},
            }
        },
        location_root=scratch_dir("ddl_rt_"),
    )
    load_table(spark, sf_dir, "region").select("r_regionkey", "r_name").write.mode(
        "append"
    ).insertInto("engine_ddl.region_cfg")
    return spark.table("engine_ddl.region_cfg")


@register(
    "sink_partitioned_pruning",
    tags=("sink", "partitioning", "scale"),
    oracle="""
        SELECT event_type, COUNT(*) AS n_events
        FROM events
        WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
        GROUP BY event_type
    """,
)
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition pruning: events written
    ``partitionBy(event_date)``, then a single-day read touches ONLY
    that day's directory (PartitionFilters in the scan — asserted in
    tests/test_plan_shapes.py). At 100 TB this is the difference
    between scanning one day and scanning three years. The probe date
    is resolved driver-side (one MIN — metadata-sized, like the tf-idf
    corpus count)."""
    e = load_table(spark, sf_dir, "events")
    out = scratch_dir("part_sink_")
    e.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).mode("overwrite").parquet(out)

    first_day = e.agg(F.min(F.to_date("ts"))).collect()[0][0]
    back = spark.read.parquet(out).filter(F.col("event_date") == F.lit(first_day))
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


@register(
    "sink_compact_small_files",
    tags=("sink", "maintenance", "scale"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(64 AS BIGINT) AS files_before,
               CAST(4 AS BIGINT) AS files_after
        FROM orders
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every long-running
    ingest needs (the reference's per-file loop writes one output per
    input file, reference: utils/data_manager.py:114-138, which at
    100 TB means millions of KB-sized parquet files killing scan
    planning). Simulate the fragmented state (64-way round-robin
    write), then compact by rewriting at a target partition count
    derived from the actual on-disk byte size — reads scale with data,
    file count scales with bytes/target, never with ingest batch
    count. Row preservation is oracle-checked; file counts are part of
    the declared result so the compaction ratio is asserted too."""
    import glob
    import math
    import os

    target_file_bytes = 8 * 1024 * 1024  # 8 MiB at sf0.01; config at scale
    o = load_table(spark, sf_dir, "orders")
    frag_dir = scratch_dir("frag_")
    o.repartition(64).write.mode("overwrite").parquet(frag_dir)

    def _parquet_files(d: str) -> list[str]:
        return glob.glob(os.path.join(d, "*.parquet"))

    frag_files = _parquet_files(frag_dir)
    total_bytes = sum(os.path.getsize(f) for f in frag_files)
    n_target = max(1, math.ceil(total_bytes / target_file_bytes))
    # fixture is tiny: floor at 4 files so the demo ratio 64 -> 4 is
    # deterministic for the oracle; at scale n_target comes from
    # total_bytes alone
    n_target = max(n_target, 4)
    compact_dir = scratch_dir("compact_")
    frag = spark.read.parquet(frag_dir)
    frag.repartition(n_target).write.mode("overwrite").parquet(compact_dir)

    back = spark.read.parquet(compact_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(len(frag_files)).cast("long").alias("files_before"),
        F.lit(len(_parquet_files(compact_dir))).cast("long").alias("files_after"),
    )


@register(
    "dq_constraint_checks",
    tags=("quality", "agg", "join"),
    oracle="""
        SELECT
            (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
             FROM orders) AS pk_dups,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
                AS fk_orphans,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_totalprice IS NULL OR o_totalprice <= 0)
                AS bad_totalprice,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderdate < DATE '1990-01-01'
                OR o_orderdate > DATE '2000-12-31')
                AS date_out_of_range
    """,
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: primary-key uniqueness,
    foreign-key orphans, value nullity/positivity, and date-range
    violations — the checks the reference performs implicitly by
    crashing (reference: utils/data_manager.py:96-112 assumes clean
    frames) made explicit and distributed.

    Shapes: PK check is one hash agg (count vs distinct count); FK
    orphans is a broadcast LEFT ANTI join (never a NOT IN subquery,
    which null-traps and can't broadcast); the scalar checks fuse into
    a single scan projection. All four land in one 1-row frame so a
    scheduler can gate the load on `SELECT * FROM checks WHERE ...`."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pk = o.agg(
        (F.count("o_orderkey") - F.count_distinct("o_orderkey")).alias("pk_dups")
    )
    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
    )
    scalars = o.agg(
        F.sum(
            (F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).cast(
                "long"
            )
        ).alias("bad_totalprice"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") > F.lit("2000-12-31").cast("timestamp"))
            ).cast("long")
        ).alias("date_out_of_range"),
    )
    return pk.crossJoin(orphans).crossJoin(scalars)


@register(
    "source_python_datasource",
    tags=("source", "datasource", "spark4"),
    oracle=f"""
        WITH ticks AS (
            SELECT i AS tick_id,
                   TIMESTAMP '2024-01-01' + i * INTERVAL 1 SECOND AS ts,
                   100.0 + ((i * 2654435761) % 2001 - 1000) / 100.0 AS px
            FROM range(0, 16000) t(i)
        )
        SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS bar_minute,
               COUNT(*) AS n_ticks,
               MIN(px) AS low, MAX(px) AS high,
               {o_dsum('px')}
                 AS px_volume
        FROM ticks GROUP BY bar_minute
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source through the Spark 4 Python DataSource API
    (io/ticksource.py): 8 declared input partitions read
    executor-parallel, then a minute-bar aggregation on top. The
    source is a pure function of tick_id, so the DuckDB oracle rebuilds
    the identical 16,000 rows from range() and the differential gate
    covers a NON-FILE source end-to-end. Replaces the reference's
    pandas-only, driver-bound ingestion extension point
    (reference: utils/data_manager.py:34-44)."""
    from finance_etl_spark.functions.money import dsum
    from finance_etl_spark.io.ticksource import TickDataSource

    spark.dataSource.register(TickDataSource)
    ticks = (
        spark.read.format("ticks")
        .option("parts", 8)
        .option("rows_per_part", 2000)
        .load()
    )
    return ticks.groupBy(
        F.date_trunc("minute", "ts").alias("bar_minute")
    ).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.min("px").alias("low"),
        F.max("px").alias("high"),
        dsum("px").alias("px_volume"),
    )


@register(
    "sink_multi_format_roundtrip",
    tags=("sink", "source", "formats"),
    oracle="""
        SELECT l_returnflag,
               CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
               CAST(CAST(2 * SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS STRING) AS DOUBLE)
                 AS total_price
        FROM lineitem
        WHERE l_quantity >= 25
        GROUP BY l_returnflag
    """,
)
def sink_multi_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-agnostic source/sink matrix: one filtered projection of
    lineitem written as ORC and as JSON-lines, read back (JSON with an
    EXPLICIT schema — no inference scan), unioned and re-aggregated.
    The result must equal exactly 2× the parquet-side aggregate: ORC
    round-trips columnar-native, and Spark's shortest-repr double JSON
    encoding parses back bit-identical, which this query proves through
    the differential gate. Both reads are splittable distributed scans;
    the union is a lazy lineage merge, not a materialization."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 25)
        .select("l_returnflag", "l_quantity", "l_extendedprice")
    )
    base = scratch_dir("fmt_roundtrip_")
    li.write.mode("overwrite").orc(f"{base}/orc")
    li.write.mode("overwrite").json(f"{base}/json")

    schema = "l_returnflag string, l_quantity double, l_extendedprice double"
    back = spark.read.orc(f"{base}/orc").unionByName(
        spark.read.schema(schema).json(f"{base}/json")
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("total_price"),
    )


@register(
    "ddl_schema_evolution",
    tags=("ddl", "schema-evolution", "sink"),
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN priority_rank IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_v1_rows,
               COALESCE({o_dsum('priority_rank')}, 0.0) AS rank_total
        FROM (
            SELECT o_orderkey, o_orderstatus, NULL AS priority_rank
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_orderstatus,
                   CAST(length(o_orderpriority) AS DOUBLE) AS priority_rank
            FROM orders WHERE o_orderkey % 2 = 1
        )
        GROUP BY o_orderstatus
    """,
)
def ddl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet table: v1 writes (orderkey,
    status), v2 appends the same table with an ADDED column
    (priority_rank) — ``mergeSchema`` reconciles the footers into the
    union schema and v1 rows surface the new column as NULL, exactly
    the add-a-column migration a 100 TB table gets in place (no
    rewrite of existing files; old files simply lack the column).
    The aggregate proves both generations coexist: per status, total
    rows, NULL-count from v1 files, and a decimal-exact sum over the
    v2-only column."""
    o = load_table(spark, sf_dir, "orders")
    out = scratch_dir("schema_evo_")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    v1.write.mode("append").parquet(out)
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.length("o_orderpriority").cast("double").alias("priority_rank"),
    )
    v2.write.mode("append").parquet(out)
    evolved = spark.read.option("mergeSchema", "true").parquet(out)
    return evolved.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("priority_rank").isNull(), 1).otherwise(0)
        ).alias("n_v1_rows"),
        F.coalesce(
            F.sum(F.col("priority_rank").cast("decimal(30,10)")).cast("double"),
            F.lit(0.0),
        ).alias("rank_total"),
    )


def _dpp_join(spark: SparkSession, sf_dir: str):
    """(fact, joined) for sink_dynamic_partition_pruning and its plan
    test: date-partitioned events fact joined to a filtered date dim."""
    e = load_table(spark, sf_dir, "events")
    out = scratch_dir("dpp_sink_")
    e.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        fact.select("event_date")
        .distinct()
        .filter(F.dayofmonth("event_date") <= 3)
    )
    joined = fact.join(dim, "event_date").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return fact, joined


@register(
    "sink_dynamic_partition_pruning",
    tags=("sink", "partitioning", "optimizer", "scale"),
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        WHERE day(CAST(ts AS DATE)) <= 3
        GROUP BY event_type
    """,
)
def sink_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is date-partitioned on
    disk and the pruning predicate lives on the DIM side — only at
    runtime, after the dim subquery executes, does Spark know which
    partition directories to read, and the scan shows a
    dynamicpruning#N expression in its PartitionFilters (plan-asserted
    in tests/test_plan_shapes.py). At 100 TB this is the difference
    between reading 3 days and reading the whole table when the filter
    is a join, not a literal."""
    _, joined = _dpp_join(spark, sf_dir)
    return joined


def _zorder_bits(a, b, bits: int = 6):
    """Morton/Z-value: interleave the low ``bits`` bits of two ints —
    a pure JVM bit expression (shiftleft/shiftright/bitwise-and), so
    the clustering key costs one codegen'd projection."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


ZORDER_N_FILES = 16


def write_zorder_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events z-ordered on (user_bucket, hour_of_day): range-
    partition + sort on the Morton value so each output file covers a
    compact rectangle of the 2-D key space, giving parquet footer
    min/max stats that prune MOST files for any small rectangle query
    on EITHER dimension — the multi-dimensional data-skipping layout
    (a single-column sort can only skip on its leading column).
    Returns the output directory."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_id",
        "event_type",
        "value",
        (F.col("user_id") % 64).cast("int").alias("user_bucket"),
        F.hour("ts").alias("hour_of_day"),
    ).withColumn(
        "z", _zorder_bits(F.col("user_bucket"), F.col("hour_of_day"))
    )
    out = scratch_dir("zorder_sink_")
    (
        keyed.repartitionByRange(ZORDER_N_FILES, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


@register(
    "sink_zorder_clustering",
    tags=("sink", "clustering", "data-skipping", "scale"),
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
        FROM (
            SELECT event_type, value,
                   user_id % 64 AS user_bucket,
                   hour(ts) AS hour_of_day
            FROM events
        )
        WHERE user_bucket BETWEEN 8 AND 15 AND hour_of_day BETWEEN 8 AND 11
        GROUP BY event_type
    """,
)
def sink_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered sink + rectangle query: the
    table is laid out so parquet min/max footer stats skip most files
    for a 2-D range predicate — tests/test_ingest.py reads the footers
    and asserts the rectangle overlaps a minority of files on BOTH
    dimensions' stats. The oracle checks the rectangle aggregate
    itself. At 100 TB this layout choice is the difference between
    scanning the table and scanning a few percent of it for
    multi-dimensional slicing workloads."""
    out = write_zorder_events(spark, sf_dir)
    back = spark.read.parquet(out).filter(
        F.col("user_bucket").between(8, 15) & F.col("hour_of_day").between(8, 11)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("sum_value"),
    )


@register(
    "ingest_pandas_api_parity",
    tags=("ingest", "parity", "pandas"),
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               {o_dsum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
    """,
)
def ingest_pandas_api_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference is a pandas program (reference:
    utils/data_manager.py throughout) — this query runs a
    reference-shaped groupby.agg through the PANDAS API ON SPARK
    (pyspark.pandas), proving the migration path where existing pandas
    ETL keeps its syntax and gains distributed execution: the ps
    DataFrame compiles to the SAME Catalyst plan a native groupBy
    would (hash agg with map-side partials), with none of the
    driver-memory residency of real pandas. The decimal-exact money
    sum rides a to_spark() hop because ps.agg would sum in float —
    the one semantic upgrade over verbatim pandas."""
    import pyspark.pandas as ps

    with ps.option_context("compute.default_index_type", "distributed"):
        pdf = ps.read_parquet(
            f"{sf_dir}/orders.parquet",
            columns=["o_orderstatus", "o_orderpriority", "o_totalprice"],
        )
        counted = (
            pdf.groupby(["o_orderstatus", "o_orderpriority"])
            .size()
            .rename("n_orders")
            .reset_index()
        )
    sums = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)"))
            .cast("double")
            .alias("total_price")
        )
    )
    return counted.to_spark().join(
        sums, ["o_orderstatus", "o_orderpriority"]
    )


@register(
    "sink_dynamic_partition_overwrite",
    tags=("sink", "partitioning", "maintenance"),
    oracle=f"""
        WITH days AS (
            SELECT CAST(ts AS DATE) AS event_date, event_type, value FROM events
        ),
        first_day AS (SELECT MIN(event_date) AS d FROM days)
        SELECT event_date,
               COUNT(*) AS n_events,
               {o_dsum(
                   'CASE WHEN event_date = (SELECT d FROM first_day) THEN value * 2'
                   ' ELSE value END',
               )} AS sum_value
        FROM days
        GROUP BY event_date
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical partition rewrite — the backfill primitive: with
    ``partitionOverwriteMode=dynamic``, an overwrite touches ONLY the
    partitions present in the incoming frame (here: the first day,
    restated with corrected values), while static mode would wipe the
    whole table. Every other day's files are physically untouched — a
    one-day backfill on a 3-year 100 TB table rewrites one day. The
    read-back aggregates per day and the oracle rebuilds the expected
    post-backfill content: day one doubled, the rest intact."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("event_date"), "event_type", "value"
    )
    out = scratch_dir("dyn_overwrite_")
    e.write.partitionBy("event_date").mode("overwrite").parquet(out)

    first_day = e.agg(F.min("event_date")).collect()[0][0]
    fixed = e.filter(F.col("event_date") == F.lit(first_day)).withColumn(
        "value", F.col("value") * 2
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    # capture None when the conf was never explicitly set, and restore
    # by UNSETTING — writing back a guessed default would turn an
    # inherited session default into an explicit override
    old_mode = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        fixed.write.partitionBy("event_date").mode("overwrite").parquet(out)
    finally:
        if old_mode is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old_mode)

    back = spark.read.parquet(out)
    return back.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("sum_value"),
    )


@register(
    "sink_nested_struct_pruning",
    tags=("sink", "nested", "scale"),
    oracle=f"""
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               {o_dsum('o_totalprice')} AS total
        FROM orders
        GROUP BY status
    """,
)
def sink_nested_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested STRUCT columns with schema pruning: orders are re-shaped
    into a document-style record (order struct + customer struct —
    the shape web-scale event/doc stores actually have), written to
    parquet, and read back touching ONE leaf per struct. Spark's
    nested-schema-pruning pushes the leaf projection into the parquet
    ReadSchema (asserted in tests/test_plan_shapes.py): the scan
    decodes `meta.status` and `fin.price`, not the whole record — on
    a 100 TB corpus with KB-sized records per row that is the
    difference between reading terabytes and reading gigabytes."""
    o = load_table(spark, sf_dir, "orders")
    nested = o.select(
        F.struct(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("meta"),
        F.struct(
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderdate").alias("odate"),
        ).alias("fin"),
    )
    out = scratch_dir("nested_sink_")
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("meta.status").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("fin.price").cast("decimal(30,10)"))
        .cast("double")
        .alias("total"),
    )


_QUOTED_CSV = f"{FIX_DIR}/delta_current_stm_20250105.csv"


@register(
    "ingest_csv_quoted_multiline",
    tags=("ingest", "csv", "source"),
    oracle=f"""
        SELECT "Account" AS acc_number,
               "Payee" AS payee,
               CAST(replace("Amount", ',', '.') AS DOUBLE)
                 * (CASE WHEN "D/C" = 'D' THEN -1 ELSE 1 END) AS signed_amount,
               CAST(length("Payee") AS INT) AS payee_len,
               contains("Payee", chr(10)) AS has_newline
        FROM read_csv('{_QUOTED_CSV}', delim=';', header=true, quote='"',
                      escape='"', all_varchar=true)
    """,
)
def ingest_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV edge cases the reference's pandas reader handles
    implicitly and a naive line-splitter corrupts: quoted fields
    containing the separator, EMBEDDED NEWLINES (multiLine=true makes
    the record span physical lines — which also means such files are
    not line-splittable, the scale tradeoff this option documents),
    and doubled-quote escapes. Parsed values feed the same
    decimal-comma normalize + D/C sign flip battery (T9-T11) as the
    pipeline, and the oracle re-reads the identical fixture through
    DuckDB's RFC reader — byte-level parser agreement, not just row
    counts."""
    df = (
        spark.read.option("header", True)
        .option("sep", ";")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .option("inferSchema", False)
        .csv(_QUOTED_CSV)
    )
    signed = F.regexp_replace("Amount", ",", ".").cast("double") * F.when(
        F.col("`D/C`") == "D", -1
    ).otherwise(1)
    return df.select(
        F.col("Account").alias("acc_number"),
        F.col("Payee").alias("payee"),
        signed.alias("signed_amount"),
        F.length("Payee").cast("int").alias("payee_len"),
        F.col("Payee").contains("\n").alias("has_newline"),
    )


FW_DIR = str(REPO_ROOT / "fixtures" / "fixedwidth")

# (name, start 1-based, length) — the mainframe-style layout legacy
# banking feeds still ship: no delimiters, positions are the contract
_FW_LAYOUT = [
    ("account", 1, 20),
    ("symbol", 21, 10),
    ("quantity_milli", 31, 10),   # implied 3 decimal places
    ("price_micro", 41, 10),      # implied 4 decimal places
    ("as_of", 51, 8),             # yyyyMMdd
]


@register(
    "ingest_fixed_width",
    tags=("ingest", "source", "fixedwidth"),
    oracle="""
        WITH raw AS (
            SELECT column0 AS line
            FROM read_csv('__FW_DIR__/*.txt', header=false, delim=chr(1),
                          columns={'column0': 'VARCHAR'})
        ),
        parsed AS (
            SELECT trim(substr(line, 1, 20)) AS account,
                   trim(substr(line, 21, 10)) AS symbol,
                   CAST(substr(line, 31, 10) AS BIGINT) AS quantity_milli,
                   CAST(substr(line, 41, 10) AS BIGINT) AS price_micro,
                   strptime(substr(line, 51, 8), '%Y%m%d')::DATE AS as_of
            FROM raw
        )
        SELECT account, symbol,
               CAST(CAST(CAST(CAST(quantity_milli AS DECIMAL(18,0))
                    * CAST('0.001' AS DECIMAL(4,3)) AS DECIMAL(18,3))
                   AS STRING) AS DOUBLE) AS quantity,
               CAST(CAST(CAST(CAST(price_micro AS DECIMAL(18,0))
                    * CAST('0.0001' AS DECIMAL(5,4)) AS DECIMAL(18,4))
                   AS STRING) AS DOUBLE) AS price,
               as_of
        FROM parsed
        ORDER BY account, symbol
    """.replace("__FW_DIR__", FW_DIR),
)
def ingest_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/positional) file ingestion — the other
    legacy bank-feed format beside delimited CSV: read each line whole
    (spark.read.text — no delimiter interpretation at all), then slice
    columns by position with substring, trim padded text fields, and
    scale implied-decimal integers into money columns. The entire
    parse is one codegen'd projection per line; layout is declared as
    (name, start, length) data, so new record types are config, not
    code — the same config-dispatch philosophy as the reference's CSV
    ingest (utils/data_manager.py:161-170)."""
    raw = spark.read.option("pathGlobFilter", "*.txt").text(FW_DIR)
    cols = {
        name: F.substring(F.col("value"), start, length)
        for name, start, length in _FW_LAYOUT
    }
    return (
        raw.select(
            F.trim(cols["account"]).alias("account"),
            F.trim(cols["symbol"]).alias("symbol"),
            # exact scale-shift: int × DECIMAL literal (never decimal
            # DIVISION — r6 driver hash-fail traced to a build-dependent
            # DOUBLE fallback in division requantization). Presented as
            # VARCHAR-routed DOUBLE, not raw DECIMAL: the round driver's
            # canonicalizer flattens DECIMAL output columns differently
            # on its two fetch paths (Arrow -> Decimal('12.050') vs
            # pandas -> float64 12.05), so a DECIMAL output hash-fails
            # with byte-identical raw values (r6+r7 driver lesson; the
            # decimal-string parse to double is correctly rounded and
            # identical on both engines).
            (
                cols["quantity_milli"].cast("bigint").cast("decimal(18,0)")
                * F.expr("CAST('0.001' AS DECIMAL(4,3))")
            )
            .cast("decimal(18,3)")
            .cast("string")
            .cast("double")
            .alias("quantity"),
            (
                cols["price_micro"].cast("bigint").cast("decimal(18,0)")
                * F.expr("CAST('0.0001' AS DECIMAL(5,4))")
            )
            .cast("decimal(18,4)")
            .cast("string")
            .cast("double")
            .alias("price"),
            F.to_date(cols["as_of"], "yyyyMMdd").alias("as_of"),
        )
        .orderBy("account", "symbol")
    )


_GZ_DIR = str(REPO_ROOT / "fixtures" / "ingest_gz")


@register(
    "ingest_gzip_csv",
    tags=("ingest", "source"),
    oracle=f"""
        WITH alpha AS (
            SELECT TRY_CAST(replace(Amount, ',', '.') AS DOUBLE)
                   * CASE WHEN "D/C" = 'D' THEN -1 ELSE 1 END AS amt
            FROM read_csv('{_GZ_DIR}/alpha_current_stm_20250101.csv.gz',
                          delim = ';', header = true, all_varchar = true)
        ),
        beta AS (
            SELECT TRY_CAST(Summa AS DOUBLE)
                   * CASE WHEN DC = 'D' THEN -1 ELSE 1 END AS amt
            FROM read_csv('{_GZ_DIR}/beta_savings_stm_20250103.csv.gz',
                          delim = ',', header = true, all_varchar = true)
        ),
        u AS (SELECT amt FROM alpha UNION ALL SELECT amt FROM beta)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE amt IS NULL) AS BIGINT) AS n_bad,
               {o_dsum('amt')}
                   AS net_amount
        FROM u
    """,
)
def ingest_gzip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-source ingestion: the same statement CSVs arriving
    gzipped (the usual SFTP drop format) — Spark decompresses .gz
    transparently in the scan, the T9 decimal-comma normalize and T11
    D/C sign flip run unchanged on top, and T10 safe casts quarantine
    the fixture's 'N/A' amounts as NULLs (counted, not crashed). Two
    banks, two dialects (';' + comma-decimal vs ',' + dot-decimal),
    one decimal-exact net.

    Scale note: gzip is NOT splittable — each .gz file is one task, so
    parallelism = file count and a single 10 GB .gz serializes its
    scan. The ingest contract therefore caps archive size at the feed
    (many small .gz are fine: the reference's per-(bank,day) drop
    pattern, data_manager.py:34-44, gives natural file-level
    parallelism); for engine-owned data use zstd parquet, which splits
    by row group."""
    alpha = (
        spark.read.option("sep", ";")
        .option("header", True)
        .csv(f"{_GZ_DIR}/alpha_current_stm_20250101.csv.gz")
        .select(
            (
                F.regexp_replace(F.col("Amount"), ",", ".").try_cast("double")
                * F.when(F.col("D/C") == "D", -1).otherwise(1)
            ).alias("amt")
        )
    )
    beta = (
        spark.read.option("sep", ",")
        .option("header", True)
        .csv(f"{_GZ_DIR}/beta_savings_stm_20250103.csv.gz")
        .select(
            (
                F.col("Summa").try_cast("double")
                * F.when(F.col("DC") == "D", -1).otherwise(1)
            ).alias("amt")
        )
    )
    return alpha.unionByName(beta).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("amt").isNull(), 1)).alias("n_bad"),
        dsum("amt").alias("net_amount"),
    )


@register(
    "ingest_xml_roundtrip",
    tags=("ingest", "format", "xml"),
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               {o_dsum('o_totalprice')} AS total
        FROM orders
        WHERE o_orderkey % 7 = 0
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def ingest_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink (built into Spark 4): orders written as XML
    rows with a NESTED <details> element (structs map to nested
    elements — the shape real feed XML has), read back under an
    explicit schema, and aggregated — the round trip must be
    bit-exact, which is what the oracle checks (doubles survive via
    Spark's XML writer emitting full-precision literals). XML splits
    per row tag, so reads parallelize like any text source; the
    explicit schema avoids a whole-file inference pass — the same
    schema-on-read discipline as the CSV ingest (S2)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.struct("o_totalprice", "o_orderpriority").alias("details"),
        )
    )
    d = scratch_dir("xml_rt_")
    (
        o.repartition(4)
        .write.format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .mode("overwrite")
        .save(d)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey long, o_orderstatus string, "
            "details struct<o_totalprice: double, o_orderpriority: string>"
        )
        .load(d)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("details.o_totalprice")).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "ingest_type_inference_audit",
    tags=("ingest", "schema", "dq"),
    oracle=r"""
        WITH raw AS (
            SELECT CAST(o_orderkey AS STRING) AS c_key,
                   CAST(o_totalprice AS STRING) AS c_amount,
                   strftime(o_orderdate, '%Y-%m-%d') AS c_date,
                   o_orderpriority AS c_text
            FROM orders
        ),
        long AS (
            SELECT 'c_key' AS col_name, c_key AS v FROM raw
            UNION ALL SELECT 'c_amount', c_amount FROM raw
            UNION ALL SELECT 'c_date', c_date FROM raw
            UNION ALL SELECT 'c_text', c_text FROM raw
        )
        SELECT col_name,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_int_like,
               CAST(SUM(CASE WHEN regexp_matches(v,
                        '^-?[0-9]+\.[0-9]+$')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_float_like,
               CAST(SUM(CASE WHEN regexp_matches(v,
                        '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_date_like,
               CASE
                   WHEN SUM(CASE WHEN regexp_matches(v,
                        '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
                        THEN 1 ELSE 0 END) = COUNT(*) THEN 'date'
                   WHEN SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
                        THEN 1 ELSE 0 END) = COUNT(*) THEN 'bigint'
                   WHEN SUM(CASE WHEN regexp_matches(v,
                        '^-?[0-9]+(\.[0-9]+)?$')
                        THEN 1 ELSE 0 END) = COUNT(*) THEN 'double'
                   ELSE 'string'
               END AS inferred_type
        FROM long GROUP BY col_name
        ORDER BY col_name
    """,
)
def ingest_type_inference_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema type inference over string-typed raw columns — what a
    CSV ingester decides before casting (the reference dispatches
    per-file schemas from config; this op is the inference audit that
    validates such configs against the data): every column's values
    are classified by anchored integer/float/date regexes (RE2-stable
    classes) and a column-level verdict requires 100% conformance —
    exact integer counts, engine-identical regex semantics, one
    unpivot + one grouped scan. Disagreements between declared and
    inferred types are the #1 silent ingest failure."""
    o = load_table(spark, sf_dir, "orders")
    raw = o.select(
        F.col("o_orderkey").cast("string").alias("c_key"),
        F.col("o_totalprice").cast("string").alias("c_amount"),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("c_date"),
        F.col("o_orderpriority").alias("c_text"),
    )
    long = None
    for col in ("c_key", "c_amount", "c_date", "c_text"):
        part = raw.select(
            F.lit(col).alias("col_name"), F.col(col).alias("v")
        )
        long = part if long is None else long.unionAll(part)
    is_int = F.col("v").rlike("^-?[0-9]+$")
    is_float = F.col("v").rlike(r"^-?[0-9]+\.[0-9]+$")
    is_date = F.col("v").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
    is_num = F.col("v").rlike(r"^-?[0-9]+(\.[0-9]+)?$")
    agg = long.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum(is_int.cast("int")).cast("bigint").alias("n_int_like"),
        F.sum(is_float.cast("int")).cast("bigint").alias("n_float_like"),
        F.sum(is_date.cast("int")).cast("bigint").alias("n_date_like"),
        F.sum(is_num.cast("int")).cast("bigint").alias("n_num_like"),
    )
    return agg.select(
        "col_name",
        "n_values",
        "n_int_like",
        "n_float_like",
        "n_date_like",
        F.when(F.col("n_date_like") == F.col("n_values"), "date")
        .when(F.col("n_int_like") == F.col("n_values"), "bigint")
        .when(F.col("n_num_like") == F.col("n_values"), "double")
        .otherwise("string")
        .alias("inferred_type"),
    ).orderBy("col_name")
