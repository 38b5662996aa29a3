"""Reference-parity ingest pipeline, Spark-first.

The reference iterates files one by one in a Python loop, transforming
each with pandas and appending to an accumulator DataFrame (reference:
utils/data_manager.py:105-141 — O(files) driver passes, O(dataset)
driver memory). Here each (mapping_type, bank) group becomes ONE
distributed ``spark.read.csv`` over a glob — thousands of files scan in
parallel, filename metadata is derived per-row with
``input_file_name()`` + ``regexp_extract`` (S3), and the per-group
lineages are unioned lazily (U1). Nothing materializes on the driver,
and building the lineage launches no Spark job: each group's header
line is read on the driver (``io.readers.csv_header_schema``) instead
of by schema inference's jobs.

Each group's lineage is Spark SQL text rendered from the config: the
``file_name`` column, one projection for the renames and ``acc_type``
with the ``acc_type <> ''`` filter, then two for T1-T11 and the P3
order.
Catalyst builds the same plan from the text as from the equivalent
``withColumn``/``F.*`` chain (optimized and physical plans are equal but
for ``processed_at``), while the driver makes a few py4j round trips per
projection instead of several per column: about 350 per three-group
batch instead of 1,900-2,300.

T4 ``processed_at`` is bound by reference. The optimizer replaces
``current_timestamp()`` with a timestamp literal, and Spark writes
timestamp literals into the generated Java source; its compiled-class
cache is keyed by that source, so each batch compiled its projections
again. The stamp is read instead from a one-element array literal, which
generated code takes by reference, at an index the optimizer cannot fold
(``least(length(file_name), 0)``, always 0): every batch generates the
same source and the class cache serves it. It is still evaluated once
per query, so the rows of one mapping type in one batch share one value.
Under ANSI mode (Spark 4's default, and what ``get_spark`` runs) the
element is non-nullable, like ``current_timestamp()``; with
``spark.sql.ansi.enabled=false`` an array index may return null, so the
column is typed nullable there, though no value is null.

Semantics preserved from the reference:
- filename regex with exactly 3 groups -> (bank, acc_type,
  mapping_type); non-matching files are skipped (data_manager.py:143-159)
- config dispatch: unconfigured (mapping_type, bank) groups are never
  read (data_manager.py:161-170)
- T1/T2 surrogate key on RAW (pre-parse) string values, nulls encoded
  as 'nan' (data_manager.py:62-63; see functions.keys)
- T5 account lookup: missing key -> null (pandas .map semantics)
- T9/T10 decimal-comma normalize + coerce-to-null cast
  (data_manager.py:75)
- T11 debit/credit sign flip (data_manager.py:76)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_etl_spark.functions.datetime import strftime_to_java
from finance_etl_spark.functions.keys import surrogate_key_sql
from finance_etl_spark.functions.sqltext import ident, literal, map_literal, string
from finance_etl_spark.ingest.config import FileGroupConfig, IngestConfig
from finance_etl_spark.io.readers import csv_header_schema

_FILE_NAME = "regexp_extract(input_file_name(), '([^/]+)$', 1)"
# T4, bound by reference: see the module docstring.
_LOAD_STAMP = "array(current_timestamp())[least(length(file_name), 0)]"
# Parsed in transform_group's first projection; the columns derived from
# them are computed in its second.
_TIMESTAMPS = {"stm": ("dt",), "sec": ("send_dt", "effect_dt")}


def read_group(
    spark: SparkSession, data_dir: str, cfg: FileGroupConfig, file_pattern: str
) -> DataFrame | None:
    """One distributed CSV read per (mapping_type, bank) group (S1+S2),
    with filename metadata extraction (S3) and header rename (P1+P2).
    None when no file in ``data_dir`` matches the group's glob (or none
    has a header line): the group contributes no rows.

    All columns are read as strings (schema-on-read like the reference;
    typed parsing happens in the transform stage so the surrogate key
    can hash raw values). The schema comes from the driver
    (``csv_header_schema``: the header line Spark's own inference would
    pick, named by Spark's own tokenizer), so the read launches no Spark
    job. ``enforceSchema`` keeps its default: every file's first line is
    skipped as a header and its columns are taken by position.

    ``file_name`` is one SQL-text column, the renames and ``acc_type``
    one SQL-text projection; files matching the glob but not
    ``file_pattern`` leave ``acc_type`` empty and are filtered out."""
    options = {
        "header": "true",
        "sep": cfg.csv_separator,
        "pathGlobFilter": f"{cfg.bank}_*_{cfg.mapping_type}_*.csv",
    }
    schema = csv_header_schema(spark, data_dir, options)
    if schema is None:
        return None
    df = spark.read.schema(schema).options(**options).csv(data_dir)
    # withColumn: the derived file_name replaces a CSV column of that name
    return (
        df.withColumn("file_name", F.expr(_FILE_NAME))
        .selectExpr(
            *(f"{ident(src)} AS {ident(dst)}" for src, dst in cfg.original_fields.items()),
            "file_name",
            f"regexp_extract(file_name, {string(file_pattern)}, 2) AS acc_type",
        )
        .filter("acc_type <> ''")
    )


CORRUPT_COL = "_corrupt_record"


def read_group_permissive(
    spark: SparkSession, data_dir: str, cfg: FileGroupConfig, file_pattern: str
) -> DataFrame:
    """S2 with per-ROW error isolation (replaces the reference's
    per-FILE skip-on-error, utils/data_manager.py:42-44): PERMISSIVE
    mode parses what it can and captures structurally-malformed lines
    (wrong field count) verbatim in ``_corrupt_record`` instead of
    throwing away the whole file. Downstream: ``quarantine_split``.

    Requires an explicit schema (canonical names, declared CSV column
    order from the config) — the corrupt-record channel only exists on
    schema'd reads."""
    glob = f"{cfg.bank}_*_{cfg.mapping_type}_*.csv"
    fields = ", ".join(f"`{dst}` string" for dst in cfg.original_fields.values())
    df = (
        spark.read.option("header", True)
        .option("sep", cfg.csv_separator)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("pathGlobFilter", glob)
        .schema(f"{fields}, {CORRUPT_COL} string")
        .csv(data_dir)
    )
    return df.withColumn("file_name", F.expr(_FILE_NAME))


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined): clean rows ready for transform_group, and
    the raw malformed lines with their source file for audit/replay —
    the Spark-native form of the reference's error isolation, without
    silently dropping data."""
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        "file_name", CORRUPT_COL
    )
    return good, bad


def transform_group(df: DataFrame, cfg: FileGroupConfig) -> DataFrame:
    """T1-T11 + P3 for one file group (reference _transform_data,
    utils/data_manager.py:59-95), as two SQL-text projections: the first
    parses the timestamps in place and adds the key (T1+T2, on raw
    values) and the account name (T5); the second derives year/month
    from the parsed timestamps, the constants (T3), the load stamp (T4)
    and the signed amount (T9-T11), in the configured order (P3). Two,
    because a derived column reads the parsed timestamp, which keeps
    the raw column's name."""
    timestamps = _TIMESTAMPS.get(cfg.mapping_type)
    if timestamps is None:  # reference logs + skips (data_manager.py:85-87)
        raise ValueError(f"unknown mapping_type {cfg.mapping_type!r}")
    fmt = string(strftime_to_java(cfg.date_format))
    parsed = {c: f"to_timestamp({ident(c)}, {fmt})" for c in timestamps}
    parsed["surrogate_key"] = surrogate_key_sql(cfg.surrogate_key_columns)
    derived = {
        "bank_name": literal(cfg.bank),
        "mapping_type": literal(cfg.mapping_type),
        "processed_at": _LOAD_STAMP,
    }
    if cfg.mapping_type == "stm":
        parsed["acc_name"] = f"{map_literal(cfg.accounts)}[acc_number]"
        # T9 + T10 + T11: comma-normalize, coerce-to-null cast, sign flip.
        amount = "try_cast(regexp_replace(`sum`, ',', '.') AS double)"
        derived |= {
            "year": "year(dt)",
            "ym": "date_format(dt, 'yyyy-MM')",
            "sum": f"{amount} * {map_literal(cfg.debit_multiplier)}[dc]",
        }
    else:
        derived |= {
            "effect_year": "year(effect_dt)",
            "effect_ym": "date_format(effect_dt, 'yyyy-MM')",
        }
    # as withColumns(parsed): a parsed column replaces its raw value in place
    first = [f"{parsed[c]} AS {ident(c)}" if c in parsed else ident(c) for c in df.columns]
    first += [f"{e} AS {ident(c)}" for c, e in parsed.items() if c not in df.columns]
    return df.selectExpr(*first).selectExpr(
        *(
            f"{derived[f]} AS {ident(f)}" if f in derived else ident(f)
            for f in cfg.desired_fields
        )
    )


def run_ingest(
    spark: SparkSession, data_dir: str, config: IngestConfig
) -> dict[str, DataFrame]:
    """Full extract+transform: one lazy lineage per mapping_type,
    unioned across banks (U1). Returns {'stm': DF, 'sec': DF, ...}.
    A configured group with no file in ``data_dir`` contributes no rows,
    as in the reference's per-file loop; a mapping_type with no file at
    all is absent from the result."""
    by_type: dict[str, DataFrame] = {}
    for cfg in config.groups:
        raw = read_group(spark, data_dir, cfg, config.file_pattern)
        if raw is None:
            continue
        part = transform_group(raw, cfg)
        acc = by_type.get(cfg.mapping_type)
        by_type[cfg.mapping_type] = part if acc is None else acc.unionByName(part)
    return by_type
