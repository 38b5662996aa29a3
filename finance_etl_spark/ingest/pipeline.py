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
from finance_etl_spark.functions.keys import surrogate_key
from finance_etl_spark.ingest.config import FileGroupConfig, IngestConfig
from finance_etl_spark.io.readers import csv_header_schema

_BASENAME_RE = "([^/]+)$"


def _map_literal(d: dict) -> F.Column:
    """Small-dict lookup as a literal MAP expression (T5). Missing key
    -> null, matching pandas ``.map``. For dictionaries too large to
    inline (>~1k entries) use a broadcast join instead."""
    items = []
    for k, v in d.items():
        items.append(F.lit(k))
        items.append(F.lit(v))
    return F.create_map(*items)


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
    skipped as a header and its columns are taken by position."""
    options = {
        "header": "true",
        "sep": cfg.csv_separator,
        "pathGlobFilter": f"{cfg.bank}_*_{cfg.mapping_type}_*.csv",
    }
    schema = csv_header_schema(spark, data_dir, options)
    if schema is None:
        return None
    df = spark.read.schema(schema).options(**options).csv(data_dir)
    file_name = F.regexp_extract(F.input_file_name(), _BASENAME_RE, 1)
    df = df.withColumn("file_name", file_name)
    # S3: validate against the 3-group pattern; extract acc_type.
    # Files matching the glob but not the regex are skipped (filtered).
    df = df.withColumn(
        "acc_type", F.regexp_extract("file_name", file_pattern, 2)
    ).filter(F.col("acc_type") != "")
    # P1+P2: keep configured source columns under canonical names.
    renamed = [F.col(f"`{src}`").alias(dst) for src, dst in cfg.original_fields.items()]
    return df.select(*renamed, "file_name", "acc_type")


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
    return df.withColumn(
        "file_name", F.regexp_extract(F.input_file_name(), _BASENAME_RE, 1)
    )


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
    utils/data_manager.py:59-95)."""
    fmt = strftime_to_java(cfg.date_format)

    # T1+T2 on raw values, before any parsing.
    out = df.withColumn("surrogate_key", surrogate_key(cfg.surrogate_key_columns))
    # T3: constants; T4: load timestamp.
    out = (
        out.withColumn("bank_name", F.lit(cfg.bank))
        .withColumn("mapping_type", F.lit(cfg.mapping_type))
        .withColumn("processed_at", F.current_timestamp())
    )

    if cfg.mapping_type == "stm":
        out = out.withColumn("acc_name", _map_literal(cfg.accounts)[F.col("acc_number")])
        out = out.withColumn("dt", F.to_timestamp("dt", fmt))
        out = out.withColumn("year", F.year("dt"))
        out = out.withColumn("ym", F.date_format("dt", "yyyy-MM"))
        # T9 + T10 + T11: comma-normalize, coerce-to-null cast, sign flip.
        amount = F.regexp_replace(F.col("sum"), ",", ".").try_cast("double")
        mult = _map_literal(cfg.debit_multiplier)[F.col("dc")]
        out = out.withColumn("sum", amount * mult)
    elif cfg.mapping_type == "sec":
        out = out.withColumn("send_dt", F.to_timestamp("send_dt", fmt))
        out = out.withColumn("effect_dt", F.to_timestamp("effect_dt", fmt))
        out = out.withColumn("effect_year", F.year("effect_dt"))
        out = out.withColumn("effect_ym", F.date_format("effect_dt", "yyyy-MM"))
    else:  # unknown mapping_type: reference logs + skips (data_manager.py:85-87)
        raise ValueError(f"unknown mapping_type {cfg.mapping_type!r}")

    # P3: final projection/reorder.
    return out.select(*cfg.desired_fields)


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
