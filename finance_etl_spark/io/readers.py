"""Table readers over the engine's storage layout.

At 100 TB the tables are directories of parquet (optionally
hive-partitioned); ``spark.read.parquet`` gives partition pruning,
predicate pushdown, and column pruning for free. The test corpus is
one parquet file per table under ``{sf_dir}/{name}.parquet``.
"""

from __future__ import annotations

import json
import os

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, without the
    Spark job inference launches: one footer is read through py4j and
    converted by Spark's own footer converter under the session's conf
    (nanos-as-long, NTZ inference, binary-as-string), so the two agree
    field for field. Partition columns are not included;
    ``spark.read.schema(...)`` still discovers and appends them.

    For a directory the first visible data file in name order is used,
    descending into ``k=v`` partition directories, like inference
    without ``mergeSchema``. Raises FileNotFoundError when ``path`` does
    not exist or holds no data file."""
    client = spark.sparkContext._gateway._gateway_client
    # Named in full: jvm.a.b.C would make one py4j call per name segment.
    Path, Reader, Metadata, Footer, Converter, FileFormat = (
        JavaClass(name, client) for name in _FOOTER_CLASSES
    )
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    footer_path = _first_data_file(hconf, Path(path))
    if footer_path is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    footer = Reader.readFooter(hconf, footer_path, Metadata.SKIP_ROW_GROUPS)
    jschema = FileFormat.readSchemaFromFooter(
        Footer(footer_path, footer), Converter(state.conf())
    )
    return StructType.fromJson(json.loads(jschema.json()))


_FOOTER_CLASSES = (
    "org.apache.hadoop.fs.Path",
    "org.apache.parquet.hadoop.ParquetFileReader",
    "org.apache.parquet.format.converter.ParquetMetadataConverter",
    "org.apache.parquet.hadoop.Footer",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat",
)


# The names Spark's partition discovery reads: visible names (``k=v``
# directories among them) and ``_k=v`` directories. Hidden files
# (``_SUCCESS``, ``_metadata``, ``.crc`` files) do not match.
_DATA_NAMES = "{[^_.]*,_*=*}"


def _first_data_file(hconf, path):
    """``path`` itself if it is a file, else the first data file under
    it in name order, searched depth-first through ``k=v`` (and ``_k=v``)
    directories; None if there is none (or ``path`` does not exist).

    One ``globStatus`` per level lists the candidate names, sorted by
    name, so the number of py4j calls does not grow with the number of
    entries: only the candidates before the answer are inspected, and
    those are the rare visible non-partition directories and ``_k=v``
    files."""
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return None
    if not fs.getFileStatus(path).isDirectory():
        return path
    for st in fs.globStatus(path.suffix("/" + _DATA_NAMES)):
        name = st.getPath().getName()
        if st.isDirectory():
            if "=" in name:
                found = _first_data_file(hconf, st.getPath())
                if found is not None:
                    return found
        elif not name.startswith("_"):
            return st.getPath()
    return None


def csv_header_schema(
    spark: SparkSession, data_dir: str, options: dict[str, str]
) -> StructType | None:
    """The all-string schema ``spark.read.options(**options).csv(data_dir)``
    would infer, ``options`` holding ``header`` and ``pathGlobFilter``,
    without the Spark jobs inference launches. None when no non-empty
    file under ``data_dir`` matches the glob or none holds a non-blank
    line.

    Inference takes the first non-blank, non-comment line of the first
    file split, and Spark orders splits largest first (ties keep listing
    order). A split is at most ``maxSplitBytes``, so among files larger
    than that the first listed wins. That line is read here through
    Hadoop's ``FileSystem`` (``CSVUtils.readHeaderLine``), tokenized by
    univocity under the read's ``CSVOptions`` and named by
    ``CSVUtils.makeSafeHeader``, the calls inference makes, so BOMs,
    quoting, duplicate and empty names come out the same."""
    client = spark.sparkContext._gateway._gateway_client
    Path, GlobFilter, PythonUtils, CSVOptions, CsvParser, CSVUtils = (
        JavaClass(name, client) for name in _CSV_HEADER_CLASSES
    )
    to_json = _field_json_writer(client)
    jspark = spark._jsparkSession
    state = jspark.sessionState()
    conf = state.conf()
    hconf = state.newHadoopConf()
    root = Path(data_dir)
    statuses = root.getFileSystem(hconf).listStatus(
        root, GlobFilter(options["pathGlobFilter"])
    )
    # one round trip for every status, not one per file
    files = [
        (st["length"], i)
        for i, st in enumerate(to_json(statuses))
        if st["length"] > 0
    ]
    if not files:
        return None
    # FilePartition.maxSplitBytes over the matched files
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (
        min_parts.get() if min_parts.isDefined()
        else jspark.leafNodeDefaultParallelism()
    )
    total = sum(n + open_cost for n, _ in files)
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, total // min_parts))
    files.sort(key=lambda f: -min(f[0], split))
    opts = CSVOptions(
        PythonUtils.toScalaMap(options),
        conf.csvColumnPruning(),
        conf.sessionLocalTimeZone(),
    )
    for _, i in files:
        line = CSVUtils.readHeaderLine(statuses[i].getPath(), opts, hconf)
        if line.isDefined():
            row = CsvParser(opts.asParserSettings()).parseLine(line.get())
            names = CSVUtils.makeSafeHeader(row, conf.caseSensitiveAnalysis(), opts)
            return StructType([StructField(n, StringType()) for n in to_json(names)])
    return None


def _field_json_writer(client):
    """``to_json(obj)``: ``obj`` serialized by Jackson from its fields
    (not its getters), parsed in Python: a Java array comes back in one
    round trip instead of one per element. A Hadoop ``FileStatus`` reads
    as ``{"path": {"uri": ...}, "length": ..., ...}``; its getters are
    not called, so a local file's owner is never looked up."""
    Mapper, Accessor, Visibility = (
        JavaClass(name, client) for name in _JSON_CLASSES
    )
    mapper = Mapper()
    mapper.setVisibility(Accessor.ALL, Visibility.NONE).setVisibility(
        Accessor.FIELD, Visibility.ANY
    )
    return lambda obj: json.loads(mapper.writeValueAsString(obj))


_JSON_CLASSES = (
    "com.fasterxml.jackson.databind.ObjectMapper",
    "com.fasterxml.jackson.annotation.PropertyAccessor",
    "com.fasterxml.jackson.annotation.JsonAutoDetect$Visibility",
)


_CSV_HEADER_CLASSES = (
    "org.apache.hadoop.fs.Path",
    "org.apache.hadoop.fs.GlobFilter",
    "org.apache.spark.api.python.PythonUtils",
    "org.apache.spark.sql.catalyst.csv.CSVOptions",
    "com.univocity.parsers.csv.CsvParser",
    "org.apache.spark.sql.execution.datasources.csv.CSVUtils",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Bring ``events.ts`` to the session-TZ instant type, whichever
    footer encoding surfaced. Shared by the batch and stream readers."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # TIMESTAMP(NANOS) surfaced as epoch-nanos LONG (see
        # session.RUNTIME_CONFS). Integer-divide to micros before the
        # cast — a double division would lose precision above 2^53 ns.
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if not isinstance(ts_type, TimestampType):
        # Parquet TIMESTAMP with isAdjustedToUTC=false surfaces as
        # TIMESTAMP_NTZ. The engine stores instants; with the session
        # pinned to UTC the NTZ→TZ cast is value-preserving, and every
        # downstream epoch computation (unix_micros, cast-to-double)
        # requires the instant type.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table, its schema taken from the footer (``parquet_schema``)
    so that loading launches no Spark job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def scan_layout(sf_dir: str, name: str) -> tuple[int, int]:
    """(row_groups, uncompressed_bytes) for a table, from parquet
    footers only — driver-side, metadata-cheap. Row groups are the
    split unit (a 10 GB file with one row group decodes in ONE task no
    matter what maxPartitionBytes says), so this is the table's
    effective maximum scan parallelism."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    paths = [path]
    if os.path.isdir(path):
        paths = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    groups = bytes_ = 0
    for p in paths:
        md = pq.ParquetFile(p).metadata
        groups += md.num_row_groups
        for i in range(md.num_row_groups):
            bytes_ += md.row_group(i).total_byte_size
    return groups, bytes_


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """``load_table`` + adaptive decode-spreading: when the physical
    layout offers fewer row groups than cores (single-file tables,
    badly bucketed upstream writers), insert ONE round-robin
    repartition so CPU-heavy downstream operators (decimal aggs,
    shingling, signatures) use the whole machine instead of the lone
    scan task. The target partition count is sized from the footer's
    uncompressed byte count (~256 KiB per task, capped at cores) —
    over-splitting a small table costs more in task scheduling and
    per-partition cache overhead than the parallelism buys (measured:
    32 partitions LOSES to 8 on a 5 MB corpus). On a properly
    laid-out 100 TB table (row groups >> cores) this is a NO-OP — no
    shuffle is added — so the helper is safe to use unconditionally in
    scan→heavy-compute queries."""
    df = load_table(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    groups, nbytes = scan_layout(sf_dir, name)
    if groups < max(2, cores // 2):
        target = min(cores, max(2, nbytes >> 18))
        if target > groups:
            df = df.repartition(target)
    return df
