"""Footer-resolved table schemas (``io.readers.parquet_schema``) are the
schemas Spark's inference job would return, and ``load_table`` reads the
same rows with them while launching no Spark job."""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from py4j.java_gateway import JavaClass

from finance_etl_spark.io.readers import (
    TABLES,
    _first_data_file,
    load_table,
    normalize_event_ts,
    parquet_schema,
)

from conftest import SF_DIR

SF_DIRS = [
    os.path.join(os.path.dirname(SF_DIR), f"sf{sf}") for sf in ("0.001", "0.01", "0.1")
]


def _inferred(spark, sf_dir, name):
    """``load_table`` as written with ``spark.read.parquet`` inference."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_ts(df) if name == "events" else df


def _assert_same(got, want):
    assert got.schema == want.schema
    # Multiset equality computed in the JVM: sf0.1 lineitem is 600k rows.
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()


@pytest.mark.parametrize("name", TABLES)
@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_load_table_matches_inference(spark, sf_dir, name):
    _assert_same(load_table(spark, sf_dir, name), _inferred(spark, sf_dir, name))


def test_spark_written_multi_file_sink(spark, tmp_path):
    (
        spark.range(0, 3000, numPartitions=3)
        .selectExpr("id AS surrogate_key", "CAST(id AS STRING) AS s", "id / 7 AS x")
        .write.parquet(str(tmp_path / "sink.parquet"))
    )
    names = os.listdir(tmp_path / "sink.parquet")
    assert "_SUCCESS" in names
    assert sum(n.startswith("part-") for n in names) == 3
    sf_dir = str(tmp_path)
    _assert_same(load_table(spark, sf_dir, "sink"), _inferred(spark, sf_dir, "sink"))


def test_partitioned_directory_keeps_partition_column(spark, tmp_path):
    (
        spark.range(0, 600, numPartitions=2)
        .selectExpr("id", "CAST(id % 3 AS INT) AS k", "CAST(id % 2 AS STRING) AS d")
        .write.partitionBy("k", "d")
        .parquet(str(tmp_path / "parted.parquet"))
    )
    got = load_table(spark, str(tmp_path), "parted")
    assert got.columns == ["id", "k", "d"]
    _assert_same(got, _inferred(spark, str(tmp_path), "parted"))


def test_pyarrow_nanos_timestamp_reads_as_long(spark, tmp_path):
    ts = [1_700_000_000_123_456_789, 1_600_000_000_000_000_001, 0]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "value": pa.array([1.5, -2.0, 0.0]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    raw = parquet_schema(spark, str(tmp_path / "events.parquet"))
    assert isinstance(raw["ts"].dataType, LongType)
    got = load_table(spark, str(tmp_path), "events")
    _assert_same(got, _inferred(spark, str(tmp_path), "events"))
    micros = [r[0] for r in got.orderBy("event_id").select(F.unix_micros("ts")).collect()]
    assert micros == [t // 1000 for t in ts]


def test_missing_path_raises_file_not_found(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        parquet_schema(spark, str(tmp_path / "absent.parquet"))
    os.makedirs(tmp_path / "empty.parquet")
    (tmp_path / "empty.parquet" / "_SUCCESS").write_bytes(b"")
    with pytest.raises(FileNotFoundError):
        parquet_schema(spark, str(tmp_path / "empty.parquet"))


def _first_listed(d):
    """The footer file as the name-sorted directory listing picks it:
    descend into ``k=v`` and ``_k=v`` directories, skip other names that
    start with ``_`` or ``.``."""
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        if os.path.isdir(p):
            if "=" in name and not name.startswith("."):
                found = _first_listed(p)
                if found is not None:
                    return found
        elif not name.startswith(("_", ".")):
            return p
    return None


@pytest.mark.parametrize(
    "layout, want",
    [
        (["_SUCCESS", ".part-0.parquet.crc", "_k=1/part-0.parquet", "k=2/part-0.parquet",
          "part-1.parquet"], "_k=1/part-0.parquet"),
        (["_SUCCESS", "_k=1/_SUCCESS", "_k=1/.x.crc", "k=2/.part-0.parquet.crc",
          "k=2/part-0.parquet", "part-1.parquet"], "k=2/part-0.parquet"),
        (["_x=1.parquet", ".k=0/part-0.parquet", "a/part-0.parquet", "k=1/d=2/p.parquet",
          "k=1/q.parquet"], "k=1/d=2/p.parquet"),
        (["_SUCCESS", "_k=1/_SUCCESS", "sub/part-0.parquet"], None),
    ],
    ids=["hidden-then-_k=v", "empty-_k=v", "nested", "none"],
)
def test_first_data_file_choice(spark, tmp_path, layout, want):
    for rel in layout:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"x")
    Path = JavaClass("org.apache.hadoop.fs.Path", spark.sparkContext._gateway._gateway_client)
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    got = _first_data_file(hconf, Path(str(tmp_path)))
    want = want and str(tmp_path / want)
    assert (got and got.toUri().getPath()) == want == _first_listed(str(tmp_path))


def test_load_table_launches_no_job(spark, sf_dir):
    sc = spark.sparkContext
    group = f"test-readers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table job count")
    try:
        for name in TABLES:
            load_table(spark, sf_dir, name)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the counter does see inference's job
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
