"""Ingest-parity semantics on the committed CSV fixtures."""

import gc
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from finance_etl_spark.plans.ingest_parity import CONFIG, FIX_DIR
from finance_etl_spark.ingest import run_ingest
from finance_etl_spark.io.readers import csv_header_schema
from finance_etl_spark.io.sinks import append_new_records
from finance_etl_spark.session import count_py4j_calls


def test_skip_semantics(spark):
    """gamma (no config) and badname.csv (regex miss) never load."""
    out = run_ingest(spark, FIX_DIR, CONFIG)
    stm = out["stm"]
    files = {r.file_name for r in stm.select("file_name").distinct().collect()}
    assert "gamma_current_stm_20250103.csv" not in files
    assert "badname.csv" not in files
    assert files == {
        "alpha_current_stm_20250101.csv",
        "alpha_current_stm_20250102.csv",
        "beta_savings_stm_20250103.csv",
    }


def test_group_without_files_contributes_no_rows(spark, tmp_path):
    """Configured groups with no file in the drop zone are skipped like
    the reference's per-file loop skips them; a mapping type with no
    file at all is absent."""
    name = "alpha_current_stm_20250101.csv"
    shutil.copy(os.path.join(FIX_DIR, name), tmp_path / name)
    out = run_ingest(spark, str(tmp_path), CONFIG)
    assert set(out) == {"stm"}
    rows = out["stm"].collect()
    assert {r.file_name for r in rows} == {name}
    with open(os.path.join(FIX_DIR, name)) as f:
        assert len(rows) == len(f.read().splitlines()) - 1


def _options(sep=";", glob="*.csv"):
    return {"header": "true", "sep": sep, "pathGlobFilter": glob}


def _assert_inference_identity(spark, data_dir, options):
    """The driver-side schema equals Spark's inferred one, and reading
    with it gives inference's rows."""
    schema = csv_header_schema(spark, data_dir, options)
    inferred = spark.read.options(**options).csv(data_dir)
    assert schema == inferred.schema
    got = spark.read.schema(schema).options(**options).csv(data_dir)
    assert sorted(got.collect()) == sorted(inferred.collect())
    return schema.names


@pytest.mark.parametrize(
    "cfg", CONFIG.groups, ids=lambda g: f"{g.mapping_type}-{g.bank}"
)
def test_header_matches_inference_on_fixtures(spark, cfg):
    glob = f"{cfg.bank}_*_{cfg.mapping_type}_*.csv"
    names = _assert_inference_identity(
        spark, FIX_DIR, _options(cfg.csv_separator, glob)
    )
    assert set(cfg.original_fields) <= set(names)


@pytest.mark.parametrize(
    "body, names",
    [
        ("\ufeffA;B;C\n1;2;3\n", ["A", "B", "C"]),  # UTF-8 BOM
        ('A;"x;y";C\n1;2;3\n', ["A", "x;y", "C"]),  # quoted separator
        ("a;B;B;;b\n1;2;3;4;5\n", ["a", "B1", "B2", "_c3", "b4"]),
        ("A;B;C\r\n1;2;3\r\n", ["A", "B", "C"]),  # CRLF
        ("\n  \nA;B;C\n1;2;3\n", ["A", "B", "C"]),  # leading blank lines
    ],
    ids=["bom", "quoted-sep", "duplicate-and-empty", "crlf", "leading-blank"],
)
def test_header_matches_inference_on_edge_files(spark, tmp_path, body, names):
    (tmp_path / "x.csv").write_bytes(body.encode("utf-8"))
    assert _assert_inference_identity(spark, str(tmp_path), _options()) == names


def _write_headed(d, sizes):
    """One file per size, each with its own header; -> {name: header}."""
    headers = {}
    for i, n in enumerate(sizes):
        headers[f"f{i}.csv"] = [f"h{i}a", f"h{i}b"]
        (d / f"f{i}.csv").write_text(f"h{i}a;h{i}b\n" + "1;2\n" * n)
    return headers


def test_header_of_largest_file_wins(spark, tmp_path):
    headers = _write_headed(tmp_path, [3, 30, 10])
    names = _assert_inference_identity(spark, str(tmp_path), _options())
    assert names == headers["f1.csv"]


def test_header_tie_between_full_splits_keeps_listing_order(spark, tmp_path):
    """Files larger than one split all open with a full-size split, so
    inference reads the first listed, not the largest."""
    headers = _write_headed(tmp_path, [3, 30, 10])
    first = os.listdir(tmp_path)[0]
    # make the first-listed file the smallest (listing order stays)
    for name, header in headers.items():
        rows = 3 if name == first else 30
        (tmp_path / name).write_text(";".join(header) + "\n" + "1;2\n" * rows)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try:
        names = _assert_inference_identity(spark, str(tmp_path), _options())
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert names == headers[first]


def test_run_ingest_launches_no_job(spark, count_jobs):
    _, jobs = count_jobs(run_ingest, spark, FIX_DIR, CONFIG)
    assert jobs == 0
    # the counter does see inference's jobs
    _, jobs = count_jobs(spark.read.option("header", True).csv, FIX_DIR)
    assert jobs >= 1


def _drop(root, i):
    """A drop directory holding every configured fixture file under a new
    date, each data row made unique to drop ``i``."""
    d = root / f"drop{i}"
    d.mkdir()
    for name in sorted(os.listdir(FIX_DIR)):
        m = re.match(CONFIG.file_pattern, name)
        if m is None or CONFIG.group(m[3], m[1]) is None:
            continue
        bank, acc, mtype = m.groups()
        with open(os.path.join(FIX_DIR, name)) as f:
            header, *rows = f.read().splitlines()
        lines = [header] + [f"{r} {i}" for r in rows]
        (d / f"{bank}_{acc}_{mtype}_2026010{i}.csv").write_text("\n".join(lines) + "\n")
    return str(d)


def test_warm_batch_compiles_no_class(spark, tmp_path):
    """A batch's generated code is the same text as the previous batch's,
    so Spark's class cache serves it: the load stamp reaches the code by
    reference, not as a literal written into the source."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount

    def batch(i):
        for mtype, df in sorted(run_ingest(spark, _drop(tmp_path, i), CONFIG).items()):
            assert append_new_records(df, str(tmp_path / "sink" / mtype)) > 0

    batch(1)  # an empty sink: no key scan
    batch(2)  # first batch with a key scan
    before = compiles()
    batch(3)
    assert compiles() - before == 0


def test_csv_header_schema_py4j_calls_do_not_grow_with_files(spark, tmp_path):
    """The statuses and the header names each come back in one round
    trip, so a 12-file drop directory costs what a 2-file one does."""
    src = os.path.join(FIX_DIR, "alpha_current_stm_20250101.csv")

    def calls(n_files):
        d = tmp_path / str(n_files)
        d.mkdir()
        for i in range(n_files):
            shutil.copy(src, d / f"alpha_current_stm_{i:08d}.csv")
        readings = []
        for _ in range(3):  # py4j frees of unrelated proxies only ever add calls
            gc.collect()
            with count_py4j_calls() as n:
                assert csv_header_schema(spark, str(d), _options()) is not None
            readings.append(n[0] - n[1])
        return min(readings)

    assert calls(2) == calls(12)


def test_run_ingest_py4j_budget(spark):
    """Each file group is one CSV read and a few SQL-text projections.
    Building the three fixture groups column by column with ``F.*`` and
    ``withColumn`` took 2,123 (first call) to 2,438 (warm) py4j round
    trips; this stays at least 5x below the lower count."""
    counts = []
    for _ in range(3):  # py4j frees of unrelated proxies only ever add calls
        gc.collect()
        with count_py4j_calls() as n:
            run_ingest(spark, FIX_DIR, CONFIG)
        counts.append(n[0])
    assert 0 < min(counts) <= 2123 // 5, counts


def _fields(*spec):
    return StructType([StructField(name, t, nullable) for name, t, nullable in spec])


def test_output_schemas(spark):
    """Names, types, order and nullability of what the sinks store: the
    load stamp is non-nullable under ANSI (the session default)."""
    s, ts = StringType(), TimestampType()
    out = run_ingest(spark, FIX_DIR, CONFIG)
    assert out["stm"].schema == _fields(
        ("surrogate_key", s, False),
        ("acc_number", s, True),
        ("acc_name", s, True),
        ("dt", ts, True),
        ("year", IntegerType(), True),
        ("ym", s, True),
        ("sum", DoubleType(), True),
        ("dc", s, True),
        ("payee", s, True),
        ("bank_name", s, False),
        ("acc_type", s, False),
        ("file_name", s, False),
        ("processed_at", ts, False),
    )
    assert out["sec"].schema == _fields(
        ("surrogate_key", s, False),
        ("send_dt", ts, True),
        ("effect_dt", ts, True),
        ("effect_year", IntegerType(), True),
        ("effect_ym", s, True),
        ("isin", s, True),
        ("quantity", s, True),
        ("price", s, True),
        ("bank_name", s, False),
        ("acc_type", s, False),
        ("file_name", s, False),
        ("processed_at", ts, False),
    )


def test_dirty_amount_coerces_to_null_and_sign_flip(spark):
    stm = run_ingest(spark, FIX_DIR, CONFIG)["stm"]
    rows = {r.payee: r["sum"] for r in stm.collect()}
    assert rows["BadAmount"] is None  # 'N/A' -> null (T10)
    assert rows["Grocery"] == -89.10  # D -> negative (T9+T11)
    assert rows["Salary"] == 1500.00  # C -> positive
    assert rows["Coffee"] == -99.95


def test_account_lookup_missing_key_null(spark):
    stm = run_ingest(spark, FIX_DIR, CONFIG)["stm"]
    by_acc = {r.acc_number: r.acc_name for r in stm.collect()}
    assert by_acc["EE123456789012345678"] == "Main account"
    assert by_acc["EE999999999999999999"] is None  # T5 missing -> null


def test_duplicate_rows_share_surrogate_key_across_files(spark):
    stm = run_ingest(spark, FIX_DIR, CONFIG)["stm"]
    acme = stm.filter(F.col("payee") == "Acme OU").select("surrogate_key").collect()
    assert len(acme) == 2 and acme[0].surrogate_key == acme[1].surrogate_key


def test_processed_at_is_current_utc(spark):
    import datetime as dt

    stm = run_ingest(spark, FIX_DIR, CONFIG)["stm"]
    t = stm.select(F.max("processed_at").alias("t")).collect()[0].t
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    assert abs((now - t).total_seconds()) < 600


def test_one_load_stamp_per_mapping_type(spark):
    """The stamp is evaluated once per query, like current_timestamp()."""
    for df in run_ingest(spark, FIX_DIR, CONFIG).values():
        assert df.select(F.countDistinct("processed_at")).first()[0] == 1


def test_per_bank_date_formats(spark):
    stm = run_ingest(spark, FIX_DIR, CONFIG)["stm"]
    by_payee = {r.payee: (str(r.dt), r.ym, r.year) for r in stm.collect()}
    assert by_payee["Acme OU"] == ("2025-01-03 00:00:00", "2025-01", 2025)
    assert by_payee["Coffee"] == ("2025-01-03 00:00:00", "2025-01", 2025)


def test_permissive_quarantine_split(spark):
    """Malformed lines (wrong field count) are captured verbatim, clean
    rows flow through — no whole-file discard (reference drops the
    entire file on any error)."""
    from finance_etl_spark.ingest import (
        load_config,
        quarantine_split,
        read_group_permissive,
    )
    from finance_etl_spark.plans.ingest_parity import CONFIG_PATH, FIX_CORRUPT_DIR

    config = load_config(CONFIG_PATH)
    cfg = config.group("stm", "alpha")
    df = read_group_permissive(
        spark, FIX_CORRUPT_DIR, cfg, config.file_pattern
    ).cache()
    good, bad = quarantine_split(df)
    assert good.count() == 3
    assert bad.count() == 2
    # quarantined lines keep the raw text for audit/replay
    raws = [r._corrupt_record for r in bad.collect()]
    assert all(";" in raw for raw in raws)
    # structurally-fine rows with unparseable values are NOT quarantined;
    # they coerce to null later (T10), preserving reference semantics
    assert good.filter(good["sum"] == "bad_amount").count() == 1


def test_zorder_layout_skips_files_on_both_dimensions(spark, sf_dir):
    """The z-ordered layout must give footer min/max stats that prune
    a majority of files for a small rectangle on (user_bucket,
    hour_of_day) — and, unlike a single-column sort, on EACH dimension
    alone as well."""
    import os

    import pyarrow.parquet as pq

    from finance_etl_spark.plans.ingest_parity import write_zorder_events

    out = write_zorder_events(spark, sf_dir)
    files = [
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    ]
    assert len(files) >= 8
    stats = []
    for p in files:
        md = pq.ParquetFile(p).metadata
        cols = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        rg = md.row_group(0)
        ub = rg.column(cols["user_bucket"]).statistics
        hb = rg.column(cols["hour_of_day"]).statistics
        stats.append(((ub.min, ub.max), (hb.min, hb.max)))

    def overlaps(lo, hi, mn, mx):
        return not (mx < lo or mn > hi)

    rect = [
        s
        for s in stats
        if overlaps(8, 15, *s[0]) and overlaps(8, 11, *s[1])
    ]
    assert len(rect) <= len(files) // 2, (
        f"rectangle query overlaps {len(rect)}/{len(files)} files — "
        "layout is not clustering both dimensions"
    )
