"""Physical contracts of the table-format layer: file-stats pruning
ratio, append-without-rewrite, delete-rewrites-only-overlapping-files,
and snapshot immutability under later commits."""

import datetime as dt
import os
import tempfile

from pyspark.sql import functions as F

from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.tableformat import (
    file_stats_manifest,
    prune_files,
    read_snapshot,
    versioned_append,
    versioned_delete,
)


def _clustered_lineitem_dir(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    out = tempfile.mkdtemp(prefix="t_stats_")
    (
        li.repartitionByRange(16, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def test_stats_skipping_prunes_majority(spark, sf_dir):
    out = _clustered_lineitem_dir(spark, sf_dir)
    manifest = file_stats_manifest(out, ["l_shipdate"])
    n_files = len(manifest)
    assert n_files >= 8
    picked = prune_files(
        manifest, "l_shipdate", dt.date(1995, 6, 1), dt.date(1995, 6, 30)
    )
    # a one-month probe on a ~7-year range-clustered table must skip
    # most files; with 16 range buckets one month spans at most 2
    assert len(picked) <= max(2, n_files // 4)
    # pruning is SAFE: the pruned read equals the full-scan read
    lo, hi = F.lit(dt.date(1995, 6, 1)), F.lit(dt.date(1995, 6, 30))
    full = (
        spark.read.parquet(out)
        .filter(F.col("l_shipdate").between(lo, hi))
        .count()
    )
    pruned = (
        spark.read.parquet(*picked)
        .filter(F.col("l_shipdate").between(lo, hi))
        .count()
    )
    assert pruned == full > 0


def test_manifest_rowcounts_cover_table(spark, sf_dir):
    out = _clustered_lineitem_dir(spark, sf_dir)
    manifest = file_stats_manifest(out, ["l_shipdate"])
    assert sum(m["n_rows"] for m in manifest) == spark.read.parquet(out).count()


def _snap_fixture(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    root = tempfile.mkdtemp(prefix="t_snap_")
    yr = F.year("o_orderdate")
    v1 = versioned_append(spark, root, 0, o.filter(yr <= 1995))
    v2 = versioned_append(spark, root, v1, o.filter(yr == 1996))
    return o, root, v1, v2


def _files(root, version):
    import json

    with open(os.path.join(root, f"v{version}.json")) as f:
        return json.load(f)["files"]


def test_append_carries_files_without_rewrite(spark, sf_dir):
    o, root, v1, v2 = _snap_fixture(spark, sf_dir)
    f1, f2 = set(_files(root, v1)), set(_files(root, v2))
    # every v1 file is carried forward BY REFERENCE (same path)
    assert f1 < f2
    # and the append touched none of them
    mtimes_before = {p: os.path.getmtime(p) for p in f1}
    assert all(os.path.getmtime(p) == mtimes_before[p] for p in f1)
    n_v1 = read_snapshot(spark, root, v1).count()
    n_v2 = read_snapshot(spark, root, v2).count()
    assert n_v2 > n_v1 > 0


def test_delete_rewrites_only_overlapping_files(spark, sf_dir):
    o, root, v1, v2 = _snap_fixture(spark, sf_dir)
    pred = (F.col("o_orderstatus") == "F") & F.col("o_orderdate").between(
        F.lit(dt.date(1995, 1, 1)), F.lit(dt.date(1995, 3, 31))
    )
    v1_before = read_snapshot(spark, root, v1).agg(
        F.sum("o_orderkey")
    ).collect()[0][0]
    v3 = versioned_delete(
        spark, root, v2, pred, "o_orderdate",
        (dt.date(1995, 1, 1), dt.date(1995, 3, 31)),
    )
    f2, f3 = set(_files(root, v2)), set(_files(root, v3))
    carried = f2 & f3
    # the 1996 append files cannot overlap a Q1-1995 predicate: they
    # must ALL be carried forward untouched
    v2_only_files = f2 - set(_files(root, v1))
    assert v2_only_files <= carried
    # correctness of the delete itself
    got = read_snapshot(spark, root, v3).filter(pred).count()
    assert got == 0
    expected = read_snapshot(spark, root, v2).filter(~pred).count()
    assert read_snapshot(spark, root, v3).count() == expected
    # TIME TRAVEL: v1 is bit-stable after the v3 commit
    v1_after = read_snapshot(spark, root, v1).agg(
        F.sum("o_orderkey")
    ).collect()[0][0]
    assert v1_after == v1_before


def test_cdc_snapshot_versions_and_time_travel(spark, sf_dir):
    """The final CDC snapshot must hold every instrument's true last
    tick, with prices matching the source's pure tick function. Built
    twice in one session: registering the ``ticks`` source again
    replaces it and does not raise."""
    from finance_etl_spark import plans
    from finance_etl_spark.io.ticksource import tick_price

    runs = [
        {
            r.instrument: (r.last_tick, r.last_px)
            for r in plans.get("stream_live_cdc_to_snapshot").build(spark, sf_dir).collect()
        }
        for _ in range(2)
    ]
    rows = runs[0]
    assert runs[1] == rows
    assert len(rows) == 50
    for inst, (lt, px) in rows.items():
        assert lt % 50 == inst and lt >= 450  # final batch touches all keys
        assert abs(px - tick_price(lt)) < 1e-12


def test_bloom_skipping_no_false_negatives(spark, sf_dir):
    """Every file containing a target key must survive bloom pruning —
    checked for ALL customer keys, not just the query's three."""
    import tempfile

    from pyspark.sql import functions as F

    from finance_etl_spark.io.readers import load_table
    from finance_etl_spark.plans.tableformat import (
        _bloom_positions,
        bloom_manifest,
    )

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    out = tempfile.mkdtemp(prefix="bloom_t_")
    (
        o.repartitionByRange(8, "o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    manifest = bloom_manifest(spark, out, "o_custkey")
    truth = {
        (r["path"], r["o_custkey"])
        for r in spark.read.parquet(out)
        .select(F.input_file_name().alias("path"), "o_custkey")
        .distinct()
        .collect()
    }
    blooms = {m["path"]: m["bits"] for m in manifest}
    for path, key in truth:
        assert all(p in blooms[path] for p in _bloom_positions(key)), (
            path,
            key,
        )


def test_bloom_skipping_actually_prunes(spark, sf_dir):
    """A single-key lookup should skip at least one file (the filter
    must not be saturated at test scale)."""
    import tempfile

    from finance_etl_spark.io.readers import load_table
    from finance_etl_spark.plans.tableformat import (
        _bloom_positions,
        bloom_manifest,
    )

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    out = tempfile.mkdtemp(prefix="bloom_t2_")
    (
        o.repartitionByRange(8, "o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    manifest = bloom_manifest(spark, out, "o_custkey")
    # probe keys OUTSIDE the key domain: all files should be skipped
    # for at least one of them unless filters are saturated
    skipped = 0
    for probe in range(10**9, 10**9 + 20):
        pos = _bloom_positions(probe)
        skipped += sum(
            1 for m in manifest if not all(p in m["bits"] for p in pos)
        )
    assert skipped > 0


def test_merge_on_read_equals_copy_on_write(spark, sf_dir):
    """MoR view and post-compaction snapshot must be row-identical."""
    from finance_etl_spark.plans import get

    rows = {
        r["strategy"]: (r["n_rows"], r["total"])
        for r in get("sink_merge_on_read_deletes").build(spark, sf_dir).collect()
    }
    assert rows["mor"] == rows["compacted"]
