"""Real Structured Streaming runs (file source, memory/parquet sinks)
asserted against their batch equivalents."""

import os
import subprocess
import sys
import uuid

from pyspark.sql import functions as F

from finance_etl_spark import plans
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.streaming.runner import (
    events_stream,
    idempotent_append_batch,
    run_stream_to_memory,
)


def test_stream_tumbling_agg_matches_batch(spark, sf_dir):
    """readStream tumbling count with watermark == batch tumbling count
    (the fixture is finite, so completeness holds at end-of-stream)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_memory(agg, name, mode="update").select(
        F.col("window.start").alias("ws"), "event_type", "n_events"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("ws"), "event_type", "n_events")
    )
    assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()


def test_stream_dropduplicates_within_watermark(spark, sf_dir):
    """Streaming dedup on (user_id, event_type): at most one survivor
    per key, and every batch-side key is present."""
    s = events_stream(spark, sf_dir)
    dedup = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"d_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_memory(dedup, name, mode="append")
    batch_keys = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    got_keys = got.distinct()
    assert got.count() == got_keys.count()  # no key twice
    assert batch_keys.exceptAll(got_keys).isEmpty()  # nothing lost


def test_foreachbatch_idempotent_sink(spark, sf_dir, tmp_path):
    """The anti-join sink inserts each key once, no matter how many
    times the same micro-batch replays (streaming J1)."""
    sink = str(tmp_path / "sink")
    batch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select("event_id", "user_id", "event_type")
    )
    n1 = idempotent_append_batch(batch, sink, ["event_id"])
    n2 = idempotent_append_batch(batch, sink, ["event_id"])  # replay
    assert n1 > 0 and n2 == 0
    assert spark.read.parquet(sink).count() == n1

    more = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 300)
        .select("event_id", "user_id", "event_type")
    )
    n3 = idempotent_append_batch(more, sink, ["event_id"])  # overlap
    assert spark.read.parquet(sink).count() == n1 + n3
    assert (
        spark.read.parquet(sink).select("surrogate_key").distinct().count()
        == n1 + n3
    )


def test_session_window_stream_runs(spark, sf_dir):
    """session_window executes under a real stream (state + watermark)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"s_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_memory(agg, name, mode="complete")
    batch = plans.get("stream_session_window").build(spark, sf_dir)
    # finite stream: session count per user must match the batch analog
    assert (
        got.groupBy("user_id").count().exceptAll(
            batch.groupBy("user_id").count()
        ).isEmpty()
    )


def test_rate_source_stream(spark):
    """The rate source (synthetic benchmark stream) drives the same
    windowed-agg code path as the file source — smoke for the
    'streaming source' row beyond file-based streams."""
    s = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .withWatermark("timestamp", "1 second")
        .groupBy(F.window("timestamp", "1 second"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        s.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("update")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table("rate_smoke").count() > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert spark.table("rate_smoke").count() > 0


def test_transform_with_state_high_water(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: per-user high-water ValueState
    equals the batch row_number()=1 pick. Skips where google.protobuf
    (required by the transformWithState Python state protocol) is not
    installed — the operator itself is exercised end-to-end when it is."""
    from finance_etl_spark.streaming.runner import (
        events_stream,
        run_stream_to_memory,
        stateful_high_water,
        transform_with_state_available,
    )

    import pytest

    if not transform_with_state_available():
        pytest.skip("google.protobuf not installed; transformWithState worker cannot start")

    import uuid

    from pyspark.sql import functions as F

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    s = events_stream(spark, sf_dir).select("user_id", "event_id", "value")
    out = run_stream_to_memory(
        stateful_high_water(s), f"tws_{uuid.uuid4().hex[:8]}", mode="update"
    )
    got = {
        r.user_id: (r.best_value, r.best_event_id, r.n_events)
        for r in out.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("best_value", "best_event_id", "n_events"), F.col("n_events")
            ).alias("s")
        )
        .select("user_id", "s.*")
        .collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = ev.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").desc()
    )
    want = {
        r.user_id: (r.value, r.event_id, r.n)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter("rn = 1")
        .collect()
    }
    assert got == want


def test_checkpoint_restart_resumes_without_reprocessing(spark, sf_dir, tmp_path):
    """Streaming durability: a query restarted from its checkpoint must
    process ONLY files that arrived while it was down — no replays, no
    gaps. Run 1 drains file A into a parquet sink; file B lands; run 2
    (same checkpoint) picks up exactly B. The sink holds each row
    exactly once — the file-source + checkpoint contract a production
    drop-zone pipeline depends on."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    e = load_table(spark, sf_dir, "events").limit(2000).cache()
    a = e.filter(F.col("event_id") % 2 == 0)
    b = e.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.mode("append").parquet(str(src))

    schema = e.schema

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)

    drain()
    n_after_first = spark.read.parquet(str(sink)).count()
    assert n_after_first == a.count()

    b.coalesce(1).write.mode("append").parquet(str(src))
    drain()
    out = spark.read.parquet(str(sink))
    assert out.count() == e.count()  # B added exactly once, A not replayed
    assert out.select("event_id").distinct().count() == e.count()
    e.unpersist()


def test_tick_stream_reader_replay_identity():
    """Offset-sliced reads must equal the whole-range replay: the
    exactly-once contract of the Python streaming source is that
    readBetweenOffsets regenerates any committed slice bit-identically,
    so a recovered query sees the same rows the original run saw."""
    from finance_etl_spark.io.ticksource import TickStreamReader

    r = TickStreamReader(batch_rows=100, max_rows=500)
    off = r.initialOffset()
    sliced, offsets = [], [off]
    while True:
        rows, nxt = r.read(off)
        rows = list(rows)
        if not rows and nxt == off:
            break
        sliced.extend(rows)
        offsets.append(nxt)
        off = nxt
    assert off == {"tick": 500}
    replay = list(r.readBetweenOffsets(offsets[0], off))
    assert sliced == replay
    # a mid-stream recovery slice too
    assert list(r.readBetweenOffsets({"tick": 200}, {"tick": 300})) == sliced[200:300]


_BUILD_AND_COLLECT = """
import sys
from finance_etl_spark import plans
from finance_etl_spark.session import get_spark
spark = get_spark("scratch-dirs", shuffle_partitions=4)
for name in sys.argv[2:]:
    assert plans.get(name).build(spark, sys.argv[1]).collect()
"""


def test_builds_leave_no_scratch_dirs(sf_dir, tmp_path):
    """A streaming sink and a file sink, built and collected in a fresh
    interpreter, leave nothing in that interpreter's temp dir: every
    build directory lives under one root removed at exit."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = ["stream_live_foreachbatch_sink", "sink_file_stats_skipping"]
    subprocess.run(
        [sys.executable, "-c", _BUILD_AND_COLLECT, sf_dir, *names],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        check=True,
        timeout=600,
    )
    assert not os.listdir(tmp_path)
