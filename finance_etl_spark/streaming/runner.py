"""Structured Streaming plumbing: file-source event stream, memory-sink
test harness, and the foreachBatch idempotent (anti-join) sink — the
streaming form of the reference's J1 incremental load
(reference: utils/data_manager.py:172-201 + main.py:22-29).

At scale the same code runs against a Kafka/file drop-zone source; the
micro-batch boundary is where exactly-once lands: every batch is
anti-joined against the sink's existing keys before append, so replays
and overlapping retries insert nothing twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from finance_etl_spark.io.readers import normalize_event_ts, parquet_schema
from finance_etl_spark.io.sinks import append_new_records
from finance_etl_spark.operators.incremental import with_surrogate_key


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream. File-source streams
    require an explicit schema; it is read from the table's footer
    (``parquet_schema``), then ``ts`` is normalized to the session-TZ
    instant type by the batch reader's own ``normalize_event_ts``."""
    raw = (
        spark.readStream.schema(
            parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))
        )
        # the file source wants a directory: stream the sf dir, glob to
        # the one table file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def run_stream_to_memory(
    df: DataFrame,
    name: str,
    mode: str = "update",
    timeout: int = 120,
    drain: bool = False,
):
    """Run a streaming DataFrame to completion into a memory sink and
    return the resulting table DataFrame (test harness: the fixture
    source is finite, so processAllAvailable terminates).

    ``drain=True`` uses the default microbatch trigger instead of
    availableNow: an offset-capped custom source (e.g. the Python tick
    stream) serves one slice per ``read()`` call, so availableNow
    would stop after the FIRST slice, while processAllAvailable keeps
    firing microbatches until the source's offset stops advancing."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
    if not drain:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(timeout)
    return df.sparkSession.table(name)


def idempotent_append_batch(
    batch_df: DataFrame, sink_dir: str, key_cols: list[str]
) -> int:
    """foreachBatch body: stamp surrogate keys, then append only the
    rows whose key the sink lacks (``io.sinks.append_new_records``).
    Returns rows written.

    Parquet-append is used for the fixture sink; swap for Delta
    ``MERGE WHEN NOT MATCHED`` where ACID is available — the anti-join
    contract is identical.
    """
    return append_new_records(with_surrogate_key(batch_df, key_cols), sink_dir)


def stateful_user_totals(stream_df: DataFrame):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals held in explicit GroupState. This is the
    escape hatch for aggregation logic the built-in windowed aggs can't
    express; state is per-key and partitioned by the shuffle, so it
    scales horizontally like any keyed agg. Integer metrics only —
    exact under any batch/partition order."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int(pdf["event_id"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_event_id": [s]}
        )

    return stream_df.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, sum_event_id long",
        stateStructType="n long, s long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_high_water(stream_df: DataFrame):
    """Custom stateful operator via Spark 4's transformWithStateInPandas
    (the typed successor to applyInPandasWithState): per-user ValueState
    holding the running (best_value, best_event_id, n_events) high-water
    mark, tie-broken lexicographically so the result is deterministic.
    State lives in the RocksDB state store keyed by the shuffle
    partitioning — per-key, spillable, horizontally scalable."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class HighWaterProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "hw", "best_value double, best_event_id long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            best_v, best_id, n = (
                self._state.get() if self._state.exists() else (None, None, 0)
            )
            for pdf in rows:
                n += len(pdf)
                i = pdf[["value", "event_id"]].sort_values(
                    ["value", "event_id"]
                ).iloc[-1]
                v, eid = float(i["value"]), int(i["event_id"])
                if best_v is None or (v, eid) > (best_v, best_id):
                    best_v, best_id = v, eid
            self._state.update((best_v, best_id, n))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "best_value": [best_v],
                    "best_event_id": [best_id],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    return stream_df.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=HighWaterProcessor(),
        outputStructType=(
            "user_id long, best_value double, best_event_id long, n_events long"
        ),
        outputMode="Update",
        timeMode="None",
    )


def transform_with_state_available() -> bool:
    """transformWithStateInPandas needs google.protobuf in the Python
    worker (Spark's state-server protocol); absent in minimal installs.
    The operator above degrades to applyInPandasWithState coverage
    (stateful_user_totals) when unavailable."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False
