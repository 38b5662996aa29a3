"""Streaming window semantics, oracle-checked two ways.

Tumbling / sliding / session windows are registered as BATCH queries
over ``events`` using the exact window functions Structured Streaming
executes (``F.window``, ``F.session_window``) — so the DuckDB oracle
checks the same semantics the streaming engine applies per micro-batch.

The ``stream_live_*`` queries then run REAL readStream pipelines
(file source -> watermark -> stateful op -> sink, availableNow
trigger): the fixture stream is finite, so at end-of-stream the result
must equal the batch formulation and the same DuckDB oracles apply.
Late-data edge cases that need crafted input live in
tests/test_streaming.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import dsum, o_dsum
from finance_etl_spark.io.readers import load_table, parquet_schema
from finance_etl_spark.plans.recipes import (
    CUSUM_CHANGEPOINT_SQL,
    PPL_THRESHOLD,
    cusum_changepoint,
)
from finance_etl_spark.plans.registry import register


@register(
    "stream_tumbling_window",
    headline=True,
    tags=("streaming", "window", "agg"),
    oracle=f"""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {o_dsum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — identical code shape in
    readStream (plus withWatermark); partial aggregation runs map-side
    so the shuffle carries one row per (window, type) per partition."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (
        e.groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    tags=("streaming", "window", "agg"),
    oracle="""
        WITH slid AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                       - k.k * INTERVAL 30 MINUTE AS window_start,
                   user_id, value
            FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
        )
        SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
               COUNT(*) AS n_events
        FROM slid GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour length, 30 minute slide): every event
    belongs to exactly 2 overlapping windows; Spark expands them
    without duplicating the input scan."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        e.groupBy(w)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
        )
    )


@register(
    "stream_session_window",
    tags=("streaming", "window", "session"),
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-minute gap) aggregation — the same
    operator Structured Streaming runs with state; window end = last
    event + gap, which the lag/cumsum oracle reproduces exactly."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Live streaming runs (readStream end-to-end, availableNow trigger).


@register(
    "stream_live_tumbling_agg",
    tags=("streaming", "live", "window", "agg"),
    oracle="""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
)
def stream_live_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming tumbling aggregation: file source ->
    1h watermark -> windowed count -> memory sink, availableNow. State
    is bounded by the watermark horizon (windows older than watermark
    are finalized and evicted); the finite fixture makes the end-of-
    stream answer exactly the batch answer, which the oracle checks."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_stream_to_memory(agg, f"live_t_{uuid.uuid4().hex[:8]}", mode="update")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n_events"
    )


@register(
    "stream_live_dedup_watermark",
    tags=("streaming", "live", "dedup"),
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_live_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once key dedup: dropDuplicatesWithinWatermark
    under a real stream. Which physical row survives is engine-internal,
    so the query projects the key alone — the surviving KEY SET is
    deterministic and oracle-checked. Key state is evicted once the
    watermark passes, so state is bounded at any corpus size."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    s = events_stream(spark, sf_dir)
    dedup = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_stream_to_memory(dedup, f"live_d_{uuid.uuid4().hex[:8]}", mode="append")
    # within-watermark dedup may legitimately re-emit a key whose first
    # occurrence aged out; the fixture spans hours, so distinct() makes
    # the contract exact for the oracle
    return out.distinct()


@register(
    "stream_live_foreachbatch_sink",
    tags=("streaming", "live", "sink", "incremental"),
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def stream_live_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming J1: foreachBatch anti-join idempotent append (the
    reference's incremental load under a stream). The stream runs
    TWICE against the same sink — the replay must insert nothing —
    and the sink must hold each event exactly once."""
    import tempfile

    from finance_etl_spark.streaming.runner import (
        events_stream,
        idempotent_append_batch,
    )

    sink = tempfile.mkdtemp(prefix="stream_sink_")
    src = events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")

    def run_once() -> None:
        q = (
            src.writeStream.foreachBatch(
                lambda df, _eid: idempotent_append_batch(df, sink, ["event_id"])
            )
            .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    run_once()  # full replay (fresh checkpoint): anti-join must drop it all
    return spark.read.parquet(sink).select("event_id", "user_id", "event_type")


@register(
    "stream_live_stateful_totals",
    tags=("streaming", "live", "state", "udf"),
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS sum_event_id
        FROM events GROUP BY user_id
    """,
)
def stream_live_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator under a real stream: per-user totals in
    explicit GroupState (applyInPandasWithState), update-mode memory
    sink. The fixture is a single file, so availableNow processes one
    micro-batch and the final update per key equals the batch group-by
    — which the oracle checks exactly (integer metrics only). In
    update mode a key may emit once per batch; the max-per-key pick
    below makes the query batch-count-agnostic."""
    from finance_etl_spark.streaming.runner import (
        events_stream,
        run_stream_to_memory,
        stateful_user_totals,
    )

    s = events_stream(spark, sf_dir).select("user_id", "event_id")
    out = run_stream_to_memory(
        stateful_user_totals(s), f"live_s_{uuid.uuid4().hex[:8]}", mode="update"
    )
    # keep the final (largest) update per key: totals grow monotonically
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("sum_event_id").alias("sum_event_id"),
    )


@register(
    "stream_live_stream_join",
    tags=("streaming", "live", "join"),
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               c.user_id,
               CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_sec
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_live_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real stream-stream inner join: clicks joined to the same user's
    purchases within the following hour, both sides watermarked so the
    join state store evicts rows once they can no longer match (clicks
    after 1h + watermark, purchases after the watermark) — bounded
    state at any stream length, the canonical funnel-attribution shape.
    Finite fixture + availableNow ⇒ the emitted matches equal the batch
    interval join, which the oracle computes."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        [
            clicks["user_id"] == purchases["user_id"],
            purchases["purchase_ts"] >= clicks["click_ts"],
            purchases["purchase_ts"] <= clicks["click_ts"] + F.expr("INTERVAL 1 HOUR"),
        ],
    ).select(
        "click_id",
        "purchase_id",
        clicks["user_id"].alias("user_id"),
        (
            F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("lag_sec"),
    )
    out = run_stream_to_memory(
        joined, f"live_j_{uuid.uuid4().hex[:8]}", mode="append"
    )
    return out


@register(
    "stream_live_session_window",
    tags=("streaming", "live", "window", "session"),
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_live_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with STATE: a real readStream drives
    session_window(30 min) per user through the streaming session-merge
    operator (availableNow, update mode). Sessions merge in state as
    events arrive; the watermark bounds how long an open session can
    wait for a late extension. Spark restricts session-window streams
    to append/complete output; the memory-sink harness uses complete
    (fixture result set is small). A production job would use append,
    where only watermark-finalized sessions emit — the batch oracle
    here checks the COMPLETE end-of-stream answer, which must equal
    the batch session_window result exactly."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_stream_to_memory(agg, f"live_sw_{uuid.uuid4().hex[:8]}", mode="complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@register(
    "stream_live_static_enrich",
    tags=("streaming", "live", "join"),
    oracle="""
        SELECT e.event_id, e.user_id, c.c_mktsegment, e.event_type, e.value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
    """,
)
def stream_live_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: a live event stream joined
    to a BATCH dimension table (the streaming analog of the reference's
    T5 small-dict lookup, reference: utils/data_manager.py:80-86, but
    against a real table instead of a literal map). Stream-static inner
    joins are stateless — each micro-batch joins against the static
    side with no state store; customer is SF-scaling so it carries no
    broadcast hint (AQE broadcasts it while small; at scale the
    enrichment becomes a shuffled stream-static join). Filter runs
    stream-side
    before the join."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    s = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    c = load_table(spark, sf_dir, "customer")
    enriched = s.join(
        c, s.user_id == c.c_custkey, "inner"
    ).select("event_id", "user_id", "c_mktsegment", "event_type", "value")
    return run_stream_to_memory(
        enriched, f"live_e_{uuid.uuid4().hex[:8]}", mode="append"
    )


@register(
    "stream_live_stream_left_outer",
    tags=("streaming", "live", "join", "outer"),
    oracle="""
        WITH clicks AS (
            SELECT event_id AS click_id, user_id, ts AS cts
            FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT event_id AS purchase_id, user_id AS pu, ts AS pts
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            SELECT least((SELECT MAX(cts) FROM clicks),
                         (SELECT MAX(pts) FROM purchases))
                   - INTERVAL 1 HOUR AS w
        )
        SELECT click_id, purchase_id, user_id
        FROM clicks c LEFT JOIN purchases p
          ON c.user_id = p.pu
         AND p.pts >= c.cts
         AND p.pts <= c.cts + INTERVAL 1 HOUR
        WHERE purchase_id IS NOT NULL
           OR cts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
)
def stream_live_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits — with
    its purchase when one follows within the hour, null-padded once the
    watermark proves no purchase can still arrive. Outer results are
    exactly the rows whose join-state expired: a click's null row emits
    only after the global watermark (min over both inputs of max-ts
    minus the 1h delay) passes its click_ts + 1h window end. The oracle
    encodes that eviction rule explicitly — the batch left join plus
    the watermark cutoff — so the driver checks the streaming engine's
    *actual* emission contract, including the withheld tail rows, not
    an idealized batch answer. State is bounded on both sides at any
    stream length."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id")
    return run_stream_to_memory(
        joined, f"live_lo_{uuid.uuid4().hex[:8]}", mode="append"
    )


@register(
    "stream_live_python_source",
    tags=("streaming", "live", "source", "spark4"),
    oracle=f"""
        WITH ticks AS (
            SELECT i AS tick_id,
                   TIMESTAMP '2024-01-01' + i * INTERVAL 1 SECOND AS ts,
                   100.0 + ((i * 2654435761) % 2001 - 1000) / 100.0 AS px
            FROM range(0, 500) t(i)
        )
        SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS bar_minute,
               COUNT(*) AS n_ticks,
               MIN(px) AS low, MAX(px) AS high,
               {o_dsum('px')}
                 AS px_volume
        FROM ticks GROUP BY bar_minute
    """,
)
def stream_live_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real stream through the Spark 4 PYTHON streaming DataSource
    API (io/ticksource.py::TickStreamReader): integer tick offsets in
    the engine's offset log, 5 microbatches of 100 drained via
    processAllAvailable, exactly-once replay by construction
    (readBetweenOffsets regenerates any slice bit-identically). The
    drained rows then compact to minute bars, and because the source
    is a pure function of tick_id the DuckDB oracle rebuilds the
    identical 500 ticks from range() — a live streaming source with a
    FULL value-hash gate, not a rows-only waiver."""
    from finance_etl_spark.functions.money import dsum
    from finance_etl_spark.io.ticksource import TickDataSource
    from finance_etl_spark.streaming.runner import run_stream_to_memory

    spark.dataSource.register(TickDataSource)
    raw = (
        spark.readStream.format("ticks")
        .option("batch_rows", 100)
        .option("max_rows", 500)
        .load()
    )
    drained = run_stream_to_memory(
        raw, f"live_pysrc_{uuid.uuid4().hex[:8]}", mode="append", drain=True
    )
    return drained.groupBy(
        F.date_trunc("minute", "ts").alias("bar_minute")
    ).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.min("px").alias("low"),
        F.max("px").alias("high"),
        dsum("px").alias("px_volume"),
    )


@register(
    "stream_live_rocksdb_state",
    tags=("streaming", "live", "state", "scale"),
    oracle="""
        SELECT user_id, event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY user_id, event_type
    """,
)
def stream_live_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real stream whose aggregation state lives in the ROCKSDB state
    store provider — the 100-TB configuration: the default HDFS-backed
    provider keeps every key in executor heap, while RocksDB spills
    keyed state to local SSD and bounds memory regardless of key
    cardinality (billions of users, not millions). Same per-key count
    the batch oracle computes; complete output mode drains the final
    state. The provider conf is scoped to this query and restored —
    library code must not leak session-level state-store choices."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        s = events_stream(spark, sf_dir)
        agg = s.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        out = run_stream_to_memory(
            agg, f"live_rocks_{uuid.uuid4().hex[:8]}", mode="complete"
        )
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)
    return out


@register(
    "stream_live_chained_stateful",
    tags=("streaming", "live", "join", "spark4"),
    oracle="""
        WITH matched AS (
            SELECT p.ts AS purchase_ts, c.user_id
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        )
        , wm AS (
            -- end-of-stream watermark as the WINDOW operator sees it:
            -- each input is delayed 1h (withWatermark), and the interval
            -- join delays its output watermark by the join bound again on
            -- the click side (a purchase emits only once no older click
            -- can still arrive), so the click term loses 2h total
            SELECT LEAST(
                (SELECT MAX(ts) FROM events WHERE event_type = 'click')
                    - INTERVAL 2 HOUR,
                (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
                    - INTERVAL 1 HOUR
            ) AS w
        )
        SELECT make_timestamp((epoch_us(purchase_ts) // 3600000000)
                              * 3600000000) AS window_start,
               COUNT(*) AS n_attributed,
               MIN(purchase_ts) AS first_purchase,
               MAX(purchase_ts) AS last_purchase
        FROM matched, wm
        GROUP BY window_start
        HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_live_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in one streaming query (Spark 4's
    multi-stateful-operator support): a watermarked stream-stream
    interval join (funnel attribution) feeding DIRECTLY into a
    tumbling-window aggregation of the matches — previously this
    required two queries with an intermediate sink. Watermarks
    propagate through the join so the window operator still evicts
    finalized windows; both state stores stay bounded. The oracle is
    the batch form: interval join, then hourly counts of attributed
    purchases."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        [
            clicks["user_id"] == purchases["user_id"],
            purchases["purchase_ts"] >= clicks["click_ts"],
            purchases["purchase_ts"]
            <= clicks["click_ts"] + F.expr("INTERVAL 1 HOUR"),
        ],
    ).select(
        clicks["user_id"].alias("user_id"),
        "purchase_ts",
    )
    # (COUNT DISTINCT is unsupported over streams — distinct user
    # counting in-stream goes through approx_count_distinct or the
    # dropDuplicatesWithinWatermark + count composition instead)
    windowed = joined.groupBy(F.window("purchase_ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.min("purchase_ts").alias("first_purchase"),
        F.max("purchase_ts").alias("last_purchase"),
    )
    out = run_stream_to_memory(
        windowed, f"live_chain_{uuid.uuid4().hex[:8]}", mode="append"
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        "n_attributed",
        "first_purchase",
        "last_purchase",
    )


@register(
    "stream_live_stream_full_outer",
    tags=("streaming", "live", "join", "outer"),
    oracle="""
        WITH clicks AS (
            SELECT event_id AS click_id, user_id, ts AS cts
            FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT event_id AS purchase_id, user_id AS pu, ts AS pts
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            SELECT least((SELECT MAX(cts) FROM clicks),
                         (SELECT MAX(pts) FROM purchases))
                   - INTERVAL 1 HOUR AS w
        )
        SELECT click_id, purchase_id,
               COALESCE(user_id, pu) AS user_id
        FROM clicks c FULL OUTER JOIN purchases p
          ON c.user_id = p.pu
         AND p.pts >= c.cts
         AND p.pts <= c.cts + INTERVAL 1 HOUR
        WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
           OR (purchase_id IS NULL
               AND cts + INTERVAL 1 HOUR < (SELECT w FROM wm))
           OR (click_id IS NULL AND pts < (SELECT w FROM wm))
    """,
)
def stream_live_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matches emit on match;
    each side's unmatched rows null-pad exactly when that side's join
    state expires. The eviction times are ASYMMETRIC — a click can
    still match purchases up to click_ts + 1h, so its null row waits
    for watermark > click_ts + 1h, while a purchase can only match
    clicks at or before purchase_ts, so it evicts already at watermark
    > purchase_ts. The oracle encodes both rules against the final
    global watermark (min over both inputs of max-ts minus the 1h
    delay), checking the engine's real two-sided emission contract.
    State stays bounded on both sides at any stream length."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user")).alias("user_id"),
    )
    return run_stream_to_memory(
        joined, f"live_fo_{uuid.uuid4().hex[:8]}", mode="append"
    )


@register(
    "stream_live_cdc_to_snapshot",
    tags=("streaming", "live", "cdc", "tableformat"),
    oracle="""
        WITH ticks AS (
            SELECT i AS tick_id,
                   100.0 + ((i * 2654435761) % 2001 - 1000) / 100.0 AS px
            FROM range(0, 500) t(i)
        ),
        latest AS (
            SELECT tick_id % 50 AS instrument, tick_id, px,
                   ROW_NUMBER() OVER (PARTITION BY tick_id % 50
                                      ORDER BY tick_id DESC) AS rn
            FROM ticks
        )
        SELECT CAST(instrument AS BIGINT) AS instrument,
               CAST(tick_id AS BIGINT) AS last_tick,
               px AS last_px
        FROM latest WHERE rn = 1
        ORDER BY instrument
    """,
)
def stream_live_cdc_to_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC stream applied as VERSIONED SNAPSHOTS: each microbatch of
    the Python tick source (5 batches of 100) compacts to latest-per-
    instrument, merges with the previous published snapshot, and
    commits a new manifest version (plans/tableformat.py) — so mid-
    stream history stays time-travelable while readers always see a
    consistent manifest, never a half-written directory. The merge is
    max-by-tick_id per key over (previous snapshot ∪ batch compaction)
    — O(|dim| + |batch|) per commit, not O(stream). The oracle
    reconstructs the final snapshot from the tick function; per-
    version contracts (count, v1 content, immutability) are pinned in
    tests/test_tableformat.py."""
    import tempfile

    from finance_etl_spark.io.ticksource import TickDataSource
    from finance_etl_spark.plans.tableformat import read_snapshot, versioned_replace

    spark.dataSource.register(TickDataSource)
    root = tempfile.mkdtemp(prefix="cdc_snap_")
    state = {"version": 0}

    def apply_batch(df: DataFrame, _eid: int) -> None:
        comp = (
            df.withColumn("instrument", F.col("tick_id") % 50)
            .groupBy("instrument")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("tick_id").alias("last_tick"),
                        F.col("px").alias("last_px"),
                    ),
                    F.col("tick_id"),
                ).alias("s")
            )
            .select("instrument", "s.last_tick", "s.last_px")
        )
        if comp.isEmpty():
            return
        if state["version"] > 0:
            prev = read_snapshot(spark, root, state["version"])
            comp = (
                prev.unionByName(comp)
                .groupBy("instrument")
                .agg(
                    F.max_by(
                        F.struct("last_tick", "last_px"), F.col("last_tick")
                    ).alias("s")
                )
                .select("instrument", "s.last_tick", "s.last_px")
            )
        state["version"] = versioned_replace(
            spark, root, state["version"], comp
        )

    raw = (
        spark.readStream.format("ticks")
        .option("batch_rows", 100)
        .option("max_rows", 500)
        .load()
    )
    q = (
        raw.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="cdc_ckpt_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    return read_snapshot(spark, root, state["version"]).orderBy("instrument")


@register(
    "stream_live_scd2_enrich",
    tags=("streaming", "live", "scd2", "temporal-join"),
    oracle="""
        WITH purchases AS (
            SELECT user_id, ts, event_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS INT) AS tier
            FROM events WHERE event_type = 'purchase'
        ),
        dim AS (
            SELECT user_id, tier, ts AS valid_from,
                   LEAD(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to
            FROM purchases
        ),
        clicks AS (
            SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
        ),
        enriched AS (
            SELECT c.user_id, COALESCE(d.tier, 0) AS tier
            FROM clicks c LEFT JOIN dim d
              ON d.user_id = c.user_id
             AND c.cts >= d.valid_from
             AND (d.valid_to IS NULL OR c.cts < d.valid_to)
        )
        SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_clicks
        FROM enriched GROUP BY tier ORDER BY tier
    """,
)
def stream_live_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 enrichment of a LIVE stream: the dimension is
    the user's loyalty tier — version n becomes valid at the user's
    n-th purchase (SCD2 intervals built with one hash-partitioned
    window over the purchase feed) — and each streaming click joins
    the tier that was valid AT CLICK TIME, not the current one (the
    training-serving-skew trap in feature pipelines). The stream-static
    join is stateless per microbatch: equi on the user key plus the
    interval-containment residual, fan-out bounded by versions-per-
    user; clicks before any purchase enrich to tier 0 via the left
    join. Oracle = the batch temporal join."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("d_user"),
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("tier"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("valid_to"),
        )
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("cts"))
    )
    enriched = clicks.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("cts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("cts") < F.col("valid_to"))),
        "left",
    ).select("user_id", F.coalesce(F.col("tier"), F.lit(0)).alias("tier"))
    drained = run_stream_to_memory(
        enriched, f"live_scd2_{uuid.uuid4().hex[:8]}", mode="append"
    )
    return (
        drained.groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .orderBy("tier")
    )


@register(
    "stream_live_topk_per_window",
    tags=("streaming", "live", "window", "rank"),
    oracle="""
        WITH agg AS (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
                   user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(win_start AS TIMESTAMP) AS win_start, user_id, n_events
        FROM (
            SELECT *, row_number() OVER (PARTITION BY win_start
                       ORDER BY n_events DESC, user_id) AS rn
            FROM agg
        ) WHERE rn <= 3
    """,
)
def stream_live_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: per tumbling hour, the top-3 users by
    event count. Ranking ON TOP of a streaming aggregation is illegal
    inside one streaming query (no multiple stateful ops + no window
    function on an unfinalized aggregate), so the production shape is
    the two-stage split: the STREAM maintains the (window, user)
    counts; the RANKING runs per trigger in foreachBatch over the
    finalized aggregate — here, complete-mode output into a batch
    row_number. The oracle recomputes from the batch table.

    Scale: state = one row per (window, user); watermarking bounds it
    in production (the fixture is finite). The per-batch ranking only
    touches the aggregate relation — never raw events."""
    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    import uuid as _uuid

    src = events_stream(spark, sf_dir)
    counts = src.groupBy(
        F.window("ts", "1 hour").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    agg = run_stream_to_memory(
        counts, f"live_topk_{_uuid.uuid4().hex[:8]}", mode="complete"
    )
    w = Window.partitionBy("w").orderBy(F.col("n_events").desc(), "user_id")
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(F.col("w.start").alias("win_start"), "user_id", "n_events")
    )


@register(
    "stream_live_observed_metrics",
    tags=("streaming", "live", "observability"),
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) IS NOT NULL AS BOOLEAN)
                   AS metrics_reported,
               {o_dsum('value')} AS total_value
        FROM events
    """,
)
def stream_live_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability via Dataset.observe(): named metrics
    (row count, exact decimal value sum) ride INSIDE the streaming
    query as accumulator-style aggregates and surface per micro-batch
    in QueryProgress.observedMetrics — the production pattern for
    monitoring record counts / value conservation without a second
    pass or a sink-side audit query. Counts and DECIMAL sums are
    associative, so summing the per-batch observations reproduces the
    batch answer EXACTLY — which is what the oracle checks. Metric
    evaluation is map-side (no extra shuffle beyond the sink's own
    plan); observe() costs one pass over rows already in flight."""
    import decimal as pydec
    import uuid as _uuid

    from finance_etl_spark.streaming.runner import events_stream

    s = events_stream(spark, sf_dir)
    observed = s.observe(
        "conservation",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("total_dec"),
    )
    name = f"live_obs_{_uuid.uuid4().hex[:8]}"
    q = (
        observed.select("event_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    # drain progress AFTER completion: every finished micro-batch
    # reports its observedMetrics exactly once in recentProgress
    n_rows, total = 0, pydec.Decimal(0)
    reported = False
    for p in q.recentProgress:
        m = (p.get("observedMetrics") or {}).get("conservation")
        if m is None:
            continue
        reported = True
        n_rows += int(m["n_rows"])
        if m["total_dec"] is not None:
            total += pydec.Decimal(str(m["total_dec"]))
    q.stop()
    q.awaitTermination(60)
    out = spark.createDataFrame(
        [(n_rows, reported, float(total))],
        "n_rows long, metrics_reported boolean, total_value double",
    )
    return out


@register(
    "stream_live_dedup_admission",
    tags=("streaming", "live", "dedup", "incremental"),
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(t) - 1),
                       i -> array_to_string(t[i : i + 1], ' ')))) AS shingle
            FROM toks WHERE len(t) >= 2
        ),
        corpus_sh AS (SELECT * FROM sh WHERE doc_id % 17 <> 0),
        batch_sh AS (SELECT * FROM sh WHERE doc_id % 17 = 0),
        rare AS (
            SELECT shingle FROM corpus_sh GROUP BY shingle
            HAVING COUNT(*) <= 50
        ),
        idx_c AS (SELECT c.* FROM corpus_sh c JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT b.doc_id AS new_id, c.doc_id AS old_id, COUNT(*) AS n_common
            FROM batch_sh b JOIN idx_c c USING (shingle)
            GROUP BY 1, 2
        ),
        verified AS (
            SELECT cm.new_id,
                   CAST(cm.n_common AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - cm.n_common) AS jaccard
            FROM common cm
            JOIN sizes sa ON sa.doc_id = cm.new_id
            JOIN sizes sb ON sb.doc_id = cm.old_id
        )
        SELECT d.doc_id AS new_id,
               CAST(COUNT(v.jaccard) FILTER (WHERE v.jaccard >= 0.5) AS BIGINT)
                   AS n_corpus_dups,
               COUNT(v.jaccard) FILTER (WHERE v.jaccard >= 0.5) = 0 AS admit
        FROM documents d LEFT JOIN verified v ON v.new_id = d.doc_id
        WHERE d.doc_id % 17 = 0
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """,
)
def stream_live_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup admission — the production corpus-growth
    pipeline end to end: the corpus's df-capped inverted shingle index
    is MATERIALIZED once (exactly what a deployed system keeps between
    runs), then the incoming document stream probes it per micro-batch
    in foreachBatch; a batch doc with any ≥0.5-Jaccard corpus neighbor
    is rejected, the rest are admitted and appended to the curated
    sink. The admission decision depends only on (doc, corpus-index) —
    never on batch boundaries — so the streamed answer equals the
    batch formulation and is fully hash-checked against the relational
    oracle. Per-batch cost is O(batch collisions) against the index;
    the corpus is never rescanned. This lifts the reference's J1
    exact-key incremental load (data_manager.py:172-201) to near-dup
    semantics under a live stream."""
    import os as _os
    import tempfile as _tf

    from finance_etl_spark.io.readers import load_table_parallel
    from finance_etl_spark.operators.dedup import shingle_array

    d = load_table_parallel(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 17 == 0
    # ---- corpus side (materialized once, like production) ----
    arr_all = shingle_array(d, "doc_id", "text", n=2).persist()
    arr_all.count()
    sh_all = arr_all.select(
        "doc_id", F.explode("sh_arr").alias("s")
    ).select("doc_id", F.xxhash64("s").alias("h"))
    sizes_all = arr_all.select(
        "doc_id", F.size("sh_arr").alias("n_sh")
    ).filter(F.col("n_sh") > 0)
    corpus_sh = sh_all.filter(~is_new)
    rare = (
        corpus_sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
    )
    idx_c = (
        corpus_sh.join(rare.select("h"), "h", "left_semi")
        .select(F.col("doc_id").alias("old_id"), "h")
        .persist()
    )
    idx_c.count()
    sizes_old = sizes_all.select(
        F.col("doc_id").alias("old_id"), F.col("n_sh").alias("nb")
    )
    sizes_new = sizes_all.select(
        F.col("doc_id").alias("new_id"), F.col("n_sh").alias("na")
    )
    sink = _tf.mkdtemp(prefix="admit_sink_")

    # ---- streaming side: batch docs arrive as a file stream ----
    batch_schema = parquet_schema(
        spark, _os.path.join(sf_dir, "documents.parquet")
    )
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(is_new)
        .select("doc_id", "text")
    )

    def admit_batch(batch_df, _eid) -> None:
        b_arr = shingle_array(batch_df, "doc_id", "text", n=2)
        b_sh = b_arr.select(
            "doc_id", F.explode("sh_arr").alias("s")
        ).select(F.col("doc_id").alias("new_id"), F.xxhash64("s").alias("h"))
        common = (
            b_sh.join(idx_c, "h")
            .groupBy("new_id", "old_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        verified = (
            common.join(sizes_new, "new_id")
            .join(sizes_old, "old_id")
            .select(
                "new_id",
                (
                    F.col("n_common").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_common"))
                ).alias("jaccard"),
            )
        )
        dup_counts = verified.filter(F.col("jaccard") >= 0.5).groupBy(
            "new_id"
        ).agg(F.count(F.lit(1)).alias("n_corpus_dups"))
        out = (
            batch_df.select(F.col("doc_id").alias("new_id"))
            .join(dup_counts, "new_id", "left")
            .select(
                "new_id",
                F.coalesce("n_corpus_dups", F.lit(0)).cast("long").alias(
                    "n_corpus_dups"
                ),
                (F.coalesce("n_corpus_dups", F.lit(0)) == 0).alias("admit"),
            )
        )
        out.write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", _tf.mkdtemp(prefix="admit_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    arr_all.unpersist()
    idx_c.unpersist()
    return spark.read.parquet(sink).orderBy("new_id")


@register(
    "stream_live_backfill_tail",
    tags=("streaming", "live", "incremental", "checkpoint"),
    oracle="""
        SELECT event_id, user_id, event_type FROM events
        UNION ALL
        SELECT event_id + 100000000, user_id, event_type
        FROM events WHERE event_id % 11 = 0
        ORDER BY event_id
    """,
)
def stream_live_backfill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill-then-tail (the kappa-architecture promise): ONE
    streaming query first drains the historical data (run 1,
    availableNow over the existing file), then NEW files land in the
    source directory and the SAME query resumes from its CHECKPOINT
    (run 2) — processing only the new arrivals, never re-reading or
    re-emitting history. The sink must hold history + tail exactly
    once, which the oracle checks: the 'tail' fixture is a key-shifted
    slice of events (event_id + 1e8), so the expected final content is
    fully SQL-expressible. This is the file-source equivalent of a
    Kafka consumer group resuming from committed offsets — checkpoint
    continuation IS the exactly-once contract."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    src_dir = _tf.mkdtemp(prefix="bft_src_")
    ckpt = _tf.mkdtemp(prefix="bft_ckpt_")
    sink = _tf.mkdtemp(prefix="bft_sink_")
    events_path = _os.path.join(sf_dir, "events.parquet")
    _sh.copyfile(events_path, _os.path.join(src_dir, "part-000.parquet"))
    schema = parquet_schema(spark, events_path)
    batch = spark.read.schema(schema).parquet(events_path)

    def run_once() -> None:
        s = (
            spark.readStream.schema(schema)
            .parquet(src_dir)
            .select("event_id", "user_id", "event_type")
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # backfill: drains history into the sink
    # the tail arrives: a new file with key-shifted events
    tail = batch.filter(F.col("event_id") % 11 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(100000000)
    )
    tail.coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(src_dir, "tail")
    )
    for f in _os.listdir(_os.path.join(src_dir, "tail")):
        if f.endswith(".parquet"):
            _sh.move(
                _os.path.join(src_dir, "tail", f),
                _os.path.join(src_dir, "part-001.parquet"),
            )
    _sh.rmtree(_os.path.join(src_dir, "tail"))
    run_once()  # tail: resumes from the checkpoint, new file only
    return spark.read.parquet(sink).orderBy("event_id")


@register(
    "stream_live_perplexity_admission",
    tags=("streaming", "live", "text", "quality"),
    oracle=f"""
        WITH docs AS MATERIALIZED (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS lst
            FROM documents
        ),
        corpus_big AS MATERIALIZED (
            SELECT doc_id, lst[i] AS w1, lst[i + 1] AS w2
            FROM (SELECT doc_id, lst,
                         unnest(generate_series(1, len(lst) - 1)) AS i
                  FROM docs WHERE len(lst) >= 2)
            WHERE doc_id % 17 <> 0
        ),
        c12 AS (SELECT w1, w2, COUNT(*) AS c12
                FROM corpus_big GROUP BY w1, w2),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM corpus_big GROUP BY w1),
        vocab AS (
            SELECT COUNT(DISTINCT tok) AS v
            FROM (SELECT unnest(lst) AS tok FROM docs WHERE doc_id % 17 <> 0)
        ),
        new_big AS (
            SELECT doc_id, lst[i] AS w1, lst[i + 1] AS w2
            FROM (SELECT doc_id, lst,
                         unnest(generate_series(1, len(lst) - 1)) AS i
                  FROM docs WHERE len(lst) >= 2)
            WHERE doc_id % 17 = 0
        ),
        doc_big AS (
            SELECT doc_id, w1, w2, COUNT(*) AS m
            FROM new_big GROUP BY doc_id, w1, w2
        ),
        scored AS (
            SELECT db.doc_id,
                   CAST(SUM(db.m) AS BIGINT) AS n_bigrams,
                   CAST(CAST(-SUM(db.m * CAST(ln(
                           CAST(COALESCE(p.c12, 0) + 1 AS DOUBLE)
                           / CAST(COALESCE(u.c1, 0) + vo.v AS DOUBLE))
                        AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE)
                     / CAST(SUM(db.m) AS DOUBLE) AS avg_nll
            FROM doc_big db
            LEFT JOIN c12 p ON p.w1 = db.w1 AND p.w2 = db.w2
            LEFT JOIN c1 u ON u.w1 = db.w1
            CROSS JOIN vocab vo
            GROUP BY db.doc_id
        )
        SELECT d.doc_id AS new_id,
               COALESCE(s.n_bigrams, 0) AS n_bigrams,
               s.avg_nll,
               COALESCE(s.avg_nll < {PPL_THRESHOLD}, FALSE) AS admit
        FROM (SELECT doc_id FROM documents WHERE doc_id % 17 = 0) d
        LEFT JOIN scored s ON s.doc_id = d.doc_id
        ORDER BY new_id
    """,
)
def stream_live_perplexity_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING perplexity-gated admission — text_perplexity_filter
    lifted to the production corpus-growth shape of
    stream_live_dedup_admission: the corpus bigram LM (counts + vocab,
    quantized-log scoring) is MATERIALIZED once from the existing
    corpus; incoming documents arrive as a file stream and every
    micro-batch is scored against that FROZEN model in foreachBatch
    (unseen bigrams fall back to the Laplace floor 1/(c1+V)); docs
    with average NLL ≥ 3.4 are rejected. The admission decision
    depends only on (doc, corpus model) — never batch boundaries — so
    the streamed answer equals the batch formulation and is fully
    hash-checked. Per-batch cost is a bigram-key probe of the
    model index; the corpus is never rescanned."""
    import os as _os
    import tempfile as _tf

    from finance_etl_spark.io.readers import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 17 == 0

    def bigrams(df: DataFrame) -> DataFrame:
        docs = df.select(
            "doc_id",
            F.filter(
                F.split(F.col("text"), " "), lambda t: t != ""
            ).alias("lst"),
        )
        return (
            docs.filter(F.size("lst") >= 2)
            .select(
                "doc_id", "lst", F.posexplode("lst").alias("i", "w1")
            )
            .filter(F.col("i") < F.size("lst") - 1)
            .select(
                "doc_id",
                "w1",
                F.element_at(F.col("lst"), F.col("i") + 2).alias("w2"),
            )
        )

    corpus_big = bigrams(d.filter(~is_new)).persist()
    c12 = (
        corpus_big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist()
    )
    c1 = corpus_big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1")).persist()
    vocab = (
        d.filter(~is_new)
        .select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda t: t != "")
            ).alias("tok")
        )
        .agg(F.countDistinct("tok").alias("v"))
        .persist()
    )
    c12.count(), c1.count(), vocab.count()
    sink = _tf.mkdtemp(prefix="ppl_admit_sink_")

    batch_schema = parquet_schema(
        spark, _os.path.join(sf_dir, "documents.parquet")
    )
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(is_new)
        .select("doc_id", "text")
    )

    def score_batch(batch_df, _eid) -> None:
        db = bigrams(batch_df).groupBy("doc_id", "w1", "w2").agg(
            F.count(F.lit(1)).alias("m")
        )
        logp = F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
        ).cast("decimal(12,6)")
        scored = (
            db.join(c12, ["w1", "w2"], "left")
            .join(c1, "w1", "left")
            .crossJoin(F.broadcast(vocab))
            .groupBy("doc_id")
            .agg(
                F.sum("m").cast("bigint").alias("n_bigrams"),
                (
                    (-F.sum(F.col("m") * logp)).cast("double")
                    / F.sum("m").cast("double")
                ).alias("avg_nll"),
            )
        )
        out = (
            batch_df.select(F.col("doc_id").alias("new_id"))
            .join(
                scored.withColumnRenamed("doc_id", "new_id"), "new_id", "left"
            )
            .select(
                "new_id",
                F.coalesce("n_bigrams", F.lit(0))
                .cast("bigint")
                .alias("n_bigrams"),
                "avg_nll",
                F.coalesce(
                    F.col("avg_nll") < F.expr(PPL_THRESHOLD), F.lit(False)
                ).alias("admit"),
            )
        )
        out.write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", _tf.mkdtemp(prefix="ppl_admit_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    for c in (corpus_big, c12, c1, vocab):
        c.unpersist()
    return spark.read.parquet(sink).orderBy("new_id")


@register(
    "stream_live_cusum_alarm",
    tags=("streaming", "live", "stats"),
    oracle=CUSUM_CHANGEPOINT_SQL,
)
def stream_live_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming change-detection alarm: a real Structured Streaming
    tumbling-day aggregation (watermark 1h, update mode) feeds the
    EXACT integer CUSUM arg-max from ts_cusum_changepoint at
    end-of-stream — the monitoring shape where ingestion is continuous
    and the alarm sweep runs on the finalized daily relation. The
    finite fixture makes the answer equal the batch CUSUM, which the
    oracle checks byte-for-byte (q6 dailies, DECIMAL(38,0) deviation
    products, earliest-index tiebreak). State is bounded by the
    watermark horizon; the alarm stage runs on calendar-bounded rows."""
    import uuid as _uuid

    from pyspark.sql import Window

    from finance_etl_spark.streaming.runner import events_stream, run_stream_to_memory

    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("xs"))
    )
    sink = run_stream_to_memory(
        agg, f"live_cusum_{_uuid.uuid4().hex[:8]}", mode="update"
    )
    daily = (
        sink.select(
            "event_type",
            F.col("window.start").cast("date").alias("d"),
            (F.col("xs").cast("decimal(18,6)") * 1000000)
            .cast("bigint")
            .alias("xq"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("event_type").orderBy("d")),
        )
    )
    return cusum_changepoint(daily)
