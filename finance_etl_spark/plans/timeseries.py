"""Time-series operators registered as oracle-checked queries: as-of
join (DuckDB has native ASOF JOIN to check against), range/interval
join, and gap-based sessionization (SQL-expressible via lag + cumsum).

The operators themselves live in finance_etl_spark.operators.joins and
.sessionize; these queries bind them to the events fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import (
    as_d,
    dsum,
    o_dsum,
    o_fsum,
    o_lsum,
    o_ordered_fold_sum,
    ordered_fold_sum,
)
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.operators.joins import asof_join, range_join
from finance_etl_spark.operators.sessionize import sessionize
from finance_etl_spark.plans.recipes import (
    ASOF_LAST_PURCHASE_SQL,
    CLICKS_PURCHASES_CTE,
    CUSUM_CHANGEPOINT_SQL,
    DAILY_Q6_SQL,
    DAILY_SCALED_SQL,
    EVENT_DAILY_RN_SQL,
    EVENT_DAILY_SQL,
    EVENT_DAILY_XQ_SQL,
    MKT_RET_SQL,
    SEG_DAILY_SQL,
    SEG_RET_SQL,
    daily_q6,
    daily_scaled,
    event_daily,
    event_daily_rn,
    event_daily_xq,
    mkt_returns,
    o_ret_q9,
    ret_q9,
    seg_daily,
    seg_returns,
)
from finance_etl_spark.plans.registry import register, run_sql


def _events(spark, sf_dir, etype: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == etype)
        .select("event_id", "user_id", "ts", "value")
    )


@register(
    "ts_asof_join",
    headline=True,
    tags=("join", "asof"),
    oracle=ASOF_LAST_PURCHASE_SQL,
)
def ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click gets the user's latest purchase
    value at-or-before the click. One shuffle on (user_id, ts) via the
    union+window formulation — no quadratic per-key blowup (operators/
    joins.py). Right side pre-reduced per (key, ts) for determinism."""
    clicks = _events(spark, sf_dir, "click").drop("value")
    purchases = (
        _events(spark, sf_dir, "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    return out.withColumnRenamed("value", "last_purchase_value")


@register(
    "ts_asof_tolerance",
    tags=("join", "asof"),
    oracle=f"""{CLICKS_PURCHASES_CTE}
        SELECT c.event_id, c.user_id, c.ts,
               CASE WHEN p.ts >= c.ts - INTERVAL 1 DAY THEN p.value END AS recent_purchase_value
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def ts_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with staleness tolerance: matches older than 1 day
    are nulled (stale quotes must not price trades)."""
    clicks = _events(spark, sf_dir, "click").drop("value")
    purchases = (
        _events(spark, sf_dir, "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], tolerance="1 day",
    )
    return out.withColumnRenamed("value", "recent_purchase_value")


@register(
    "ts_range_join",
    tags=("join", "range"),
    oracle="""
        SELECT l.event_id, l.user_id, COUNT(*) AS n_recent_clicks
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
          ON l.user_id = r.user_id
         AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        GROUP BY l.event_id, l.user_id
    """,
)
def ts_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks in the hour leading up to each purchase.
    Equi-key on user_id keeps it a shuffled hash join with a residual
    range predicate — linear in input (operators/joins.py:range_join)."""
    purchases = _events(spark, sf_dir, "purchase").drop("value")
    clicks = (
        _events(spark, sf_dir, "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts"))
    )
    joined = range_join(
        purchases,
        clicks.withColumnRenamed("c_user_id", "user_id").withColumnRenamed("c_ts", "ts2"),
        on="user_id",
        left_ts="ts",
        right_ts="ts2",
        lower="1 hour",
        upper="0 seconds",
    )
    return joined.groupBy("event_id", purchases["user_id"]).agg(
        F.count(F.lit(1)).alias("n_recent_clicks")
    )


@register(
    "ts_sessionize",
    tags=("window", "session"),
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity breaks a session),
    batch analog of Structured Streaming's session_window."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return sessionize(
        e, key="user_id", ts="ts", gap="30 minutes", order_tiebreak="event_id"
    )


@register(
    "ts_session_stats",
    tags=("window", "session", "agg"),
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, event_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
        FROM sessions GROUP BY user_id, session_id
    """,
)
def ts_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup: event count + wall duration. Composes the
    sessionize operator with a standard hash aggregation."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    s = sessionize(e, key="user_id", ts="ts", gap="30 minutes", order_tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "duration_sec"
        ),
    )


@register(
    "ts_ohlc_vwap_bars",
    tags=("timeseries", "agg", "finance"),
    oracle="""
        WITH base AS (
            SELECT date_trunc('month', l_shipdate) AS bar_month, l_returnflag,
                   l_extendedprice AS price, l_quantity AS qty,
                   l_shipdate, l_orderkey, l_linenumber
            FROM lineitem
        ), r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY bar_month, l_returnflag
                       ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC) AS rn_open,
                   row_number() OVER (PARTITION BY bar_month, l_returnflag
                       ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn_close
            FROM base
        )
        SELECT CAST(bar_month AS DATE) AS bar_month, l_returnflag,
               MAX(CASE WHEN rn_open = 1 THEN price END) AS open,
               MAX(price) AS high,
               MIN(price) AS low,
               MAX(CASE WHEN rn_close = 1 THEN price END) AS close,
               COUNT(*) AS n_trades,
               CAST(CAST(SUM(CAST(price AS DECIMAL(12,2)) * CAST(qty AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(qty AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS vwap
        FROM r GROUP BY bar_month, l_returnflag
    """,
)
def ts_ohlc_vwap_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC + VWAP bars (the tick→bar compaction every market
    data pipeline runs): open/close via min_by/max_by over a STRUCT
    ordering key (shipdate, orderkey, linenumber) — deterministic
    tie-breaking, ONE hash aggregation, no sort and no window, so the
    plan is a partial+final agg that scales linearly. VWAP casts each
    factor to decimal BEFORE multiplying (price*qty as a double product
    rounded to 10 decimal places is engine-ambiguous at 1e7 magnitude;
    decimal×decimal is exact), so the double result is bit-identical
    under any partitioning. The oracle takes the window-function road
    to the same bars."""
    li = load_table(spark, sf_dir, "lineitem")
    okey = F.struct(F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber"))
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("bar_month"),
            "l_returnflag",
        )
        .agg(
            F.min_by(price, okey).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, okey).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
            (
                F.sum(price.cast("decimal(12,2)") * qty.cast("decimal(12,2)"))
                .cast("double")
                / F.sum(qty.cast("decimal(12,2)")).cast("double")
            ).alias("vwap"),
        )
    )


@register(
    "ts_rolling_volatility",
    tags=("timeseries", "window", "finance"),
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   SUM(CAST(FLOOR(value * 1e6) AS DECIMAL(30,0))) AS s1,
                   SUM(CAST(FLOOR(value * value * 1e6) AS DECIMAL(30,0))) AS s2,
                   COUNT(*) AS n
            FROM events GROUP BY event_type, day
        ), rolled AS (
            SELECT event_type, day,
                   CAST(CAST(SUM(s1) OVER w AS STRING) AS DOUBLE) / 1e6 AS r1,
                   CAST(CAST(SUM(s2) OVER w AS STRING) AS DOUBLE) / 1e6 AS r2,
                   CAST(SUM(n) OVER w AS DOUBLE) AS rn
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CASE WHEN rn > 1
                    THEN sqrt(greatest((r2 - r1 * r1 / rn) / (rn - 1), 0.0))
               END AS vol_7d
        FROM rolled
    """,
)
def ts_rolling_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day volatility (sample stddev) of per-type daily
    value, from EXACT integer-micro power sums: each row contributes
    floor(value·1e6) and floor(value²·1e6) — floor of the SAME IEEE
    double is identical in both engines, and an integer-valued double
    below 2^53 converts to DECIMAL exactly, so there is no
    double→decimal tie-rounding at all (casting the raw double product
    to DECIMAL(30,10) was observed to differ by 1 ulp in one sf0.1 row:
    Spark rounds the exact binary expansion, DuckDB rounds through a
    multiply). The rolling frame sums those exact partials over the
    tiny daily aggregate and the variance is assembled in double
    arithmetic (+,-,*,/ and correctly-rounded sqrt only, no libm), so
    both engines agree bitwise; micro-unit truncation is the declared
    semantics."""
    return run_sql(spark, sf_dir, "ts_rolling_volatility")


@register(
    "ts_ewma_smooth",
    tags=("timeseries", "window", "finance"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   {o_dsum('value')}
                     AS daily_value
            FROM events GROUP BY event_type, day
        )
        SELECT event_type, day, daily_value,
               list_reduce(
                   list(daily_value) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 15 PRECEDING AND CURRENT ROW),
                   (acc, x) -> acc * 0.5 + x * 0.5
               ) AS ewma
        FROM daily
    """,
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.5, adjust=False)
    over the per-type daily series, truncated to a trailing-16 frame:
    weights beyond 16 lags are < 2^-15 and the truncation is part of
    the operator contract, which is what makes EWMA expressible as a
    frame-bounded SEQUENTIAL FOLD (collect_list over the frame +
    F.aggregate) instead of an inherently serial full-partition scan.
    Both engines fold the identical double list left-to-right with
    acc*0.5 + x*0.5 — every step IEEE-exact, so bit-identical. The
    fold runs on the compacted daily series (one row per key-day), and
    each frame list is at most 16 doubles — bounded memory at any SF."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(dsum("value").alias("daily_value"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-15, Window.currentRow)
    )
    arr = F.collect_list("daily_value").over(w)
    ewma = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return daily.select("event_type", "day", "daily_value", ewma.alias("ewma"))


def _rollup_oracle() -> str:

    def level(grain: str) -> str:
        return f"""
        SELECT '{grain}' AS grain,
               CAST(date_trunc('{grain}', ts) AS TIMESTAMP) AS bucket,
               event_type,
               COUNT(*) AS n_events,
               {o_dsum('value')} AS total_value
        FROM events
        GROUP BY bucket, event_type"""

    return " UNION ALL ".join(level(g) for g in ("minute", "hour", "day"))


@register(
    "ts_hypertable_rollup",
    headline=True,
    tags=("timeseries", "rollup", "agg"),
    oracle=_rollup_oracle(),
)
def ts_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate-style multi-granularity rollup
    (minute/hour/day buckets per event type), the hypertable pattern:
    all three grains come out of ONE scan and ONE shuffle via GROUPING
    SETS — the Expand operator emits each event row once per grain and
    the map-side partial agg collapses the 3x amplification to bounded
    (grain, bucket, type) cells before the exchange. Decimal sums are
    exactly associative, so every level equals its direct GROUP BY
    bit-for-bit (the oracle runs the naive UNION of three GROUP BYs).
    That union plans THREE parquet scans (no exchange reuse across its
    branches); this shape scans once, which is what counts at 100 TB.
    At sf0.1 on 4 cores the two shapes run within noise of each other."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("minute", "ts").alias("m"),
        "event_type",
        F.col("value").cast("decimal(30,10)").alias("dv"),
    )
    agg = ev.groupingSets(
        [
            ["event_type", "d", "h", "m"],
            ["event_type", "d", "h"],
            ["event_type", "d"],
        ],
        "event_type",
        "d",
        "h",
        "m",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("dv").alias("dec_total"),
        F.grouping_id().alias("gid"),
    )
    # grouping_id bit k set == column k aggregated away (cols ordered
    # event_type, d, h, m): 0 = minute level, 1 = hour, 3 = day.
    return agg.select(
        F.when(F.col("gid") == 0, "minute")
        .when(F.col("gid") == 1, "hour")
        .otherwise("day")
        .alias("grain"),
        F.when(F.col("gid") == 0, F.col("m"))
        .when(F.col("gid") == 1, F.col("h"))
        .otherwise(F.col("d"))
        .alias("bucket"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("dec_total").cast("double").alias("total_value"),
    )


@register(
    "ts_max_drawdown",
    tags=("timeseries", "window", "finance"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   {o_dsum('value')}
                     AS daily_value
            FROM events GROUP BY event_type, day
        ), equity AS (
            SELECT event_type, day,
                   CAST(CAST(SUM(CAST(daily_value AS DECIMAL(30,10)))
                        OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS STRING) AS DOUBLE) AS equity
            FROM daily
        ), dd AS (
            SELECT event_type, day, equity,
                   equity / MAX(equity) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1.0
                     AS drawdown
            FROM equity
        )
        SELECT event_type, MIN(drawdown) AS max_drawdown,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM dd GROUP BY event_type
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series: cumulative-sum equity curve →
    running peak (cummax window) → min of equity/peak - 1. Cumulative
    sums are decimal (exact under any partial-agg order); the ratio and
    min are single IEEE ops, so the result is engine- and
    partitioning-deterministic. Three window passes all run over the
    compacted one-row-per-day series, then a final hash agg."""
    return run_sql(spark, sf_dir, "ts_max_drawdown")


@register(
    "ts_cohort_retention",
    tags=("timeseries", "agg", "analytics"),
    oracle="""
        WITH cohort AS (
            SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS activity_day
            FROM events
        )
        SELECT c.cohort_day,
               CAST(CAST(CAST(a.activity_day AS DATE) - CAST(c.cohort_day AS DATE) AS BIGINT) AS INT) AS days_since,
               COUNT(*) AS n_active_users
        FROM cohort c JOIN activity a USING (user_id)
        GROUP BY c.cohort_day, days_since
    """,
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen day,
    counted per days-since-cohort (integer date arithmetic — exact in
    both engines, no float months_between). Two hash aggs reduce events
    to (user, day) grain FIRST, so the cohort⋈activity join shuffles
    one row per user-day, not raw events; both sides hash-partition on
    user_id (co-partitioned, AQE-coalesced)."""
    return run_sql(spark, sf_dir, "ts_cohort_retention")


@register(
    "ts_funnel_conversion",
    tags=("timeseries", "window", "analytics"),
    oracle="""
        WITH s1 AS (
            SELECT user_id, ts, event_type,
                   MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t_view
            FROM events
        ), s2 AS (
            SELECT *,
                   MIN(CASE WHEN event_type = 'click' AND ts >= t_view
                            AND ts <= t_view + INTERVAL 7 DAY THEN ts END)
                       OVER (PARTITION BY user_id) AS t_click
            FROM s1
        ), s3 AS (
            SELECT *,
                   MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click
                            AND ts <= t_click + INTERVAL 7 DAY THEN ts END)
                       OVER (PARTITION BY user_id) AS t_purchase
            FROM s2
        ), per_user AS (
            SELECT DISTINCT user_id, t_view, t_click, t_purchase FROM s3
        )
        SELECT COUNT(*) AS n_users,
               CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
               CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
               CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased
        FROM per_user
    """,
)
def ts_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click ≤7d → purchase ≤7d): three
    full-partition window mins chained over the SAME partitioning
    (user_id) — Catalyst plans one shuffle and reuses the exchange for
    all three Window nodes, vs the naive three self-joins. Stage
    timestamps are per-user constants; a distinct + single-row count
    rolls the funnel up. No per-event state leaves the user partition."""
    return run_sql(spark, sf_dir, "ts_funnel_conversion")


@register(
    "ts_gap_fill_locf",
    tags=("timeseries", "gap-fill", "window"),
    oracle=f"""
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS d,
                   {o_dsum('value')} AS v
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        bounds AS (
            SELECT user_id, MIN(d) AS mind, MAX(d) AS maxd
            FROM daily GROUP BY user_id
        ),
        spine AS (
            SELECT user_id,
                   CAST(unnest(generate_series(CAST(mind AS TIMESTAMP),
                                               CAST(maxd AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS d
            FROM bounds
        )
        SELECT s.user_id, s.d,
               (dly.v IS NULL) AS is_gap,
               COALESCE(dly.v,
                        LAST_VALUE(dly.v IGNORE NULLS) OVER (
                            PARTITION BY s.user_id ORDER BY s.d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        )) AS v_filled
        FROM spine s LEFT JOIN daily dly
          ON dly.user_id = s.user_id AND dly.d = s.d
    """,
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with last-observation-carried-forward: per-user daily
    totals are densified onto a gap-free date spine generated from
    each user's own [min, max] range (`sequence` + `explode` — the
    spine is derived map-side from a tiny per-user bounds aggregate,
    never from a driver loop), then missing days take the previous
    observed value via `last(ignorenulls)` over a partitioned window.
    The first spine day always has data by construction, so LOCF never
    leaves a null. Spine size is O(users × days), independent of event
    count — at 100 TB the window still runs per-user over ~days-sized
    partitions, and the raw events are only touched by the one daily
    aggregate."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(dsum("value").alias("v"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("mind"), F.max("d").alias("maxd"))
        .select(
            "user_id",
            F.explode(F.sequence("mind", "maxd")).alias("d"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.col("v").isNull().alias("is_gap"),
            F.coalesce(F.col("v"), F.last("v", ignorenulls=True).over(w)).alias(
                "v_filled"
            ),
        )
    )


@register(
    "ts_rolling_corr",
    tags=("timeseries", "window", "stats"),
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   CAST(CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(value AS DECIMAL(15,4))
                        ELSE CAST(0 AS DECIMAL(15,4)) END) AS STRING)
                        AS DECIMAL(15,4)) AS x,
                   CAST(CAST(SUM(CASE WHEN event_type = 'view'
                        THEN CAST(value AS DECIMAL(15,4))
                        ELSE CAST(0 AS DECIMAL(15,4)) END) AS STRING)
                        AS DECIMAL(15,4)) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        p AS (
            SELECT d,
                   COUNT(*) OVER w AS n,
                   CAST(CAST(SUM(x) OVER w AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) OVER w AS STRING) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x * y) OVER w AS STRING) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) OVER w AS STRING) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y * y) OVER w AS STRING) AS DOUBLE) AS syy
            FROM daily
            WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT d, (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
                 AS corr_click_view
        FROM p WHERE n = 7
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling Pearson correlation between two event
    streams (daily click value vs view value): decimal power sums over
    a ROWS frame, correlation assembled in ONE double expression
    (IEEE-exact ops only) — the agg_corr_exact recipe windowed. The
    frame runs over the DAILY aggregate (O(days) rows — the raw events
    are reduced first), so the unpartitioned ordering is bounded by
    the calendar, not the data volume; decimal products cast each
    factor first so no engine-ambiguous >15-digit double product ever
    forms. Partial frames (first 6 days) are excluded — their
    correlation would be over a different support than declared."""
    return run_sql(spark, sf_dir, "ts_rolling_corr")


@register(
    "ts_max_concurrency",
    tags=("timeseries", "interval", "window"),
    oracle="""
        WITH b AS (
            SELECT ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT ts + to_minutes(CAST(ceil(value) AS BIGINT)) AS t,
                   -1 AS delta
            FROM events
        ),
        run AS (
            SELECT CAST(t AS DATE) AS d,
                   SUM(delta) OVER (ORDER BY t, delta
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS conc
            FROM b
        )
        SELECT d, CAST(MAX(conc) AS BIGINT) AS max_concurrency,
               CAST(COUNT(*) AS BIGINT) AS n_boundaries
        FROM run GROUP BY d
    """,
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval overlap per day (max concurrent sessions / open
    positions): each event opens an interval [ts, ts+⌈value⌉ minutes],
    concurrency is the running sum of ±1 boundary deltas in global time
    order. The oracle's single global window would serialize at scale,
    so the engine computes the SAME prefix sum decomposed: a within-day
    running sum (windows partitioned by day — bounded work per
    partition) plus a per-day carry-in from the cumulative sum over the
    O(days) daily-total aggregate, broadcast back. Boundary ties order
    by (t, delta) so closes precede opens at the same instant —
    deterministic in both engines. Midnight-crossing intervals are
    handled exactly: the end boundary's delta lands in its own day and
    the carry chain preserves the global sum."""
    e = load_table(spark, sf_dir, "events")
    end_t = F.expr("ts + make_interval(0, 0, 0, 0, 0, CAST(ceil(value) AS INT), 0)")
    b = (
        e.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
        .unionByName(e.select(end_t.alias("t"), F.lit(-1).alias("delta")))
        .withColumn("d", F.col("t").cast("date"))
    )
    daily = b.groupBy("d").agg(F.sum("delta").alias("day_total"))
    w_days = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    carry = daily.select(
        "d", F.coalesce(F.sum("day_total").over(w_days), F.lit(0)).alias("carry_in")
    )
    w_in_day = (
        Window.partitionBy("d")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    conc = b.withColumn("run_in_day", F.sum("delta").over(w_in_day)).join(
        F.broadcast(carry), "d"
    )
    return conc.groupBy("d").agg(
        F.max(F.col("run_in_day") + F.col("carry_in")).alias("max_concurrency"),
        F.count(F.lit(1)).alias("n_boundaries"),
    )


@register(
    "ts_range_join_bucketed",
    tags=("timeseries", "join", "range", "scale"),
    oracle="""
        SELECT CAST(e.ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT e.event_id) AS BIGINT) AS n_errors_matched
        FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        JOIN (SELECT ts FROM events WHERE event_type = 'click') c
          ON abs(epoch(e.ts) - epoch(c.ts)) <= 300
        GROUP BY d
    """,
)
def ts_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-less time-proximity join at scale: every click within ±5
    minutes of every error (incident-correlation shape, no shared key
    to equi-join on). The oracle's bare range predicate plans as a
    nested loop — quadratic; the engine buckets both sides into
    tolerance-sized bins and equi-joins on {b−1,b,b+1} candidates with
    the exact |Δt| residual (operators/joins.py::range_join_bucketed),
    plan-asserted hash/sort-merge, never BroadcastNestedLoopJoin. The
    3× candidate expansion rides the SMALLER (error) side."""
    from finance_etl_spark.operators.joins import range_join_bucketed

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", F.col("ts").alias("e_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("c_ts")
    )
    pairs = range_join_bucketed(errors, clicks, "e_ts", "c_ts", tolerance_s=300)
    return pairs.groupBy(F.col("e_ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("event_id").alias("n_errors_matched"),
    )


@register(
    "ts_interval_union_coverage",
    tags=("timeseries", "interval", "window"),
    oracle="""
        WITH b AS (
            SELECT ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT ts + to_minutes(CAST(ceil(value) AS BIGINT)) AS t,
                   -1 AS delta
            FROM events
        ),
        daily AS (
            SELECT CAST(t AS DATE) AS d, SUM(delta) AS day_total
            FROM b GROUP BY 1
        ),
        carry AS (
            SELECT d, CAST(COALESCE(SUM(day_total) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS conc_in
            FROM daily
        ),
        run AS (
            SELECT t, CAST(t AS DATE) AS d, delta,
                   SUM(delta) OVER (PARTITION BY CAST(t AS DATE)
                       ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS run_in_day,
                   lead(t) OVER (PARTITION BY CAST(t AS DATE)
                       ORDER BY t, delta) AS next_t
            FROM b
        ),
        seg AS (
            SELECT r.d,
                   CASE WHEN r.run_in_day + c.conc_in > 0 THEN
                       epoch_us(COALESCE(r.next_t,
                                CAST(r.d + 1 AS TIMESTAMP)))
                       - epoch_us(r.t)
                   ELSE 0 END AS covered_us,
                   c.conc_in,
                   epoch_us(r.t) - epoch_us(CAST(r.d AS TIMESTAMP))
                       AS head_us,
                   row_number() OVER (PARTITION BY r.d
                       ORDER BY r.t, r.delta) AS rn
            FROM run r JOIN carry c ON r.d = c.d
        )
        SELECT d,
               CAST(SUM(covered_us) + MAX(CASE WHEN rn = 1 AND conc_in > 0
                    THEN head_us ELSE 0 END) AS BIGINT) AS covered_us
        FROM seg GROUP BY d
    """,
)
def ts_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals length per day (total covered time — SLA
    uptime, market-session exposure): each event covers [ts, ts+⌈value⌉
    minutes]; overlaps must count once. Sweep formulation: between
    consecutive boundaries the covered indicator is constant, so the
    day's covered time is Σ gap-lengths where concurrency > 0, plus the
    midnight→first-boundary head when the carried-in concurrency is
    positive. Concurrency decomposes exactly as in ts_max_concurrency
    (within-day running sum + O(days) carry-in); the within-day `lead`
    with a day-end default IS the midnight clamp, so no interval
    fragment is double-counted across days. All arithmetic in integer
    MICROSECONDS (unix_micros/epoch_us) — exact, order-independent
    sums, no double-epoch precision cliff. Days with zero boundaries
    don't appear (none exist in a covered-day fixture; a production
    spine-join would densify)."""
    e = load_table(spark, sf_dir, "events")
    end_t = F.expr("ts + make_interval(0, 0, 0, 0, 0, CAST(ceil(value) AS INT), 0)")
    b = (
        e.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
        .unionByName(e.select(end_t.alias("t"), F.lit(-1).alias("delta")))
        .withColumn("d", F.col("t").cast("date"))
    )
    daily = b.groupBy("d").agg(F.sum("delta").alias("day_total"))
    w_days = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    carry = daily.select(
        "d", F.coalesce(F.sum("day_total").over(w_days), F.lit(0)).alias("conc_in")
    )
    w_day = Window.partitionBy("d").orderBy("t", "delta")
    w_run = w_day.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    day_end = F.date_add("d", 1).cast("timestamp")
    run = b.select(
        "d", "t",
        F.sum("delta").over(w_run).alias("run_in_day"),
        F.coalesce(F.lead("t").over(w_day), day_end).alias("next_t"),
        F.row_number().over(w_day).alias("rn"),
    ).join(F.broadcast(carry), "d")
    covered = F.when(
        F.col("run_in_day") + F.col("conc_in") > 0,
        F.unix_micros("next_t") - F.unix_micros("t"),
    ).otherwise(F.lit(0))
    head = F.when(
        (F.col("rn") == 1) & (F.col("conc_in") > 0),
        F.unix_micros("t") - F.unix_micros(F.col("d").cast("timestamp")),
    ).otherwise(F.lit(0))
    return run.groupBy("d").agg(
        (F.sum(covered) + F.max(head)).alias("covered_us")
    )


@register(
    "ts_gaps_islands",
    tags=("timeseries", "window", "gaps-islands"),
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ), anch AS (
            SELECT user_id, d,
                   d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                               ORDER BY d) AS INT) AS anchor
            FROM days
        ), isl AS (
            SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
            FROM anch GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX(len) AS BIGINT) AS longest_streak,
               CAST(SUM(len) AS BIGINT) AS active_days
        FROM isl GROUP BY user_id
    """,
)
def ts_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user activity streaks over consecutive
    calendar days (the canonical retention/engagement shape SQL lacks a
    primitive for). The row_number anchor trick — day minus per-user
    rank is constant exactly within a consecutive run — turns island
    detection into a plain GROUP BY: one user-partitioned window sort
    over the (user, day)-DISTINCT relation (already compacted from raw
    events), then two hash aggs that reuse the same user partitioning.
    No self-join, no per-row gap probing, state bounded by active days
    per user."""
    return run_sql(spark, sf_dir, "ts_gaps_islands")


@register(
    "ts_asof_nearest",
    tags=("join", "asof", "nearest"),
    oracle="""
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, ts, MAX(value) AS value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ), cand AS (
            SELECT c.event_id, p.ts AS pts, p.value,
                   abs(epoch_us(c.ts) - epoch_us(p.ts)) AS d
            FROM clicks c JOIN p ON c.user_id = p.user_id
             AND p.ts >= c.ts - INTERVAL 1 HOUR
             AND p.ts <= c.ts + INTERVAL 1 HOUR
        ), best AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                         ORDER BY d, pts) AS rn
            FROM cand
        )
        SELECT c.event_id, c.user_id, c.ts,
               b.pts AS matched_ts, b.value AS matched_value,
               CAST(b.d AS BIGINT) AS dist_us
        FROM clicks c LEFT JOIN best b
          ON b.event_id = c.event_id AND b.rn = 1
    """,
)
def ts_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join (either direction, 1h tolerance):
    each click attaches its closest purchase by the same user, ties
    toward the earlier purchase. One union + one (user, ts)-ordered
    window computes the backward AND forward candidate simultaneously
    — O(1) state per group, one shuffle, linear at any SF. The oracle
    is the quadratic-per-key candidates+argmin formulation, safe only
    at oracle scale."""
    from finance_etl_spark.operators.joins import asof_nearest

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("pts"))
        .agg(F.max("value").alias("value"))
    )
    out = asof_nearest(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="pts",
        value_cols=["value"],
        tolerance="1 HOUR",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("__match_ts").alias("matched_ts"),
        F.col("value").alias("matched_value"),
        F.abs(
            F.unix_micros("__match_ts") - F.unix_micros("ts")
        ).alias("dist_us"),
    )


@register(
    "ts_anomaly_zscore",
    tags=("timeseries", "window", "anomaly"),
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   SUM(CAST(FLOOR(value * 1e6) AS DECIMAL(30,0))) AS xm
            FROM events GROUP BY 1, 2
        ), stats AS (
            SELECT event_type, d,
                   CAST(CAST(xm AS STRING) AS DOUBLE) / 1e6 AS x,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(CAST(SUM(xm) OVER w AS STRING) AS DOUBLE) / 1e6 AS sx,
                   CAST(CAST(SUM(xm * xm) OVER w AS STRING) AS DOUBLE)
                       / 1e12 AS sxx
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, d, x,
               (x - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)) AS z
        FROM stats
        WHERE n >= 4 AND sxx / n - (sx / n) * (sx / n) > 0
          AND abs((x - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n))) >= 2.0
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: per event type, each day's
    total is scored against the TRAILING week (7 preceding days,
    excluding the current day — the score must not contaminate its own
    baseline); |z| ≥ 2 flags the day. Execution mirrors the rolling-
    volatility pattern: the window runs over the compacted daily
    aggregate (|types|×|days| rows, never raw events), power sums are
    integer-micro exact (floor of the same IEEE double in both
    engines, integer-valued decimals multiply exactly — no
    double→decimal tie-rounding of COMPUTED doubles, the volatility
    1-ulp bug class), and the final z arithmetic is IEEE-identical in
    both engines."""
    return run_sql(spark, sf_dir, "ts_anomaly_zscore")


@register(
    "ts_twap",
    tags=("timeseries", "finance", "window"),
    oracle="""
        WITH ticks AS (
            SELECT event_type, CAST(ts AS DATE) AS d, ts, event_id,
                   CAST(FLOOR(value * 1e6) AS DECIMAL(25,0)) AS vm
            FROM events WHERE event_type IN ('view', 'click')
        ), spans AS (
            SELECT event_type, d, vm,
                   CAST(epoch_us(COALESCE(
                            lead(ts) OVER (PARTITION BY event_type, d
                                           ORDER BY ts, event_id),
                            CAST(d + 1 AS TIMESTAMP)))
                        - epoch_us(ts) AS DECIMAL(18,0)) AS dt_us
            FROM ticks
        )
        SELECT event_type, d,
               (CAST(CAST(SUM(vm * dt_us) AS STRING) AS DOUBLE) / 1e6)
                   / CAST(CAST(SUM(dt_us) AS STRING) AS DOUBLE) AS twap,
               CAST(COUNT(*) AS BIGINT) AS n_ticks
        FROM spans
        GROUP BY 1, 2
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (type, day): each tick's value
    holds until the next tick (the last one until midnight), so the
    weight is the integer-microsecond span to the successor — the
    complement of VWAP's quantity weighting. Per-tick terms are exact
    integers (floor-micro value × µs span in DECIMAL — no
    double→decimal tie-rounding of computed products), summed
    decimal-exact; the final division is one IEEE op. One
    (type, day)-partitioned lead window + one hash agg, both over the
    tick relation, no self-join."""
    return run_sql(spark, sf_dir, "ts_twap")


@register(
    "ts_resample_bin",
    tags=("timeseries", "resample"),
    oracle=f"""
        SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS bin_start,
               event_type,
               COUNT(*) AS n_events,
               {o_dsum('value')} AS sum_value
        FROM events
        GROUP BY bin_start, event_type
    """,
)
def ts_resample_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the tick stream to 15-minute bars with Spark's
    native tumbling `window()` — one hash aggregation, partials
    map-side, no sort. Tumbling windows align to the epoch, so
    `window.start` equals the integer floor-bin the oracle computes
    with epoch microseconds; the value sum rides DECIMAL partials
    (order-independent) and presents as double."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("bin_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "ts_seasonal_baseline",
    tags=("timeseries", "forecast"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   dayofweek(ts) AS dow,
                   COUNT(*) AS n,
                   SUM(CAST(value AS DECIMAL(15,4))) AS v
            FROM events GROUP BY 1, 2, 3
        ),
        base AS (
            SELECT event_type, dow,
                   CAST(SUM(n) AS BIGINT) AS dow_events,
                   CAST(CAST(SUM(v) AS STRING) AS DOUBLE) AS dow_value,
                   CAST(COUNT(*) AS BIGINT) AS dow_days
            FROM daily GROUP BY 1, 2
        )
        SELECT daily.event_type, daily.d, CAST(daily.dow AS INT) AS dow,
               daily.n AS n_events,
               base.dow_events, base.dow_days,
               (daily.n * base.dow_days) - base.dow_events
                 AS excess_events_x_days
        FROM daily JOIN base
          ON daily.event_type = base.event_type AND daily.dow = base.dow
    """,
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly baseline: each (event_type, day) is
    compared against that weekday's corpus baseline — the 'is this
    Tuesday unusual for Tuesdays' check behind every seasonal traffic
    monitor. Two stacked aggregations, both keyed on (event_type, …):
    the weekday baseline re-aggregates the DAILY partials, never the
    raw events, and the comparison is an integer cross-multiple
    (n·days − Σn: positive = above baseline) — no division, no float,
    exact in both engines. DuckDB's dayofweek (0=Sunday) matches
    Spark's dayofweek−1, handled explicitly."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        (F.dayofweek("ts") - 1).alias("dow"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(15,4)")).alias("v"),
    )
    base = daily.groupBy("event_type", "dow").agg(
        F.sum("n").alias("dow_events"),
        F.sum("v").cast("double").alias("dow_value"),
        F.count(F.lit(1)).alias("dow_days"),
    )
    return (
        daily.join(base, ["event_type", "dow"])
        .select(
            "event_type",
            "d",
            F.col("dow").cast("int").alias("dow"),
            F.col("n").alias("n_events"),
            "dow_events",
            "dow_days",
            (F.col("n") * F.col("dow_days") - F.col("dow_events")).alias(
                "excess_events_x_days"
            ),
        )
    )


@register(
    "ts_rolling_median",
    tags=("timeseries", "window", "stats"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(15,4))) AS STRING)
                        AS DOUBLE) AS v
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, d, v,
               median(v) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                 AS med7
        FROM daily
    """,
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day exact rolling MEDIAN — the robust alternative to
    the rolling mean (ts_rolling_volatility family) that one outlier
    day cannot drag. Spark has no median window function; the frame's
    values ride a bounded collect_list, sort in-row, and interpolate
    the middle pair — per-row state is the FRAME (≤7 doubles), not the
    partition, so memory is O(frame) at any scale, and the window
    itself runs over the compacted daily aggregate, never raw events.
    Inputs are decimal-exact daily sums; the (a+b)/2 interpolation is
    one IEEE op, matching DuckDB's median interpolation bit for bit."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(15,4)")).cast("double").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("v").over(w))
    n = F.size(arr)
    med = (
        F.when(
            n % 2 == 1,
            F.get(arr, F.floor((n - 1) / 2).cast("int")),
        ).otherwise(
            (
                F.get(arr, (n / 2 - 1).cast("int"))
                + F.get(arr, (n / 2).cast("int"))
            )
            / 2
        )
    )
    return daily.select("event_type", "d", "v", med.alias("med7"))


@register(
    "ts_interpolate_linear",
    tags=("timeseries", "gap-fill", "window"),
    oracle=f"""
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS d,
                   {o_dsum('value')} AS v
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        bounds AS (
            SELECT user_id, MIN(d) AS mind, MAX(d) AS maxd
            FROM daily GROUP BY user_id
        ),
        spine AS (
            SELECT user_id,
                   CAST(unnest(generate_series(CAST(mind AS TIMESTAMP),
                                               CAST(maxd AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS d
            FROM bounds
        ),
        grid AS (
            SELECT s.user_id, s.d, dly.v,
                   LAST_VALUE(dly.v IGNORE NULLS) OVER (
                       PARTITION BY s.user_id ORDER BY s.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                   LAST_VALUE(dly.d IGNORE NULLS) OVER (
                       PARTITION BY s.user_id ORDER BY s.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
                   FIRST_VALUE(dly.v IGNORE NULLS) OVER (
                       PARTITION BY s.user_id ORDER BY s.d
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                   FIRST_VALUE(dly.d IGNORE NULLS) OVER (
                       PARTITION BY s.user_id ORDER BY s.d
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
            FROM spine s LEFT JOIN daily dly
              ON dly.user_id = s.user_id AND dly.d = s.d
        )
        SELECT user_id, d, (v IS NULL) AS is_gap,
               CASE WHEN v IS NOT NULL THEN v
                    ELSE pv + (nv - pv) *
                         (CAST(date_diff('day', pd, d) AS DOUBLE)
                          / CAST(date_diff('day', pd, nd) AS DOUBLE))
               END AS v_interp
        FROM grid
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a per-key daily spine — the numeric
    companion to LOCF (ts_gap_fill_locf): interior gaps get
    pv + (nv-pv) * Δt/Δtotal from the bracketing observations. The
    bracket comes from two IGNORE NULLS windows (backward last, forward
    first) over the LEFT-joined spine; spine ends always hold real
    observations so every gap is interior and the formula total.

    Determinism: bracket values are decimal-exact daily sums presented
    as doubles; the interpolation itself is per-row IEEE arithmetic
    with the SAME expression shape on both engines (no re-quantization,
    divergence class 2 avoided). Scale: the spine is
    |keys| x |calendar| (bounded by time, not SF), one shuffle on
    (user_id) serves the join and both windows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(dsum("value").alias("v"))
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("d").alias("mind"), F.max("d").alias("maxd")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("mind", "maxd", F.expr("interval 1 day"))).alias("d"),
    )
    g = spine.join(daily, ["user_id", "d"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    grid = g.select(
        "user_id",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True)
        .over(back)
        .alias("pd"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True)
        .over(fwd)
        .alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.datediff("d", "pd").cast("double")
        / F.datediff("nd", "pd").cast("double")
    )
    return grid.select(
        "user_id",
        "d",
        F.col("v").isNull().alias("is_gap"),
        F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp).alias(
            "v_interp"
        ),
    )


@register(
    "ts_asof_forward",
    tags=("join", "asof"),
    oracle=f"""{CLICKS_PURCHASES_CTE}
        SELECT c.event_id, c.user_id, c.ts, p.value AS next_purchase_value
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def ts_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click gets the user's next purchase
    value at-or-after the click — attribution's "what did this click
    lead to", and the settlement mirror of the backward join
    (operators/joins.py::asof_join_forward: same one-shuffle
    union+window, frame flipped to FOLLOWING). DuckDB's ASOF supports
    both directions, so this one is fully hash-checked."""
    from finance_etl_spark.operators.joins import asof_join_forward

    clicks = _events(spark, sf_dir, "click").drop("value")
    purchases = (
        _events(spark, sf_dir, "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join_forward(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    return out.withColumnRenamed("value", "next_purchase_value")


@register(
    "ts_changepoint_cusum",
    tags=("timeseries", "window", "stats"),
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   SUM(CAST(value AS DECIMAL(30,10))) AS x
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS DECIMAL(30,10)) AS total
            FROM daily GROUP BY 1
        ),
        cum AS (
            SELECT d.event_type, d.d, s.n_days,
                   CAST(SUM(d.x) OVER (PARTITION BY d.event_type ORDER BY d.d
                        ROWS UNBOUNDED PRECEDING) AS DECIMAL(30,10)) AS p,
                   CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type
                        ORDER BY d.d) AS BIGINT) AS t,
                   s.total
            FROM daily d JOIN stats s USING (event_type)
        ),
        scored AS (
            SELECT event_type, d, n_days,
                   CAST(p AS DECIMAL(24,6)) * CAST(n_days AS DECIMAL(12,0))
                     - CAST(total AS DECIMAL(24,6)) * CAST(t AS DECIMAL(12,0))
                       AS cusum_num,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY abs(CAST(p AS DECIMAL(24,6))
                                      * CAST(n_days AS DECIMAL(12,0))
                                    - CAST(total AS DECIMAL(24,6))
                                      * CAST(t AS DECIMAL(12,0))) DESC,
                                d ASC) AS rk
            FROM cum
        )
        SELECT event_type, d AS change_day, n_days,
               CAST(CAST(cusum_num AS STRING) AS DOUBLE) AS cusum_num
        FROM scored WHERE rk = 1
        ORDER BY event_type
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation from the series mean |Σ_{i<=t}(x_i - mean)|
    peaks — the classic single-changepoint estimator. Computed
    DENOMINATOR-FREE: mean = total/n_days never materializes; the
    score is the integer-scaled equivalent p_t*n_days - total*t
    (exact DECIMAL x int multiplication, re-capped to DECIMAL(30,10)
    per registry divergence class 3), so the argmax is bit-exact in
    both engines with zero float accumulation. Daily aggregation is
    map-side partial; the windows run partitioned by event_type over
    O(days) rows per series."""
    return run_sql(spark, sf_dir, "ts_changepoint_cusum")


@register(
    "ts_autocorr_lags",
    tags=("timeseries", "window", "stats"),
    oracle=f"""
        WITH daily AS ({EVENT_DAILY_SQL}),
        lagged AS (
            SELECT a.event_type, ks.k, a.x, b.x AS xl
            FROM daily a
            CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) ks
            JOIN daily b ON b.event_type = a.event_type
                        AND b.d = a.d - to_days(ks.k)
        ),
        s AS (
            SELECT event_type, k, COUNT(*) AS n,
                   CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(xl) AS STRING) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x * xl) AS STRING) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) AS STRING) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(xl * xl) AS STRING) AS DOUBLE) AS syy
            FROM lagged WHERE xl IS NOT NULL
            GROUP BY event_type, k
        )
        SELECT event_type, CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                   AS acf
        FROM s
        ORDER BY event_type, k
    """,
)
def ts_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each daily series at lags 1..3 (the
    seasonality/momentum diagnostic): pair every day with its lag-k
    predecessor via a window lag over the per-type daily aggregate,
    then Pearson r per (series, lag) from exact decimal power sums
    with one double expression at the edge (agg_corr_exact contract).
    The lag fan-out is a 3-row broadcast cross join BEFORE the window,
    so all lags compute in one shuffle; windows are per (type, lag)
    over O(days) rows. Corpus-scale work is only the daily
    aggregation — map-side partials."""
    daily = event_daily(spark, sf_dir)
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    # lag-by-DATE (not by row position): a self-join on the shifted
    # date spine, so gaps in the series pair correctly — and the lag
    # offset can vary per row (Spark's lag() needs a literal offset)
    lagged = (
        daily.join(F.broadcast(ks))
        .alias("a")
        .join(
            daily.select(
                F.col("event_type").alias("event_type_b"),
                F.col("d").alias("d_b"),
                F.col("x").alias("xl"),
            ).alias("b"),
            on=[
                F.col("a.event_type") == F.col("event_type_b"),
                F.col("d_b") == F.date_sub(F.col("a.d"), F.col("a.k")),
            ],
            how="inner",
        )
        .select("a.event_type", "a.k", "a.x", "xl")
    )
    s = lagged.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("xl").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("xl")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("xl") * F.col("xl")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    acf = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("event_type", "k", "n", acf.alias("acf")).orderBy(
        "event_type", "k"
    )


def lttb_indices(x, y, n_out: int):
    """Largest-Triangle-Three-Buckets downsample: indices of the kept
    points. Pure numpy, deterministic (argmax takes the FIRST maximum;
    input must be time-sorted). Shared by the operator below and the
    pytest reference check."""
    import numpy as np

    n = len(x)
    if n <= n_out:
        return list(range(n))
    keep = [0]
    # interior bucket boundaries: n_out-2 equal buckets over [1, n-1)
    bounds = [
        1 + int(i * (n - 2) / (n_out - 2)) for i in range(n_out - 1)
    ]
    a = 0
    for b in range(n_out - 2):
        lo, hi = bounds[b], bounds[b + 1]
        nlo, nhi = bounds[b + 1], (bounds[b + 2] if b + 2 < len(bounds) else n - 1) + 1
        # average of the NEXT bucket (last bucket averages to the end point)
        if b == n_out - 3:
            nlo, nhi = n - 1, n
        avg_x, avg_y = float(np.mean(x[nlo:nhi])), float(np.mean(y[nlo:nhi]))
        ax, ay = float(x[a]), float(y[a])
        area = np.abs(
            (ax - avg_x) * (y[lo:hi] - ay) - (ax - x[lo:hi]) * (avg_y - ay)
        )
        a = lo + int(np.argmax(area))
        keep.append(a)
    keep.append(n - 1)
    return keep


@register("ts_downsample_lttb", tags=("timeseries", "udf", "downsample"))
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson) of
    each daily series to 10 visually-representative points — the
    standard plotting/thumbnail reducer in every time-series store.
    LTTB is inherently SEQUENTIAL within a series (each bucket's pick
    depends on the previous pick), so the distributed shape is
    applyInPandas per series key: series are the parallelism unit,
    each fits one task comfortably (O(days) points), and the corpus-
    scale daily aggregation before it is ordinary map-side partials.
    Rows-only for the driver (no ANSI-SQL equivalent of the
    sequential greedy); tests/test_round4_ops.py pins the output
    against an independent driver-side run of the same published
    algorithm and checks first/last-point and bucket-count
    invariants."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(dsum("value").alias("y"))

    N_OUT = 10

    def downsample(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d").reset_index(drop=True)
        x = pdf["d"].map(lambda v: v.toordinal()).to_numpy(dtype="float64")
        y = pdf["y"].to_numpy(dtype="float64")
        keep = lttb_indices(x, y, N_OUT)
        out = pdf.iloc[keep].copy()
        out["point_idx"] = range(len(keep))
        return out[["event_type", "d", "y", "point_idx"]]

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            downsample, "event_type string, d date, y double, point_idx int"
        )
        .orderBy("event_type", "point_idx")
    )


def holt_winters_additive(y, period: int = 7, alpha: float = 0.3,
                          beta: float = 0.1, gamma: float = 0.2,
                          horizon: int = 7):
    """Additive Holt-Winters (level + trend + weekly seasonality):
    returns the h-step-ahead forecasts after one sequential pass.
    Plain-Python float loop — bit-deterministic for a fixed input
    order; shared by the operator and the pytest reference. Init:
    level = mean of the first season, trend = mean season-over-season
    step, seasonals = first-season deviations."""
    n = len(y)
    if n < 2 * period:
        return []
    level = sum(y[:period]) / period
    second = sum(y[period : 2 * period]) / period
    trend = (second - level) / period
    season = [y[i] - level for i in range(period)]
    for t in range(n):
        s = season[t % period]
        prev_level = level
        level = alpha * (y[t] - s) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev_level) + (1 - beta) * trend
        season[t % period] = gamma * (y[t] - level) + (1 - gamma) * s
    return [
        level + (h + 1) * trend + season[(n + h) % period]
        for h in range(horizon)
    ]


def _hw_oracle() -> str:
    """Recursive-CTE Holt-Winters oracle mirroring
    holt_winters_additive STEP FOR STEP: the smoothing recursion is a
    linear scalar recurrence, so it IS expressible as WITH RECURSIVE
    (no aggregation over the recursive table — the seasonal state
    rides along as a 7-element list). Bit-exactness: every operation
    is written in the Python loop's exact order (IEEE binary64 both
    sides), float literals CAST to DOUBLE (DuckDB would parse them as
    DECIMAL), the daily inputs are the dsum/o_dsum exact doubles, and
    the first/second-season means are explicit left-to-right folds
    matching Python's sum()."""
    a, b, g = "CAST(0.3 AS DOUBLE)", "CAST(0.1 AS DOUBLE)", "CAST(0.2 AS DOUBLE)"
    one = "CAST(1 AS DOUBLE)"

    # left fold ((((((l1+l2)+l3)+l4)+l5)+l6)+l7), matching Python sum()
    def lfold(off):
        expr = f"lst[{off + 1}]"
        for i in range(2, 8):
            expr = f"({expr} + lst[{off + i}])"
        return expr
    return f"""
        WITH RECURSIVE daily AS MATERIALIZED (
            SELECT event_type AS et, CAST(ts AS DATE) AS d,
                   {o_dsum('value')} AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        ys AS MATERIALIZED (
            SELECT et,
                   CAST(ROW_NUMBER() OVER (PARTITION BY et ORDER BY d) - 1
                        AS BIGINT) AS t,
                   y
            FROM daily
        ),
        ns AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n FROM ys GROUP BY et),
        lists AS (
            SELECT et, list(y ORDER BY t) AS lst FROM ys GROUP BY et
        ),
        init AS (
            SELECT l.et,
                   {lfold(0)} / CAST(7 AS DOUBLE) AS level0,
                   ({lfold(7)} / CAST(7 AS DOUBLE)
                    - {lfold(0)} / CAST(7 AS DOUBLE))
                     / CAST(7 AS DOUBLE) AS trend0,
                   list_transform(l.lst[1:7],
                       x -> x - {lfold(0)} / CAST(7 AS DOUBLE)) AS season0
            FROM lists l JOIN ns ON ns.et = l.et
            WHERE ns.n >= 14
        ),
        hw AS (
            SELECT et, CAST(0 AS BIGINT) AS t,
                   level0 AS level, trend0 AS trend, season0 AS season
            FROM init
            UNION ALL
            SELECT hw.et, hw.t + 1,
                   {a} * (ys.y - hw.season[CAST(hw.t % 7 AS INT) + 1])
                     + ({one} - {a}) * (hw.level + hw.trend),
                   {b} * (({a} * (ys.y - hw.season[CAST(hw.t % 7 AS INT) + 1])
                           + ({one} - {a}) * (hw.level + hw.trend)) - hw.level)
                     + ({one} - {b}) * hw.trend,
                   hw.season[1:CAST(hw.t % 7 AS INT)]
                     || [{g} * (ys.y - ({a} * (ys.y
                            - hw.season[CAST(hw.t % 7 AS INT) + 1])
                          + ({one} - {a}) * (hw.level + hw.trend)))
                         + ({one} - {g})
                           * hw.season[CAST(hw.t % 7 AS INT) + 1]]
                     || hw.season[CAST(hw.t % 7 AS INT) + 2:7]
            FROM hw JOIN ys ON ys.et = hw.et AND ys.t = hw.t
        ),
        final AS (
            SELECT hw.et, hw.level, hw.trend, hw.season, ns.n
            FROM hw JOIN ns ON ns.et = hw.et AND hw.t = ns.n
        )
        SELECT f.et AS event_type,
               CAST(h.h + 1 AS INT) AS horizon,
               f.level + CAST(h.h + 1 AS DOUBLE) * f.trend
                 + f.season[CAST((f.n + h.h) % 7 AS INT) + 1] AS forecast
        FROM final f
        CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS h) h
        ORDER BY event_type, horizon
    """


@register(
    "ts_holt_winters",
    tags=("timeseries", "udf", "forecast"),
    oracle=_hw_oracle(),
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple-exponential forecast (additive, weekly
    season) of each daily series, 7 days ahead — the classic
    capacity-planning baseline. The smoothing recursion is inherently
    sequential per series, so the distributed shape is applyInPandas
    keyed by series: each task runs the O(days) loop for its series,
    the corpus-scale daily aggregation is ordinary map-side partials,
    and series count is the parallelism unit (a 100-TB metrics store
    forecasts millions of series this exact way). Hash-oracled
    (promoted from rows-only in r7): the smoothing recursion is a
    linear scalar recurrence, expressible as a DuckDB WITH RECURSIVE
    carrying the 7-slot seasonal state as a list (_hw_oracle — every
    op in the Python loop's exact IEEE order). tests/test_round4_ops.py
    additionally pins the forecasts against an independent reference
    loop and asserts the constant-series fixed point."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(dsum("value").alias("y"))

    def forecast(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d").reset_index(drop=True)
        fc = holt_winters_additive([float(v) for v in pdf["y"]])
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]] * len(fc),
                "horizon": list(range(1, len(fc) + 1)),
                "forecast": fc,
            }
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            forecast, "event_type string, horizon int, forecast double"
        )
        .orderBy("event_type", "horizon")
    )


@register(
    "ts_seasonal_decompose",
    tags=("timeseries", "window", "stats"),
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(SUM(CAST(value AS DECIMAL(30,10)))
                        AS DECIMAL(30,10)) AS x
            FROM events GROUP BY 1, 2
        ),
        ma AS (
            SELECT event_type, d, x,
                   CAST(SUM(x) OVER w AS DECIMAL(30,10)) AS sum7,
                   COUNT(*) OVER w AS n7
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        det AS (
            SELECT event_type, d, x, sum7,
                   CAST(7 AS DECIMAL(2,0)) * x - sum7 AS det7,
                   isodow(d) AS wd
            FROM ma WHERE n7 = 7
        ),
        seas AS (
            SELECT event_type, wd,
                   CAST(CAST(SUM(det7) AS STRING) AS DOUBLE)
                     / (7.0 * COUNT(*)) AS seasonal
            FROM det GROUP BY 1, 2
        )
        SELECT t.event_type, t.d,
               CAST(CAST(t.x AS STRING) AS DOUBLE) AS x,
               CAST(CAST(t.sum7 AS STRING) AS DOUBLE) / 7.0 AS trend,
               s.seasonal,
               CAST(CAST(t.x AS STRING) AS DOUBLE)
                 - CAST(CAST(t.sum7 AS STRING) AS DOUBLE) / 7.0
                 - s.seasonal AS remainder
        FROM det t JOIN seas s
          ON s.event_type = t.event_type AND s.wd = t.wd
        ORDER BY t.event_type, t.d
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each daily series:
    trend = centered 7-day moving average, seasonal = mean detrended
    deviation per ISO weekday, remainder = x - trend - seasonal. The
    divisions that make float decomposition engine-divergent never
    touch the aggregates: the detrended series is kept as the EXACT
    decimal 7x - Σ7 (denominator-free), seasonal means divide once per
    (series, weekday) cell at the edge, and the per-row remainder is
    one IEEE double expression — so the full decomposition is
    hash-checkable. Windows partition by series over O(days) rows;
    the weekday seasonal join is a broadcast of |series|·7 rows."""
    return run_sql(spark, sf_dir, "ts_seasonal_decompose")


@register(
    "ts_sequence_mining_pairs",
    tags=("timeseries", "window", "mining"),
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS next_type
            FROM events
        ),
        pairs AS (
            SELECT event_type AS a, next_type AS b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM ordered WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        ),
        froms AS (
            SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM pairs GROUP BY a
        ),
        tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM pairs),
        tos AS (
            SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM pairs GROUP BY b
        )
        SELECT p.a, p.b, p.n_ab,
               CAST(p.n_ab AS DOUBLE) / f.n_a AS confidence,
               CAST(p.n_ab AS DOUBLE) * t.n
                 / (CAST(f.n_a AS DOUBLE) * tb.n_b) AS lift
        FROM pairs p
        JOIN froms f USING (a)
        JOIN tos tb USING (b)
        CROSS JOIN tot t
        ORDER BY p.n_ab DESC, p.a, p.b
        LIMIT 20
    """,
)
def ts_sequence_mining_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining at length 2: consecutive event-type
    transitions per user (A immediately followed by B in time order),
    with confidence P(B next | A) and lift vs the independence
    baseline — the ORDERED counterpart of agg_market_basket (unordered
    co-occurrence) and the generalization of ts_funnel_conversion's
    fixed pattern. One per-user window lead produces every transition
    in a single shuffle keyed by user; the pair/margin/total relations
    are all |event_types|²-bounded, so everything after the window is
    broadcast-sized. Ties at identical timestamps break on event_id —
    deterministic in both engines."""
    return run_sql(spark, sf_dir, "ts_sequence_mining_pairs")


@register(
    "ts_anomaly_mad_robust",
    tags=("timeseries", "stats", "window"),
    oracle="""
        WITH daily AS MATERIALIZED (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   SUM(CAST(value AS DECIMAL(30,10))) AS y
            FROM events GROUP BY 1, 2
        ),
        med AS (
            SELECT event_type, y AS med FROM (
                SELECT event_type, y, d,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY y, d) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM daily
            ) WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
        ),
        dev AS MATERIALIZED (
            SELECT dd.event_type, dd.d, dd.y, m.med,
                   abs(dd.y - m.med) AS absdev
            FROM daily dd JOIN med m ON m.event_type = dd.event_type
        ),
        mad AS (
            SELECT event_type, absdev AS mad FROM (
                SELECT event_type, absdev, d,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY absdev, d) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM dev
            ) WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
        )
        SELECT v.event_type, v.d,
               CAST(CAST(v.y AS STRING) AS DOUBLE) AS daily_value,
               CAST(CAST(v.med AS STRING) AS DOUBLE) AS median_value,
               CAST(CAST(m.mad AS STRING) AS DOUBLE) AS mad,
               CAST(CAST(v.absdev AS STRING) AS DOUBLE)
                 / CAST(CAST(m.mad AS STRING) AS DOUBLE) AS robust_z
        FROM dev v JOIN mad m ON m.event_type = v.event_type
        WHERE m.mad > 0 AND v.absdev > 3.5 * m.mad
    """,
)
def ts_anomaly_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection by median/MAD (the outlier-resistant
    twin of ts_anomaly_zscore, whose mean/std are themselves dragged by
    the outliers they hunt): flag days whose |value − median| exceeds
    3.5×MAD. Engine-exact end to end — daily sums, both medians (the
    repo's order-statistic convention: rank ceil(0.5n) under a
    deterministic (value, date) order), deviations, and the 3.5×
    gate all stay DECIMAL; doubles appear only in the presented
    columns. Per-series windows are calendar-bounded; MAD=0 series
    (constant) are excluded to keep the score defined."""
    return run_sql(spark, sf_dir, "ts_anomaly_mad_robust")


@register(
    "ts_pattern_reversal",
    tags=("timeseries", "window", "pattern"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   SUM(CAST(value AS DECIMAL(30,10))) AS y
            FROM events GROUP BY 1, 2
        ),
        steps AS (
            SELECT event_type, d, y,
                   lag(y, 2) OVER w AS y2, lag(y, 1) OVER w AS y1
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)
        ),
        hits AS (
            SELECT event_type, d,
                   CAST(CAST(y AS STRING) AS DOUBLE) AS day_value,
                   CAST(CAST(y - y1 AS STRING) AS DOUBLE) AS rebound
            FROM steps
            WHERE y2 IS NOT NULL AND y1 < y2 AND y > y1
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_reversals,
               MIN(d) AS first_reversal,
               MAX(d) AS last_reversal,
               {o_dsum('rebound')} AS total_rebound
        FROM hits
        GROUP BY event_type
    """,
)
def ts_pattern_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern detection, the lag-chain
    recipe: Spark has no MATCH_RECOGNIZE clause, but any
    fixed-length pattern (here DOWN then UP — a V-reversal in each
    event type's daily series) compiles to a window with one lag per
    pattern step plus a row predicate; variable-length patterns
    compile to gaps-and-islands (ts_gaps_islands) instead. Counts and
    dates are exact; rebound sums ride DECIMAL. Per-series windows are
    calendar-bounded — the pattern scan adds no shuffle beyond the
    daily rollup's."""
    return run_sql(spark, sf_dir, "ts_pattern_reversal")


# ---------------------------------------------------------------------------
# AR(2) by Yule-Walker (round 7 continuation): fit an autoregressive
# model per series in closed form from exact sufficient statistics —
# the forecasting twin of ts_autocorr_lags (which stops at the ACF)
# and the time-series analogue of ml_ols_normal_equations' recipe:
# one pass reduces each series to O(1) exact decimal sums, the solve
# is a scalar IEEE expression at the edge, so the whole fit is
# partition-order independent and hash-oracle-checkable — unlike any
# gradient/iterative fit whose float partials depend on layout.

@register(
    "ts_yule_walker_ar2",
    tags=("timeseries", "ml", "window", "agg"),
    oracle=f"""
        WITH daily AS ({EVENT_DAILY_SQL}),
        lagged AS (
            SELECT event_type, d, x,
                   LAG(x, 1) OVER w AS x1,
                   LAG(x, 2) OVER w AS x2
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)
        ),
        s AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   {o_dsum("x")} AS sx,
                   {o_dsum("x * x")} AS sxx,
                   {o_dsum("x * x1")} AS s01,
                   {o_dsum("x * x2")} AS s02,
                   {o_dsum("CASE WHEN x1 IS NOT NULL THEN x END")} AS a1,
                   {o_dsum("x1")} AS b1,
                   {o_dsum("CASE WHEN x2 IS NOT NULL THEN x END")} AS a2,
                   {o_dsum("x2")} AS b2,
                   MAX(CASE WHEN x1 IS NOT NULL THEN
                       struct_pack(d := d,
                                   xn := CAST(CAST(x AS STRING) AS DOUBLE),
                                   xp := CAST(CAST(x1 AS STRING) AS DOUBLE))
                       END) AS lastrow
            FROM lagged
            GROUP BY event_type
        ),
        c AS (
            SELECT event_type, n, sx / n AS mu,
                   (sxx - sx * sx / n) / n AS c0,
                   (s01 - (sx / n) * (a1 + b1) + (n - 1) * (sx / n) * (sx / n)) / n AS c1,
                   (s02 - (sx / n) * (a2 + b2) + (n - 2) * (sx / n) * (sx / n)) / n AS c2,
                   lastrow
            FROM s
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_days, mu, c0,
               (c1 / c0) * (1 - c2 / c0) / (1 - (c1 / c0) * (c1 / c0)) AS phi1,
               (c2 / c0 - (c1 / c0) * (c1 / c0))
                 / (1 - (c1 / c0) * (c1 / c0)) AS phi2,
               c0 * (1 - ((c1 / c0) * (1 - c2 / c0) / (1 - (c1 / c0) * (c1 / c0))) * (c1 / c0)
                       - ((c2 / c0 - (c1 / c0) * (c1 / c0)) / (1 - (c1 / c0) * (c1 / c0))) * (c2 / c0))
                 AS sigma2,
               mu + ((c1 / c0) * (1 - c2 / c0) / (1 - (c1 / c0) * (c1 / c0)))
                      * (lastrow.xn - mu)
                  + ((c2 / c0 - (c1 / c0) * (c1 / c0)) / (1 - (c1 / c0) * (c1 / c0)))
                      * (lastrow.xp - mu) AS forecast_next
        FROM c
        ORDER BY event_type
    """,
)
def ts_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series AR(2) fit by the Yule-Walker method, closed form:
    each event type's daily-total series reduces in ONE windowed scan
    to exact decimal sufficient statistics (n, Σx, Σx², the lag-1/-2
    cross products Σx_t·x_{t-k}, and the lag-overlap edge sums needed
    for the exact mean correction), then the autocovariances
    c_k = (S_k − μ(A_k+B_k) + (n−k)μ²)/n, the coefficients
    φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²), the innovation
    variance σ² = c0(1−φ₁r₁−φ₂r₂), and the one-step forecast
    μ + φ₁(x_n−μ) + φ₂(x_{n−1}−μ) are single double expressions with
    identical operation order on both engines. Scale: the corpus-sized
    work is the daily aggregation (map-side partials); the per-series
    window runs over O(days) rows and the driver sees O(series) rows.
    The decimal lag products are exact up to DECIMAL(38,12) — at
    larger daily magnitudes widen the base cast, not the algorithm."""
    daily = event_daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "d",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
    )
    s = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("x1")).cast("double").alias("s01"),
        F.sum(F.col("x") * F.col("x2")).cast("double").alias("s02"),
        F.sum(F.when(F.col("x1").isNotNull(), F.col("x")))
        .cast("double")
        .alias("a1"),
        F.sum("x1").cast("double").alias("b1"),
        F.sum(F.when(F.col("x2").isNotNull(), F.col("x")))
        .cast("double")
        .alias("a2"),
        F.sum("x2").cast("double").alias("b2"),
        F.max(
            F.when(
                F.col("x1").isNotNull(),
                F.struct(
                    F.col("d"),
                    F.col("x").cast("double").alias("xn"),
                    F.col("x1").cast("double").alias("xp"),
                ),
            )
        ).alias("lastrow"),
    )
    n = F.col("n").cast("double")
    mu = F.col("sx") / n
    c0 = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / n
    c1 = (
        F.col("s01") - mu * (F.col("a1") + F.col("b1")) + (n - F.lit(1.0)) * mu * mu
    ) / n
    c2 = (
        F.col("s02") - mu * (F.col("a2") + F.col("b2")) + (n - F.lit(2.0)) * mu * mu
    ) / n
    r1, r2 = c1 / c0, c2 / c0
    phi1 = r1 * (F.lit(1.0) - r2) / (F.lit(1.0) - r1 * r1)
    phi2 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    sigma2 = c0 * (F.lit(1.0) - phi1 * r1 - phi2 * r2)
    forecast = (
        mu
        + phi1 * (F.col("lastrow.xn") - mu)
        + phi2 * (F.col("lastrow.xp") - mu)
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        mu.alias("mu"),
        c0.alias("c0"),
        phi1.alias("phi1"),
        phi2.alias("phi2"),
        sigma2.alias("sigma2"),
        forecast.alias("forecast_next"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Banded dynamic time warping between daily series (round 7
# continuation): the classical elastic-alignment distance, made
# engine-exact by quantizing the series to integers (BIGINT 1e-6
# units from the exact decimal daily sums) so the whole DP runs in
# integer arithmetic — no float accumulates anywhere, which is what
# lets a sequential dynamic program carry a hash oracle at all. The
# oracle evaluates the SAME recurrence as a parallel anti-diagonal
# wavefront (cells on diagonal k depend only on diagonals k-1/k-2 —
# the standard parallel-DTW decomposition) inside one recursive CTE,
# so Spark's row-order DP and DuckDB's wavefront DP must meet on
# identical integers.

_DTW_SENT = 100_000_000_000_000_000  # unreachable-cell sentinel


@register(
    "ts_dtw_band",
    tags=("timeseries", "udf", "agg"),
    oracle=f"""
        WITH RECURSIVE daily AS ({EVENT_DAILY_SQL}),
        ser AS (
            SELECT event_type,
                   list(CAST(x * 1000000 AS BIGINT) ORDER BY d) AS xs
            FROM daily GROUP BY event_type
        ),
        ps AS (
            SELECT a.event_type AS ta, b.event_type AS tb,
                   a.xs AS va, b.xs AS vb,
                   array_length(a.xs) AS n, array_length(b.xs) AS m,
                   GREATEST(10, abs(array_length(a.xs) - array_length(b.xs)) + 5) AS w
            FROM ser a JOIN ser b ON a.event_type < b.event_type
        ),
        dp AS (
            SELECT ta, tb, 0 AS k,
                   CAST(NULL AS BIGINT[]) AS p2,
                   list_transform(range(1, n + 1), ii ->
                       CASE WHEN ii = 1 THEN abs(va[1] - vb[1])
                            ELSE {_DTW_SENT} END) AS p1
            FROM ps
          UNION ALL
            SELECT dp.ta, dp.tb, dp.k + 1, dp.p1,
                   list_transform(range(1, ps.n + 1), ii ->
                     CASE WHEN dp.k + 1 - (ii - 1) >= 0
                           AND dp.k + 1 - (ii - 1) <= ps.m - 1
                           AND abs(2 * ii - dp.k - 3) <= ps.w
                     THEN abs(ps.va[ii] - ps.vb[dp.k - ii + 3])
                          + LEAST(
                              CASE WHEN ii > 1 THEN dp.p1[ii - 1]
                                   ELSE {_DTW_SENT} END,
                              dp.p1[ii],
                              CASE WHEN ii > 1 AND dp.p2 IS NOT NULL
                                   THEN dp.p2[ii - 1]
                                   ELSE {_DTW_SENT} END)
                     ELSE {_DTW_SENT} END) AS p1
            FROM dp JOIN ps ON dp.ta = ps.ta AND dp.tb = ps.tb
            WHERE dp.k + 1 <= ps.n + ps.m - 2
        )
        SELECT ps.ta AS type_a, ps.tb AS type_b,
               CAST(ps.n AS BIGINT) AS n_a, CAST(ps.m AS BIGINT) AS n_b,
               CAST(ps.w AS BIGINT) AS band,
               dp.p1[ps.n] AS dtw_cost,
               CAST(dp.p1[ps.n] AS DOUBLE)
                 / CAST(ps.n + ps.m AS DOUBLE) AS dtw_norm
        FROM dp
        JOIN ps ON dp.ta = ps.ta AND dp.tb = ps.tb
        WHERE dp.k = ps.n + ps.m - 2
        ORDER BY type_a, type_b
    """,
)
def ts_dtw_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sakoe-Chiba-banded DTW distance between every pair of event
    types' daily series: the series quantize to exact BIGINT 1e-6
    units, so the O(n*band) dynamic program is pure integer
    arithmetic and the result is bit-identical however the cells are
    scheduled — Spark runs it row-by-row in an Arrow-batched pandas
    UDF over the K^2/2 pair relation, the oracle re-derives it as an
    anti-diagonal wavefront recursion, and both must agree exactly.
    Scale: corpus-sized work is only the daily aggregation (map-side
    partials); the pair relation is |types|^2/2 rows of O(days)
    arrays — model-sized — and each DP is O(days*band) inside one
    Arrow batch. For millions of series pairs the same plan holds:
    the pandas UDF shards pairs across executors with no shuffle
    beyond the pair build. Band = max(10, |n-m|+5) guarantees a
    feasible path at unequal lengths."""
    import pandas as pd

    daily = event_daily(spark, sf_dir)
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("d"),
                        (F.col("x") * F.lit(1000000))
                        .cast("long")
                        .alias("xq"),
                    )
                )
            ),
            lambda s: s.getField("xq"),
        ).alias("xs")
    )
    a = ser.select(F.col("event_type").alias("type_a"), F.col("xs").alias("va"))
    b = ser.select(F.col("event_type").alias("type_b"), F.col("xs").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "va",
            "vb",
            F.size("va").cast("bigint").alias("n_a"),
            F.size("vb").cast("bigint").alias("n_b"),
            F.greatest(
                F.lit(10).cast("bigint"),
                (F.abs(F.size("va") - F.size("vb")) + F.lit(5)).cast("bigint"),
            ).alias("band"),
        )
    )

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("long", PandasUDFType.SCALAR)
    def dtw(va, vb, band):
        sent = _DTW_SENT
        out = []
        for xs, ys, w in zip(va, vb, band):
            xs = [int(v) for v in xs]
            ys = [int(v) for v in ys]
            w = int(w)
            n, m = len(xs), len(ys)
            prev = [sent] * m
            cur = prev
            for i in range(n):
                cur = [sent] * m
                for j in range(max(0, i - w), min(m - 1, i + w) + 1):
                    c = abs(xs[i] - ys[j])
                    if i == 0 and j == 0:
                        cur[j] = c
                        continue
                    best = sent
                    if i > 0 and prev[j] < best:
                        best = prev[j]
                    if j > 0 and cur[j - 1] < best:
                        best = cur[j - 1]
                    if i > 0 and j > 0 and prev[j - 1] < best:
                        best = prev[j - 1]
                    cur[j] = c + best
                prev = cur
            out.append(cur[m - 1])
        return pd.Series(out, dtype="int64")

    scored = pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "band",
        dtw("va", "vb", "band").alias("dtw_cost"),
    )
    return scored.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "band",
        "dtw_cost",
        (
            F.col("dtw_cost").cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
        ).alias("dtw_norm"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition (round 7 continuation):
# multiresolution analysis as FIVE hash aggregations — no UDF, no
# window over the corpus. The unnormalized Haar transform is pure
# pairwise sums and differences, so on the BIGINT-quantized series
# every coefficient is an exact integer and each level is one
# `GROUP BY idx DIV 2`: the dyadic pyramid is literally a chain of
# hash aggs, the most Spark-native shape a wavelet can take. Per-level
# detail energy localizes the series' variance in scale (level 1 =
# day-to-day noise, level 5 = month-scale trend) — the classic cheap
# feature for similarity search and anomaly triage over time series.

_HAAR_LEVELS = 5  # 30-day series padded to 32 = 2^5


@register(
    "ts_haar_energy",
    tags=("timeseries", "agg"),
    oracle=f"""
        WITH daily AS ({EVENT_DAILY_SQL}),
        leaves AS (
            SELECT event_type,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                       - 1 AS idx,
                   CAST(x * 1000000 AS BIGINT) AS val
            FROM daily
            UNION ALL
            SELECT event_type, 29 + p AS idx, CAST(0 AS BIGINT) AS val
            FROM (SELECT DISTINCT event_type FROM daily)
            CROSS JOIN (SELECT UNNEST([1, 2]) AS p)
        ),
        {','.join(
            f'''lvl{k} AS (
            SELECT event_type, idx // 2 AS idx,
                   SUM(val) AS val,
                   SUM(CASE WHEN idx % 2 = 0 THEN val ELSE -val END) AS dcoef
            FROM {'leaves' if k == 1 else f'lvl{k - 1}'}
            GROUP BY event_type, idx // 2
        )''' for k in range(1, _HAAR_LEVELS + 1)
        )}
        SELECT event_type, level, n_coeffs, energy FROM (
            {' UNION ALL '.join(
                f'''SELECT event_type, {k} AS level,
                   CAST(COUNT(*) AS BIGINT) AS n_coeffs,
                   CAST(CAST(SUM(CAST(dcoef AS DECIMAL(38,0))
                                 * CAST(dcoef AS DECIMAL(38,0)))
                        AS STRING) AS DOUBLE) AS energy
            FROM lvl{k} GROUP BY event_type''' for k in range(1, _HAAR_LEVELS + 1)
            )}
        )
        ORDER BY event_type, level
    """,
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Haar detail energy at 5 dyadic levels: the 30-day
    daily series quantizes to BIGINT 1e-6 units and zero-pads to 32;
    each level is ONE `GROUP BY idx DIV 2` hash agg computing the
    pairwise sum (carried up) and difference (the detail coefficient),
    so the whole multiresolution pyramid is 5 chained aggregations —
    exact integers end to end, energy presented once as a double from
    the DECIMAL(38,0) sum of squares. Corpus-scale work is the daily
    aggregation; the pyramid runs on O(types x 32) rows. The per-level
    energies read as a scale spectrum: where the series' variance
    lives (daily noise vs weekly cycle vs month trend)."""
    daily = event_daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    leaves = daily.select(
        "event_type",
        (F.row_number().over(w) - 1).alias("idx"),
        (F.col("x") * F.lit(1000000)).cast("long").alias("val"),
    )
    pads = (
        daily.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(1, 3).select((F.lit(29) + F.col("id")).alias("idx"))
        )
        .select("event_type", "idx", F.lit(0).cast("long").alias("val"))
    )
    cur = leaves.unionAll(pads)
    energies = []
    dec = "decimal(38,0)"
    for k in range(1, _HAAR_LEVELS + 1):
        pairs = cur.groupBy(
            "event_type", F.expr("idx DIV 2").alias("idx")
        ).agg(
            F.sum("val").alias("val"),
            F.sum(
                F.when(F.col("idx") % 2 == 0, F.col("val")).otherwise(
                    -F.col("val")
                )
            ).alias("dcoef"),
        )
        energies.append(
            pairs.groupBy("event_type").agg(
                F.lit(k).alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
                F.sum(F.col("dcoef").cast(dec) * F.col("dcoef").cast(dec))
                .cast("double")
                .alias("energy"),
            )
        )
        cur = pairs.select("event_type", "idx", "val")
    out = energies[0]
    for p in energies[1:]:
        out = out.unionAll(p)
    return out.select("event_type", "level", "n_coeffs", "energy").orderBy(
        "event_type", "level"
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation to lag 3 (round 7 continuation): the other
# half of Box-Jenkins model identification (ts_autocorr_lags gives the
# ACF, this gives the PACF; ts_yule_walker_ar2 then fits the model the
# PACF suggests). Durbin-Levinson at fixed depth is a closed-form
# scalar cascade over the autocovariances, so the whole diagnostic is
# one windowed scan to exact decimal lag sums + identical-order IEEE
# edges — pacf(2) must equal AR(2)'s phi2 exactly (pinned in tests).


@register(
    "ts_pacf",
    tags=("timeseries", "stats", "window", "agg"),
    oracle=f"""
        WITH daily AS ({EVENT_DAILY_SQL}),
        lagged AS (
            SELECT event_type, x,
                   LAG(x, 1) OVER w AS x1,
                   LAG(x, 2) OVER w AS x2,
                   LAG(x, 3) OVER w AS x3
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)
        ),
        s AS (
            SELECT event_type, COUNT(*) AS n,
                   {o_dsum("x")} AS sx, {o_dsum("x * x")} AS sxx,
                   {o_dsum("x * x1")} AS s01,
                   {o_dsum("x * x2")} AS s02,
                   {o_dsum("x * x3")} AS s03,
                   {o_dsum("CASE WHEN x1 IS NOT NULL THEN x END")} AS a1,
                   {o_dsum("x1")} AS b1,
                   {o_dsum("CASE WHEN x2 IS NOT NULL THEN x END")} AS a2,
                   {o_dsum("x2")} AS b2,
                   {o_dsum("CASE WHEN x3 IS NOT NULL THEN x END")} AS a3,
                   {o_dsum("x3")} AS b3
            FROM lagged GROUP BY event_type
        ),
        c AS (
            SELECT event_type, n,
                   (sxx - sx * sx / n) / n AS c0,
                   (s01 - (sx / n) * (a1 + b1) + (n - 1) * (sx / n) * (sx / n)) / n AS c1,
                   (s02 - (sx / n) * (a2 + b2) + (n - 2) * (sx / n) * (sx / n)) / n AS c2,
                   (s03 - (sx / n) * (a3 + b3) + (n - 3) * (sx / n) * (sx / n)) / n AS c3
            FROM s
        ),
        r AS (
            SELECT event_type, n, c1 / c0 AS r1, c2 / c0 AS r2, c3 / c0 AS r3
            FROM c
        ),
        dl AS (
            SELECT event_type, n, r1, r2, r3,
                   r1 AS pacf1,
                   (r2 - r1 * r1) / (1 - r1 * r1) AS pacf2,
                   r1 * (1 - (r2 - r1 * r1) / (1 - r1 * r1)) AS phi21
            FROM r
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               pacf1, pacf2,
               (r3 - phi21 * r2 - pacf2 * r1)
                 / (1 - phi21 * r1 - pacf2 * r2) AS pacf3
        FROM dl
        ORDER BY event_type
    """,
)
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function to lag 3 per daily series by
    Durbin-Levinson: ONE windowed scan reduces each series to exact
    decimal lag cross-products (the ts_yule_walker_ar2 sufficient
    statistics extended to lag 3), the autocovariances and the
    recursion phi11 = r1, phi22 = (r2 - r1^2)/(1 - r1^2),
    phi33 = (r3 - phi21 r2 - phi22 r1)/(1 - phi21 r1 - phi22 r2) are
    identical-order IEEE edges. PACF cutting off after lag p is the
    textbook AR(p) identification signal; pacf2 here equals the AR(2)
    fit's phi2 exactly (shared estimator, pinned in tests)."""
    return run_sql(spark, sf_dir, "ts_pacf")


@register(
    "ts_gapfill_interpolate",
    tags=("ts", "window", "gapfill"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        sparse AS (
            SELECT * FROM daily WHERE dayofmonth(day) % 3 <> 0
        ),
        spine AS (
            SELECT event_type,
                   unnest(generate_series(MIN(day), MAX(day),
                          INTERVAL 1 DAY))::DATE AS day
            FROM sparse GROUP BY event_type
        ),
        joined AS (
            SELECT s.event_type, s.day, d.v,
                   d.v IS NOT NULL AS observed
            FROM spine s LEFT JOIN sparse d
              ON d.event_type = s.event_type AND d.day = s.day
        ),
        ctx AS (
            SELECT event_type, day, v, observed,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS pv,
                   last_value(CASE WHEN observed THEN day END IGNORE NULLS)
                       OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS pd,
                   first_value(v IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS nv,
                   first_value(CASE WHEN observed THEN day END IGNORE NULLS)
                       OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS nd
            FROM joined
        )
        SELECT event_type, day,
               NOT observed AS is_interpolated,
               CAST(CASE WHEN observed THEN v
                    ELSE pv + ((nv - pv)
                         * CAST(date_diff('day', pd, day) AS BIGINT))
                         // CAST(date_diff('day', pd, nd) AS BIGINT)
               END AS DOUBLE) / 1e6 AS value_filled
        FROM ctx
        ORDER BY event_type, day
    """,
)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling with linear interpolation — the missing half of
    every monitoring/feature time series: build the per-series daily
    date spine (sequence + explode), carry the previous and next
    observed points with IGNORE NULLS windows, and fill interior gaps
    on the straight line between them. The series is deterministically
    sparsified first (every day-of-month divisible by 3 is dropped)
    so the interpolation path is genuinely exercised and the expected
    pattern is testable. Exactness: daily values are floor-scaled
    integer sums (order-free), the interpolation numerator is an
    exact BIGINT cross-product, and the single integer floor-division
    uses DIV/ // (the Spark-vs-DuckDB pitfall) — floats appear only
    at the /1e6 presentation edge. The spine spans min..max of the
    OBSERVED days per series, so every gap is interior (no
    extrapolation nulls to diverge on). Scale: windows partition by
    series; the spine explode is O(days), never corpus-sized."""
    daily = daily_scaled(spark, sf_dir)
    sparse = daily.filter(F.dayofmonth("day") % 3 != 0)
    spine = (
        sparse.groupBy("event_type")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY")
                )
            ).alias("day"),
        )
    )
    joined = spine.join(sparse, ["event_type", "day"], "left").select(
        "event_type", "day", "v", F.col("v").isNotNull().alias("observed")
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("observed"), F.col("day"))
    ctx = joined.select(
        "event_type",
        "day",
        "v",
        "observed",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = F.col("pv") + F.expr(
        "((nv - pv) * CAST(datediff(day, pd) AS BIGINT))"
        " DIV CAST(datediff(nd, pd) AS BIGINT)"
    )
    return ctx.select(
        "event_type",
        "day",
        (~F.col("observed")).alias("is_interpolated"),
        (
            F.when(F.col("observed"), F.col("v"))
            .otherwise(interp)
            .cast("double")
            / F.lit(1e6)
        ).alias("value_filled"),
    ).orderBy("event_type", "day")


@register(
    "ts_theil_sen",
    tags=("ts", "stats", "robust"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        pairs AS (
            SELECT a.event_type,
                   CAST(b.v - a.v AS DOUBLE)
                     / CAST(CAST(CAST(b.day AS DATE) - CAST(a.day AS DATE) AS BIGINT) AS DOUBLE)
                       AS slope
            FROM daily a JOIN daily b
              ON b.event_type = a.event_type AND b.day > a.day
        ),
        ranked AS (
            SELECT event_type, slope,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY slope) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS np
            FROM pairs
        )
        SELECT event_type, CAST(MIN(np) AS BIGINT) AS n_pairs,
               MIN(CASE WHEN rk = CAST(FLOOR((np + 1) / 2) AS BIGINT) THEN slope END) / 1e6
                   AS theil_sen_slope
        FROM ranked
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise day-to-day
    slopes per series — the estimator that shrugs off the outliers
    that wreck OLS (29.3% breakdown point). Each slope is one double
    division of exact integers (floor-scaled daily totals over exact
    day gaps); the median is the interpolation-free lower order
    statistic at rank ceil(n/2), picked by a row_number window
    PARTITIONED BY SERIES (never global). The O(days²) pair join is
    the documented cost bound — days-per-series, not the corpus,
    squares; the corpus itself collapses to daily rows in one
    map-side scan. CAST(FLOOR(.. / 2) AS BIGINT) on a positive count
    pins the rank floor on both engines."""
    return run_sql(spark, sf_dir, "ts_theil_sen")


@register(
    "ts_mann_kendall",
    tags=("ts", "stats", "robust", "hypothesis"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        n AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type
        ),
        s AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.v > a.v THEN 1
                                 WHEN b.v < a.v THEN -1
                                 ELSE 0 END) AS BIGINT) AS s
            FROM daily a JOIN daily b
              ON b.event_type = a.event_type AND b.day > a.day
            GROUP BY a.event_type
        ),
        ties AS (
            SELECT event_type,
                   CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                        AS BIGINT) AS tie_num
            FROM (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
                FROM daily GROUP BY event_type, v
            ) WHERE t > 1 GROUP BY event_type
        ),
        red AS (
            SELECT n.event_type, n.n, s.s,
                   n.n * (n.n - 1) * (2 * n.n + 5)
                       - COALESCE(t.tie_num, 0) AS var18
            FROM n JOIN s ON s.event_type = n.event_type
            LEFT JOIN ties t ON t.event_type = n.event_type
        )
        SELECT event_type, n, s AS s_stat,
               CAST(var18 AS BIGINT) AS var_s_x18,
               CASE WHEN var18 = 0 THEN NULL
                    WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                         / sqrt(CAST(var18 AS DOUBLE)
                                / CAST(18 AS DOUBLE))
                    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                         / sqrt(CAST(var18 AS DOUBLE)
                                / CAST(18 AS DOUBLE))
                    ELSE CAST(0.0 AS DOUBLE) END AS z_stat
        FROM red
        ORDER BY event_type
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per series: S = Σ sign(v_j − v_i) over
    all ordered day pairs — the nonparametric is-there-a-monotonic-
    trend test that needs no distributional assumption and tolerates
    missing days. S and the tie-corrected variance numerator
    n(n−1)(2n+5) − Σ t(t−1)(2t+5) stay EXACT BIGINT (the ×18 divisor
    moves inside the final double edge); the continuity-corrected
    z = (S∓1)/√(Var) is the only float, with a NULL guard on the
    all-tied Var=0 degenerate (Spark NULL vs DuckDB IEEE divergence
    class). Same O(days²)-per-series pair join and one-scan daily
    collapse as ts_theil_sen."""
    return run_sql(spark, sf_dir, "ts_mann_kendall")


@register(
    "ts_granger_causality_1lag",
    tags=("ts", "stats", "hypothesis"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        lagged AS (
            SELECT event_type, day, v,
                   lag(v) OVER (PARTITION BY event_type ORDER BY day)
                       AS v1
            FROM daily
        ),
        triples AS (
            SELECT y.event_type AS y_type, x.event_type AS x_type,
                   y.v AS yt, y.v1 AS y1, x.v1 AS x1
            FROM lagged y
            JOIN lagged x ON x.day = y.day
                 AND x.event_type <> y.event_type
            WHERE y.v1 IS NOT NULL AND x.v1 IS NOT NULL
        ),
        sums AS (
            SELECT y_type, x_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(yt AS DECIMAL(38,0))) AS STRING)
                        AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(y1 AS DECIMAL(38,0))) AS STRING)
                        AS DOUBLE) AS sy1,
                   CAST(CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS STRING)
                        AS DOUBLE) AS sx1,
                   CAST(CAST(SUM(CAST(yt AS DECIMAL(19,0))
                        * CAST(yt AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS syy,
                   CAST(CAST(SUM(CAST(yt AS DECIMAL(19,0))
                        * CAST(y1 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS syy1,
                   CAST(CAST(SUM(CAST(yt AS DECIMAL(19,0))
                        * CAST(x1 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS syx1,
                   CAST(CAST(SUM(CAST(y1 AS DECIMAL(19,0))
                        * CAST(y1 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS sy1y1,
                   CAST(CAST(SUM(CAST(x1 AS DECIMAL(19,0))
                        * CAST(x1 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS sx1x1,
                   CAST(CAST(SUM(CAST(y1 AS DECIMAL(19,0))
                        * CAST(x1 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS sy1x1
            FROM triples GROUP BY y_type, x_type
        ),
        cen AS (
            SELECT y_type, x_type, n,
                   syy - sy * sy / CAST(n AS DOUBLE) AS cyy,
                   syy1 - sy * sy1 / CAST(n AS DOUBLE) AS cyy1,
                   syx1 - sy * sx1 / CAST(n AS DOUBLE) AS cyx1,
                   sy1y1 - sy1 * sy1 / CAST(n AS DOUBLE) AS cy1y1,
                   sx1x1 - sx1 * sx1 / CAST(n AS DOUBLE) AS cx1x1,
                   sy1x1 - sy1 * sx1 / CAST(n AS DOUBLE) AS cy1x1
            FROM sums
        ),
        fit AS (
            SELECT y_type, x_type, n, cyy, cyy1, cyx1, cy1y1, cx1x1,
                   cy1x1,
                   cy1y1 * cx1x1 - cy1x1 * cy1x1 AS det,
                   cyy - cyy1 * cyy1 / cy1y1 AS rss_r,
                   cyy - ((cyy1 * cx1x1 - cyx1 * cy1x1)
                          / (cy1y1 * cx1x1 - cy1x1 * cy1x1)) * cyy1
                       - ((cyx1 * cy1y1 - cyy1 * cy1x1)
                          / (cy1y1 * cx1x1 - cy1x1 * cy1x1)) * cyx1
                       AS rss_u
            FROM cen
        )
        SELECT x_type AS cause, y_type AS effect, n, rss_r, rss_u,
               CASE WHEN det = CAST(0.0 AS DOUBLE)
                      OR rss_u <= CAST(0.0 AS DOUBLE) THEN NULL
                    ELSE (rss_r - rss_u) * CAST(n - 3 AS DOUBLE) / rss_u
               END AS f_stat
        FROM fit
        ORDER BY cause, effect
    """,
)
def ts_granger_causality_1lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality at lag 1 for every directed pair of event
    series: does yesterday's X help predict today's Y beyond
    yesterday's Y? F compares the restricted AR(1) fit against the
    bivariate fit, both in CLOSED FORM from ten exact sufficient
    statistics — the corpus collapses to floor-scaled integer daily
    totals in one scan, lag alignment is a day-equijoin of the
    series-partitioned lag windows, and every sum of BIGINT
    cross-products rides DECIMAL(38,0) (order-free) before ONE
    pinned-order double edge (centered moments, Cramer 2x2 solve,
    F). Degenerate fits (singular normal matrix, zero residual)
    NULL-guard identically on both engines. Scale: O(types²) pairs of
    O(days) rows after the collapse; nothing corpus-sized crosses the
    pair join."""
    return run_sql(spark, sf_dir, "ts_granger_causality_1lag")


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test (round 9): "is this daily series white
# noise?" — the gate a forecasting pipeline runs before fitting
# anything. Standard full-series ACF (deviations from the SERIES mean,
# total-sum-of-squares denominator), lags 1..3 by ROW position over
# the date-ordered series. Every r_k expands algebraically into exact
# decimal power sums (pairwise product sums in DECIMAL(38,12), means
# applied in ONE double expression), so no order-dependent float
# accumulation exists on either engine.


@register(
    "ts_ljung_box",
    tags=("timeseries", "stats", "window"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        full_s AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) AS STRING) AS DOUBLE) AS sxx
            FROM daily GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type, ks.k,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(CAST(SUM(a.x) AS STRING) AS DOUBLE) AS spx,
                   CAST(CAST(SUM(b.x) AS STRING) AS DOUBLE) AS spy,
                   CAST(CAST(SUM(CAST(a.x AS DECIMAL(19,6)) * b.x) AS STRING) AS DOUBLE) AS spxy
            FROM daily a
            CROSS JOIN (SELECT k FROM (VALUES (1), (2), (3)) AS t(k)) ks
            JOIN daily b ON b.event_type = a.event_type
                        AND b.rn = a.rn - ks.k
            GROUP BY a.event_type, ks.k
        ),
        rk AS (
            SELECT p.event_type, p.k, f.n,
                   (p.spxy
                    - (f.sx / CAST(f.n AS DOUBLE)) * (p.spx + p.spy)
                    + CAST(p.c AS DOUBLE)
                      * (f.sx / CAST(f.n AS DOUBLE))
                      * (f.sx / CAST(f.n AS DOUBLE)))
                   / (f.sxx - f.sx * f.sx / CAST(f.n AS DOUBLE)) AS r
            FROM pairs p JOIN full_s f ON f.event_type = p.event_type
        )
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
               MAX(CASE WHEN k = 1 THEN r END) AS r1,
               MAX(CASE WHEN k = 2 THEN r END) AS r2,
               MAX(CASE WHEN k = 3 THEN r END) AS r3,
               CAST(MAX(n) AS DOUBLE) * (CAST(MAX(n) AS DOUBLE) + 2)
                 * (MAX(CASE WHEN k = 1 THEN r END)
                      * MAX(CASE WHEN k = 1 THEN r END)
                      / (CAST(MAX(n) AS DOUBLE) - 1)
                    + MAX(CASE WHEN k = 2 THEN r END)
                      * MAX(CASE WHEN k = 2 THEN r END)
                      / (CAST(MAX(n) AS DOUBLE) - 2)
                    + MAX(CASE WHEN k = 3 THEN r END)
                      * MAX(CASE WHEN k = 3 THEN r END)
                      / (CAST(MAX(n) AS DOUBLE) - 3)) AS q_stat,
               CAST(3 AS BIGINT) AS df
        FROM rk GROUP BY event_type
        ORDER BY event_type
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over lags 1..3 for each daily event series:
    Q = n(n+2) * sum_k r_k^2/(n-k) with the standard full-series ACF
    r_k = [S_xy(k) - m(S_x(k)+S_y(k)) + c_k m^2] / [S_xx - n m^2].
    Every S is an exact DECIMAL sum (pair products in DECIMAL(38,12))
    cast to double through the VARCHAR route; m = sx/n and each r_k
    are then single shared double expressions — bit-identical cross-
    engine, no accumulation-order exposure. The rn window is per
    series over the 30-row daily aggregate (never the corpus); the lag
    fan-out is a 3-row broadcast; corpus-scale work is one map-side-
    combining daily agg. The three r_k^2/(n-k) terms fold in the fixed
    k order, so the Q sum is order-free by construction."""
    return run_sql(spark, sf_dir, "ts_ljung_box")


# ---------------------------------------------------------------------------
# Bollinger bands (round 9): the rolling mean +/- 2 sigma envelope on
# each daily series, with breach flags. Rolling moments come from
# EXACT decimal sum/sumsq window frames (7 rows), converted to mean
# and population sigma in one double expression per day — the same
# no-float-accumulation contract as the global stats, applied per
# frame. Bandwidths quantize to q6 BIGINTs before the per-series sum
# so the aggregate is exact-integer.


@register(
    "ts_bollinger_bands",
    tags=("timeseries", "window"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        roll AS (
            SELECT event_type, rn,
                   CAST(CAST(x AS STRING) AS DOUBLE) AS xd,
                   CAST(COUNT(*) OVER w AS BIGINT) AS wn,
                   CAST(CAST(SUM(x) OVER w AS STRING) AS DOUBLE) AS ws,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) OVER w AS STRING) AS DOUBLE) AS wq
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY rn
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ),
        bands AS (
            SELECT event_type, rn, xd, wn,
                   ws / CAST(wn AS DOUBLE) AS mid,
                   sqrt((wq - ws * ws / CAST(wn AS DOUBLE))
                        / CAST(wn AS DOUBLE)) AS sigma
            FROM roll WHERE wn = 7
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN xd > mid + 2 * sigma
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
               CAST(SUM(CASE WHEN xd < mid - 2 * sigma
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_lower,
               {o_lsum('4 * sigma')} AS bandwidth_q6_sum
        FROM bands GROUP BY event_type
        ORDER BY event_type
    """,
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger envelope per daily series: 7-day rolling mean and
    population sigma from exact DECIMAL window sums (sum and sum-of-
    squares over a 7-row frame stay exact; mean/sigma are single
    double expressions per day shared verbatim with the oracle), bands
    at +/- 2 sigma, and a per-series breach census. Total bandwidth
    survives aggregation as floor-quantized q6 BIGINTs, so the
    per-series SUM is exact integer arithmetic — no double folds
    anywhere. Windows partition by series over the 30-row daily
    aggregate; corpus-scale work is one map-side-combining agg."""
    return run_sql(spark, sf_dir, "ts_bollinger_bands")


# ---------------------------------------------------------------------------
# SAX symbolization (round 9): Piecewise Aggregate Approximation over
# 5-day segments + Gaussian-breakpoint binning to a 4-letter alphabet
# — the standard motif/novelty representation for massive series
# collections. Per-series z-normalization uses global exact sums; each
# segment mean is one double expression over the segment's exact
# decimal sum; breakpoints (-0.6745, 0, 0.6745) are literal doubles
# shared with the oracle.


@register(
    "ts_sax_symbols",
    tags=("timeseries", "window", "text"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        stats AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) AS STRING) AS DOUBLE) AS sxx
            FROM daily GROUP BY event_type
        ),
        seg AS (
            SELECT d.event_type,
                   CAST((d.rn - 1) // 5 AS BIGINT) AS seg_id,
                   CAST(COUNT(*) AS BIGINT) AS seg_n,
                   CAST(CAST(SUM(d.x) AS STRING) AS DOUBLE) AS seg_s
            FROM daily d GROUP BY 1, 2
        ),
        z AS (
            SELECT s.event_type, s.seg_id,
                   (seg_s / CAST(seg_n AS DOUBLE)
                    - st.sx / CAST(st.n AS DOUBLE))
                   / sqrt((st.sxx - st.sx * st.sx / CAST(st.n AS DOUBLE))
                          / CAST(st.n AS DOUBLE)) AS zmean
            FROM seg s JOIN stats st ON st.event_type = s.event_type
        ),
        sym AS (
            SELECT event_type, seg_id, zmean,
                   CASE WHEN zmean < -0.6745 THEN 'a'
                        WHEN zmean < 0.0 THEN 'b'
                        WHEN zmean < 0.6745 THEN 'c'
                        ELSE 'd' END AS sym
            FROM z
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               string_agg(sym, '' ORDER BY seg_id) AS sax_word,
               CAST(SUM(CASE WHEN sym = 'a' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN sym = 'b' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN sym = 'c' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_c,
               CAST(SUM(CASE WHEN sym = 'd' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_d
        FROM sym GROUP BY event_type
        ORDER BY event_type
    """,
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words per daily series: PAA over 5-day segments, z-scored
    against per-series exact global moments, binned at the N(0,1)
    quartile breakpoints into 'a'..'d'. Segment means and z-scores are
    single double expressions over exact DECIMAL sums (the VARCHAR
    route), so the symbol decision — a comparison of bit-identical
    doubles against literal breakpoints — cannot diverge cross-engine.
    The SAX word concatenates in segment order via the ordered
    string_agg / sorted collect_list recipe (agg_string_concat_
    ordered). All window/group work is over the model-sized daily
    relation; the corpus collapses in the first agg."""
    daily = event_daily_rn(spark, sf_dir)
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum("x")).alias("sx"),
        as_d(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
    )
    seg = (
        daily.groupBy(
            "event_type",
            F.floor((F.col("rn") - 1) / 5).cast("bigint").alias("seg_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("seg_n"),
            as_d(F.sum("x")).alias("seg_s"),
        )
    )
    st = stats.select(
        F.col("event_type").alias("event_type_s"), "n", "sx", "sxx"
    )
    mean_g = F.col("sx") / F.col("n").cast("double")
    z = seg.join(
        F.broadcast(st), F.col("event_type") == F.col("event_type_s")
    ).select(
        "event_type",
        "seg_id",
        (
            (F.col("seg_s") / F.col("seg_n").cast("double") - mean_g)
            / F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n").cast("double"))
                / F.col("n").cast("double")
            )
        ).alias("zmean"),
    )
    sym = z.select(
        "event_type",
        "seg_id",
        F.when(F.col("zmean") < -0.6745, "a")
        .when(F.col("zmean") < 0.0, "b")
        .when(F.col("zmean") < 0.6745, "c")
        .otherwise("d")
        .alias("sym"),
    )
    return (
        sym.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_id", "sym"))
                    ),
                    lambda s: s["sym"],
                ),
            ).alias("sax_word"),
            F.sum(F.when(F.col("sym") == "a", 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("sym") == "b", 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("sym") == "c", 1).otherwise(0))
            .cast("bigint")
            .alias("n_c"),
            F.sum(F.when(F.col("sym") == "d", 1).otherwise(0))
            .cast("bigint")
            .alias("n_d"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cohort retention and seasonal decomposition (round 9). All
# exact-integer or exact-decimal until single double edges.


@register(
    "ts_retention_cohorts",
    tags=("timeseries", "events", "agg"),
    oracle="""
        WITH act AS (
            SELECT user_id,
                   CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7
                        AS BIGINT) AS week
            FROM events GROUP BY user_id, week
        ),
        first_w AS (
            SELECT user_id, CAST(MIN(week) AS BIGINT) AS cohort
            FROM act GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
            FROM first_w GROUP BY cohort
        ),
        cells AS (
            SELECT f.cohort, a.week - f.cohort AS week_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_active
            FROM act a JOIN first_w f ON f.user_id = a.user_id
            GROUP BY 1, 2
        )
        SELECT c.cohort, CAST(c.week_offset AS BIGINT) AS week_offset,
               c.n_active, s.cohort_size,
               CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
                   AS retention
        FROM cells c JOIN sizes s ON s.cohort = c.cohort
        ORDER BY c.cohort, week_offset
    """,
)
def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users cohorted by first-active
    week (epoch-anchored integer week arithmetic — engine-neutral),
    cells count distinct users active at each week offset, rates are
    one double division at the edge. The corpus reduces to the
    (user, week) distinct relation in a single map-side-combining
    aggregate; everything downstream is user- or cohort-sized. This is
    the canonical activity-retention query every event warehouse
    serves."""
    e = load_table(spark, sf_dir, "events")
    act = (
        e.select(
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
                / 7
            )
            .cast("bigint")
            .alias("week"),
        )
        .distinct()
    )
    first_w = act.groupBy("user_id").agg(F.min("week").cast("bigint").alias("cohort"))
    sizes = first_w.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    cells = (
        act.join(first_w, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("week_offset").cast("bigint").alias("week_offset"),
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
        .orderBy("cohort", "week_offset")
    )


@register(
    "ts_stl_decompose",
    tags=("timeseries", "window"),
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST((CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT) % 7
                       AS dow,
                   CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        AS DECIMAL(18,6)) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        tr AS (
            SELECT event_type, d, dow, x,
                   CAST(COUNT(*) OVER w AS BIGINT) AS wn,
                   CAST(SUM(x) OVER w AS DECIMAL(38,6)) AS ws
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        trend AS (
            SELECT event_type, d, dow, x, ws
            FROM tr WHERE wn = 7
        ),
        seas AS (
            SELECT event_type, dow,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(ws) AS STRING) AS DOUBLE) AS sws
            FROM trend GROUP BY event_type, dow
        )
        SELECT t.event_type, t.d, t.dow,
               CAST(CAST(t.x AS STRING) AS DOUBLE) AS x,
               CAST(CAST(t.ws AS STRING) AS DOUBLE) / 7 AS trend,
               s.sx / CAST(s.c AS DOUBLE)
                 - s.sws / (7 * CAST(s.c AS DOUBLE)) AS seasonal,
               CAST(CAST(t.x AS STRING) AS DOUBLE)
                 - CAST(CAST(t.ws AS STRING) AS DOUBLE) / 7
                 - (s.sx / CAST(s.c AS DOUBLE)
                    - s.sws / (7 * CAST(s.c AS DOUBLE))) AS residual
        FROM trend t JOIN seas s
          ON s.event_type = t.event_type AND s.dow = t.dow
        ORDER BY t.event_type, t.d
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STL-style decomposition per daily series: trend =
    centered 7-day moving average from EXACT decimal window sums,
    seasonal(dow) = mean(x) - mean(trend) over that weekday — the
    algebraic re-expression that keeps every aggregate an exact
    decimal sum (summing already-rounded doubles would be order-
    dependent; summing the exact window sums is not), residual = x -
    trend - seasonal as one shared double expression. Weekday is
    epoch-day mod 7 (both engines' named dow functions disagree on
    numbering). Windows partition per series over calendar-bounded
    rows; corpus work is one map-side-combining daily agg."""
    return run_sql(spark, sf_dir, "ts_stl_decompose")


@register(
    "ts_viterbi_2state",
    tags=("timeseries", "dp", "hmm"),
    oracle=f"""
        WITH RECURSIVE daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx
            FROM daily GROUP BY event_type
        ),
        obs AS (
            SELECT d.event_type, d.rn,
                   CASE WHEN CAST(CAST(d.x AS STRING) AS DOUBLE)
                             > st.sx / CAST(st.n AS DOUBLE)
                        THEN 1 ELSE 0 END AS o,
                   st.n
            FROM daily d JOIN st ON st.event_type = d.event_type
        ),
        dp AS (
            SELECT event_type, CAST(0 AS BIGINT) AS t,
                   CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
                   '' AS p0, '' AS p1
            FROM st
            UNION ALL
            SELECT d.event_type, d.t + 1,
                   GREATEST(d.s0, d.s1 - 3)
                     + CASE WHEN o.o = 0 THEN 0 ELSE -2 END,
                   GREATEST(d.s1, d.s0 - 3)
                     + CASE WHEN o.o = 1 THEN 0 ELSE -2 END,
                   (CASE WHEN d.s0 >= d.s1 - 3 THEN d.p0 ELSE d.p1 END)
                       || '0',
                   (CASE WHEN d.s1 >= d.s0 - 3 THEN d.p1 ELSE d.p0 END)
                       || '1'
            FROM dp d JOIN obs o
              ON o.event_type = d.event_type AND o.rn = d.t + 1
        ),
        fin AS (
            SELECT dp.event_type, dp.t AS n, dp.s0, dp.s1,
                   CASE WHEN dp.s0 >= dp.s1 THEN 0 ELSE 1 END AS final_state,
                   GREATEST(dp.s0, dp.s1) AS best_score,
                   CASE WHEN dp.s0 >= dp.s1 THEN dp.p0 ELSE dp.p1 END AS path
            FROM dp JOIN st ON st.event_type = dp.event_type
                           AND dp.t = st.n
        )
        SELECT event_type, n, CAST(final_state AS INT) AS final_state,
               best_score, path,
               CAST(CAST(FLOOR((length(path) - length(replace(path, '01', ''))) / 2) AS BIGINT)
                    + CAST(FLOOR((length(path) - length(replace(path, '10', ''))) / 2) AS BIGINT)
                    AS BIGINT) AS n_switches
        FROM fin ORDER BY event_type
    """,
)
def ts_viterbi_2state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state Viterbi regime decoding per daily series under an
    integer-log-score HMM (stay 0 / switch -3; emission match 0 /
    mismatch -2; symbols = above/below the series mean). The DP runs
    ENTIRELY in exact integer arithmetic, so the decoded path is
    hash-exact cross-engine: Spark folds the per-series ordered
    observation array with one higher-order F.aggregate (JVM-side, no
    UDF; the series is calendar-bounded so the array is model-sized),
    while the oracle replays the identical recurrence as a recursive
    CTE. Ties prefer the incumbent state on both engines (>=). At
    100 TB the corpus collapses to per-series daily sums first; the
    DP state is 2 integers + 2 path strings per series."""
    daily = event_daily_rn(spark, sf_dir)
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum("x")).alias("sx"),
    )
    obs = (
        daily.join(
            F.broadcast(
                st.select(F.col("event_type").alias("et_s"), "n", "sx")
            ),
            F.col("event_type") == F.col("et_s"),
        )
        .select(
            "event_type",
            "n",
            "rn",
            F.when(
                as_d(F.col("x")) > F.col("sx") / F.col("n").cast("double"), 1
            )
            .otherwise(0)
            .alias("o"),
        )
    )
    seq = obs.groupBy("event_type", "n").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "o"))),
            lambda s: s["o"],
        ).alias("os")
    )
    init = F.struct(
        F.lit(0).cast("bigint").alias("s0"),
        F.lit(0).cast("bigint").alias("s1"),
        F.lit("").alias("p0"),
        F.lit("").alias("p1"),
    )

    def step(acc, o):
        e0 = F.when(o == 0, 0).otherwise(-2).cast("bigint")
        e1 = F.when(o == 1, 0).otherwise(-2).cast("bigint")
        take0 = acc["s0"] >= acc["s1"] - 3
        take1 = acc["s1"] >= acc["s0"] - 3
        return F.struct(
            (F.greatest(acc["s0"], acc["s1"] - 3) + e0).alias("s0"),
            (F.greatest(acc["s1"], acc["s0"] - 3) + e1).alias("s1"),
            F.concat(F.when(take0, acc["p0"]).otherwise(acc["p1"]), F.lit("0")).alias(
                "p0"
            ),
            F.concat(F.when(take1, acc["p1"]).otherwise(acc["p0"]), F.lit("1")).alias(
                "p1"
            ),
        )

    dp = seq.select(
        "event_type",
        "n",
        F.aggregate(F.col("os"), init, step).alias("v"),
    )
    path = F.when(F.col("v.s0") >= F.col("v.s1"), F.col("v.p0")).otherwise(
        F.col("v.p1")
    )
    return dp.select(
        "event_type",
        "n",
        F.when(F.col("v.s0") >= F.col("v.s1"), 0).otherwise(1).cast("int").alias(
            "final_state"
        ),
        F.greatest(F.col("v.s0"), F.col("v.s1")).alias("best_score"),
        path.alias("path"),
        (
            (F.length(path) - F.length(F.replace(path, F.lit("01"), F.lit(""))))
            / 2
            + (F.length(path) - F.length(F.replace(path, F.lit("10"), F.lit(""))))
            / 2
        )
        .cast("bigint")
        .alias("n_switches"),
    ).orderBy("event_type")


@register(
    "ts_cusum_changepoint",
    tags=("timeseries", "window", "stats"),
    oracle=CUSUM_CHANGEPOINT_SQL,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM single-changepoint detection per daily series, EXACT: the
    deviation cumsum S_t - t*mean scales by n into n*prefix_t - t*S —
    pure integer arithmetic (q6-quantized daily values, DECIMAL(38,0)
    products), so the arg-max split point is hash-exact cross-engine
    with an earliest-index tiebreak. The reported peak and the two
    segment means divide exact integers once at the edge. Windows
    partition per series over calendar-bounded rows; corpus work is
    one map-side-combining daily agg. This is the screening pass a
    monitoring pipeline runs before fitting anything heavier."""
    return run_sql(spark, sf_dir, "ts_cusum_changepoint")


@register(
    "ts_peak_detection",
    tags=("timeseries", "window"),
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        AS DECIMAL(18,6)) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx
            FROM daily GROUP BY event_type
        ),
        lagged AS (
            SELECT event_type, d, x,
                   LAG(x) OVER w AS xp, LEAD(x) OVER w AS xn
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)
        )
        SELECT l.event_type, l.d,
               CAST(CAST(l.x AS STRING) AS DOUBLE) AS x,
               CAST(CAST(CASE WHEN l.xp >= l.xn THEN l.x - l.xp
                              ELSE l.x - l.xn END AS STRING) AS DOUBLE)
                   AS prominence
        FROM lagged l JOIN st ON st.event_type = l.event_type
        WHERE l.xp IS NOT NULL AND l.xn IS NOT NULL
          AND l.x > l.xp AND l.x > l.xn
          AND CAST(CAST(l.x AS STRING) AS DOUBLE)
              > st.sx / CAST(st.n AS DOUBLE)
        ORDER BY l.event_type, l.d
    """,
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection per daily series: strict local maxima
    (x > both neighbors — EXACT decimal comparisons, no float
    involved) above the series mean (one shared double comparison).
    Prominence-over-neighbors stays exact decimal until the VARCHAR-
    routed presentation cast. Lag/lead windows partition per series
    over calendar-bounded rows; the corpus collapses in the first
    agg."""
    return run_sql(spark, sf_dir, "ts_peak_detection")


@register(
    "ts_hurst_rs",
    tags=("timeseries", "window", "stats"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_XQ_SQL}
        ),
        ms AS (SELECT unnest([5, 10, 15, 30]) AS m),
        blk AS (
            SELECT d.event_type, ms.m,
                   CAST((d.rn - 1) // ms.m AS BIGINT) AS b,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY d.event_type, ms.m, (d.rn - 1) // ms.m
                        ORDER BY d.rn) AS BIGINT) AS t,
                   d.xq
            FROM daily d CROSS JOIN ms
        ),
        pre AS (
            SELECT event_type, m, b, t, xq,
                   CAST(SUM(xq) OVER (PARTITION BY event_type, m, b
                        ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS prefix,
                   CAST(SUM(xq) OVER (PARTITION BY event_type, m, b)
                        AS BIGINT) AS sb,
                   CAST(SUM(CAST(xq AS DECIMAL(19,0)) * xq)
                        OVER (PARTITION BY event_type, m, b)
                        AS DECIMAL(38,0)) AS sq
            FROM blk
        ),
        per_blk AS (
            SELECT event_type, m, b,
                   CAST(CAST(MAX(CAST(m AS DECIMAL(38,0)) * prefix
                                 - CAST(t AS DECIMAL(38,0)) * sb)
                           - MIN(CAST(m AS DECIMAL(38,0)) * prefix
                                 - CAST(t AS DECIMAL(38,0)) * sb)
                        AS STRING) AS DOUBLE) AS rng,
                   CAST(CAST(CAST(MAX(m) AS DECIMAL(38,0)) * MAX(sq)
                             - CAST(MAX(sb) AS DECIMAL(38,0)) * MAX(sb)
                        AS STRING) AS DOUBLE) AS var_num
            FROM pre GROUP BY event_type, m, b
        ),
        rs AS (
            SELECT event_type, m,
                   CAST(COUNT(*) AS BIGINT) AS n_blocks,
                   list_reduce(
                       list(rng / sqrt(var_num) ORDER BY b),
                       (acc, x) -> acc + x)
                     / CAST(COUNT(*) AS DOUBLE) AS mean_rs
            FROM per_blk WHERE var_num > 0
            GROUP BY event_type, m
        ),
        pts AS (
            SELECT event_type, m,
                   CAST(FLOOR(ln(CAST(m AS DOUBLE)) * 1e9) AS BIGINT) AS lxq,
                   CAST(FLOOR(ln(mean_rs) * 1e9) AS BIGINT) AS lyq,
                   mean_rs
            FROM rs
        ),
        fold AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(lxq) AS BIGINT) AS sx,
                   CAST(SUM(lyq) AS BIGINT) AS sy,
                   CAST(SUM(CAST(lxq AS DECIMAL(19,0)) * lxq)
                        AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(lxq AS DECIMAL(19,0)) * lyq)
                        AS DECIMAL(38,0)) AS sxy,
                   MAX(CASE WHEN m = 5 THEN mean_rs END) AS rs_5,
                   MAX(CASE WHEN m = 30 THEN mean_rs END) AS rs_30
            FROM pts GROUP BY event_type
        )
        SELECT event_type, k, rs_5, rs_30,
               (CAST(k AS DOUBLE) * CAST(CAST(sxy AS STRING) AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(k AS DOUBLE) * CAST(CAST(sxx AS STRING) AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS hurst
        FROM fold ORDER BY event_type
    """,
)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis per daily
    series — the long-memory diagnostic. The cancellation-prone core
    is EXACT: within each block, range and variance reduce to integer
    forms (R/S = (max−min of m·prefix_t − t·S) / sqrt(m·Σx² − S²),
    all DECIMAL(38,0)), so each block's R/S is ONE double expression
    over exact integers; block means fold in pinned block order, and the
    log-log regression runs on q9-FLOOR-QUANTIZED points (ln is the
    one libm call whose last ulp differs JVM-vs-C — quantization
    absorbs it, the lnq6 recipe one scale finer) with exact integer
    sums. Window sizes
    {5,10,15,30} divide the 30-day calendar exactly. Corpus work is
    the daily agg; every window partitions by (series, m, block)."""
    daily = event_daily_xq(spark, sf_dir)
    ms = spark.createDataFrame([(5,), (10,), (15,), (30,)], "m int")
    blk = (
        daily.crossJoin(F.broadcast(ms))
        .withColumn("b", F.floor((F.col("rn") - 1) / F.col("m")).cast("bigint"))
        .withColumn(
            "t",
            F.row_number()
            .over(Window.partitionBy("event_type", "m", "b").orderBy("rn"))
            .cast("bigint"),
        )
    )
    wb = Window.partitionBy("event_type", "m", "b")
    wcum = wb.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = blk.select(
        "event_type",
        "m",
        "b",
        "t",
        "xq",
        F.sum("xq").over(wcum).cast("bigint").alias("prefix"),
        F.sum("xq").over(wb).cast("bigint").alias("sb"),
        F.sum(F.col("xq").cast("decimal(19,0)") * F.col("xq"))
        .over(wb)
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    dv = (
        F.col("m").cast("decimal(38,0)") * F.col("prefix")
        - F.col("t").cast("decimal(38,0)") * F.col("sb")
    )
    per_blk = (
        pre.withColumn("dv", dv)
        .groupBy("event_type", "m", "b")
        .agg(
            as_d(F.max("dv") - F.min("dv")).alias("rng"),
            as_d(
                F.max("m").cast("decimal(38,0)") * F.max("sq")
                - F.max("sb").cast("decimal(38,0)") * F.max("sb")
            ).alias("var_num"),
        )
    )
    rs = (
        per_blk.filter(F.col("var_num") > 0)
        .withColumn("rs", F.col("rng") / F.sqrt(F.col("var_num")))
        .groupBy("event_type", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            (
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("b", "rs"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["rs"],
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_rs"),
        )
    )
    pts = rs.select(
        "event_type",
        "m",
        F.floor(F.log(F.col("m").cast("double")) * F.lit(1e9))
        .cast("bigint")
        .alias("lxq"),
        F.floor(F.log("mean_rs") * F.lit(1e9)).cast("bigint").alias("lyq"),
        "mean_rs",
    )
    fold = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("lxq").cast("bigint").alias("sx"),
        F.sum("lyq").cast("bigint").alias("sy"),
        F.sum(F.col("lxq").cast("decimal(19,0)") * F.col("lxq"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("lxq").cast("decimal(19,0)") * F.col("lyq"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.max(F.when(F.col("m") == 5, F.col("mean_rs"))).alias("rs_5"),
        F.max(F.when(F.col("m") == 30, F.col("mean_rs"))).alias("rs_30"),
    )
    kd = F.col("k").cast("double")
    return fold.select(
        "event_type",
        "k",
        "rs_5",
        "rs_30",
        (
            (kd * as_d(F.col("sxy")) - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (kd * as_d(F.col("sxx")) - F.col("sx").cast("double") * F.col("sx").cast("double"))
        ).alias("hurst"),
    ).orderBy("event_type")


@register(
    "ts_forecast_backtest_mase",
    tags=("timeseries", "window", "eval"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_XQ_SQL}
        ),
        lagged AS (
            SELECT event_type, rn, xq,
                   LAG(xq, 7) OVER w AS x7, LAG(xq, 1) OVER w AS x1
            FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY rn)
        ),
        err AS (
            SELECT event_type,
                   CAST(COUNT(CASE WHEN x7 IS NOT NULL THEN 1 END)
                        AS BIGINT) AS n_f,
                   CAST(SUM(CASE WHEN x7 IS NOT NULL
                            THEN abs(xq - x7) ELSE 0 END) AS BIGINT) AS se,
                   CAST(COUNT(CASE WHEN x1 IS NOT NULL THEN 1 END)
                        AS BIGINT) AS n_d,
                   CAST(SUM(CASE WHEN x1 IS NOT NULL
                            THEN abs(xq - x1) ELSE 0 END) AS BIGINT) AS sd,
                   CAST(SUM(CASE WHEN x7 IS NOT NULL THEN
                        CAST(FLOOR(CAST(2 AS DOUBLE) * abs(xq - x7)
                             / (abs(CAST(xq AS DOUBLE))
                                + abs(CAST(x7 AS DOUBLE)))
                             * 1e9) AS BIGINT) ELSE 0 END) AS BIGINT)
                       AS smape_q9_sum
            FROM lagged GROUP BY event_type
        )
        SELECT event_type, n_f,
               CAST(se AS DOUBLE) / CAST(n_f AS DOUBLE) / 1e6
                   AS seasonal_mae,
               CAST(sd AS DOUBLE) / CAST(n_d AS DOUBLE) / 1e6 AS naive_mae,
               CASE WHEN sd > 0 THEN
                   (CAST(se AS DOUBLE) / CAST(n_f AS DOUBLE))
                 / (CAST(sd AS DOUBLE) / CAST(n_d AS DOUBLE)) END AS mase,
               CAST(smape_q9_sum AS DOUBLE) / CAST(n_f AS DOUBLE) / 1e9
                   AS smape
        FROM err ORDER BY event_type
    """,
)
def ts_forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest of the seasonal-naive predictor (x_{t-7}) per
    daily series, scored with MASE (scaled by the one-step naive MAE —
    Hyndman's scale-free standard) and sMAPE. Absolute errors are
    EXACT integers (q6-quantized dailies), so both MAEs and the MASE
    ratio are exact-integer arithmetic with double edges; each row's
    sMAPE term is one shared double expression floor-quantized to q9
    before the exact integer sum (no float accumulation). Lag windows
    partition per series; the corpus collapses in the first agg. This
    is the eval harness any forecasting pipeline runs before shipping
    a model fancier than the naive baseline."""
    return run_sql(spark, sf_dir, "ts_forecast_backtest_mase")


@register(
    "ts_attribution_last_touch",
    tags=("timeseries", "events", "join"),
    oracle="""
        WITH buys AS (
            SELECT user_id, event_id AS buy_id, ts AS buy_ts
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT user_id, event_type AS channel, ts AS touch_ts
            FROM events WHERE event_type IN ('view', 'click')
        ),
        attrib AS (
            SELECT b.buy_id, t.channel, t.touch_ts,
                   ROW_NUMBER() OVER (PARTITION BY b.buy_id
                       ORDER BY t.touch_ts DESC, t.channel) AS rn
            FROM buys b JOIN touches t
              ON t.user_id = b.user_id
             AND t.touch_ts < b.buy_ts
             AND t.touch_ts >= b.buy_ts - INTERVAL 7 DAY
        ),
        last_t AS (SELECT buy_id, channel FROM attrib WHERE rn = 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buys FROM buys)
        SELECT l.channel,
               CAST(COUNT(*) AS BIGINT) AS n_attributed,
               t.n_buys,
               CAST(COUNT(*) AS DOUBLE) / CAST(t.n_buys AS DOUBLE)
                   AS share_of_purchases
        FROM last_t l CROSS JOIN tot t
        GROUP BY l.channel, t.n_buys
        ORDER BY l.channel
    """,
)
def ts_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent view/click inside a 7-day lookback (strict
    before-purchase, deterministic (ts DESC, channel) tiebreak for
    simultaneous touches). The join is user-keyed with a bounded time
    band — the as-of-join shape, shuffle on user_id with map-side
    pruning, never a cross product — and the report is exact integer
    counts with one share division. The 100-TB version swaps the band
    join for the repo's asof_join operator unchanged; the fixture's
    30-day horizon keeps per-user fan-in bounded here."""
    return run_sql(spark, sf_dir, "ts_attribution_last_touch")


@register(
    "ts_lttb_unrolled",
    tags=("timeseries", "downsample"),
    oracle="""
        WITH pts AS (
            SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn,
                   CAST(x * 1000000 AS BIGINT) AS yq
            FROM (
                SELECT CAST(ts AS DATE) AS d,
                       CAST(SUM(CAST(value AS DECIMAL(18,6)))
                            AS DECIMAL(18,6)) AS x
                FROM events WHERE event_type = 'click'
                GROUP BY CAST(ts AS DATE)
            )
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts),
        bounds AS (
            SELECT i, 1 + (i * (n - 2)) // 6 AS bd
            FROM generate_series(0, 6) t(i), nn
        ),
        bk AS (
            SELECT gi.i AS b,
                   b1.bd + 1 AS lo, b2.bd AS hi,
                   CASE WHEN gi.i = 5 THEN nn.n ELSE b2.bd + 1 END AS nlo,
                   CASE WHEN gi.i = 5 THEN nn.n ELSE b3.bd END AS nhi
            FROM generate_series(0, 5) gi(i)
            JOIN bounds b1 ON b1.i = gi.i
            JOIN bounds b2 ON b2.i = gi.i + 1
            LEFT JOIN bounds b3 ON b3.i = gi.i + 2
            CROSS JOIN nn
        ),
        bstat AS (
            SELECT bk.b, bk.lo, bk.hi,
                   CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(p.rn) AS BIGINT) AS sx,
                   CAST(SUM(p.yq) AS BIGINT) AS sy
            FROM bk JOIN pts p ON p.rn BETWEEN bk.nlo AND bk.nhi
            GROUP BY bk.b, bk.lo, bk.hi
        ),
        a0 AS (SELECT rn, yq FROM pts WHERE rn = 1),
        a1 AS (
            SELECT rn, yq FROM (
                SELECT p.rn, p.yq, ROW_NUMBER() OVER (ORDER BY
                    abs((s.m * a.rn - s.sx) * (p.yq - a.yq)
                        - (a.rn - p.rn) * (s.m * a.yq - s.sy)) DESC,
                    p.rn) AS pk
                FROM bstat s, a0 a, pts p
                WHERE s.b = 0 AND p.rn BETWEEN s.lo AND s.hi
            ) WHERE pk = 1
        ),
        a2 AS (
            SELECT rn, yq FROM (
                SELECT p.rn, p.yq, ROW_NUMBER() OVER (ORDER BY
                    abs((s.m * a.rn - s.sx) * (p.yq - a.yq)
                        - (a.rn - p.rn) * (s.m * a.yq - s.sy)) DESC,
                    p.rn) AS pk
                FROM bstat s, a1 a, pts p
                WHERE s.b = 1 AND p.rn BETWEEN s.lo AND s.hi
            ) WHERE pk = 1
        ),
        a3 AS (
            SELECT rn, yq FROM (
                SELECT p.rn, p.yq, ROW_NUMBER() OVER (ORDER BY
                    abs((s.m * a.rn - s.sx) * (p.yq - a.yq)
                        - (a.rn - p.rn) * (s.m * a.yq - s.sy)) DESC,
                    p.rn) AS pk
                FROM bstat s, a2 a, pts p
                WHERE s.b = 2 AND p.rn BETWEEN s.lo AND s.hi
            ) WHERE pk = 1
        ),
        a4 AS (
            SELECT rn, yq FROM (
                SELECT p.rn, p.yq, ROW_NUMBER() OVER (ORDER BY
                    abs((s.m * a.rn - s.sx) * (p.yq - a.yq)
                        - (a.rn - p.rn) * (s.m * a.yq - s.sy)) DESC,
                    p.rn) AS pk
                FROM bstat s, a3 a, pts p
                WHERE s.b = 3 AND p.rn BETWEEN s.lo AND s.hi
            ) WHERE pk = 1
        ),
        a5 AS (
            SELECT rn, yq FROM (
                SELECT p.rn, p.yq, ROW_NUMBER() OVER (ORDER BY
                    abs((s.m * a.rn - s.sx) * (p.yq - a.yq)
                        - (a.rn - p.rn) * (s.m * a.yq - s.sy)) DESC,
                    p.rn) AS pk
                FROM bstat s, a4 a, pts p
                WHERE s.b = 4 AND p.rn BETWEEN s.lo AND s.hi
            ) WHERE pk = 1
        ),
        a6 AS (
            SELECT rn, yq FROM (
                SELECT p.rn, p.yq, ROW_NUMBER() OVER (ORDER BY
                    abs((s.m * a.rn - s.sx) * (p.yq - a.yq)
                        - (a.rn - p.rn) * (s.m * a.yq - s.sy)) DESC,
                    p.rn) AS pk
                FROM bstat s, a5 a, pts p
                WHERE s.b = 5 AND p.rn BETWEEN s.lo AND s.hi
            ) WHERE pk = 1
        ),
        sel AS (
            SELECT 0 AS ord, rn, yq FROM a0
            UNION ALL SELECT 1, rn, yq FROM a1
            UNION ALL SELECT 2, rn, yq FROM a2
            UNION ALL SELECT 3, rn, yq FROM a3
            UNION ALL SELECT 4, rn, yq FROM a4
            UNION ALL SELECT 5, rn, yq FROM a5
            UNION ALL SELECT 6, rn, yq FROM a6
            UNION ALL SELECT 7, p.rn, p.yq FROM pts p, nn WHERE p.rn = nn.n
        )
        SELECT CAST(ord AS INT) AS ord, CAST(rn AS BIGINT) AS rn,
               CAST(yq AS BIGINT) AS yq
        FROM sel ORDER BY ord
    """,
)
def ts_lttb_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-oracled LTTB downsample (30 daily points -> 8) of the
    click series — the oracle-promotion twin of the rows-only
    ts_downsample_lttb, made exact by integer geometry: with x = the
    day index and y = the q6-quantized daily value, the LTTB triangle
    area (scaled by the next-bucket count m to clear the average's
    division) is |(m*ax - Sx)(py - ay) - (ax - px)(m*ay - Sy)| — PURE
    BIGINT, so every greedy pick is an exact arg-max with the
    first-maximum (smallest-rn) tiebreak, and the oracle unrolls the
    six bucket picks as chained CTEs (the farthest-point recipe). The
    variant pins its own bucket convention (next-bucket = the points
    of the following bucket; last interior bucket looks at the final
    point). Spark runs the same six rounds over a 30-row relation with
    broadcast single-row anchors."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(18,6)")
                * 1000000
            )
            .cast("bigint")
            .alias("yq")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
            "yq",
        )
    )
    n = daily.count()  # ONE scalar collect over the calendar-bounded relation
    bounds = [1 + (i * (n - 2)) // 6 for i in range(7)]
    sel = [daily.filter(F.col("rn") == 1).select("rn", "yq")]
    anchor = sel[0]
    for b in range(6):
        lo, hi = bounds[b] + 1, bounds[b + 1]
        if b == 5:
            nlo, nhi = n, n
        else:
            nlo, nhi = bounds[b + 1] + 1, bounds[b + 2]
        st = daily.filter(F.col("rn").between(nlo, nhi)).agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("rn").cast("bigint").alias("sx"),
            F.sum("yq").cast("bigint").alias("sy"),
        )
        a = anchor.select(F.col("rn").alias("arn"), F.col("yq").alias("ayq"))
        area2 = F.abs(
            (F.col("m") * F.col("arn") - F.col("sx")) * (F.col("yq") - F.col("ayq"))
            - (F.col("arn") - F.col("rn")) * (F.col("m") * F.col("ayq") - F.col("sy"))
        )
        pick = (
            daily.filter(F.col("rn").between(lo, hi))
            .crossJoin(F.broadcast(a))
            .crossJoin(F.broadcast(st))
            .orderBy(area2.desc(), "rn")
            .limit(1)
            .select("rn", "yq")
        )
        sel.append(pick)
        anchor = pick
    sel.append(daily.filter(F.col("rn") == n).select("rn", "yq"))
    out = None
    for i, s_ in enumerate(sel):
        row = s_.select(
            F.lit(i).cast("int").alias("ord"),
            F.col("rn").cast("bigint").alias("rn"),
            F.col("yq").cast("bigint").alias("yq"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("ord")


@register(
    "ts_kpss_level",
    tags=("timeseries", "stats", "window"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_XQ_SQL}
        ),
        st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xq) AS BIGINT) AS sx,
                   CAST(CAST(SUM(CAST(xq AS DECIMAL(19,0)) * xq)
                        AS STRING) AS DOUBLE) AS sxx
            FROM daily GROUP BY event_type
        ),
        pre AS (
            SELECT d.event_type, d.rn,
                   CAST(SUM(d.xq) OVER (PARTITION BY d.event_type ORDER BY d.rn
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
            FROM daily d
        ),
        num AS (
            SELECT p.event_type,
                   CAST(CAST(SUM(
                       (CAST(s.n AS DECIMAL(38,0)) * p.prefix
                        - CAST(p.rn AS DECIMAL(38,0)) * s.sx)
                       * (CAST(s.n AS DECIMAL(38,0)) * p.prefix
                          - CAST(p.rn AS DECIMAL(38,0)) * s.sx)
                   ) AS STRING) AS DOUBLE) AS ss2_scaled
            FROM pre p JOIN st s ON s.event_type = p.event_type
            GROUP BY p.event_type
        ),
        pairs AS (
            SELECT a.event_type, ks.l,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(a.xq) AS BIGINT) AS spx,
                   CAST(SUM(b.xq) AS BIGINT) AS spy,
                   CAST(CAST(SUM(CAST(a.xq AS DECIMAL(19,0)) * b.xq)
                        AS STRING) AS DOUBLE) AS spxy
            FROM daily a
            CROSS JOIN (SELECT unnest([1, 2, 3]) AS l) ks
            JOIN daily b ON b.event_type = a.event_type
                        AND b.rn = a.rn - ks.l
            GROUP BY a.event_type, ks.l
        ),
        gam AS (
            SELECT p.event_type, p.l,
                   (p.spxy
                    - (CAST(s.sx AS DOUBLE) / s.n)
                      * (CAST(p.spx AS DOUBLE) + p.spy)
                    + CAST(p.c AS DOUBLE)
                      * (CAST(s.sx AS DOUBLE) / s.n)
                      * (CAST(s.sx AS DOUBLE) / s.n)) / s.n AS g
            FROM pairs p JOIN st s ON s.event_type = p.event_type
        ),
        lrv AS (
            SELECT s.event_type, s.n,
                   (s.sxx - CAST(s.sx AS DOUBLE) * s.sx / s.n) / s.n
                     + 2 * {o_ordered_fold_sum(
                         'g2.l',
                         '(1 - CAST(g2.l AS DOUBLE) / 4) * g2.g',
                     )} AS s2_lr
            FROM st s JOIN gam g2 ON g2.event_type = s.event_type
            GROUP BY s.event_type, s.n, s.sxx, s.sx
        )
        SELECT l.event_type, l.n,
               l.s2_lr / 1e12 AS long_run_var,
               CASE WHEN l.s2_lr > 0 THEN
                   (m.ss2_scaled
                    / (CAST(l.n AS DOUBLE) * l.n * l.n * l.n))
                   / l.s2_lr END AS kpss_stat
        FROM lrv l JOIN num m ON m.event_type = l.event_type
        ORDER BY l.event_type
    """,
)
def ts_kpss_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic per daily series (Bartlett
    window, 3 lags): the partial sums of demeaned values ride the
    CUSUM integer scaling (S_t = (n*prefix_t - t*S)/n, so sum of S_t²
    is an EXACT DECIMAL(38,0) sum divided by n⁴ once), and each
    autocovariance expands into exact power sums exactly as in
    ts_ljung_box — no order-dependent float accumulation anywhere.
    The Bartlett-weighted long-run variance folds its three lag terms
    in pinned lag order; the statistic is one guarded double edge.
    The complement of the Mann-Kendall/runs tests: KPSS's null is
    stationarity, so it catches drifting pipelines those tests
    miss."""
    daily = event_daily_xq(spark, sf_dir)
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("sx"),
        as_d(
            F.sum(F.col("xq").cast("decimal(19,0)") * F.col("xq")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = daily.select(
        "event_type",
        "rn",
        F.sum("xq").over(wcum).cast("bigint").alias("prefix"),
    )
    stj = st.select(F.col("event_type").alias("et_s"), "n", "sx", "sxx")
    dev = (
        F.col("n").cast("decimal(38,0)") * F.col("prefix")
        - F.col("rn").cast("decimal(38,0)") * F.col("sx")
    )
    num = (
        pre.join(F.broadcast(stj), F.col("event_type") == F.col("et_s"))
        .groupBy("event_type")
        .agg(as_d(F.sum(dev * dev)).alias("ss2_scaled"))
    )
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("l"))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("rn").alias("rn_b"),
        F.col("xq").alias("xl"),
    )
    pairs = (
        daily.join(F.broadcast(ks))
        .join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("rn_b") == F.col("rn") - F.col("l")),
        )
        .groupBy("event_type", "l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("xq").cast("bigint").alias("spx"),
            F.sum("xl").cast("bigint").alias("spy"),
            as_d(
                F.sum(F.col("xq").cast("decimal(19,0)") * F.col("xl")).cast(
                    "decimal(38,0)"
                )
            ).alias("spxy"),
        )
    )
    mu = F.col("sx").cast("double") / F.col("n")
    gam = pairs.join(
        F.broadcast(stj), F.col("event_type") == F.col("et_s")
    ).select(
        "event_type",
        "l",
        (
            (
                F.col("spxy")
                - mu * (F.col("spx").cast("double") + F.col("spy"))
                + F.col("c").cast("double") * mu * mu
            )
            / F.col("n")
        ).alias("g"),
    )
    lrv = (
        st.join(gam, "event_type")
        .groupBy("event_type", "n", "sxx", "sx")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "l",
                            (
                                (1 - F.col("l").cast("double") / 4) * F.col("g")
                            ).alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s_: acc + s_["t"],
            ).alias("wsum")
        )
        .select(
            "event_type",
            "n",
            (
                (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
                / F.col("n")
                + 2 * F.col("wsum")
            ).alias("s2_lr"),
        )
    )
    nd_ = F.col("n").cast("double")
    return (
        lrv.join(num, "event_type")
        .select(
            "event_type",
            "n",
            (F.col("s2_lr") / F.lit(1e12)).alias("long_run_var"),
            F.when(
                F.col("s2_lr") > 0,
                (F.col("ss2_scaled") / (nd_ * nd_ * nd_ * nd_)) / F.col("s2_lr"),
            ).alias("kpss_stat"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_cusum_tabular",
    tags=("timeseries", "window", "dq"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_XQ_SQL}
        ),
        st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xq) AS BIGINT) AS sx
            FROM daily GROUP BY event_type
        ),
        z AS (
            -- n-scaled deviation minus slack: zk = n*x - S - n*k with
            -- slack k = S/(2n) i.e. half the mean -> zk = n*x - 1.5*S
            -- (kept integral by doubling: 2*n*x - 3*S)
            SELECT d.event_type, d.d, d.rn,
                   CAST(2 AS DECIMAL(38,0)) * st.n * d.xq - 3 * st.sx AS zk,
                   st.n
            FROM daily d JOIN st ON st.event_type = d.event_type
        ),
        cums AS (
            SELECT event_type, d, rn, n,
                   CAST(SUM(zk) OVER (PARTITION BY event_type ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS cum
            FROM z
        ),
        pre AS (
            SELECT event_type, d, rn, n, cum,
                   CAST(MIN(cum) OVER (PARTITION BY event_type ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0))
                       AS run_min
            FROM cums
        )
        SELECT event_type, d,
               CAST(CAST(cum - LEAST(run_min, 0) AS STRING) AS DOUBLE)
                 / (2 * CAST(n AS DOUBLE) * 1e6) AS cusum_hi,
               (cum - LEAST(run_min, 0)
                > CAST(8 AS DECIMAL(38,0)) * n * 1000000) AS alarm
        FROM pre
        ORDER BY event_type, d
    """,
)
def ts_cusum_tabular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular (one-sided, resetting) CUSUM per daily series — the
    sequential recursion C_t = max(0, C_{t-1} + x_t - k) expressed in
    CLOSED FORM: C_t = P_t - min(0, min_{i<=t} P_i) where P is the
    prefix sum of the slack-adjusted deviations — so the 'inherently
    sequential' control chart becomes two stacked windows (prefix sum,
    then running min of it), both per-series partitioned. Slack
    k = mean/2; everything scales by 2n to stay EXACT DECIMAL(38,0)
    integers, with one presentation division and an integer alarm
    comparison at h = 8 units. The recursion-to-prefix-identity is the
    same trick as ts_cusum_changepoint's scaling — no fold, no UDF, no
    state."""
    return run_sql(spark, sf_dir, "ts_cusum_tabular")


@register(
    "ts_rolling_slope",
    tags=("ts", "window", "stats"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        base AS (
            SELECT event_type, day,
                   CAST(CAST(day AS DATE) - DATE '2024-01-01' AS BIGINT)
                       AS t,
                   v
            FROM daily
        ),
        fr AS (
            SELECT event_type, day,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(t) OVER w AS BIGINT) AS st,
                   CAST(SUM(v) OVER w AS BIGINT) AS sv,
                   CAST(CAST(SUM(CAST(t AS DECIMAL(19,0)) * t) OVER w
                        AS STRING) AS DOUBLE) AS stt,
                   CAST(CAST(SUM(CAST(t AS DECIMAL(19,0)) * v) OVER w
                        AS STRING) AS DOUBLE) AS stv
            FROM base
            WINDOW w AS (PARTITION BY event_type ORDER BY t
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, day,
               CASE WHEN CAST(n AS DOUBLE) * stt
                         - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) > 0 THEN
                 (CAST(n AS DOUBLE) * stv
                  - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                 / (CAST(n AS DOUBLE) * stt
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) / 1e6
               END AS slope_per_day
        FROM fr WHERE n = 14
        ORDER BY event_type, day
    """,
)
def ts_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-14-day OLS trend slope per event series — the rolling
    momentum/regression indicator (pandas rolling().apply(polyfit)
    without leaving SQL): all five sufficient sums accumulate INSIDE
    one ROWS frame over the exact floor-scaled daily integers, so each
    day's slope is one guarded double edge expression over exact
    frame-local sums — no float accumulation, no per-window refit.
    Complements agg_regr_slope_exact (global slope) and ts_rolling_corr
    (frame correlation of two streams) with the trend-of-one-stream
    version. Only full 14-row frames emit (shorter warm-up frames and
    their near-degenerate fits are suppressed); gap days make t
    non-uniform inside the frame, which the closed form handles, and
    the zero-day-variance degenerate NULLs via the same CASE on both
    engines. Windows partition per series over calendar-bounded daily
    rows; the corpus reduces map-side first."""
    return run_sql(spark, sf_dir, "ts_rolling_slope")


@register(
    "ts_turning_points",
    tags=("ts", "stats", "window"),
    oracle=f"""
        WITH daily AS ({DAILY_SCALED_SQL}),
        lagged AS (
            SELECT event_type, v,
                   LAG(v) OVER w AS vp, LEAD(v) OVER w AS vn
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN vp IS NOT NULL AND vn IS NOT NULL
                        AND ((v > vp AND v > vn) OR (v < vp AND v < vn))
                        THEN 1 ELSE 0 END) AS BIGINT) AS t
            FROM lagged GROUP BY event_type
        )
        SELECT event_type, n, t,
               CAST(2 * (n - 2) AS DOUBLE) / 3 AS expected_t,
               CASE WHEN n >= 3 THEN
                 (CAST(t AS DOUBLE) - CAST(2 * (n - 2) AS DOUBLE) / 3)
                 / sqrt(CAST(16 * n - 29 AS DOUBLE) / 90)
               END AS z_stat
        FROM s ORDER BY event_type
    """,
)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test of series randomness per event stream: count
    the strict local extrema of the daily totals (plateau days are not
    turning points — strict inequalities both sides, documented tie
    convention) and compare against the iid expectation 2(n-2)/3 with
    variance (16n-29)/90 — fewer turns than chance means trend/
    persistence, more means oscillation; the randomness screen that
    complements stat_runs_test (sign-based) with a shape-based one.
    Counts are exact integers off the exact floor-scaled daily
    relation; z is one guarded sqrt edge (n<3 NULLs — no interior
    points). Lag/lead windows partition per series over
    calendar-bounded rows; corpus work is the one daily agg."""
    return run_sql(spark, sf_dir, "ts_turning_points")


@register(
    "ts_attribution_markov_removal",
    tags=("ts", "ml", "iterative", "attribution"),
    oracle="""
        WITH e AS (
            SELECT user_id, ts, event_id, event_type FROM events
        ),
        kept AS (
            SELECT user_id, ts, event_id, event_type,
                   COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS p_before
            FROM e
        ),
        j AS (SELECT * FROM kept WHERE p_before = 0),
        steps AS (
            SELECT user_id, ts, event_id, event_type,
                   LAG(event_type) OVER w AS prev,
                   LEAD(event_type) OVER w AS nxt
            FROM j
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        raw_t AS (
            SELECT COALESCE(prev, 'START') AS src,
                   CASE WHEN event_type = 'purchase' THEN 'CONV'
                        ELSE event_type END AS dst
            FROM steps
            UNION ALL
            SELECT event_type AS src, 'NULL' AS dst
            FROM steps
            WHERE nxt IS NULL AND event_type <> 'purchase'
        ),
        cnt AS (
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
            FROM raw_t GROUP BY src, dst
        ),
        outs AS (SELECT src, CAST(SUM(c) AS BIGINT) AS o FROM cnt GROUP BY src),
        trans AS (
            SELECT cnt.src, cnt.dst,
                   CAST(FLOOR((cnt.c * 1000000) / outs.o) AS BIGINT) AS p6
            FROM cnt JOIN outs ON outs.src = cnt.src
        ),
        scens AS (
            SELECT scen FROM (VALUES ('full'), ('click'), ('view'), ('signup'), ('error')) AS t(scen)),
        trans_s AS (
            SELECT s.scen, t.src,
                   CASE WHEN t.dst = s.scen THEN 'NULL' ELSE t.dst END AS dst,
                   CAST(SUM(t.p6) AS BIGINT) AS p6
            FROM trans t CROSS JOIN scens s
            WHERE t.src <> s.scen
            GROUP BY 1, 2, 3
            UNION ALL
            SELECT scen, a.st, a.st, CAST(1000000 AS BIGINT)
            FROM scens CROSS JOIN
                 (SELECT st FROM (VALUES ('CONV'), ('NULL')) AS t(st)) a
        ),
        v0 AS (
            SELECT scen, 'START' AS st, CAST(1000000 AS BIGINT) AS m
            FROM scens
        ),
        v1 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v0 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v2 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v1 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v3 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v2 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v4 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v3 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v5 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v4 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v6 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v5 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v7 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v6 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v8 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v7 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v9 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v8 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v10 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v9 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v11 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v10 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        v12 AS (
            SELECT t.scen, t.dst AS st,
                   CAST(FLOOR(SUM(v.m * t.p6) / 1000000) AS BIGINT) AS m
            FROM v11 v JOIN trans_s t
              ON t.scen = v.scen AND t.src = v.st
            GROUP BY 1, 2
        ),
        conv AS (
            SELECT scen, m FROM v12 WHERE st = 'CONV'
        ),
        full_c AS (SELECT m AS fm FROM conv WHERE scen = 'full'),
        eff AS (
            SELECT c.scen AS channel, c.m AS rm, f.fm,
                   f.fm - c.m AS effnum
            FROM conv c CROSS JOIN full_c f
            WHERE c.scen <> 'full'
        ),
        tot AS (SELECT CAST(SUM(effnum) AS BIGINT) AS te FROM eff)
        SELECT e.channel,
               CAST(e.fm AS DOUBLE) / 1e6 AS conv_full_prob,
               CAST(e.rm AS DOUBLE) / 1e6 AS conv_removed_prob,
               CASE WHEN e.fm > 0 THEN
                 CAST(e.effnum AS DOUBLE) / CAST(e.fm AS DOUBLE)
               END AS removal_effect,
               CASE WHEN t.te > 0 THEN
                 CAST(e.effnum AS DOUBLE) / CAST(t.te AS DOUBLE)
               END AS attribution_share
        FROM eff e CROSS JOIN tot t
        ORDER BY e.channel
    """,
)
def ts_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution — the principled upgrade of
    ts_attribution_last_touch: build the first-order journey chain
    (START -> channel -> ... -> CONV at first purchase / NULL at
    journey end), then for each channel ask what fraction of
    conversion probability DISAPPEARS when every flow into that
    channel is redirected to NULL (the classic removal semantics, no
    renormalization); shares are removal effects normalized across
    channels. Everything hash-oracles because the whole computation is
    integer arithmetic: transition probabilities are q6 ints by exact
    integer division (c*1e6 // out — both dialects' floor division),
    absorption runs 12 QUANTIZED power rounds (mass*p6 // 1e6 per
    round — a documented k-step truncation of (I-Q)^-1 R, identical on
    both engines by construction), and effects/shares divide exact
    integer masses once at the edge. Scale: corpus work is ONE
    per-user window pass to transition counts; the chain and the 5
    scenarios are a <=(|states|+2)^2 x scenarios model relation,
    collected once (model-sized driver merge) so the 12 rounds run in
    exact Python integers instead of 12 shuffle stages. Class-5: zero
    full-chain
    conversion and zero total effect both NULL via the same CASE.
    Removal can only reduce conversion, so effects are nonnegative by
    construction (pinned in tests)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    kept = e.withColumn(
        "p_before",
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("int")).over(
                wseq.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).filter(F.col("p_before") == 0)
    steps = kept.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(wseq).alias("prev"),
        F.lead("event_type").over(wseq).alias("nxt"),
    )
    raw_t = steps.select(
        F.coalesce(F.col("prev"), F.lit("START")).alias("src"),
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
    ).unionByName(
        steps.filter(
            F.col("nxt").isNull() & (F.col("event_type") != "purchase")
        ).select(
            F.col("event_type").alias("src"), F.lit("NULL").alias("dst")
        )
    )
    cnt = raw_t.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    outs = cnt.groupBy("src").agg(F.sum("c").cast("bigint").alias("o"))
    trans = cnt.join(outs, "src").selectExpr(
        "src", "dst", "CAST((c * 1000000) div o AS BIGINT) AS p6"
    )
    chans = ["full", "click", "view", "signup", "error"]
    scens = spark.range(5).select(
        F.element_at(
            F.array(*[F.lit(c) for c in chans]), (F.col("id") + 1).cast("int")
        ).alias("scen")
    )
    trans_s = (
        trans.crossJoin(F.broadcast(scens))
        .filter(F.col("src") != F.col("scen"))
        .select(
            "scen",
            "src",
            F.when(F.col("dst") == F.col("scen"), F.lit("NULL"))
            .otherwise(F.col("dst"))
            .alias("dst"),
            "p6",
        )
        .groupBy("scen", "src", "dst")
        .agg(F.sum("p6").cast("bigint").alias("p6"))
        .unionByName(
            scens.crossJoin(
                spark.range(2).select(
                    F.when(F.col("id") == 0, F.lit("CONV"))
                    .otherwise(F.lit("NULL"))
                    .alias("st")
                )
            ).select(
                "scen",
                F.col("st").alias("src"),
                F.col("st").alias("dst"),
                F.lit(1000000).cast("bigint").alias("p6"),
            )
        )
    )
    # Round-15 reshape: the 12 quantized power rounds ran as 12 chained
    # join+groupBy SHUFFLE STAGES over the <=(|states|+2)^2 x 5-cell
    # model relation — 12 sequential AQE stages of distributed overhead
    # for bounded-by-construction data (3.3 s of the 6.5 s query at
    # sf0.01). The model is collected ONCE (model-sized driver merge,
    # the audited-collect class: <= ~250 cells at ANY corpus scale —
    # states are the 5 channels + START/CONV/NULL) and the rounds run
    # in exact Python integers, mirroring the Spark/DuckDB arithmetic
    # term for term: nm[dst] = Σ m[src]*p6 over the scenario's (src,
    # dst) cells, then m = nm div 1e6 — nonneg BIGINTs, so Python //
    # == SQL div; zero-mass states keep their rows exactly like the
    # groupBy did, and a scenario with no CONV row after 12 rounds
    # stays absent exactly like the filter did. Corpus-scale work is
    # unchanged: one per-user window pass to transition counts.
    # Measured: 6.5 s -> ~2.5 s at sf0.01, identical hash at 3 SFs.
    cells: dict[str, dict[tuple[str, str], int]] = {}
    for r in trans_s.collect():
        cells.setdefault(r["scen"], {})[(r["src"], r["dst"])] = r["p6"]
    conv_rows = []
    for scen in chans:
        m = {"START": 1000000}
        for _ in range(12):
            nm: dict[str, int] = {}
            for (src, dst), p6 in cells.get(scen, {}).items():
                if src in m:
                    nm[dst] = nm.get(dst, 0) + m[src] * p6
            m = {d: s // 1000000 for d, s in nm.items()}
        if "CONV" in m:
            conv_rows.append((scen, m["CONV"]))
    conv = spark.createDataFrame(conv_rows, "scen string, m bigint")
    full_c = conv.filter(F.col("scen") == "full").select(
        F.col("m").alias("fm")
    )
    eff = (
        conv.filter(F.col("scen") != "full")
        .crossJoin(F.broadcast(full_c))
        .select(
            F.col("scen").alias("channel"),
            F.col("m").alias("rm"),
            "fm",
            (F.col("fm") - F.col("m")).alias("effnum"),
        )
    )
    tot = eff.agg(F.sum("effnum").cast("bigint").alias("te"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            (F.col("fm").cast("double") / F.lit(1e6)).alias("conv_full_prob"),
            (F.col("rm").cast("double") / F.lit(1e6)).alias(
                "conv_removed_prob"
            ),
            F.when(
                F.col("fm") > 0,
                F.col("effnum").cast("double") / F.col("fm").cast("double"),
            ).alias("removal_effect"),
            F.when(
                F.col("te") > 0,
                F.col("effnum").cast("double") / F.col("te").cast("double"),
            ).alias("attribution_share"),
        )
        .orderBy("channel")
    )


@register(
    "ts_calendar_effects",
    tags=("timeseries", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        dow AS (
            SELECT segment, isodow(d) - 1 AS wd,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(CAST(x AS DECIMAL(18,2)) * 100) AS DECIMAL(38,0))
                       AS cents
            FROM daily GROUP BY 1, 2
        ),
        seg AS (
            SELECT segment,
                   CAST(SUM(n_days) AS BIGINT) AS n_all,
                   CAST(SUM(cents) AS DECIMAL(38,0)) AS cents_all
            FROM dow GROUP BY segment
        )
        SELECT dow.segment, CAST(dow.wd AS INT) AS weekday, dow.n_days,
               CAST(CAST(dow.cents AS STRING) AS DOUBLE)
                 / dow.n_days / 100 AS avg_revenue,
               (CAST(CAST(dow.cents AS STRING) AS DOUBLE) / dow.n_days)
                 / (CAST(CAST(seg.cents_all AS STRING) AS DOUBLE)
                    / seg.n_all) AS rel_effect
        FROM dow JOIN seg ON seg.segment = dow.segment
        ORDER BY dow.segment, weekday
    """,
)
def ts_calendar_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week calendar effect per segment: mean daily revenue by
    ISO weekday relative to the segment's all-days mean — the
    seasonality fingerprint behind staffing curves and anomaly
    baselines (rel_effect 1.0 = no effect). Weekday uses the ISO
    convention on BOTH engines (Spark weekday() == DuckDB isodow()-1
    == 0 for Monday; the default dayofweek() functions disagree
    across engines and are avoided). Revenue accumulates as exact
    integer cents in DECIMAL(38,0); means divide out as doubles at
    the edge via the VARCHAR route. One corpus agg, then a 35-row
    relation."""
    return run_sql(spark, sf_dir, "ts_calendar_effects")


@register(
    "ts_wape_smape",
    tags=("timeseries", "window", "ml-eval"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        fc AS (
            SELECT segment, d,
                   CAST(x AS DECIMAL(18,2)) AS y,
                   LAG(x, 7) OVER (PARTITION BY segment ORDER BY d) AS yhat
            FROM daily
        ),
        ev AS (
            SELECT segment, y, yhat,
                   CAST(ABS(CAST(y AS DECIMAL(18,2)) * 100
                        - CAST(yhat AS DECIMAL(18,2)) * 100)
                        AS DECIMAL(38,0)) AS abs_err_cents,
                   2 * CAST(CAST(ABS(CAST(y AS DECIMAL(18,2)) * 100
                            - CAST(yhat AS DECIMAL(18,2)) * 100)
                            AS STRING) AS DOUBLE)
                     / (CAST(CAST(CAST(y AS DECIMAL(18,2)) * 100
                             AS STRING) AS DOUBLE)
                        + CAST(CAST(CAST(yhat AS DECIMAL(18,2)) * 100
                               AS STRING) AS DOUBLE)) AS smape_term
            FROM fc WHERE yhat IS NOT NULL
        )
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(CAST(SUM(abs_err_cents) AS STRING) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(CAST(y AS DECIMAL(18,2)) * 100
                        AS DECIMAL(38,0))) AS STRING) AS DOUBLE) AS wape,
               {o_fsum('smape_term', 9)} / COUNT(*) AS smape
        FROM ev GROUP BY segment
        ORDER BY segment
    """,
)
def ts_wape_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAPE and sMAPE of the seasonal-naive forecast (same weekday
    last week) per segment — the two workhorse forecast-accuracy
    metrics that complement ts_forecast_backtest_mase's scaled error:
    WAPE = sum|y - yhat| / sum|y| is an EXACT ratio of integer-cents
    sums (revenue is positive, so no abs needed on the denominator);
    sMAPE's per-row ratio 2|e|/(y + yhat) is IEEE-deterministic per
    row and reduces through the floor-1e9 exact-decimal sum (o_fsum
    recipe) so the engine summation order cannot matter. The lag-7
    forecast is one per-segment calendar-bounded window; evaluation
    rows are those with a 7-day-old same-weekday observation.
    Denominator degeneracy (all-zero actuals) is impossible on this
    fixture (positive prices, documented)."""
    return run_sql(spark, sf_dir, "ts_wape_smape")


@register(
    "ts_dickey_fuller_stat",
    tags=("timeseries", "stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        pairs AS (
            SELECT segment,
                   CAST(CAST(x AS DECIMAL(18,2)) * 100
                        - CAST(xp AS DECIMAL(18,2)) * 100 AS BIGINT) AS dy,
                   CAST(CAST(xp AS DECIMAL(18,2)) * 100 AS BIGINT) AS xl
            FROM (SELECT segment, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily)
            WHERE xp IS NOT NULL
        ),
        s AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xl) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(dy) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(xl AS DECIMAL(38,0)) * xl)
                        AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(xl AS DECIMAL(38,0)) * dy)
                        AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(dy AS DECIMAL(38,0)) * dy)
                        AS DECIMAL(38,0)) AS syy
            FROM pairs GROUP BY segment
        )
        SELECT segment, n,
               (CAST(n AS DOUBLE) * CAST(CAST(sxy AS STRING) AS DOUBLE)
                - CAST(CAST(sx AS STRING) AS DOUBLE)
                  * CAST(CAST(sy AS STRING) AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS STRING) AS DOUBLE)
                  - CAST(CAST(sx AS STRING) AS DOUBLE)
                    * CAST(CAST(sx AS STRING) AS DOUBLE)) AS beta,
               CASE WHEN n > 2 THEN
                 ((CAST(n AS DOUBLE) * CAST(CAST(sxy AS STRING) AS DOUBLE)
                   - CAST(CAST(sx AS STRING) AS DOUBLE)
                     * CAST(CAST(sy AS STRING) AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS STRING) AS DOUBLE)
                     - CAST(CAST(sx AS STRING) AS DOUBLE)
                       * CAST(CAST(sx AS STRING) AS DOUBLE)))
                 / sqrt(
                     ((CAST(CAST(syy AS STRING) AS DOUBLE)
                       - CAST(CAST(sy AS STRING) AS DOUBLE)
                         * CAST(CAST(sy AS STRING) AS DOUBLE) / n)
                      - ((CAST(n AS DOUBLE)
                          * CAST(CAST(sxy AS STRING) AS DOUBLE)
                          - CAST(CAST(sx AS STRING) AS DOUBLE)
                            * CAST(CAST(sy AS STRING) AS DOUBLE))
                         / (CAST(n AS DOUBLE)
                            * CAST(CAST(sxx AS STRING) AS DOUBLE)
                            - CAST(CAST(sx AS STRING) AS DOUBLE)
                              * CAST(CAST(sx AS STRING) AS DOUBLE)))
                        * (CAST(CAST(sxy AS STRING) AS DOUBLE)
                           - CAST(CAST(sx AS STRING) AS DOUBLE)
                             * CAST(CAST(sy AS STRING) AS DOUBLE) / n))
                     / (n - 2)
                     / (CAST(CAST(sxx AS STRING) AS DOUBLE)
                        - CAST(CAST(sx AS STRING) AS DOUBLE)
                          * CAST(CAST(sx AS STRING) AS DOUBLE) / n))
               END AS df_stat
        FROM s ORDER BY segment
    """,
)
def ts_dickey_fuller_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root statistic (constant, no augmentation)
    per segment: regress the daily revenue CHANGE on the lagged level,
    DF = beta_hat / se(beta_hat) — large negative values reject a unit
    root (mean reversion), the stationarity screen that pairs with
    ts_kpss_level's reversed null. Sufficient statistics are exact
    DECIMAL(38,0) sums of integer cents (the CAPM/OLS recipe:
    n*Sxy - Sx*Sy forms, VARCHAR-routed once); the slope and its
    standard error se^2 = (SSE/(n-2)) / Sxx_centered come out in
    closed form with no per-row doubles at all. Class-5: df_stat
    NULLs for n <= 2; Sxx_centered > 0 holds on any series with two
    distinct levels (fixture contract, all SFs)."""
    return run_sql(spark, sf_dir, "ts_dickey_fuller_stat")


@register(
    "ts_seasonal_strength",
    tags=("timeseries", "stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment, isodow(d) - 1 AS wd,
                   CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM daily
        ),
        dowm AS (
            SELECT segment, wd,
                   CAST(COUNT(*) AS BIGINT) AS n_wd,
                   CAST(SUM(v) AS DECIMAL(38,0)) AS s_wd,
                   CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0))
                       AS ss_wd
            FROM cents GROUP BY 1, 2
        ),
        seg AS (
            SELECT segment,
                   CAST(SUM(n_wd) AS BIGINT) AS n,
                   CAST(SUM(s_wd) AS DECIMAL(38,0)) AS s,
                   CAST(SUM(ss_wd) AS DECIMAL(38,0)) AS ss,
                   {o_ordered_fold_sum(
                       'wd',
                       'CAST(CAST(s_wd AS STRING) AS DOUBLE) * CAST(CAST(s_wd AS'
                       ' STRING) AS DOUBLE) / n_wd',
                   )} AS within_ms
            FROM dowm GROUP BY segment
        )
        SELECT segment, n,
               (CAST(CAST(ss AS STRING) AS DOUBLE)
                - CAST(CAST(s AS STRING) AS DOUBLE)
                  * CAST(CAST(s AS STRING) AS DOUBLE) / n) / 1e4
                   AS ss_total_dollars2,
               (CAST(CAST(ss AS STRING) AS DOUBLE) - within_ms) / 1e4
                   AS ss_resid_dollars2,
               CASE WHEN CAST(CAST(ss AS STRING) AS DOUBLE)
                         - CAST(CAST(s AS STRING) AS DOUBLE)
                           * CAST(CAST(s AS STRING) AS DOUBLE) / n > 0 THEN
                 GREATEST(CAST(0 AS DOUBLE),
                   1 - (CAST(CAST(ss AS STRING) AS DOUBLE) - within_ms)
                     / (CAST(CAST(ss AS STRING) AS DOUBLE)
                        - CAST(CAST(s AS STRING) AS DOUBLE)
                          * CAST(CAST(s AS STRING) AS DOUBLE) / n))
               END AS seasonal_strength
        FROM seg ORDER BY segment
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal strength per segment: F_s = max(0, 1 -
    SS_resid/SS_total), where the seasonal fit is the per-weekday mean
    — the one-number answer to "is this series weekly-seasonal enough
    to model?" (the STL-strength heuristic of Wang-Hyndman-Smith,
    computed against the weekday-means fit instead of a full STL).
    Integer-cents sums and squares accumulate in DECIMAL(38,0); the
    within-weekday mean squares sum_wd (S_wd^2 / n_wd) folds the <= 7
    weekday terms in PINNED order, so both SS decompositions are
    engine-identical; SS_resid = SS - sum_wd S_wd^2/n_wd is the
    standard one-way-ANOVA identity (no per-row residual pass).
    Output in dollars^2 (cents^2 / 1e4). Strength NULLs on a constant
    series (SS_total = 0)."""
    daily = seg_daily(spark, sf_dir)
    cents = daily.select(
        "segment",
        F.weekday("d").alias("wd"),
        (F.col("x").cast("decimal(18,2)") * 100).cast("bigint").alias("v"),
    )
    dowm = cents.groupBy("segment", "wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_wd"),
        F.sum("v").cast("decimal(38,0)").alias("s_wd"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss_wd"),
    )
    within_term = as_d(F.col("s_wd")) * as_d(F.col("s_wd")) / F.col("n_wd")
    seg = dowm.groupBy("segment").agg(
        F.sum("n_wd").cast("bigint").alias("n"),
        F.sum("s_wd").cast("decimal(38,0)").alias("s"),
        F.sum("ss_wd").cast("decimal(38,0)").alias("ss"),
        ordered_fold_sum(F.col("wd"), within_term).alias("within_ms"),
    )
    ss_d = as_d(F.col("ss"))
    s_d = as_d(F.col("s"))
    ss_total = ss_d - s_d * s_d / F.col("n")
    ss_resid = ss_d - F.col("within_ms")
    return seg.select(
        "segment",
        "n",
        (ss_total / F.lit(1e4)).alias("ss_total_dollars2"),
        (ss_resid / F.lit(1e4)).alias("ss_resid_dollars2"),
        F.when(
            ss_total > 0,
            F.greatest(F.lit(0.0), 1 - ss_resid / ss_total),
        ).alias("seasonal_strength"),
    ).orderBy("segment")


@register(
    "ts_intervention_step",
    tags=("timeseries", "stats", "agg"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        cents AS (
            SELECT segment,
                   CASE WHEN d >= DATE '1995-06-01' THEN 1 ELSE 0 END AS post,
                   CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM daily
        ),
        s AS (
            SELECT segment,
                   CAST(SUM(1 - post) AS BIGINT) AS n_pre,
                   CAST(SUM(post) AS BIGINT) AS n_post,
                   CAST(SUM((1 - post) * v) AS DECIMAL(38,0)) AS s_pre,
                   CAST(SUM(post * v) AS DECIMAL(38,0)) AS s_post,
                   CAST(SUM((1 - post) * CAST(v AS DECIMAL(38,0)) * v)
                        AS DECIMAL(38,0)) AS ss_pre,
                   CAST(SUM(post * CAST(v AS DECIMAL(38,0)) * v)
                        AS DECIMAL(38,0)) AS ss_post
            FROM cents GROUP BY segment
        )
        SELECT segment, n_pre, n_post,
               CAST(CAST(s_pre AS STRING) AS DOUBLE) / n_pre / 100
                   AS pre_mean,
               CAST(CAST(s_post AS STRING) AS DOUBLE) / n_post / 100
                   AS post_mean,
               (CAST(CAST(s_post AS STRING) AS DOUBLE) / n_post)
                 / (CAST(CAST(s_pre AS STRING) AS DOUBLE) / n_pre) - 1
                   AS lift,
               CASE WHEN n_pre > 1 AND n_post > 1 THEN
                 (CAST(CAST(s_post AS STRING) AS DOUBLE) / n_post
                  - CAST(CAST(s_pre AS STRING) AS DOUBLE) / n_pre)
                 / sqrt(
                     ((CAST(CAST(ss_pre AS STRING) AS DOUBLE)
                       - CAST(CAST(s_pre AS STRING) AS DOUBLE)
                         * CAST(CAST(s_pre AS STRING) AS DOUBLE) / n_pre)
                      / (n_pre - 1)) / n_pre
                     + ((CAST(CAST(ss_post AS STRING) AS DOUBLE)
                         - CAST(CAST(s_post AS STRING) AS DOUBLE)
                           * CAST(CAST(s_post AS STRING) AS DOUBLE)
                           / n_post)
                        / (n_post - 1)) / n_post)
               END AS welch_t
        FROM s ORDER BY segment
    """,
)
def ts_intervention_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intervention (step-change) analysis per segment at the fixed
    1995-06-01 cut: pre/post level means, relative lift, and the
    Welch t for the level shift — the before/after scorecard of every
    launch and pricing change, on the daily revenue series. Exact
    integer-cents sufficient statistics per arm in one grouped agg
    (conditional sums — no second scan, no join); means/variances
    divide out at the double edge via the VARCHAR route. Welch (not
    pooled) because an intervention that shifts the level usually
    shifts the variance too. t NULLs when either arm has < 2 days
    (class-5 guard, identical both engines)."""
    return run_sql(spark, sf_dir, "ts_intervention_step")


# ---------------------------------------------------------------------------
# ts_cross_correlation — lead/lag CCF between two return series

_CCF_RET_SQL = f"""
            SELECT segment, d,
                   {o_ret_q9('x', 'xp')} AS r
            FROM (SELECT segment, d, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily
                  WHERE segment IN ('BUILDING', 'MACHINERY'))
            WHERE xp IS NOT NULL
"""


@register(
    "ts_cross_correlation",
    tags=("timeseries", "window", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        rets AS ({_CCF_RET_SQL}),
        lags AS (SELECT unnest(range(0, 8)) AS lag),
        j AS (
            SELECT l.lag, b.r AS rb, m.r AS rm
            FROM lags l
            JOIN (SELECT d, r FROM rets WHERE segment = 'BUILDING') b ON TRUE
            JOIN (SELECT d, r FROM rets WHERE segment = 'MACHINERY') m
              ON m.d = b.d - CAST(l.lag AS INTEGER)
        ),
        s AS (
            SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(rb) AS BIGINT) AS sb,
                   CAST(SUM(rm) AS BIGINT) AS sm,
                   CAST(CAST(SUM(CAST(rb AS DECIMAL(19,0)) * rb) AS STRING)
                        AS DOUBLE) AS sbb,
                   CAST(CAST(SUM(CAST(rm AS DECIMAL(19,0)) * rm) AS STRING)
                        AS DOUBLE) AS smm,
                   CAST(CAST(SUM(CAST(rb AS DECIMAL(19,0)) * rm) AS STRING)
                        AS DOUBLE) AS sbm
            FROM j GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
               CASE WHEN CAST(n AS DOUBLE) * sbb
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
                     AND CAST(n AS DOUBLE) * smm
                           - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) > 0 THEN
                 (CAST(n AS DOUBLE) * sbm
                  - CAST(sb AS DOUBLE) * CAST(sm AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * sbb
                         - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * smm
                           - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)))
               END AS ccf
        FROM s ORDER BY lag
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the BUILDING and MACHINERY
    daily revenue return series at lags 0..7: does one segment's shock
    show up in the other a few days later? CCF(l) = corr(r_b(d),
    r_m(d-l)) — returns floor-quantize to q9 BIGINTs off exact decimal
    daily sums (the fin_capm_beta recipe), each lag's five sufficient
    sums are exact integer/DECIMAL arithmetic via a computed-key
    equi-join (b.d - l = m.d; never a non-equi range join), and the
    correlation assembles in one guarded double expression per lag
    (degenerate variance NULLs it identically on both engines).
    Scale: the lag grid is a broadcast 8-row relation crossed with the
    calendar-bounded return series — corpus work is only the shared
    daily agg."""
    daily = seg_daily(spark, sf_dir)
    ws = Window.partitionBy("segment").orderBy("d")
    rets = (
        daily.filter(F.col("segment").isin("BUILDING", "MACHINERY"))
        .withColumn("xp", F.lag("x").over(ws))
        .filter(F.col("xp").isNotNull())
        .select(
            "segment",
            "d",
            ret_q9(F.col("x"), F.col("xp")).alias("r"),
        )
    )
    b = rets.filter(F.col("segment") == "BUILDING").select(
        "d", F.col("r").alias("rb")
    )
    m = rets.filter(F.col("segment") == "MACHINERY").select(
        F.col("d").alias("dm"), F.col("r").alias("rm")
    )
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    j = (
        b.crossJoin(F.broadcast(lags))
        .withColumn("dkey", F.date_sub(F.col("d"), F.col("lag")))
        .join(F.broadcast(m), F.col("dkey") == F.col("dm"))
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rb").cast("bigint").alias("sb"),
        F.sum("rm").cast("bigint").alias("sm"),
        as_d(F.sum(F.col("rb").cast("decimal(19,0)") * F.col("rb"))).alias("sbb"),
        as_d(F.sum(F.col("rm").cast("decimal(19,0)") * F.col("rm"))).alias("smm"),
        as_d(F.sum(F.col("rb").cast("decimal(19,0)") * F.col("rm"))).alias("sbm"),
    )
    n_d = F.col("n").cast("double")
    sb_d = F.col("sb").cast("double")
    sm_d = F.col("sm").cast("double")
    var_b = n_d * F.col("sbb") - sb_d * sb_d
    var_m = n_d * F.col("smm") - sm_d * sm_d
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when(
            (var_b > 0) & (var_m > 0),
            (n_d * F.col("sbm") - sb_d * sm_d)
            / (F.sqrt(var_b) * F.sqrt(var_m)),
        ).alias("ccf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# ts_variance_ratio — Lo-MacKinlay random-walk diagnostic


@register(
    "ts_variance_ratio",
    tags=("timeseries", "window", "stats"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        seq AS (
            SELECT m,
                   ROW_NUMBER() OVER (ORDER BY d) AS t,
                   SUM(m) OVER (ORDER BY d
                       ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS y2,
                   SUM(m) OVER (ORDER BY d
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS y4,
                   SUM(m) OVER (ORDER BY d
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS y8
            FROM rm
        ),
        base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n1,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(19,0)) * m) AS STRING)
                        AS DOUBLE) AS s2
            FROM seq
        ),
        qs AS (
            SELECT 2 AS q, CAST(COUNT(*) AS BIGINT) AS nq,
                   CAST(CAST(SUM(CAST(y2 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(y2 AS DECIMAL(19,0)) * y2) AS STRING)
                        AS DOUBLE) AS sy2
            FROM seq WHERE t >= 2
            UNION ALL
            SELECT 4, CAST(COUNT(*) AS BIGINT),
                   CAST(CAST(SUM(CAST(y4 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE),
                   CAST(CAST(SUM(CAST(y4 AS DECIMAL(19,0)) * y4) AS STRING)
                        AS DOUBLE)
            FROM seq WHERE t >= 4
            UNION ALL
            SELECT 8, CAST(COUNT(*) AS BIGINT),
                   CAST(CAST(SUM(CAST(y8 AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE),
                   CAST(CAST(SUM(CAST(y8 AS DECIMAL(19,0)) * y8) AS STRING)
                        AS DOUBLE)
            FROM seq WHERE t >= 8
        )
        SELECT CAST(q AS INT) AS q, nq AS n_periods,
               CASE WHEN n1 > 1 AND nq > 1
                         AND (CAST(n1 AS DOUBLE) * s2 - s1 * s1) > 0 THEN
                 ((CAST(nq AS DOUBLE) * sy2 - sy * sy)
                  * (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1)))
                 / ((CAST(q AS DOUBLE)
                     * (CAST(nq AS DOUBLE) * (CAST(nq AS DOUBLE) - 1)))
                    * (CAST(n1 AS DOUBLE) * s2 - s1 * s1))
               END AS vr
        FROM qs CROSS JOIN base
        ORDER BY q
    """,
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratio VR(q) for q = 2, 4, 8 on the
    whole-market daily revenue return: Var(q-period overlapping sums) /
    (q * Var(1-period)) — ~1 under a random walk, <1 under mean
    reversion, >1 under trending (Lo & MacKinlay 1988; plain ratio of
    unbiased sample variances, no heteroskedasticity correction —
    convention pinned and matched by the reference test). Exactness:
    returns are the shared q9-quantized integers; the overlapping
    q-sums are integer window sums over the calendar-bounded series;
    all four power sums accumulate in DECIMAL and cross to double once
    via VARCHAR; each VR is ONE fixed-parenthesization double
    expression. Degenerate zero variance NULLs identically. Scale:
    corpus work is the shared daily agg; everything downstream rides
    the O(days) return relation."""
    return run_sql(spark, sf_dir, "ts_variance_ratio")


# ---------------------------------------------------------------------------
# ts_ewma_volatility — RiskMetrics decay-weighted vol per segment


_EWMA_LAMBDA = 0.94


_EWMA_K = 20


_EWMA_WEIGHTS = [
    (1.0 - _EWMA_LAMBDA) * _EWMA_LAMBDA**k for k in range(_EWMA_K)
]


_EWMA_W_SQL = ", ".join(
    f"({k}, CAST('{w!r}' AS DOUBLE))" for k, w in enumerate(_EWMA_WEIGHTS)
)


@register(
    "ts_ewma_volatility",
    tags=("timeseries", "window", "finance"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        {SEG_RET_SQL},
        tail AS (
            SELECT segment, r,
                   ROW_NUMBER() OVER (PARTITION BY segment ORDER BY d DESC)
                       - 1 AS k,
                   COUNT(*) OVER (PARTITION BY segment) AS n_all
            FROM rs
        ),
        wts (k, w) AS (VALUES {_EWMA_W_SQL}),
        terms AS (
            SELECT t.segment, t.n_all, t.k,
                   w.w * CAST(CAST(CAST(t.r AS DECIMAL(19,0)) * t.r
                                   AS STRING) AS DOUBLE) AS term
            FROM tail t JOIN wts w ON w.k = t.k
            WHERE t.k < {_EWMA_K} AND t.n_all >= {_EWMA_K}
        ),
        folded AS (
            SELECT segment, CAST(MAX(n_all) AS BIGINT) AS n_days,
                   list_reduce(list(term ORDER BY k),
                               (acc, x) -> acc + x) AS var_q18
            FROM terms GROUP BY segment
        )
        SELECT segment, n_days,
               var_q18 / CAST(1e18 AS DOUBLE) AS ewma_var,
               sqrt(var_q18 / CAST(1e18 AS DOUBLE)) AS ewma_vol
        FROM folded ORDER BY segment
    """,
)
def ts_ewma_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility per segment: sigma^2 = (1-lambda) *
    sum_k lambda^k r_{t-k}^2 over the last K=20 daily returns with
    lambda = 0.94 (J.P. Morgan RiskMetrics 1996), truncated — the
    finite-window form every intraday risk feed actually computes.
    Exactness: the 20 decay weights are EXACT double literals computed
    once in Python and string-routed into BOTH engines; r^2 is an
    exact DECIMAL product crossing to double once per row; the 20-term
    weighted sum is an ORDER-PINNED fold by lag k (sorted collect_list
    fold vs ordered list_reduce), and the q18 de-scaling + sqrt are
    single deterministic expressions. Segments with fewer than K
    returns are excluded on both engines (none at shipped SFs — the
    reference test asserts all 5 present). Scale: corpus work is the
    shared daily agg; the tail ranking partitions by segment over the
    calendar-bounded return relation."""
    daily = seg_daily(spark, sf_dir)
    rs = seg_returns(daily)
    wdesc = Window.partitionBy("segment").orderBy(F.col("d").desc())
    wall = Window.partitionBy("segment")
    tail = rs.select(
        "segment",
        "r",
        (F.row_number().over(wdesc) - 1).alias("k"),
        F.count(F.lit(1)).over(wall).alias("n_all"),
    ).filter((F.col("k") < _EWMA_K) & (F.col("n_all") >= _EWMA_K))
    wts = F.array(
        *[F.expr(f"CAST('{w!r}' AS DOUBLE)") for w in _EWMA_WEIGHTS]
    )
    terms = tail.select(
        "segment",
        "n_all",
        "k",
        (
            wts[F.col("k")]
            * as_d(F.col("r").cast("decimal(19,0)") * F.col("r"))
        ).alias("term"),
    )
    folded = terms.groupBy("segment").agg(
        F.max("n_all").cast("bigint").alias("n_days"),
        ordered_fold_sum(F.col("k"), F.col("term")).alias("var_q18"),
    )
    v = F.col("var_q18") / F.expr("CAST(1e18 AS DOUBLE)")
    return folded.select(
        "segment", "n_days", v.alias("ewma_var"), F.sqrt(v).alias("ewma_vol")
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# ts_arch_lm_screen — Ljung-Box on squared returns (ARCH effect)


@register(
    "ts_arch_lm_screen",
    tags=("timeseries", "stats", "finance"),
    oracle=f"""
        WITH daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        z AS (
            SELECT d,
                   CAST(FLOOR(CAST(m AS DOUBLE) / CAST(1e3 AS DOUBLE))
                        AS BIGINT) AS v
            FROM rm
        ),
        zz AS (SELECT d, v * v AS q FROM z),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM zz),
        lag_suff AS (
            SELECT lg.k,
                   CAST(COUNT(*) AS BIGINT) AS nk,
                   CAST(CAST(SUM(CAST(a.q AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(b.q AS DECIMAL(19,0))) AS STRING)
                        AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(a.q AS DECIMAL(19,0)) * b.q) AS STRING)
                        AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(a.q AS DECIMAL(19,0)) * a.q) AS STRING)
                        AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(b.q AS DECIMAL(19,0)) * b.q) AS STRING)
                        AS DOUBLE) AS syy
            FROM (VALUES (1), (2), (3), (4)) lg(k)
            JOIN zz a ON TRUE
            JOIN zz b ON b.d = a.d - to_days(lg.k)
            GROUP BY lg.k
        ),
        rs2 AS (
            SELECT k, nk,
                   CASE WHEN (CAST(nk AS DOUBLE) * sxx - sx * sx) > 0
                             AND (CAST(nk AS DOUBLE) * syy - sy * sy) > 0 THEN
                     (CAST(nk AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(nk AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(nk AS DOUBLE) * syy - sy * sy))
                   END AS r
            FROM lag_suff
        ),
        wide AS (
            SELECT MAX(CASE WHEN k = 1 THEN r END) AS r1,
                   MAX(CASE WHEN k = 2 THEN r END) AS r2,
                   MAX(CASE WHEN k = 3 THEN r END) AS r3,
                   MAX(CASE WHEN k = 4 THEN r END) AS r4
            FROM rs2
        )
        SELECT nn.n, wide.r1, wide.r2, wide.r3, wide.r4,
               CASE WHEN wide.r1 IS NOT NULL AND wide.r2 IS NOT NULL
                         AND wide.r3 IS NOT NULL AND wide.r4 IS NOT NULL
                         AND nn.n > 4 THEN
                 CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) + 2)
                 * (wide.r1 * wide.r1 / (CAST(nn.n AS DOUBLE) - 1)
                    + wide.r2 * wide.r2 / (CAST(nn.n AS DOUBLE) - 2)
                    + wide.r3 * wide.r3 / (CAST(nn.n AS DOUBLE) - 3)
                    + wide.r4 * wide.r4 / (CAST(nn.n AS DOUBLE) - 4))
               END AS lb_stat
        FROM nn CROSS JOIN wide
    """,
)
def ts_arch_lm_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARCH-effect screen: Ljung-Box portmanteau on SQUARED market
    returns at lags 1-4 — volatility clustering shows up as
    autocorrelation of squares even when returns themselves are white
    (Engle 1982's LM test in its practitioners' portmanteau form;
    ts_ljung_box covers the level series, this covers the second
    moment). Returns are q6-quantized so z = v^2 is an exact BIGINT;
    per-lag sufficient sums use the ts_cross_correlation recipe
    (computed-key calendar equi-join b.d = a.d - k days — missing
    calendar days drop pairs on both engines identically); each lag
    correlation is one guarded fixed expression, and the LB statistic
    is ONE expression with a static 4-term sum (fixed source order,
    no fold needed). Degenerate zero-variance lags NULL the statistic
    identically. Corpus work is the shared daily agg; the 4-lag join
    rides the calendar-bounded return relation x a broadcast 4-row
    spine."""
    rm = mkt_returns(seg_daily(spark, sf_dir))
    zz = rm.select(
        "d",
        (
            F.floor(F.col("m").cast("double") / F.expr("CAST(1e3 AS DOUBLE)"))
            .cast("bigint")
        ).alias("v"),
    ).select("d", (F.col("v") * F.col("v")).alias("q"))
    nn = zz.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    lags = zz.sparkSession.createDataFrame([(1,), (2,), (3,), (4,)], "k int")
    a = zz.select(F.col("d").alias("da"), F.col("q").alias("qa"))
    b = zz.select(F.col("d").alias("db"), F.col("q").alias("qb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("db") == F.date_sub(F.col("da"), F.col("k")),
        )
    )
    qa_dec = F.col("qa").cast("decimal(19,0)")
    qb_dec = F.col("qb").cast("decimal(19,0)")
    suff = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        as_d(F.sum(qa_dec)).alias("sx"),
        as_d(F.sum(qb_dec)).alias("sy"),
        as_d(F.sum(qa_dec * F.col("qb"))).alias("sxy"),
        as_d(F.sum(qa_dec * F.col("qa"))).alias("sxx"),
        as_d(F.sum(qb_dec * F.col("qb"))).alias("syy"),
    )
    nk_d = F.col("nk").cast("double")
    vx = nk_d * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nk_d * F.col("syy") - F.col("sy") * F.col("sy")
    rs2 = suff.select(
        "k",
        F.when(
            (vx > 0) & (vy > 0),
            (nk_d * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(vx) * F.sqrt(vy)),
        ).alias("r"),
    )
    wide = rs2.agg(
        *[
            F.max(F.when(F.col("k") == k, F.col("r"))).alias(f"r{k}")
            for k in (1, 2, 3, 4)
        ]
    )
    n_d = F.col("n").cast("double")
    lb = (
        n_d
        * (n_d + 2)
        * (
            F.col("r1") * F.col("r1") / (n_d - 1)
            + F.col("r2") * F.col("r2") / (n_d - 2)
            + F.col("r3") * F.col("r3") / (n_d - 3)
            + F.col("r4") * F.col("r4") / (n_d - 4)
        )
    )
    return (
        nn.crossJoin(F.broadcast(wide))
        .select(
            "n",
            "r1",
            "r2",
            "r3",
            "r4",
            F.when(
                F.col("r1").isNotNull()
                & F.col("r2").isNotNull()
                & F.col("r3").isNotNull()
                & F.col("r4").isNotNull()
                & (F.col("n") > 4),
                lb,
            ).alias("lb_stat"),
        )
    )


# ---------------------------------------------------------------------------
# ts_theil_u2 — relative forecast accuracy of the seasonal-naive
# forecast vs the naive no-change forecast


@register(
    "ts_theil_u2",
    tags=("timeseries", "window", "agg"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        lagged AS (
            SELECT event_type, rn,
                   CAST(CAST(x AS STRING) AS DOUBLE) AS xd,
                   CAST(CAST(LAG(x, 1) OVER w AS STRING) AS DOUBLE) AS l1,
                   CAST(CAST(LAG(x, 7) OVER w AS STRING) AS DOUBLE) AS l7
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY rn)
        ),
        terms AS (
            SELECT event_type, rn,
                   ((l7 - xd) / l1) * ((l7 - xd) / l1) AS num_t,
                   ((xd - l1) / l1) * ((xd - l1) / l1) AS den_t
            FROM lagged WHERE rn >= 8 AND l1 <> 0
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CASE WHEN {o_ordered_fold_sum('rn', 'den_t')} > 0 THEN
                 sqrt({o_ordered_fold_sum('rn', 'num_t')})
                 / sqrt({o_ordered_fold_sum('rn', 'den_t')})
               END AS theil_u2
        FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def ts_theil_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 per daily event series: the RMS of seasonal-naive
    (lag-7) forecast errors relative to the RMS of naive no-change
    (lag-1) errors, both scaled by the previous level — U2 < 1 means
    the weekly-seasonal forecast genuinely beats "tomorrow = today",
    the first question asked of any forecasting pipeline (Theil 1966).
    Exactness: the daily levels are exact DECIMAL(18,6) sums crossing
    to double once via VARCHAR; each term is one fixed-shape double
    expression per row; the two sums fold in PINNED rn order
    (F.aggregate over array_sort vs list_reduce ORDER BY rn); the
    ratio-of-sqrts is one guarded expression. Corpus work: one
    map-side-combining daily agg; windows run over the 30-row series
    per type."""
    daily = event_daily_rn(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("rn")
    lagged = daily.select(
        "event_type",
        "rn",
        as_d(F.col("x")).alias("xd"),
        as_d(F.lag("x", 1).over(w)).alias("l1"),
        as_d(F.lag("x", 7).over(w)).alias("l7"),
    )
    terms = lagged.filter((F.col("rn") >= 8) & (F.col("l1") != 0)).select(
        "event_type",
        "rn",
        (
            ((F.col("l7") - F.col("xd")) / F.col("l1"))
            * ((F.col("l7") - F.col("xd")) / F.col("l1"))
        ).alias("num_t"),
        (
            ((F.col("xd") - F.col("l1")) / F.col("l1"))
            * ((F.col("xd") - F.col("l1")) / F.col("l1"))
        ).alias("den_t"),
    )
    agg = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        ordered_fold_sum(F.col("rn"), F.col("num_t")).alias("num_s"),
        ordered_fold_sum(F.col("rn"), F.col("den_t")).alias("den_s"),
    )
    return (
        agg.select(
            "event_type",
            "n_terms",
            F.when(
                F.col("den_s") > 0,
                F.sqrt(F.col("num_s")) / F.sqrt(F.col("den_s")),
            ).alias("theil_u2"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ts_stochastic_oscillator — rolling %K / %D momentum census


@register(
    "ts_stochastic_oscillator",
    tags=("timeseries", "window", "agg"),
    oracle=f"""
        WITH daily AS (
            {EVENT_DAILY_RN_SQL}
        ),
        roll AS (
            SELECT event_type, rn,
                   CAST(CAST(x AS STRING) AS DOUBLE) AS xd,
                   CAST(COUNT(*) OVER w AS BIGINT) AS wn,
                   CAST(CAST(MIN(x) OVER w AS STRING) AS DOUBLE) AS lo,
                   CAST(CAST(MAX(x) OVER w AS STRING) AS DOUBLE) AS hi
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY rn
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ),
        k AS (
            SELECT event_type, rn,
                   CASE WHEN hi > lo THEN (xd - lo) / (hi - lo) END AS pk
            FROM roll WHERE wn = 14
        ),
        kd AS (
            SELECT event_type, rn, pk,
                   LAG(pk, 1) OVER w AS k1, LAG(pk, 2) OVER w AS k2
            FROM k
            WINDOW w AS (PARTITION BY event_type ORDER BY rn)
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN pk > CAST('0.8' AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_overbought,
               CAST(SUM(CASE WHEN pk < CAST('0.2' AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_oversold,
               {o_lsum('pk')} AS k_q6_sum,
               CAST(SUM(CASE WHEN k2 IS NOT NULL AND pk IS NOT NULL
                                  AND k1 IS NOT NULL AND k2 IS NOT NULL
                             THEN CAST(FLOOR(((pk + k1) + k2)
                                             / CAST('3.0' AS DOUBLE) * 1e6)
                                       AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS d_q6_sum
        FROM kd GROUP BY event_type ORDER BY event_type
    """,
)
def ts_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator per daily event series: %K = position of
    today's level inside the rolling 14-day [low, high] channel, %D =
    3-day mean of %K, with an overbought/oversold census (Lane's
    momentum indicator — the bounded cousin of ts_bollinger_bands'
    envelope). Exactness: channel min/max are exact DECIMAL window
    extremes crossing to double once via VARCHAR; %K is one guarded
    division (flat channel NULLs identically); %D is the PINNED
    three-term mean ((k + k1) + k2)/3; census totals survive
    aggregation as floor-quantized q6 BIGINTs, so the per-series SUM
    is exact integer arithmetic. One map-side daily agg; windows over
    the 30-row series per type."""
    return run_sql(spark, sf_dir, "ts_stochastic_oscillator")


# ---------------------------------------------------------------------------
# shared daily q6-quantized event values (seasonal MK + Hampel)

@register(
    "ts_seasonal_mann_kendall",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS MATERIALIZED (
            SELECT event_type, d, v, CAST(isodow(d) - 1 AS INT) AS wd
            FROM ({DAILY_Q6_SQL})
        ),
        s_wd AS (
            SELECT a.event_type, a.wd,
                   CAST(SUM(CASE WHEN b.v > a.v THEN 1
                                 WHEN b.v < a.v THEN -1 ELSE 0 END)
                        AS BIGINT) AS s
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.wd = b.wd AND a.d < b.d
            GROUP BY a.event_type, a.wd
        ),
        n_wd AS (
            SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type, wd
        ),
        tt_wd AS (
            SELECT event_type, wd,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
            FROM (SELECT event_type, wd, v, CAST(COUNT(*) AS BIGINT) AS t
                  FROM daily GROUP BY event_type, wd, v)
            GROUP BY event_type, wd
        ),
        per_wd AS (
            SELECT n.event_type, n.wd, n.n,
                   COALESCE(s.s, 0) AS s,
                   n.n * (n.n - 1) * (2 * n.n + 5) - t.tt AS varnum
            FROM n_wd n
            LEFT JOIN s_wd s ON s.event_type = n.event_type AND s.wd = n.wd
            JOIN tt_wd t ON t.event_type = n.event_type AND t.wd = n.wd
        )
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS n_days,
               CAST(SUM(s) AS BIGINT) AS s_total,
               CAST(SUM(varnum) AS BIGINT) AS varnum_total,
               CASE WHEN SUM(varnum) > 0 THEN
                 CAST(CASE WHEN SUM(s) > 0 THEN SUM(s) - 1
                           WHEN SUM(s) < 0 THEN SUM(s) + 1
                           ELSE 0 END AS DOUBLE)
                 / SQRT(CAST(SUM(varnum) AS DOUBLE) / CAST(18 AS DOUBLE))
               END AS z
        FROM per_wd GROUP BY event_type
    """,
)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test per event type (Hirsch-Slack):
    the MK S statistic computed WITHIN each weekday season (so weekly
    cycles can't masquerade as trend), seasons then summed — S_total,
    its tie-corrected variance numerator (exact integer: sum over
    seasons of n(n-1)(2n+5) - sum t(t-1)(2t+5)), and the
    continuity-corrected z. Daily values are 1e-6 floor-quantized
    BIGINTs so every sign comparison and tie group is exact.
    Distributed shape: the pairwise stage is per (type, weekday) over
    CALENDAR-BOUNDED daily aggregates (~2400 days at any SF — the
    pair count is bounded at ~350^2 per season regardless of corpus
    size), keyed so a cluster partitions by (type, weekday). z is the
    single presentation expression (IEEE sqrt + one division)."""
    return run_sql(spark, sf_dir, "ts_seasonal_mann_kendall")


# ---------------------------------------------------------------------------
# ts_periodogram — quantized-trig DFT power at a literal frequency grid


@register(
    "ts_periodogram",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS MATERIALIZED ({DAILY_Q6_SQL}),
        idx AS (
            SELECT event_type, v,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY d) AS BIGINT) AS t,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n,
                   CAST(SUM(v) OVER (PARTITION BY event_type)
                        AS BIGINT) AS s
            FROM daily
        ),
        freqs AS (SELECT kf FROM (VALUES (1), (2), (3), (7), (14)) AS t(kf)),
        terms AS (
            SELECT event_type, kf, n,
                   CAST(SUM((n * v - s)
                     * CAST(cos(CAST('6.283185307179586' AS DOUBLE)
                                * CAST(kf AS DOUBLE)
                                * CAST(t - 1 AS DOUBLE)
                                / CAST(n AS DOUBLE))
                            AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS sc,
                   CAST(SUM((n * v - s)
                     * CAST(sin(CAST('6.283185307179586' AS DOUBLE)
                                * CAST(kf AS DOUBLE)
                                * CAST(t - 1 AS DOUBLE)
                                / CAST(n AS DOUBLE))
                            AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS ss
            FROM idx CROSS JOIN freqs
            GROUP BY event_type, kf, n
        )
        SELECT event_type, CAST(kf AS INT) AS kf, n AS n_days,
               (CAST(CAST(sc AS STRING) AS DOUBLE)
                  * CAST(CAST(sc AS STRING) AS DOUBLE)
                + CAST(CAST(ss AS STRING) AS DOUBLE)
                  * CAST(CAST(ss AS STRING) AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               / 1e12 AS power
        FROM terms
    """,
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power of each event type's daily series at 5 literal
    frequencies (k = 1, 2, 3, 7, 14 cycles over the observed window) —
    the spectral screen for periodic structure (weekly cycles,
    campaign cadence) that autocorrelation smears across lags:
    I(f_k) = |sum (v_t - vbar) e^{-2pi i k t/n}|² / n. Exactness:
    daily values are the house q6 BIGINTs; centering multiplies
    through by n (vc = n·v - S, exact BIGINT — no float mean);
    cos/sin evaluate on an IDENTICAL double angle expression
    (string-routed 2π constant) and quantize to DECIMAL(12,6) (the
    quantized-ln precedent applied to trig: a libm 1-ulp spread
    cannot realistically straddle a 1e-6 boundary), so both DFT sums
    are exact integer-by-decimal dot products; power is one shared
    presentation expression (the /n³ undoes the n² centering scale,
    /1e12 undoes q6²). Distributed shape: windows and sums are
    per-event-type over CALENDAR-BOUNDED daily aggregates; the
    frequency grid is a 5-row literal broadcast."""
    return run_sql(spark, sf_dir, "ts_periodogram")


# ---------------------------------------------------------------------------
# ts_cox_stuart — Cox-Stuart paired-halves trend test


@register(
    "ts_cox_stuart",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS ({DAILY_Q6_SQL}),
        idxed AS (
            SELECT event_type, v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY d) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ),
        pairs AS (
            SELECT a.event_type,
                   CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS pos,
                   CASE WHEN b.v < a.v THEN 1 ELSE 0 END AS neg
            FROM idxed a
            JOIN idxed b ON b.event_type = a.event_type
                        AND b.i = a.i + (a.n - CAST(FLOOR(a.n / 2) AS BIGINT))
            WHERE a.i <= CAST(FLOOR(a.n / 2) AS BIGINT)
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(pos) AS BIGINT) AS n_up,
               CAST(SUM(neg) AS BIGINT) AS n_down,
               CASE WHEN SUM(pos) + SUM(neg) > 0 THEN
                   (CAST(SUM(pos) AS DOUBLE)
                      - CAST(SUM(pos) + SUM(neg) AS DOUBLE)
                        / CAST(2 AS DOUBLE))
                   / sqrt(CAST(SUM(pos) + SUM(neg) AS DOUBLE)
                          / CAST(4 AS DOUBLE)) END AS z
        FROM pairs GROUP BY event_type
    """,
)
def ts_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test per event type: pair day i of the first
    half with day i + ceil(n/2) of the second half and sign-test the
    differences — the assumption-free 'is this series drifting'
    screen. Exactness: pairing index i + (n - n DIV 2) is integer
    arithmetic (FLOOR of a non-negative quotient), daily values are exact q6 BIGINTs
    so the up/down signs are exact, ties drop from the effective
    sample on both engines, and the binomial z is one double
    expression NULL-guarded by the identical n_up + n_down > 0
    predicate. Distributed shape: per-type row_number windows over
    calendar-bounded daily rows; the half-offset pairing is an
    equi-join on (event_type, index) — never a cross pairing."""
    return run_sql(spark, sf_dir, "ts_cox_stuart")


# ---------------------------------------------------------------------------
# ts_spectral_entropy — normalized entropy of the periodogram powers


@register(
    "ts_spectral_entropy",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS MATERIALIZED ({DAILY_Q6_SQL}),
        idx AS (
            SELECT event_type, v,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY d) AS BIGINT) AS t,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n,
                   CAST(SUM(v) OVER (PARTITION BY event_type)
                        AS BIGINT) AS s
            FROM daily
        ),
        freqs AS (SELECT unnest([1, 2, 3, 7, 14]) AS kf),
        terms AS (
            SELECT event_type, kf, n,
                   CAST(SUM((n * v - s)
                     * CAST(cos(CAST('6.283185307179586' AS DOUBLE)
                                * CAST(kf AS DOUBLE)
                                * CAST(t - 1 AS DOUBLE)
                                / CAST(n AS DOUBLE))
                            AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS sc,
                   CAST(SUM((n * v - s)
                     * CAST(sin(CAST('6.283185307179586' AS DOUBLE)
                                * CAST(kf AS DOUBLE)
                                * CAST(t - 1 AS DOUBLE)
                                / CAST(n AS DOUBLE))
                            AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS ss
            FROM idx CROSS JOIN freqs
            GROUP BY event_type, kf, n
        ),
        pw AS (
            SELECT event_type, kf,
                   (CAST(CAST(sc AS STRING) AS DOUBLE)
                      * CAST(CAST(sc AS STRING) AS DOUBLE)
                    + CAST(CAST(ss AS STRING) AS DOUBLE)
                      * CAST(CAST(ss AS STRING) AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE)) / 1e12 AS p
            FROM terms
        ),
        tot AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_freqs,
                   {o_ordered_fold_sum('kf', 'p')}
                       AS pt
            FROM pw GROUP BY event_type
        ),
        ent AS (
            SELECT pw.event_type, tot.n_freqs,
                   {o_ordered_fold_sum(
                       'pw.kf',
                       '-(pw.p / tot.pt) * CAST(CAST(ln(pw.p / tot.pt) AS'
                       ' DECIMAL(12,6)) AS DOUBLE)',
                   )} AS h
            FROM pw JOIN tot ON tot.event_type = pw.event_type
            GROUP BY pw.event_type, tot.n_freqs
        )
        SELECT event_type, n_freqs, h AS spectral_entropy,
               h / CAST('1.6094379124341003' AS DOUBLE)
                   AS spectral_entropy_norm
        FROM ent
    """,
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of each event type's daily series
    over the ts_periodogram frequency grid — low entropy = power
    concentrated at one cycle (strong periodicity), entropy near 1 =
    white-noise-flat spectrum; the single-number periodicity screen
    on top of the periodogram's per-frequency view. Exactness: powers
    are the ts_periodogram quantized-trig recipe (exact integer-by-
    DECIMAL(12,6) dot products, one shared presentation expression);
    the 5-power normalization and the entropy both fold in pinned kf
    order (the ANOVA recipe — never an unordered double sum); each
    ln(share) quantizes to DECIMAL(12,6); ln(5) enters as a
    Python-generated double literal. Distributed shape identical to
    ts_periodogram: per-type calendar-bounded windows, 5-row literal
    frequency grid, k-type state."""
    daily = daily_q6(spark, sf_dir)
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .cast("bigint")
        .alias("t"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("v").over(w).cast("bigint").alias("s"),
    )
    freqs = daily.sparkSession.createDataFrame(
        [(1,), (2,), (3,), (7,), (14,)], "kf int"
    )
    two_pi = F.expr("CAST('6.283185307179586' AS DOUBLE)")
    angle = (
        two_pi
        * F.col("kf").cast("double")
        * (F.col("t") - 1).cast("double")
        / F.col("n").cast("double")
    )
    vc = F.col("n") * F.col("v") - F.col("s")
    terms = (
        idx.crossJoin(F.broadcast(freqs))
        .groupBy("event_type", "kf", "n")
        .agg(
            F.sum(vc * F.cos(angle).cast("decimal(12,6)"))
            .cast("decimal(38,6)")
            .alias("sc"),
            F.sum(vc * F.sin(angle).cast("decimal(12,6)"))
            .cast("decimal(38,6)")
            .alias("ss"),
        )
    )
    nd = F.col("n").cast("double")
    power = (
        (
            as_d(F.col("sc")) * as_d(F.col("sc"))
            + as_d(F.col("ss")) * as_d(F.col("ss"))
        )
        / (nd * nd * nd)
        / F.lit(1e12)
    )
    pw = terms.select("event_type", "kf", power.alias("p"))
    tot = pw.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_freqs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("kf"), F.col("p")))),
            F.lit(0.0),
            lambda acc, x: acc + x["p"],
        ).alias("pt"),
    )
    ent = (
        pw.join(tot, "event_type")
        .groupBy("event_type", "n_freqs")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("kf"),
                            (
                                -(F.col("p") / F.col("pt"))
                                * as_d(
                                    F.log(F.col("p") / F.col("pt")).cast(
                                        "decimal(12,6)"
                                    )
                                )
                            ).alias("term"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("h")
        )
    )
    ln5 = F.expr("CAST('1.6094379124341003' AS DOUBLE)")
    return ent.select(
        "event_type",
        "n_freqs",
        F.col("h").alias("spectral_entropy"),
        (F.col("h") / ln5).alias("spectral_entropy_norm"),
    )


# ---------------------------------------------------------------------------
# ts_permutation_entropy — ordinal-pattern complexity per event type


@register(
    "ts_permutation_entropy",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS ({DAILY_Q6_SQL}),
        seq AS (
            SELECT event_type, v,
                   LEAD(v, 1) OVER (PARTITION BY event_type ORDER BY d)
                       AS v1,
                   LEAD(v, 2) OVER (PARTITION BY event_type ORDER BY d)
                       AS v2
            FROM daily
        ),
        pat AS (
            SELECT event_type,
                   CASE
                     WHEN v <= v1 AND v1 <= v2 THEN 0
                     WHEN v <= v2 AND NOT (v1 <= v2) AND v <= v1 THEN 1
                     WHEN NOT (v <= v1) AND v <= v2 THEN 2
                     WHEN v1 <= v2 AND NOT (v <= v2) THEN 3
                     WHEN NOT (v1 <= v2) AND v <= v1 AND NOT (v <= v2)
                          THEN 4
                     ELSE 5
                   END AS p
            FROM seq WHERE v2 IS NOT NULL
        ),
        cnt AS (
            SELECT event_type, p, CAST(COUNT(*) AS BIGINT) AS c
            FROM pat GROUP BY event_type, p
        ),
        tot AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
            FROM cnt GROUP BY event_type
        ),
        ent AS (
            SELECT c.event_type, t.n,
                   {o_ordered_fold_sum(
                       'c.p',
                       '-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) *'
                       ' CAST(CAST(ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) AS'
                       ' DECIMAL(12,6)) AS DOUBLE)',
                   )} AS h
            FROM cnt c JOIN tot t ON t.event_type = c.event_type
            GROUP BY c.event_type, t.n
        )
        SELECT event_type, n AS n_windows, h AS perm_entropy,
               h / CAST('1.791759469228055' AS DOUBLE)
                   AS perm_entropy_norm
        FROM ent
    """,
)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order m = 3) per event type:
    the Shannon entropy of the ordinal patterns of consecutive daily
    triples — the standard model-free complexity measure (low =
    predictable motif structure, near 1 = ordinally random), robust
    to monotone transforms where spectral measures aren't. Ordinal
    patterns use the STABLE tie rule (earlier index wins ties), so
    each pattern is a pure function of three integer comparisons
    (a<=b, a<=c, b<=c) — the same CASE triple on both engines, no
    sort primitive whose tie behavior could diverge. Counts are exact
    BIGINTs; the <=6-term entropy folds in pinned pattern order with
    quantized-ln DECIMAL(12,6) shares; ln 6 enters as a Python-
    generated literal. Distributed shape: per-type LEAD windows over
    CALENDAR-bounded daily rows, k-type state."""
    daily = daily_q6(spark, sf_dir)
    w_t = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type",
        "v",
        F.lead("v", 1).over(w_t).alias("v1"),
        F.lead("v", 2).over(w_t).alias("v2"),
    ).filter(F.col("v2").isNotNull())
    a, b, c = F.col("v"), F.col("v1"), F.col("v2")
    pat = seq.select(
        "event_type",
        F.when((a <= b) & (b <= c), 0)
        .when((a <= c) & ~(b <= c) & (a <= b), 1)
        .when(~(a <= b) & (a <= c), 2)
        .when((b <= c) & ~(a <= c), 3)
        .when(~(b <= c) & (a <= b) & ~(a <= c), 4)
        .otherwise(5)
        .alias("p"),
    )
    cnt = pat.groupBy("event_type", "p").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    share = F.col("c").cast("double") / F.col("n").cast("double")
    term = -share * as_d(F.log(share).cast("decimal(12,6)"))
    ent = (
        cnt.join(tot, "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p"), term.alias("t")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ).alias("h")
        )
    )
    ln6 = F.expr("CAST('1.791759469228055' AS DOUBLE)")
    return ent.select(
        "event_type",
        F.col("n").alias("n_windows"),
        F.col("h").alias("perm_entropy"),
        (F.col("h") / ln6).alias("perm_entropy_norm"),
    )


# ---------------------------------------------------------------------------
# ts_sample_entropy — SampEn(m=2) template matching per event type


@register(
    "ts_sample_entropy",
    tags=("timeseries", "stats"),
    oracle=f"""
        WITH daily AS ({DAILY_Q6_SQL}),
        seq AS (
            SELECT event_type, v,
                   LEAD(v, 1) OVER (PARTITION BY event_type ORDER BY d)
                       AS v1,
                   LEAD(v, 2) OVER (PARTITION BY event_type ORDER BY d)
                       AS v2,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                       AS i
            FROM daily
        ),
        tmpl AS MATERIALIZED (
            SELECT event_type, i, v, v1, v2 FROM seq
            WHERE v2 IS NOT NULL
        ),
        sig AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS nt,
                   CAST(SUM(v) AS BIGINT) AS s1,
                   SUM(CAST(v AS DECIMAL(19,0)) * v) AS s2
            FROM tmpl GROUP BY event_type
        ),
        r AS (
            SELECT event_type, nt,
                   CAST('0.2' AS DOUBLE)
                   * sqrt((CAST(nt AS DOUBLE)
                             * CAST(CAST(s2 AS STRING) AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                          / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)))
                       AS rr
            FROM sig
        ),
        pairs AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN
                       CAST(abs(a.v - b.v) AS DOUBLE) <= r.rr AND
                       CAST(abs(a.v1 - b.v1) AS DOUBLE) <= r.rr
                       THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
                   CAST(SUM(CASE WHEN
                       CAST(abs(a.v - b.v) AS DOUBLE) <= r.rr AND
                       CAST(abs(a.v1 - b.v1) AS DOUBLE) <= r.rr AND
                       CAST(abs(a.v2 - b.v2) AS DOUBLE) <= r.rr
                       THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
            FROM tmpl a
            JOIN tmpl b ON b.event_type = a.event_type AND b.i > a.i
            JOIN r ON r.event_type = a.event_type
            GROUP BY a.event_type
        )
        SELECT p.event_type, r.nt AS n_templates, p.b_cnt, p.a_cnt,
               CASE WHEN p.a_cnt > 0 AND p.b_cnt > 0 THEN
                   -CAST(CAST(ln(CAST(p.a_cnt AS DOUBLE)
                                 / CAST(p.b_cnt AS DOUBLE))
                         AS DECIMAL(12,6)) AS DOUBLE) END AS sampen
        FROM pairs p JOIN r ON r.event_type = p.event_type
    """,
)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=2, r=0.2*sigma) per event type — the
    regularity statistic of physiology/finance fame: -ln(A/B) where B
    counts template pairs matching on 2 consecutive values within
    tolerance r and A those also matching on the 3rd; lower = more
    self-similar. Template set: every index with a full (v, v1, v2)
    triple, the SAME set for both counts (documented simplification
    of the N-m vs N-m-1 edge; self-consistent and engine-identical).
    Exactness: daily values are exact q6 BIGINTs so |v_i - v_j| is an
    exact integer; r is one shared double expression off exact
    population-variance sums (sigma over the template set); every
    match test compares an exact-integer double against the identical
    r; A and B are exact BIGINTs; the final ln quantizes to
    DECIMAL(12,6) with an identical A>0 AND B>0 guard. Distributed
    shape: the pair stage is an equi-join on event_type with the
    index inequality as residual — per-type pair counts are
    CALENDAR-bounded (~days^2/2, SF-invariant), never corpus-scaled;
    corpus work is the one daily agg."""
    return run_sql(spark, sf_dir, "ts_sample_entropy")
