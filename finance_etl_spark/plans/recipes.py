"""Table-level cross-engine recipes shared by more than one plans module.

Each fragment is a Spark builder and, next to it, its DuckDB SQL twin
producing the same rows bit for bit: exact decimal or integer sums,
VARCHAR-routed decimal→double casts and 1e9-quantized returns. Query
modules call these instead of restating either half; column-level
recipes (dsum, fsum, as_d, ordered_fold_sum and their o_ twins) live
in functions/money.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import as_d, lsum, o_lsum, o_qsum, qsum
from finance_etl_spark.io.readers import load_table

# ---------------------------------------------------------------------------
# Per-segment daily revenue and its quantized daily returns. Every
# cross-day return is ONE shared double expression floor-quantized to
# an integer (q9 = 1e-9 units) immediately, so all later reductions run
# on exact integers.

def seg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, d, x): exact decimal daily revenue per market segment
    — one AQE-sized customer join (broadcast while it fits, shuffle at
    scale) + one map-side-combining hash agg."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
    )


SEG_DAILY_SQL = """
            SELECT c.c_mktsegment AS segment,
                   CAST(o.o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS x
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
"""


# (segment, d, pnl_cents): signed daily order flow per segment in exact
# integer cents — filled orders count +, all others −.
SEG_PNL_DAILY_SQL = """
            SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS d,
                   CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE -1 END
                        * CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                          AS BIGINT)) AS BIGINT) AS pnl_cents
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
"""

def ret_q9(cur: Column, prev: Column) -> Column:
    """Day-over-day return cur/prev - 1, floored to integer 1e-9 units
    (BIGINT) off VARCHAR-routed decimal operands."""
    return F.floor((as_d(cur) / as_d(prev) - F.lit(1.0)) * F.lit(1e9)).cast(
        "bigint"
    )


def o_ret_q9(cur: str, prev: str) -> str:
    """DuckDB twin of ret_q9."""
    return (
        f"CAST(FLOOR((CAST(CAST({cur} AS STRING) AS DOUBLE)"
        f" / CAST(CAST({prev} AS STRING) AS DOUBLE)"
        " - CAST(1 AS DOUBLE)) * CAST(1e9 AS DOUBLE)) AS BIGINT)"
    )


def o_dd_q6(peak: str, x: str) -> str:
    """Drawdown of x below its running peak in percent, floored to
    integer 1e-6 units (BIGINT) off VARCHAR-routed decimal operands."""
    return (
        f"CAST(FLOOR((CAST(CAST({peak} AS STRING) AS DOUBLE)"
        f" - CAST(CAST({x} AS STRING) AS DOUBLE))"
        f" / CAST(CAST({peak} AS STRING) AS DOUBLE)"
        " * CAST(100 AS DOUBLE) * CAST(1e6 AS DOUBLE)) AS BIGINT)"
    )

def seg_returns(daily: DataFrame) -> DataFrame:
    """(segment, d, r): per-segment daily returns off seg_daily,
    q9-quantized."""
    ws = Window.partitionBy("segment").orderBy("d")
    return (
        daily.withColumn("xp", F.lag("x").over(ws))
        .filter(F.col("xp").isNotNull())
        .select("segment", "d", ret_q9(F.col("x"), F.col("xp")).alias("r"))
    )


SEG_RET_SQL = f"""
        rs AS (
            SELECT segment, d, {o_ret_q9('x', 'xp')} AS r
            FROM (SELECT segment, d, x,
                         LAG(x) OVER (PARTITION BY segment ORDER BY d) AS xp
                  FROM daily)
            WHERE xp IS NOT NULL
        )"""


def mkt_returns(daily: DataFrame) -> DataFrame:
    """(d, m): whole-market daily returns off seg_daily, q9-quantized.
    The unpartitioned lag window runs on the O(days) market series."""
    mkt = daily.groupBy("d").agg(F.sum("x").cast("decimal(18,2)").alias("xm"))
    return (
        mkt.withColumn("xmp", F.lag("xm").over(Window.orderBy("d")))
        .filter(F.col("xmp").isNotNull())
        .select("d", ret_q9(F.col("xm"), F.col("xmp")).alias("m"))
    )


MKT_RET_SQL = f"""
        mkt AS (
            SELECT d, CAST(SUM(x) AS DECIMAL(18,2)) AS xm
            FROM daily GROUP BY d
        ),
        rm AS (
            SELECT d, {o_ret_q9('xm', 'xmp')} AS m
            FROM (SELECT d, xm, LAG(xm) OVER (ORDER BY d) AS xmp FROM mkt)
            WHERE xmp IS NOT NULL
        )"""


# (segment, n, sr, sm, srm, smm) in CTE s: exact sufficient sums of each
# segment's q9 return r on the market return m, with the daily series.
MARKET_MODEL_SQL = f"""
        daily AS ({SEG_DAILY_SQL}),
        {MKT_RET_SQL},
        {SEG_RET_SQL},
        j AS (SELECT rs.segment, rs.r, rm.m FROM rs JOIN rm ON rm.d = rs.d),
        s AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(r) AS BIGINT) AS sr,
                   CAST(SUM(m) AS BIGINT) AS sm,
                   CAST(CAST(SUM(CAST(r AS DECIMAL(19,0)) * m) AS STRING)
                        AS DOUBLE) AS srm,
                   CAST(CAST(SUM(CAST(m AS DECIMAL(19,0)) * m) AS STRING)
                        AS DOUBLE) AS smm
            FROM j GROUP BY segment
        )"""


# ---------------------------------------------------------------------------
# Per-event_type daily event series.

def daily_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, v): daily per-type totals with each event value
    floor-quantized to 1e-6 BEFORE the sum, so daily totals are exact
    BIGINTs (order- and engine-independent) — the house cure for
    summing raw doubles."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        lsum(F.col("value")).alias("v")
    )


DAILY_Q6_SQL = f"""
            SELECT event_type, CAST(ts AS DATE) AS d,
                   {o_lsum('value')} AS v
            FROM events GROUP BY event_type, d
"""


def event_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, x): exact DECIMAL(18,6) daily value total per
    event type — one map-side-combining hash agg."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("x")
    )


EVENT_DAILY_SQL = """
            SELECT event_type, CAST(ts AS DATE) AS d,
                   SUM(CAST(value AS DECIMAL(18,6))) AS x
            FROM events GROUP BY 1, 2
"""


def _event_daily_numbered(spark: SparkSession, sf_dir: str, value: Column) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(value)
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("event_type").orderBy("d")),
        )
    )


def event_daily_rn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, x, rn): the event_daily series as DECIMAL(18,6),
    numbered per type in day order."""
    x = F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(18,6)")
    return _event_daily_numbered(spark, sf_dir, x.alias("x"))


EVENT_DAILY_RN_SQL = """
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        AS DECIMAL(18,6)) AS x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY CAST(ts AS DATE)) AS rn
            FROM events GROUP BY event_type, CAST(ts AS DATE)
"""


def event_daily_xq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, xq, rn): event_daily_rn with x as an exact BIGINT
    count of 1e-6 units."""
    x = F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(18,6)")
    return _event_daily_numbered(
        spark, sf_dir, (x * 1000000).cast("bigint").alias("xq")
    )


EVENT_DAILY_XQ_SQL = """
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xq,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY CAST(ts AS DATE)) AS rn
            FROM events GROUP BY event_type, CAST(ts AS DATE)
"""

def daily_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, v): daily totals as exact floor-scaled (1e-6)
    BIGINTs, summed in DECIMAL(38,0) — order- and engine-free."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        qsum(F.col("value")).alias("v")
    )


DAILY_SCALED_SQL = f"""
        SELECT event_type, CAST(ts AS DATE) AS day, {o_qsum('value')} AS v
        FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Document tokens.

# Token = non-empty run split on single spaces; the fixture corpus is
# space-joined. (A \s+ split would differ from DuckDB's string_split.)
SPACE = " "

# Tiny stopword list used by the quality scores; part of the declared
# semantics, not a linguistic claim.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")

# Average bigram NLL above which a document is dropped (splits ~40/60
# at every SF). A SQL literal, so both engines compare against the
# same decimal.
PPL_THRESHOLD = "3.4"

# 256 two-hex-digit buckets from the md5 of the doc id: below 'cc'
# (204) → train, below 'e6' (230) → val, rest → test. Lexicographic
# comparison of lowercase hex is identical in Spark and DuckDB, so the
# assignment is engine- and cluster-layout-independent: a doc's split
# never changes when the corpus is repartitioned or regenerated.
HASH_SPLIT_TRAIN_HI, HASH_SPLIT_VAL_HI = "cc", "e6"


def tokens(df: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) — exploded non-empty tokens."""
    return (
        df.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )


TOKENS_SQL = """
        SELECT doc_id, pos, tok FROM (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) AS pos,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) WHERE tok <> ''
"""


# ---------------------------------------------------------------------------
# Strong-trade nation graph.

def trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a<b, w): lineitem counts between each unordered pair of distinct
    supplier and customer nations — three joins and two small aggs."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return (
        e.filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .agg(F.sum("w").alias("w"))
    )


def trade_edges_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a<b) edge list of the strong-trade graph: trade_pairs at or above
    their 0.6-quantile weight — the shared base of the graph queries."""
    u = trade_pairs(spark, sf_dir)
    thr = u.select(F.expr("percentile(w, 0.6)").alias("t"))
    return (
        u.join(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("a", "b")
    )


# DuckDB twin of trade_pairs (CTE u) and of trade_edges_undirected (CTE ku).
STRONG_TRADE_CTE = """
        e AS MATERIALIZED (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY src, dst
        ),
        u AS MATERIALIZED (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   CAST(SUM(w) AS BIGINT) AS w
            FROM e WHERE src <> dst GROUP BY a, b
        ),
        thr AS MATERIALIZED (SELECT percentile_cont(0.6) WITHIN GROUP (ORDER BY w) AS t FROM u),
        ku AS MATERIALIZED (SELECT a, b FROM u, thr WHERE w >= t)"""

# STRONG_TRADE_CTE plus the symmetric neighbour list and node degrees.
GRAPH_EDGE_CTE = f"""{STRONG_TRADE_CTE},
        nbr AS MATERIALIZED (
            SELECT a AS v, b AS n FROM ku
            UNION ALL SELECT b AS v, a AS n FROM ku
        ),
        deg AS MATERIALIZED (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY v
        )
"""


# ---------------------------------------------------------------------------
# Ranks and distributions.

def midranks2(df: DataFrame, col: str, bucket_div: int) -> DataFrame:
    """(v, mr2): doubled midrank per DISTINCT value of ``col``,
    via within-bucket running counts plus an O(buckets) carry."""
    per_val = (
        df.groupBy(F.col(col).alias("v"))
        .agg(F.count(F.lit(1)).alias("t"))
        .withColumn("bkt", F.floor(F.col("v") / F.lit(bucket_div)).cast("long"))
        .persist()
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = per_val.select(
        "bkt", "v", "t", F.sum("t").over(w_in).alias("wc")
    )
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        per_val.groupBy("bkt")
        .agg(F.sum("t").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    return within.join(F.broadcast(carry), "bkt").select(
        "v",
        (
            F.lit(2) * (F.col("wc") + F.col("cb") - F.col("t"))
            + F.col("t")
            + F.lit(1)
        ).alias("mr2"),
    )


# Per-cell contribution (po - pr·pc)² / (pr·pc) to φ² of a contingency
# table whose rows carry the cell count o, its row and column margins nr,
# nc and the total n (all integers).
_PO = "CAST(o AS DOUBLE) / CAST(n AS DOUBLE)"
_PRC = (
    "(CAST(nr AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))"
)
PHI2_CELL_SQL = f"({_PO} - {_PRC}) * ({_PO} - {_PRC}) / ({_PRC})"


def ncdf_sql(d: str) -> str:
    """Abramowitz-Stegun 26.2.17 standard-normal CDF (|err| < 7.5e-8)
    as a fully-CAST SQL fragment that parses to IDENTICAL double
    arithmetic in Spark SQL and DuckDB (every literal is CAST AS
    DOUBLE — DuckDB would otherwise parse them as DECIMAL). Shared
    between engine and oracle, so the independent erf-based pytests in
    tests/test_recipes.py and tests/test_round9_ops.py guard against fragment
    bugs."""
    t = (
        "(CAST('1.0' AS DOUBLE) / (CAST('1.0' AS DOUBLE)"
        f" + CAST(0.2316419 AS DOUBLE) * abs({d})))"
    )
    poly = (
        f"((((CAST(1.330274429 AS DOUBLE) * {t}"
        f" - CAST(1.821255978 AS DOUBLE)) * {t}"
        f" + CAST(1.781477937 AS DOUBLE)) * {t}"
        f" - CAST(0.356563782 AS DOUBLE)) * {t}"
        f" + CAST(0.319381530 AS DOUBLE)) * {t}"
    )
    phi = (
        f"(exp(-((abs({d})) * (abs({d}))) / CAST(2.0 AS DOUBLE))"
        " / sqrt(CAST(2.0 AS DOUBLE) * PI()))"
    )
    nabs = f"(CAST('1.0' AS DOUBLE) - {phi} * {poly})"
    return (
        f"(CASE WHEN ({d}) >= CAST(0.0 AS DOUBLE) THEN {nabs}"
        f" ELSE CAST('1.0' AS DOUBLE) - {nabs} END)"
    )


# ---------------------------------------------------------------------------
# The five TPC-H order priorities, in rank order.

ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


# ---------------------------------------------------------------------------
# Poisson(1) inverse-CDF ladder over a 16-bit md5 bucket: the exact
# integer thresholds floor(CDF(k) * 65536). Poissonized resampling is
# the standard distributed approximation of the multinomial bootstrap
# (each row's multiplicity in a resample of n rows -> Poisson(1) as
# n grows; Chamandy et al., "Estimating Uncertainty for Massive Data
# Streams", Google TR 2012) — and unlike the multinomial it needs no
# global coordination: each (row, replicate) draws independently.
POIS_THRESH = (24109, 48218, 60273, 64291, 65296, 65497, 65530, 65535)


def pois_case(u: Column) -> Column:
    """CASE ladder mapping a 16-bit uniform to a Poisson(1) draw."""
    w = F.when(u < POIS_THRESH[0], 0)
    for idx, t in enumerate(POIS_THRESH[1:], start=1):
        w = w.when(u < t, idx)
    return w.otherwise(len(POIS_THRESH))


def pois_case_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(POIS_THRESH)
    )
    return f"CASE {arms} ELSE {len(POIS_THRESH)} END"


# ---------------------------------------------------------------------------
# Exact CUSUM single-changepoint arg-max over (event_type, d, rn, xq)
# daily series: n*prefix_t - t*S in DECIMAL(38,0), earliest-index
# tiebreak, one double division per output at the edge.

def cusum_changepoint(daily: DataFrame) -> DataFrame:
    """(event_type, n, cp_index, cp_date, cusum_peak, mean_before,
    mean_after) per series of ``daily`` (event_type, d, rn, xq)."""
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "d",
        "rn",
        F.sum("xq").over(wcum).cast("bigint").alias("prefix"),
        F.sum("xq").over(wall).cast("bigint").alias("s"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    )
    dev = pre.filter(F.col("rn") < F.col("n")).withColumn(
        "dabs",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("prefix")
            - F.col("rn").cast("decimal(38,0)") * F.col("s")
        ),
    )
    wpick = Window.partitionBy("event_type").orderBy(
        F.col("dabs").desc(), F.col("rn")
    )
    best = dev.withColumn("pick", F.row_number().over(wpick)).filter(
        F.col("pick") == 1
    )
    return best.select(
        "event_type",
        "n",
        F.col("rn").cast("bigint").alias("cp_index"),
        F.col("d").alias("cp_date"),
        (
            F.col("dabs").cast("string").cast("double")
            / (F.col("n").cast("double") * F.lit(1e6))
        ).alias("cusum_peak"),
        (
            F.col("prefix").cast("double") / (F.col("rn").cast("double") * F.lit(1e6))
        ).alias("mean_before"),
        (
            (F.col("s") - F.col("prefix")).cast("double")
            / ((F.col("n") - F.col("rn")).cast("double") * F.lit(1e6))
        ).alias("mean_after"),
    ).orderBy("event_type")


CUSUM_CHANGEPOINT_SQL = f"""
        WITH daily AS (
            {EVENT_DAILY_XQ_SQL}
        ),
        pre AS (
            SELECT event_type, d, rn, xq,
                   CAST(SUM(xq) OVER (PARTITION BY event_type ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
                   CAST(SUM(xq) OVER (PARTITION BY event_type)
                        AS BIGINT) AS s,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n
            FROM daily
        ),
        dev AS (
            SELECT event_type, d, rn, prefix, s, n,
                   abs(CAST(n AS DECIMAL(38,0)) * prefix
                       - CAST(rn AS DECIMAL(38,0)) * s) AS dabs
            FROM pre WHERE rn < n
        ),
        best AS (
            SELECT event_type, d, rn, prefix, s, n, dabs,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY dabs DESC, rn) AS pick
            FROM dev
        )
        SELECT event_type, n, CAST(rn AS BIGINT) AS cp_index, d AS cp_date,
               CAST(CAST(dabs AS STRING) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * 1e6) AS cusum_peak,
               CAST(prefix AS DOUBLE) / (CAST(rn AS DOUBLE) * 1e6)
                   AS mean_before,
               CAST(s - prefix AS DOUBLE)
                 / (CAST(n - rn AS DOUBLE) * 1e6) AS mean_after
        FROM best WHERE pick = 1
        ORDER BY event_type
    """


# ---------------------------------------------------------------------------
# Clicks and per-(user, ts) max purchases from events, the two sides of
# the backward as-of join (DuckDB ASOF LEFT JOIN on the oracle side).

CLICKS_PURCHASES_CTE = """
        WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             purchases AS (SELECT user_id, ts, MAX(value) AS value
                           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)"""

ASOF_LAST_PURCHASE_SQL = f"""{CLICKS_PURCHASES_CTE}
        SELECT c.event_id, c.user_id, c.ts, p.value AS last_purchase_value
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """
