"""UDF-surface queries: Arrow-batched pandas UDF and applyInPandas
custom aggregation, both oracle-checked (the row-at-a-time UDF and the
UDTF are API demos covered in tests/test_udfs.py, not query paths)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_etl_spark.functions.udfs import median_per_group, normalize_text_pandas
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.recipes import ASOF_LAST_PURCHASE_SQL
from finance_etl_spark.plans.registry import register


@register(
    "udf_pandas_normalize",
    tags=("udf", "text"),
    oracle="""
        SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS normalized,
               length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS n_chars,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS digest
        FROM documents
    """,
)
def udf_pandas_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF text normalization; the digest column
    proves byte-for-byte agreement with the SQL formulation."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text_pandas(F.col("text"))
    return d.select(
        "doc_id",
        norm.alias("normalized"),
        F.length(norm).alias("n_chars"),
        F.md5(norm).alias("digest"),
    )


@register(
    "udf_grouped_median",
    tags=("udf", "agg"),
    oracle="""
        SELECT o_custkey,
               median(o_totalprice) AS median_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
)
def udf_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation via applyInPandas (grouped-map UDAF): exact
    per-customer median. Each group ships to Python as one Arrow
    batch — state is O(group), the shuffle is the same hash
    partitioning a built-in agg would use."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return o.groupBy("o_custkey").applyInPandas(
        median_per_group, "o_custkey long, median_price double, n_orders long"
    )


@register(
    "udf_table_function_tokens",
    tags=("udf", "udtf", "text"),
    oracle="""
        WITH raw AS (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) AS opos,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY opos) - 1
                    AS INT) AS pos,
               tok
        FROM raw WHERE tok <> ''
    """,
)
def udf_table_function_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface: LATERAL table function emitting one row per
    token (doc_id, pos, tok). Row-at-a-time Python — registered to
    prove the API end-to-end against the oracle, NOT a hot path: the
    engine's production tokenization is the JVM-side
    posexplode(split(...)) in plans/text.py. Bounded to doc_id < 100
    accordingly."""
    from pyspark.sql.functions import udtf

    from finance_etl_spark.functions.udfs import SplitWords

    split_words = udtf(SplitWords, returnType="doc_id bigint, pos int, tok string")
    spark.udtf.register("split_words", split_words)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.tok"
        " FROM udtf_docs, LATERAL split_words(doc_id, text) t"
    )


@register(
    "udf_grouped_agg_weighted_mean",
    tags=("udf", "agg"),
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0
                 AS weighted_avg_price,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
)
def udf_grouped_agg_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True pandas UDAF via the GROUPED_AGG pandas_udf (series → scalar,
    usable inside groupBy().agg next to built-ins — unlike the
    grouped-map applyInPandas shape of udf_grouped_median):
    quantity-weighted mean price. Prices are scaled to integer cents
    inside the UDF so the int64 numerator/denominator sums are exact
    and order-independent — a float dot product in pandas would vary
    with shuffle arrival order. Arrow ships each group's columns as one
    batch; the partial-agg topology is the same hash shuffle as any
    built-in aggregate."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: the module's `from __future__ import
    # annotations` stringifies type hints, so hint-based inference
    # cannot see the Series -> scalar shape
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_mean_cents(price, qty):
        cents = (price * 100).round().astype("int64")
        q = qty.astype("int64")
        return float((cents * q).sum()) / float(q.sum()) / 100.0

    # GROUPED_AGG UDFs cannot mix with JVM aggregates in one agg(), so
    # the row count is a second pandas UDAF in the same (single) shuffle
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(price):
        return len(price)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_mean_cents("l_extendedprice", "l_quantity").alias(
            "weighted_avg_price"
        ),
        n_rows("l_extendedprice").alias("n"),
    )


@register(
    "agg_heavy_hitters",
    tags=("agg", "sketch", "pandas-udf", "text"),
    oracle="""
        WITH toks AS (
            SELECT unnest(filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ), total AS (SELECT COUNT(*) AS n FROM toks)
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM toks
        GROUP BY tok
        HAVING COUNT(*) * 1000 > (SELECT n FROM total)
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with frequency > 0.1%) found with a
    Misra-Gries candidate pass — the two-phase pattern that makes
    "frequent items" tractable at 100 TB, where a full token groupBy
    would shuffle every distinct token.

    Phase 1 (mapInPandas, per partition): a k=2000-counter Misra-Gries
    summary emits at most k candidate tokens per partition. The MG
    guarantee — any item with partition count > n_p/k survives — means
    every GLOBAL >N/1000 hitter survives in at least one partition
    (k=2000 ≥ 1000 gives 2× margin), so the candidate union is a
    superset of the answer: no false negatives, and the shuffle carries
    ≤ k×partitions candidate rows instead of every distinct token.

    Phase 2: exact counts for candidates only (semi join against the
    tiny broadcast candidate set), integer-compare count×1000 > N.
    Output is exact, so the DuckDB oracle checks it directly — the
    sketch only prunes, never approximates the final answer."""
    import pandas as pd

    K = 2000
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tok")
    )

    def mg_candidates(batches):
        # Round-15 (guide §4.2 — vectorize inside the Python worker):
        # the per-token dict loop becomes a C-path value_counts per
        # Arrow batch merged into the counter map, with the classic
        # decrement-all step applied in BULK: subtracting d from every
        # counter equals d decrement-all rounds, each performed while
        # > K counters are live, so the Misra-Gries bound (total
        # decrement per item <= n/(K+1)) — and therefore the
        # no-false-negative superset guarantee phase 2 relies on —
        # is unchanged. Phase 2 recounts candidates exactly, so the
        # final output is identical for ANY valid candidate superset.
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["tok"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > K:
                # d = smallest subtraction that leaves <= K counters:
                # the (len - K)-th smallest value
                d = sorted(counters.values())[len(counters) - K - 1]
                counters = {
                    t: v - d for t, v in counters.items() if v > d
                }
        yield pd.DataFrame({"tok": list(counters.keys())})

    cands = toks.mapInPandas(mg_candidates, "tok string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * 1000 > F.col("n"))
        .select("tok", "n_occurrences")
    )


@register(
    "udf_cogrouped_asof",
    tags=("udf", "pandas", "cogroup", "asof"),
    oracle=ASOF_LAST_PURCHASE_SQL,
)
def udf_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped applyInPandas: the two keyed relations are shuffled
    ONCE each on user_id, and each co-group (clicks_u, purchases_u)
    lands in a single Arrow-batched pandas call running
    ``pd.merge_asof`` — the escape hatch when per-key logic needs a
    real dataframe library. Semantics are pinned by the same DuckDB
    ASOF oracle as the native composition (ts_asof_join), so the
    Python path and the JVM window path are proven equivalent. Memory
    contract: one co-group must fit in a worker's Arrow batch — fine
    for per-user event history, NOT for the unkeyed whole table."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values("ts")
        right = right.sort_values("ts")
        out = pd.merge_asof(
            left,
            right.rename(columns={"ts": "p_ts"}),
            left_on="ts",
            right_on="p_ts",
            direction="backward",
            allow_exact_matches=True,
        )
        return out[["event_id", "user_id_x", "ts", "value"]].rename(
            columns={"user_id_x": "user_id", "value": "last_purchase_value"}
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            merge,
            "event_id long, user_id long, ts timestamp,"
            " last_purchase_value double",
        )
    )


@register(
    "udf_arrow_optimized_scalar",
    tags=("udf", "arrow", "spark4"),
    oracle="""
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) % 97 AS checksum_mod97,
               upper(substr(o_orderpriority, 3)) AS priority_word
        FROM orders
    """,
)
def udf_arrow_optimized_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-optimized Python UDF (``@udf(useArrow=True)``):
    row-at-a-time author ergonomics with Arrow-batched transfer —
    the migration path for legacy Python UDFs that can't become
    pandas_udfs wholesale. The plan shows ArrowEvalPython (never
    BatchEvalPython); the integer/string logic is engine-exact so the
    oracle checks values, not just shape. Built-ins remain the first
    choice — this query exists to pin the escape hatch's semantics."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def mod97(total: float) -> int:
        return int(total * 100) % 97

    @udf("string", useArrow=True)
    def priority_word(p: str) -> str:
        return p[2:].upper()

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        mod97("o_totalprice").alias("checksum_mod97"),
        priority_word("o_orderpriority").alias("priority_word"),
    )


@register(
    "udf_map_in_arrow",
    tags=("udf", "arrow", "batch"),
    oracle="""
        SELECT doc_id,
               length(text) AS n_chars,
               octet_length(encode(text)) AS n_bytes,
               doc_id * 2 + length(text) AS arrow_checksum
        FROM documents
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the lowest-level Arrow escape hatch — the function
    sees raw ``pyarrow.RecordBatch``es, no pandas conversion at all,
    which matters when the payload is large binary/text (pandas
    object-dtype boxing costs more than the compute). Byte and
    character lengths plus an integer checksum are computed with
    pyarrow.compute kernels; exact integers make the whole thing
    oracle-checkable. Completes the Python-interop matrix: pandas UDF,
    GROUPED_AGG, grouped/co-grouped applyInPandas, mapInPandas,
    applyInPandasWithState, transformWithState, Arrow-optimized row
    UDF, UDTF, and now record-batch-level mapInArrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        for rb in it:
            doc_id = rb.column(0)
            text = rb.column(1)
            n_chars = pc.utf8_length(text)
            n_bytes = pc.binary_length(text)
            checksum = pc.add(
                pc.multiply(doc_id, pa.scalar(2, doc_id.type)),
                pc.cast(n_chars, doc_id.type),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    doc_id,
                    pc.cast(n_chars, pa.int64()),
                    pc.cast(n_bytes, pa.int64()),
                    checksum,
                ],
                names=["doc_id", "n_chars", "n_bytes", "arrow_checksum"],
            )

    return d.mapInArrow(
        batches,
        "doc_id long, n_chars long, n_bytes long, arrow_checksum long",
    )


@register(
    "udf_arrow_udtf_lateral",
    tags=("udf", "udtf", "arrow"),
    oracle="""
        WITH sample AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
        ),
        words AS (
            SELECT s.doc_id, w.word
            FROM sample s,
                 LATERAL (SELECT unnest(filter(
                     string_split(s.text, ' '), t -> t <> '')) AS word) w
        )
        SELECT len(word) AS word_len,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct
        FROM words GROUP BY 1
    """,
)
def udf_arrow_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDTF (Spark 4 ``@udtf(useArrow=True)``)
    applied LATERALLY: each sampled document's text expands to one row
    per word via the table function, then a word-length profile
    aggregates the expansion. Arrow batches the UDTF's input AND
    output (no row-at-a-time pickling — the difference between this
    and the classic Python UDTF is the same Arrow-vs-pickle gap as
    pandas_udf vs udf); the oracle replays the expansion relationally.

    Scale: the UDTF is map-side (one Python worker pass per
    partition); the only shuffle is the final word-length agg. The
    %50 sample bounds the demo — the plan is identical unsampled."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id long, word string", useArrow=True)
    class SplitWords:
        def eval(self, doc_id: int, text: str):
            for w in text.split():
                if w:
                    yield (doc_id, w)

    spark.udtf.register("split_words_arrow", SplitWords)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 50 == 0
    )
    d.createOrReplaceTempView("udtf_sample_docs")
    words = spark.sql(
        "SELECT w.doc_id, w.word FROM udtf_sample_docs s, "
        "LATERAL split_words_arrow(s.doc_id, s.text) w"
    )
    return words.groupBy(F.length("word").alias("word_len")).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("word").alias("n_distinct"),
    )


@register(
    "udf_window_grouped_agg",
    tags=("udf", "window"),
    oracle="""
        SELECT user_id, event_id,
               CAST(SUM(CAST(round(value * 1000000) AS BIGINT))
                        OVER w AS DOUBLE)
                 / CAST(COUNT(*) OVER w AS DOUBLE) / 1000000.0
                   AS trailing_mean
        FROM events
        WHERE user_id % 50 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id
    """,
)
def udf_window_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF as a WINDOW function (WindowInPandas): the same
    GROUPED_AGG pandas_udf shape as udf_grouped_agg_weighted_mean, but
    evaluated over a bounded trailing frame — Spark ships each frame's
    slice to Python via Arrow and the UDAF folds it, which is how
    custom rolling logic (trailing robust means, custom decay) runs
    distributed without a driver loop. Values scale to integer
    micro-units inside the UDF so the frame sum is exact int64 and the
    result is bit-identical to the oracle's integer window sum —
    demonstrating the determinism contract survives the Python window
    path. Frames are per-user and tiny; the one shuffle is the window
    partitioning itself."""
    from pyspark.sql import Window
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trailing_mean_micro(v):
        micro = (v * 1000000).round().astype("int64")
        return float(micro.sum()) / float(len(micro)) / 1000000.0

    e = load_table(spark, sf_dir, "events").filter(
        F.pmod(F.col("user_id"), F.lit(50)) == 0
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            trailing_mean_micro(F.col("value")).over(w).alias("trailing_mean"),
        )
        .orderBy("user_id", "event_id")
    )
