"""Scalar function surface (SURVEY.md §2.B): string, date, math,
conditional, hash, and JSON functions — all JVM built-ins inside
whole-stage codegen; no Python in the row path.

Float note: only per-row IEEE-exact operations (+,-,*,/, round, abs,
ceil, floor, sqrt) appear in oracle-checked outputs; transcendentals
(ln/exp/pow) are libm-dependent across engines and live in the
non-oracled `math_transcendental` query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_etl_spark.io.readers import load_table
from finance_etl_spark.plans.registry import register


@register(
    "scalar_string_funcs",
    tags=("scalar", "string"),
    oracle="""
        SELECT p_partkey,
               upper(p_brand) AS brand_upper,
               lower(p_type) AS type_lower,
               substring(p_name, 1, 8) AS name_prefix,
               trim(p_name) AS name_trim,
               length(p_name) AS name_len,
               concat(p_brand, ':', p_type) AS brand_type,
               regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
               regexp_replace(p_name, ' ', '_') AS name_snake,
               split_part(p_type, ' ', 1) AS type_head,
               (p_type LIKE '%BRUSHED%') AS is_brushed,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
               reverse(p_brand) AS brand_rev,
               replace(p_brand, '#', '-') AS brand_dash
        FROM part WHERE p_partkey <= 100
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery over part."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.trim("p_name").alias("name_trim"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.regexp_extract("p_type", r"([A-Z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.col("p_type").like("%BRUSHED%").alias("is_brushed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("brand_dash"),
    )


@register(
    "scalar_levenshtein",
    tags=("scalar", "string", "similarity"),
    oracle="""
        SELECT n1.n_name AS a, n2.n_name AS b,
               levenshtein(n1.n_name, n2.n_name) AS edit_dist
        FROM nation n1 JOIN nation n2 ON n1.n_nationkey < n2.n_nationkey
        WHERE levenshtein(n1.n_name, n2.n_name) <= 4
    """,
)
def scalar_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance pairs among nation names (fuzzy string matching)."""
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("k1"), F.col("n_name").alias("a"))
    n2 = n.select(F.col("n_nationkey").alias("k2"), F.col("n_name").alias("b"))
    return (
        n1.join(n2, F.col("k1") < F.col("k2"))
        .withColumn("edit_dist", F.levenshtein("a", "b"))
        .filter(F.col("edit_dist") <= 4)
        .select("a", "b", "edit_dist")
    )


@register(
    "scalar_date_funcs",
    tags=("scalar", "date"),
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dy,
               quarter(o_orderdate) AS qtr,
               isodow(o_orderdate) AS iso_dow,
               strftime(o_orderdate, '%Y-%m') AS ym,
               strftime(o_orderdate, '%Y-%m-%d') AS iso_date,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS days_to_y2k,
               strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
               strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
        FROM orders WHERE o_orderkey <= 500
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery over orders.

    Derived calendar values are presented as ISO strings where engines'
    native date types differ in client representation.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dy"),
        F.quarter(d).alias("qtr"),
        (F.weekday(d) + 1).alias("iso_dow"),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.date_format(d, "yyyy-MM-dd").alias("iso_date"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("timestamp"), d).alias("days_to_y2k"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3mo"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
    )


@register(
    "scalar_math_funcs",
    tags=("scalar", "math"),
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(12,2)), 2) AS DOUBLE)
                   AS disc_amount,
               abs(l_quantity - 25) AS qty_dev,
               CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
               CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
               CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
               sqrt(l_quantity) AS qty_sqrt,
               CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
               greatest(l_tax, l_discount) AS max_rate,
               least(l_tax, l_discount) AS min_rate
        FROM lineitem WHERE l_orderkey <= 200
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery (IEEE-exact ops only) over lineitem."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # the product rounds at an exact decimal, not a float: a double
        # product can land exactly on a .005 boundary where the engines'
        # round() disagree (binary-value vs shortest-string rounding —
        # caught at sf0.001); the decimal(25,4) product is exact and
        # both engines round it half-away-from-zero
        F.round(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(12,2)"),
            2,
        )
        .cast("double")
        .alias("disc_amount"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_k_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k_floor"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register("math_transcendental", tags=("scalar", "math", "approx"))
def math_transcendental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcendental functions (ln/exp/pow) — libm results differ by
    ulps across engines, so this is a rows-only query; pytest asserts
    values against Python's math module within 1e-12."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 50)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.log(F.col("l_extendedprice")).alias("ln_price"),
        F.exp(F.col("l_discount")).alias("exp_disc"),
        F.pow(F.col("l_quantity"), 1.5).alias("qty_pow"),
    )


@register(
    "scalar_conditional",
    tags=("scalar", "conditional"),
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice >= 300000 THEN 'large'
                    WHEN o_totalprice >= 100000 THEN 'medium'
                    ELSE 'small' END AS size_bucket,
               coalesce(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
               NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS priority_or_null,
               (CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS finished_price
        FROM orders WHERE o_orderkey <= 300
    """,
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """case/when, coalesce, nullif, conditional projection."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.nullif("o_orderpriority", F.lit("4-NOT SPECIFIED")).alias("priority_or_null"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).alias(
            "finished_price"
        ),
    )


@register(
    "scalar_hash_funcs",
    tags=("scalar", "hash"),
    oracle="""
        SELECT c_custkey,
               md5(c_name) AS name_md5,
               sha256(c_name) AS name_sha256,
               md5(concat(CAST(c_custkey AS VARCHAR), '#', c_mktsegment)) AS composite_md5
        FROM customer WHERE c_custkey <= 100
    """,
)
def scalar_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hashing: md5 / sha2-256 (reference T2 primitive)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        F.md5(
            F.concat(F.col("c_custkey").cast("string"), F.lit("#"), F.col("c_mktsegment"))
        ).alias("composite_md5"),
    )


@register(
    "json_extract_events",
    tags=("scalar", "json"),
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column + aggregation."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "json_schema_parse",
    tags=("scalar", "json"),
    oracle="""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events WHERE event_id <= 200
    """,
)
def json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema (typed struct access)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 200)
    parsed = F.from_json(F.col("props"), "struct<k:bigint>")
    return e.select("event_id", parsed.getField("k").alias("k"))


@register(
    "array_map_ops",
    tags=("scalar", "array", "map"),
    oracle="""
        SELECT vec_id,
               len(embedding) AS n_dims,
               CAST(embedding[1] AS DOUBLE) AS first_val,
               CAST(embedding[64] AS DOUBLE) AS last_val,
               '[' || array_to_string(list_transform(embedding[1:4],
                   x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,10))
                             AS VARCHAR)), ',') || ']' AS head4,
               '[' || array_to_string(list_transform(list_sort(embedding[1:4]),
                   x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,10))
                             AS VARCHAR)), ',') || ']' AS head4_sorted,
               CAST(list_max(embedding) AS DOUBLE) AS max_val,
               len(list_filter(embedding, x -> x > 0)) AS n_positive,
               (CASE label WHEN 0 THEN 'cluster-a' WHEN 1 THEN 'cluster-b' END)
                   AS label_name
        FROM embeddings
    """,
)
def array_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/map expression surface over a real vector column: size,
    element access, slice, sort, max, lambda filter, and literal-map
    lookup — all inside whole-stage codegen (SURVEY §2.B array/map).
    The two array-valued results are SERIALIZED to a canonical
    '[v1,...]' string at the presentation edge (per-element double →
    DECIMAL(20,10) → string, byte-identical across engines): raw
    ARRAY columns crash the round driver's pandas canonicalizer
    (r6 lesson), and to_json is NOT format-stable cross-engine
    (Java scientific notation under 1e-3; DuckDB trims trailing
    zeros)."""
    from finance_etl_spark.functions.vectors import (
        serialize_double_array as ser,
    )
    from finance_etl_spark.io.readers import load_table as _lt

    e = _lt(spark, sf_dir, "embeddings")
    head4 = F.slice("embedding", 1, 4)
    lookup = F.create_map(
        F.lit(0), F.lit("cluster-a"), F.lit(1), F.lit("cluster-b")
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.element_at("embedding", 64).cast("double").alias("last_val"),
        ser(head4).alias("head4"),
        ser(F.sort_array(head4)).alias("head4_sorted"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        lookup[F.col("label")].alias("label_name"),
    )


@register(
    "json_variant_extract",
    tags=("scalar", "json", "variant"),
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0
                   AS k_mod10
        FROM events WHERE event_id <= 300
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4): parse_json into a binary
    variant column once, then typed variant_get path extraction — the
    open-schema path for evolving event payloads, where from_json's
    fixed struct (json_schema_parse) would need a migration per new
    field. Variant parse + access stay JVM-side (no Python); predicate
    on event_id still pushes to the scan below the parse."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 300)
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return e.select(
        "event_id",
        k.alias("k"),
        (k % 10 == 0).alias("k_mod10"),
    )


@register(
    "scalar_timezone_convert",
    tags=("scalar", "date", "timezone"),
    oracle="""
        SELECT hour(timezone('America/New_York', CAST(ts AS TIMESTAMPTZ)))
                 AS ny_hour,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(CASE WHEN CAST(timezone('America/New_York',
                        CAST(ts AS TIMESTAMPTZ)) AS DATE) <> CAST(ts AS DATE)
                    THEN 1 END) AS BIGINT) AS n_date_shifted
        FROM events
        GROUP BY ny_hour
    """,
)
def scalar_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-aware analytics on naive-UTC event times: wall-clock
    conversion to America/New_York (DST-correct through the IANA tzdb
    on both engines), bucketed by local hour with a count of events
    whose civil DATE shifts across the conversion. Output is integers
    only, so the differential check is immune to timestamp-kind
    differences; the session timezone stays UTC (session.py) — storage
    is always UTC, presentation is an expression, which is the only
    sane 100 TB timezone policy."""
    e = load_table(spark, sf_dir, "events")
    ny = F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), F.col("ts"))
    return (
        e.groupBy(F.hour(ny).alias("ny_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(
                F.when(ny.cast("date") != F.col("ts").cast("date"), 1)
            ).alias("n_date_shifted"),
        )
    )


@register(
    "scalar_date_arith",
    tags=("scalar", "date"),
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS d,
               quarter(o_orderdate) AS qtr,
               dayofyear(o_orderdate) AS doy,
               weekofyear(o_orderdate) AS iso_week,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                              DATE '1998-12-31') AS INT) AS days_to_eoy
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic battery (the month-end / quarter / ISO-week
    logic every financial reporting pipeline needs): quarter, day-of-
    year, ISO week, last_day, add_months, day diff — all JVM built-ins
    in one codegen'd projection, all engine-portable (dayofweek is
    deliberately absent: Spark counts Sunday=1 where DuckDB counts
    Sunday=0 — an off-by-one trap, so week handling here stays on the
    unambiguous ISO week number)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.quarter(d).alias("qtr"),
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("iso_week"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus_3m"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
    )


@register(
    "array_explode_outer",
    tags=("scalar", "array", "explode"),
    oracle="""
        WITH per_doc AS (
            SELECT doc_id, source,
                   len(list_filter(string_split(text, ' '),
                                   t -> length(t) >= 9)) AS n_long
            FROM documents
        )
        SELECT source,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(n_long) AS BIGINT) AS n_long_tokens,
               CAST(COUNT(DISTINCT CASE WHEN n_long = 0 THEN doc_id END)
                    AS BIGINT) AS n_docs_without
        FROM per_doc
        GROUP BY source
    """,
)
def array_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer semantics: flattening long tokens per document
    WITHOUT losing the documents whose filtered array is empty — plain
    explode drops them (an inner-join-shaped Generate), explode_outer
    emits one null row instead, so downstream per-source counts still
    see every document. The oracle computes the same counts from
    per-row array lengths — same answer, which is exactly the property
    explode must NOT silently break."""
    d = load_table(spark, sf_dir, "documents")
    long_toks = F.filter(F.split("text", " "), lambda t: F.length(t) >= 9)
    flat = d.select(
        "doc_id", "source", F.explode_outer(long_toks).alias("tok")
    )
    return flat.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("tok").alias("n_long_tokens"),
        F.count_distinct(
            F.when(F.col("tok").isNull(), F.col("doc_id"))
        ).alias("n_docs_without"),
    )


@register(
    "scalar_string_advanced",
    tags=("scalar", "string"),
    oracle="""
        SELECT n_nationkey,
               split_part(n_name, '_', 1) AS prefix,
               split_part(n_name, '_', 2) AS num_part,
               lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded_key,
               translate(n_name, '_', '-') AS dashed,
               reverse(n_name) AS reversed,
               repeat('*', CAST(n_regionkey AS INT) + 1) AS stars,
               CAST(strpos(n_name, '_') AS INT) AS underscore_at,
               CAST(length(regexp_extract_all(n_name, '[0-9]+')[1])
                    AS INT) AS digit_run_len
        FROM nation
    """,
)
def scalar_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string battery — the portable manipulation set beyond
    scalar_string_funcs: split_part, lpad, translate, reverse, repeat,
    strpos (1-based, 0 when absent — both engines agree), and
    regexp_extract_all element access. All JVM built-ins in one
    codegen'd projection; Java and RE2-style regex agree on the
    character classes used."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.split_part(F.col("n_name"), F.lit("_"), F.lit(1)).alias("prefix"),
        F.split_part(F.col("n_name"), F.lit("_"), F.lit(2)).alias("num_part"),
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("padded_key"),
        F.translate("n_name", "_", "-").alias("dashed"),
        F.reverse("n_name").alias("reversed"),
        F.repeat(F.lit("*"), F.col("n_regionkey") + 1).alias("stars"),
        F.instr("n_name", "_").alias("underscore_at"),
        F.length(
            F.get(F.regexp_extract_all("n_name", F.lit("[0-9]+"), F.lit(0)), 0)
        ).cast("int").alias("digit_run_len"),
    )


@register(
    "scalar_url_funcs",
    tags=("scalar", "string", "url"),
    oracle="""
        SELECT c_custkey,
               'https://shop.example.com/seg/' || lower(c_mktsegment)
                   || '/cust?id=' || c_custkey || '&tier=t'
                   || (c_custkey % 3) AS url,
               'shop.example.com' AS host,
               '/seg/' || lower(c_mktsegment) || '/cust' AS path,
               'id=' || c_custkey || '&tier=t' || (c_custkey % 3) AS query,
               CAST(c_custkey AS VARCHAR) AS q_id,
               't' || (c_custkey % 3) AS q_tier
        FROM customer
    """,
)
def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scalar family: build a synthetic URL per customer, then
    take it apart with ``parse_url`` (HOST / PATH / QUERY / keyed
    query param). The oracle reconstructs every part from the same
    ground-truth inputs, so the differential check proves Spark's
    parser round-trips the construction exactly — the
    log-processing/web-corpus shape (URL normalization before URL
    dedup) with zero Python in the row path."""
    c = load_table(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop.example.com/seg/"),
        F.lower("c_mktsegment"),
        F.lit("/cust?id="),
        F.col("c_custkey").cast("string"),
        F.lit("&tier=t"),
        (F.col("c_custkey") % 3).cast("string"),
    )
    return c.select(
        "c_custkey",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("q_id"),
        F.parse_url(url, F.lit("QUERY"), F.lit("tier")).alias("q_tier"),
    )


@register(
    "scalar_mask_pii",
    tags=("scalar", "string", "pii", "curation"),
    oracle="""
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(
                   c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
                   '[0-9]', 'n', 'g') AS masked_name,
               regexp_replace(regexp_replace(regexp_replace(
                   c_mktsegment, '[A-Z]', 'Q', 'g'), '[a-z]', 'q', 'g'),
                   '[0-9]', '#', 'g') AS masked_segment
        FROM customer
    """,
)
def scalar_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``mask()`` PII masking (class-preserving redaction:
    uppercase→X, lowercase→x, digit→n, punctuation kept) — the
    governance primitive for sharing data shapes without values,
    complementing cur_pii_redact's pattern-targeted rewrite. The
    oracle reproduces the masking rule with regexp chains over the
    same ASCII inputs, so the differential check pins the exact
    per-character semantics."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr("mask(c_name)").alias("masked_name"),
        F.expr("mask(c_mktsegment, 'Q', 'q', '#')").alias("masked_segment"),
    )


@register(
    "scalar_aes_roundtrip",
    tags=("scalar", "crypto", "governance"),
    oracle="""
        SELECT c_custkey, c_name,
               TRUE AS roundtrip_ok,
               32 AS cipher_len
        FROM customer
    """,
)
def scalar_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface: aes_encrypt/aes_decrypt
    round-trip on the customer name (ECB mode — deterministic, so the
    ciphertext length is checkable; GCM's random IV is the production
    default but non-deterministic by design). The oracle pins the
    CLAIM — every row round-trips and the 18-char name pads to two
    16-byte AES blocks — so a Spark-side regression in either
    direction (bad key handling, charset drift) breaks the hash
    match."""
    c = load_table(spark, sf_dir, "customer")
    enc = F.expr(
        "aes_encrypt(c_name, '0123456789abcdef', 'ECB')"
    )
    dec = F.expr(
        "CAST(aes_decrypt(aes_encrypt(c_name, '0123456789abcdef', 'ECB'),"
        " '0123456789abcdef', 'ECB') AS STRING)"
    )
    return c.select(
        "c_custkey",
        "c_name",
        (dec == F.col("c_name")).alias("roundtrip_ok"),
        F.length(enc).alias("cipher_len"),
    )


@register(
    "scalar_map_functions",
    tags=("scalar", "map", "hof"),
    oracle="""
        WITH m AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(l_quantity AS DOUBLE) AS qty,
                   CAST(l_extendedprice AS DOUBLE) AS price,
                   CAST(l_discount AS DOUBLE) AS disc
            FROM lineitem WHERE l_orderkey < 100
        )
        SELECT l_orderkey, l_linenumber, metric, value
        FROM (
            SELECT l_orderkey, l_linenumber, 'qty' AS metric,
                   qty * 100 AS value FROM m
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'price', price * 100 FROM m
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'disc', disc * 100 FROM m
        )
        WHERE value > 50
    """,
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAP higher-order-function surface: measures assembled into a
    typed map column (map_from_arrays), uniformly rescaled map-side
    (transform_values), threshold-pruned per entry (map_filter), and
    flattened back to relational rows (explode of the map) — the shape
    feature stores use for sparse per-entity metric bags. All four ops
    are JVM catalyst expressions over the map type, zero shuffles
    until the final explode; the oracle is the equivalent relational
    unpivot+filter, proving the map pipeline is just a typed reshape."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    m = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price"), F.lit("disc")),
        F.array(
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
            F.col("l_discount").cast("double"),
        ),
    )
    scaled = F.transform_values(m, lambda k, v: v * 100)
    pruned = F.map_filter(scaled, lambda k, v: v > 50)
    return (
        li.select("l_orderkey", "l_linenumber", pruned.alias("mm"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.explode("mm").alias("metric", "value"),
        )
    )


@register(
    "scalar_deterministic_uuid",
    tags=("scalar", "keys"),
    oracle="""
        SELECT o_orderkey,
               concat(
                   substr(h, 1, 8), '-',
                   substr(h, 9, 4), '-',
                   '5', substr(h, 14, 3), '-',
                   CASE WHEN strpos('0123456789abcdef', substr(h, 17, 1))
                             - 1 < 8
                        THEN concat('8', substr(h, 18, 3))
                        WHEN strpos('0123456789abcdef', substr(h, 17, 1))
                             - 1 < 12
                        THEN concat('9', substr(h, 18, 3))
                        WHEN strpos('0123456789abcdef', substr(h, 17, 1))
                             - 1 < 14
                        THEN concat('a', substr(h, 18, 3))
                        ELSE concat('b', substr(h, 18, 3)) END, '-',
                   substr(h, 21, 12)) AS order_uuid
        FROM (
            SELECT o_orderkey,
                   md5('orders#' || CAST(o_orderkey AS VARCHAR)) AS h
            FROM orders
        )
        WHERE o_orderkey <= 1000
    """,
)
def scalar_deterministic_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic name-based UUIDs (RFC-4122 v5 SHAPE over md5, like
    v3): namespace#key hashed once, version nibble forced to 5 and the
    variant nibble folded into 8–b — the standard trick for STABLE
    synthetic identifiers that survive re-runs and joins across
    systems, where uuid()/monotonically_increasing_id() would mint new
    keys per run (the same idempotency motivation as the reference's
    MD5 surrogate key, utils/data_manager.py:54-68, taken to a
    cross-system format). Pure string expressions — codegen, no
    shuffle, engine-exact."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .withColumn(
            "h",
            F.md5(
                F.concat(F.lit("orders#"), F.col("o_orderkey").cast("string"))
            ),
        )
    )
    h = F.col("h")
    nib = F.expr("instr('0123456789abcdef', substring(h, 17, 1))") - 1
    variant = (
        F.when(nib < 8, F.concat(F.lit("8"), F.substring(h, 18, 3)))
        .when(nib < 12, F.concat(F.lit("9"), F.substring(h, 18, 3)))
        .when(nib < 14, F.concat(F.lit("a"), F.substring(h, 18, 3)))
        .otherwise(F.concat(F.lit("b"), F.substring(h, 18, 3)))
    )
    return o.select(
        "o_orderkey",
        F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.concat(F.lit("5"), F.substring(h, 14, 3)),
            variant,
            F.substring(h, 21, 12),
        ).alias("order_uuid"),
    )


@register(
    "scalar_luhn_validate",
    tags=("scalar", "validation", "finance"),
    oracle="""
        WITH pans AS (
            SELECT c_custkey,
                   '4' || lpad(CAST(c_custkey * 37 % 100000000 AS VARCHAR),
                               8, '0')
                       || lpad(CAST(c_custkey * 101 % 1000000 AS VARCHAR),
                               6, '0') AS pan15
            FROM customer
        ),
        digits AS (
            SELECT c_custkey, pan15, i,
                   CAST(substr(pan15, 16 - i, 1) AS BIGINT) AS d
            FROM pans
            CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS i) s
        ),
        summed AS (
            SELECT c_custkey, pan15,
                   CAST(SUM(CASE WHEN i % 2 = 1 THEN
                        CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                        ELSE d END) AS BIGINT) AS luhn_sum
            FROM digits GROUP BY c_custkey, pan15
        )
        SELECT c_custkey,
               pan15 || CAST((10 - luhn_sum % 10) % 10 AS VARCHAR) AS pan,
               CAST((10 - luhn_sum % 10) % 10 AS BIGINT) AS check_digit,
               ((luhn_sum + (10 - luhn_sum % 10) % 10) % 10 = 0)
                   AS luhn_valid
        FROM summed
        ORDER BY c_custkey
        LIMIT 500
    """,
)
def scalar_luhn_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum (ISO/IEC 7812) computation and validation over
    synthetic 16-digit PANs derived deterministically from the
    customer key: the 15 payload digits explode against a broadcast
    position spine, doubled-every-second-from-the-right with the
    digits-sum fold expressed as d*2-9, the check digit closes the
    sum to a multiple of 10, and validity is re-verified from the
    completed number — all exact integer/string operations. This is
    the ingest-validation primitive every payments pipeline runs on
    card-number columns; the explode-against-spine shape is the
    scale-safe per-character loop."""
    c = load_table(spark, sf_dir, "customer")
    pans = c.select(
        "c_custkey",
        F.concat(
            F.lit("4"),
            F.lpad((F.col("c_custkey") * 37 % 100000000).cast("string"), 8, "0"),
            F.lpad((F.col("c_custkey") * 101 % 1000000).cast("string"), 6, "0"),
        ).alias("pan15"),
    )
    spine = spark.range(1, 16).select(F.col("id").cast("int").alias("i"))
    digits = pans.crossJoin(F.broadcast(spine)).select(
        "c_custkey",
        "pan15",
        "i",
        F.substring(F.col("pan15"), F.lit(16) - F.col("i"), 1)
        .cast("bigint")
        .alias("d"),
    )
    term = F.when(
        F.col("i") % 2 == 1,
        F.when(F.col("d") * 2 > 9, F.col("d") * 2 - 9).otherwise(F.col("d") * 2),
    ).otherwise(F.col("d"))
    summed = digits.groupBy("c_custkey", "pan15").agg(
        F.sum(term).cast("bigint").alias("luhn_sum")
    )
    check = (10 - F.col("luhn_sum") % 10) % 10
    return (
        summed.select(
            "c_custkey",
            F.concat(F.col("pan15"), check.cast("string")).alias("pan"),
            check.cast("bigint").alias("check_digit"),
            ((F.col("luhn_sum") + check) % 10 == 0).alias("luhn_valid"),
        )
        .orderBy("c_custkey")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# array_hof_stats — higher-order array function surface


@register(
    "array_hof_stats",
    tags=("array", "agg"),
    oracle="""
        WITH arrs AS (
            SELECT l.l_orderkey,
                   list(CAST(l.l_quantity AS BIGINT)
                        ORDER BY l.l_linenumber) AS qs
            FROM lineitem l GROUP BY l.l_orderkey
        ),
        hof AS (
            SELECT a.l_orderkey,
                   len(a.qs) AS n_lines,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(
                               list_filter(a.qs, q -> q > 25),
                               q -> q * 2)),
                       (acc, x) -> acc + x) AS hi_doubled
            FROM arrs a
        )
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(h.n_lines) AS BIGINT) AS total_lines,
               CAST(SUM(h.hi_doubled) AS BIGINT) AS total_hi_doubled,
               CAST(MAX(h.n_lines) AS BIGINT) AS max_lines
        FROM hof h JOIN orders o ON o.o_orderkey = h.l_orderkey
        GROUP BY o.o_orderpriority ORDER BY priority
    """,
)
def array_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function surface in one verifiable pipeline:
    per order, the line quantities are collected in LINE ORDER
    (array_sort over (linenumber, qty) structs vs list(... ORDER BY) —
    the pinned-order collect recipe), then filter (> 25) -> transform
    (x2) -> aggregate (sum) runs entirely inside the array — the
    transform/filter/aggregate trio Spark executes in whole-stage
    codegen (no UDF, no explode round-trip; compare
    array_explode_outer's row-fan-out shape). Quantities are exact
    integers so every HOF output is integer; the per-priority rollup
    is exact sums. Scale: one orderkey shuffle to build arrays (basket
    size is scale-free), one AQE-sized orders join, one 5-row agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    arrs = li.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "q"))),
            lambda s: s["q"],
        ).alias("qs")
    )
    hof = arrs.select(
        "l_orderkey",
        F.size("qs").cast("bigint").alias("n_lines"),
        F.aggregate(
            F.transform(
                F.filter(F.col("qs"), lambda q: q > 25),
                lambda q: q * 2,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("hi_doubled"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return (
        hof.join(o, hof.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("n_lines").cast("bigint").alias("total_lines"),
            F.sum("hi_doubled").cast("bigint").alias("total_hi_doubled"),
            F.max("n_lines").cast("bigint").alias("max_lines"),
        )
        .orderBy("priority")
    )
