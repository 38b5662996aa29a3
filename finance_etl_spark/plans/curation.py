"""Dataset-curation operators for training-data pipelines: deterministic
train/val/test splitting, composite quality filtering, near-duplicate
*clustering* (connected components over the candidate-pair graph), CDC
latest-record compaction, and wide→long unpivot.

These compose the primitives elsewhere in the engine (hashing from
functions/keys.py, near-dup pairs from plans/text.py, windows from
plans/relational.py) into the shapes a 100-TB corpus pipeline actually
runs: split before training, filter before tokenization, collapse
duplicate groups to one survivor, compact mutable feeds to
latest-state.

Cross-engine determinism: splits hash with md5 (identical hex in Spark
and DuckDB — xxhash64 exists only in Spark), ratio arithmetic is plain
IEEE division, and any ordering-sensitive reduction uses the decimal
dsum contract from plans/registry.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import finance_etl_spark.plans.text  # noqa: F401  (registers the pairs query)
from finance_etl_spark.functions.money import as_d, dsum, o_dsum
from finance_etl_spark.io.readers import load_table, load_table_parallel
from finance_etl_spark.operators.components import (
    connected_components,
    label_propagation,
)
from finance_etl_spark.operators.iterate import iterate
from finance_etl_spark.plans.recipes import (
    GRAPH_EDGE_CTE,
    HASH_SPLIT_TRAIN_HI,
    HASH_SPLIT_VAL_HI,
    STOPWORDS,
    STRONG_TRADE_CTE,
    TOKENS_SQL,
    trade_edges_undirected,
    trade_pairs,
)
from finance_etl_spark.plans.registry import get, register, run_sql, scratch_dir


@register(
    "cur_hash_split",
    tags=("curation", "split"),
    oracle=f"""
        SELECT CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) < '{HASH_SPLIT_TRAIN_HI}'
                      THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) < '{HASH_SPLIT_VAL_HI}'
                      THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               AVG(n_chars) AS avg_chars
        FROM documents
        GROUP BY split
    """,
)
def cur_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split by md5(doc_id)
    bucket — the standard leakage-safe way to split a corpus that keeps
    growing: membership depends only on the id, never on row order,
    partitioning, or corpus size. One hash-aggregate, no shuffle of the
    text payload (only the stats columns move)."""
    return run_sql(spark, sf_dir, "cur_hash_split")


# Composite quality rules (Gopher-style, arithmetic-only so every rule
# is a JVM built-in and the whole filter is one codegen'd projection):
# word count in [wc_lo, wc_hi], mean word length in [mwl_lo, mwl_hi],
# alphabetic-character ratio >= alpha_lo, at least one stopword.
_WC_LO, _WC_HI = 5, 5000
_MWL_LO, _MWL_HI = 2.0, 15.0
_ALPHA_LO = 0.55


def _quality_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
        WITH m AS (
            SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS n_words,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                     AS n_alpha,
                   length(text) AS n_chars_txt,
                   len(list_intersect(string_split(lower(text), ' '),
                                      [{stop_list}])) AS stop_hits
            FROM documents
        )
        SELECT doc_id, n_words,
               CASE WHEN n_words > 0
                    THEN CAST(n_nonspace AS DOUBLE) / n_words END AS mean_word_len,
               CASE WHEN n_chars_txt > 0
                    THEN CAST(n_alpha AS DOUBLE) / n_chars_txt END AS alpha_ratio,
               stop_hits,
               (n_words BETWEEN {_WC_LO} AND {_WC_HI}
                AND CAST(n_nonspace AS DOUBLE) / n_words
                      BETWEEN {_MWL_LO} AND {_MWL_HI}
                AND CAST(n_alpha AS DOUBLE) / n_chars_txt >= {_ALPHA_LO}
                AND stop_hits >= 1) AS passes
        FROM m
    """


@register(
    "cur_quality_filter",
    headline=True,
    tags=("curation", "text", "filter"),
    oracle=_quality_oracle(),
)
def cur_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate per document. Every metric is
    computed from string built-ins in a single projection — no explode,
    no shuffle, no Python — so at 100 TB this is a pure map stage that
    fuses into the scan. Round-15 (optimization): read through
    load_table_parallel — the regex-heavy projection is exactly the
    scan→heavy-compute shape the adaptive loader exists for, and the
    fixture's single-row-group layout otherwise runs it on ONE task
    (alternating min-of-5 A/B at sf0.1, quiet: 0.565 s → 0.459 s; a
    structural no-op on a properly split table)."""
    d = load_table_parallel(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    toks = F.filter(F.split(lower, " "), lambda x: x != "")
    n_words = F.size(toks)
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    n_alpha = F.length(F.regexp_replace(lower, "[^a-z]", ""))
    n_chars_txt = F.length(F.col("text"))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    mwl = F.when(n_words > 0, n_nonspace.cast("double") / n_words)
    alpha = F.when(n_chars_txt > 0, n_alpha.cast("double") / n_chars_txt)
    passes = (
        n_words.between(_WC_LO, _WC_HI)
        & (n_nonspace.cast("double") / n_words).between(_MWL_LO, _MWL_HI)
        & (n_alpha.cast("double") / n_chars_txt >= _ALPHA_LO)
        & (stop_hits >= 1)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha.alias("alpha_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        passes.alias("passes"),
    )


def _cc_oracle() -> str:
    # Transitive closure by recursive CTE is the ANSI-expressible (but
    # quadratic-in-component-size) formulation — fine as a small-sf
    # oracle, never the scale path (that's the iterative operator).
    pairs_sql = get("text_ngram_jaccard_pairs").oracle
    return f"""
        WITH RECURSIVE
        pairs AS ({pairs_sql}),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        lab AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
            FROM reach GROUP BY a
        )
        SELECT doc_id, component_id,
               COUNT(*) OVER (PARTITION BY component_id) AS n_members
        FROM lab
    """


@register("cur_dedup_components", tags=("curation", "dedup", "iterative"), oracle=_cc_oracle())
def cur_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clusters*: connected components over the exact
    trigram-Jaccard candidate pairs (plans/text.py), labeling every
    involved doc with the min doc_id of its component — the input to a
    keep-one-per-cluster survivor policy. Iterative min-label
    propagation with per-round materialization (operators/components.py);
    the DuckDB oracle is the recursive-CTE transitive closure of the
    same edge set."""
    pairs = get("text_ngram_jaccard_pairs").build(spark, sf_dir)
    comp = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        comp.join(sizes, "component_id")
        .select(F.col("node").alias("doc_id"), "component_id", "n_members")
    )


@register(
    "cur_cdc_latest_per_key",
    tags=("curation", "cdc", "window"),
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
)
def cur_cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state compaction of a mutable feed: newest order per
    customer, ties broken by key so the survivor is unique and
    deterministic. One hash-partitioned window — the standard CDC
    upsert-log → snapshot shape; at scale the partition count follows
    the key cardinality and no global sort ever happens."""
    return run_sql(spark, sf_dir, "cur_cdc_latest_per_key")


@register(
    "cur_unpivot_measures",
    tags=("curation", "reshape"),
    oracle=f"""
        WITH agg AS (
            SELECT l_returnflag,
                   {o_dsum('l_quantity')} AS sum_qty,
                   {o_dsum('l_extendedprice')} AS sum_price,
                   {o_dsum('l_discount')} AS sum_disc
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM agg
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
    """,
)
def cur_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt) of a per-flag aggregate into
    (key, measure, value) triples — the layout feature stores and
    metric sinks want. Aggregates first (decimal-exact), unpivots the
    3-column result: the expensive reshape happens on the already-tiny
    aggregate, never on the fact table."""
    return run_sql(spark, sf_dir, "cur_unpivot_measures")


# Per-language sampling rates for the stratified sample (hash-gated, so
# membership is a pure function of doc_id — reproducible across runs,
# partitionings, and engines; no RNG state anywhere).
_STRATA_RATES = {"en": 0.50, "de": 0.25, "fr": 0.25}
_DEFAULT_RATE = 0.10


def _strat_oracle() -> str:
    # gate: md5 first 4 hex digits as a uniform 16-bit bucket
    gate = "CAST('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT)"
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {int(v * 65536)}" for k, v in _STRATA_RATES.items()
    )
    return f"""
        SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE {gate} < (CASE {whens} ELSE {int(_DEFAULT_RATE * 65536)} END)
        GROUP BY lang
    """


@register("cur_stratified_sample", tags=("curation", "sample"), oracle=_strat_oracle())
def cur_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language rates applied via
    an md5 hash gate on doc_id (16-bit bucket < rate*65536) instead of
    an RNG — so the sample is stable under repartitioning, re-runs, and
    corpus growth (a doc's membership never flips), which RNG-based
    ``sampleBy`` cannot guarantee across cluster layouts. Pure map-side
    filter + one aggregation."""
    d = load_table(spark, sf_dir, "documents")
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    thr = F.lit(int(_DEFAULT_RATE * 65536))
    for k, v in _STRATA_RATES.items():
        thr = F.when(F.col("lang") == k, int(v * 65536)).otherwise(thr)
    return (
        d.filter(gate < thr)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.sum("n_chars").alias("total_chars"))
    )


# Redaction patterns restricted to syntax RE2 (DuckDB) and java.util.regex
# (Spark) interpret identically: character classes, +, {n,m} — no
# backreferences, no lookaround.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
_LONGNUM_RE = "[0-9]{6,}"


@register(
    "cur_pii_redact",
    tags=("curation", "text", "redact"),
    oracle=f"""
        SELECT doc_id,
               length(text) - length(regexp_replace(text, '{_EMAIL_RE}', '', 'g'))
                 AS email_chars_removed,
               length(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g')) AS n_after_email,
               md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_LONGNUM_RE}', '<NUM>', 'g')) AS redacted_hash
        FROM documents
    """,
)
def cur_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: replace email addresses and long digit runs
    with typed placeholder tokens — the pre-training compliance step
    every public-corpus pipeline runs. Entirely JVM regexp_replace in
    one codegen'd projection (the oracle compares a hash of the
    redacted text, not the payload). The pattern subset is chosen to
    evaluate identically under Java regex and RE2."""
    d = load_table(spark, sf_dir, "documents")
    after_email = F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(after_email, _LONGNUM_RE, "<NUM>")
    stripped = F.regexp_replace(F.col("text"), _EMAIL_RE, "")
    return d.select(
        "doc_id",
        (F.length("text") - F.length(stripped)).alias("email_chars_removed"),
        F.length(after_email).alias("n_after_email"),
        F.md5(redacted).alias("redacted_hash"),
    )


def _decontam_oracle() -> str:
    gate = "substr(md5(CAST(doc_id AS STRING)), 1, 2)"
    return f"""
        WITH toks AS ({TOKENS_SQL}),
        sh AS (
            SELECT DISTINCT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                     AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
        rare AS (SELECT shingle FROM sh2 GROUP BY shingle HAVING COUNT(*) <= 50),
        te AS (SELECT s.doc_id, s.shingle FROM sh2 s JOIN rare USING (shingle)
               WHERE {gate} >= '{HASH_SPLIT_VAL_HI}'),
        tr AS (SELECT s.doc_id, s.shingle FROM sh2 s JOIN rare USING (shingle)
               WHERE {gate} < '{HASH_SPLIT_VAL_HI}')
        SELECT te.doc_id,
               COUNT(DISTINCT te.shingle) AS n_shared_shingles,
               COUNT(DISTINCT tr.doc_id) AS n_train_docs,
               (COUNT(DISTINCT te.shingle) >= 5) AS contaminated
        FROM te JOIN tr ON te.shingle = tr.shingle
        GROUP BY te.doc_id
    """


@register("cur_decontaminate", tags=("curation", "dedup", "split"), oracle=_decontam_oracle())
def cur_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: test-split documents that share word
    trigrams with any train/val-split document (the eval-leakage check
    every LLM corpus pipeline runs before training). Split membership
    is the same md5 gate as cur_hash_split — a pure function of doc_id,
    so NO join against a membership table is needed: the gate is
    recomputed as a map-side predicate on each shingle row. Candidates
    come from the df-capped inverted shingle index (hot shingles
    excluded), so the train⋈test join is bounded by real collisions,
    never |train|x|test|."""
    from finance_etl_spark.operators.dedup import shingle_array

    d = load_table_parallel(spark, sf_dir, "documents")
    # trigrams hashed to 8-byte longs AFTER the explode (codegen'd row
    # projection) — the contamination counts are countDistinct over the
    # join key, so the narrower key shrinks both shuffles (index
    # df-filter + train⋈test)
    # persist the ARRAY root BEFORE the explode: exploding the
    # unmaterialized computed array re-evaluates the gram-build
    # expression per generated row (measured 11.9 s vs 2.8 s at sf0.1
    # for this exact relation) — the same trap ngram_pair_counts
    # already avoids. The explode then reads materialized arrays.
    arr = shingle_array(d, "doc_id", "text", n=3).persist()
    arr.count()  # materialize before consumers fan out
    sh = (
        arr.select("doc_id", F.explode("sh_arr").alias("s"))
        .select("doc_id", F.xxhash64("s").alias("shingle"))
    )
    rare = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 50
    )
    idx = sh.join(rare.select("shingle"), "shingle", "left_semi")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    te = idx.filter(gate >= HASH_SPLIT_VAL_HI).select(
        F.col("doc_id"), "shingle"
    )
    tr = idx.filter(gate < HASH_SPLIT_VAL_HI).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    hits = te.join(tr, "shingle")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shared_shingles"),
        F.countDistinct("train_doc").alias("n_train_docs"),
        (F.countDistinct("shingle") >= 5).alias("contaminated"),
    )


@register(
    "cur_mixture_weights",
    tags=("curation", "sample", "agg"),
    oracle="""
        WITH per_src AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(array_length(filter(string_split(text, ' '),
                                            t -> t <> ''))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_sources
            FROM per_src
        )
        SELECT source, n_docs, n_tokens,
               n_docs / CAST(total_docs AS DOUBLE) AS frac,
               (1.0 / n_sources) / (n_docs / CAST(total_docs AS DOUBLE))
                   AS weight
        FROM per_src, tot
    """,
)
def cur_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture statistics + resampling weights: per-source doc
    and token counts, the source's share of the corpus, and the
    multiplier a sampler would apply to hit a uniform target mixture
    (weight = target_frac / actual_frac). The upsample/downsample
    decision for every corpus source in one pass.

    One map-side token count + one hash agg keyed by source; the
    totals relation is ONE row, cross-joined back (a broadcast) — no
    second scan, no global window. Source cardinality
    is bounded (corpus registry), so the final join output is tiny at
    any SF.
    """
    return run_sql(spark, sf_dir, "cur_mixture_weights")


@register(
    "cur_scd2_intervals",
    tags=("curation", "cdc", "window"),
    oracle="""
        SELECT o_custkey, o_orderkey,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                   AS valid_to,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                   IS NULL AS is_current,
               o_totalprice
        FROM orders
    """,
)
def cur_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change feed (orders as
    per-customer change events) into validity intervals —
    [valid_from, valid_to) per version, open interval = current row.
    The companion to cur_cdc_latest_per_key when history must be kept
    queryable (point-in-time joins against ts_asof_join).

    One hash-partitioned window keyed by the business key; partition
    count follows key cardinality, nothing global. Ties broken by
    o_orderkey so the interval chain is deterministic.
    """
    return run_sql(spark, sf_dir, "cur_scd2_intervals")


@register(
    "cur_snapshot_diff",
    tags=("curation", "cdc", "join"),
    oracle="""
        WITH old AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
            WHERE o_orderkey % 10 <> 0
        ),
        new AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN o_totalprice + 1.0 ELSE o_totalprice END
                       AS o_totalprice,
                   o_orderstatus
            FROM orders WHERE o_orderkey % 11 <> 0
        ),
        j AS (
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                   o.o_orderkey IS NULL AS added,
                   n.o_orderkey IS NULL AS removed,
                   o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                       AND (o.o_totalprice <> n.o_totalprice
                            OR o.o_orderstatus <> n.o_orderstatus) AS changed
            FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        )
        SELECT CAST(SUM(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
               CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
               CAST(SUM(CASE WHEN NOT added AND NOT removed AND NOT changed
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        FROM j
    """,
)
def cur_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (table reconciliation): given two versions of a
    keyed table, classify every key as added / removed / changed /
    unchanged — the audit every incremental pipeline runs to validate
    a reload against the previous snapshot. Fixture derives both
    snapshots from orders deterministically (drop keys %10=0 from old,
    %11=0 from new, perturb %7=0 prices in new).

    Shape: one full outer join on the key — shuffles both sides ONCE
    on the same key (co-partitioned at the exchange, no second
    shuffle), then a codegen'd classification projection and a 4-cell
    aggregate. Column comparison is explicit (<>) so the diff columns
    are declared, not inferred from a row hash — at 100 TB you diff
    the columns that matter, not the whole width."""
    return run_sql(spark, sf_dir, "cur_snapshot_diff")


@register(
    "cur_sequence_pack",
    tags=("curation", "window", "llm"),
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   substr(md5(CAST(doc_id AS STRING)), 1, 2) AS shard,
                   CAST(array_length(filter(string_split(text, ' '),
                                        t -> t <> '')) AS BIGINT) AS n_tok
            FROM documents
        ),
        packed AS (
            SELECT shard, doc_id, n_tok,
                   CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY shard
                                   ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - n_tok) / 2048)
                        AS BIGINT) AS seq_id
            FROM toks
        )
        SELECT shard, seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM packed GROUP BY shard, seq_id
    """,
)
def cur_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: assign documents to
    fixed-budget (2048-token) training sequences by cumulative token
    count, sharded so packing is partition-parallel. Each doc lands in
    the sequence where its START offset falls — the deterministic
    streaming-concatenation packing used by GPT-style pipelines
    (docs are concatenated in shard order and split every 2048
    tokens; a doc spanning a boundary is attributed to the sequence
    it starts in).

    Scale shape: shard = 2 hex chars of md5(doc_id) (256-way,
    data-independent), so the cumsum window is PARTITIONED — each
    shard packs independently, no global sort, and adding executors
    splits shards, not the ordering. The same shard key drives the
    deterministic split/sample ops (cur_hash_split), so packing
    composes with them without another shuffle key."""
    return run_sql(spark, sf_dir, "cur_sequence_pack")


@register(
    "cur_incremental_agg_merge",
    tags=("curation", "incremental", "agg", "scale"),
    oracle=f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events,
               {o_dsum('value')} AS total_value
        FROM events GROUP BY event_type, day
    """,
)
def cur_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance by PARTIAL MERGE: the first
    half of the stream is aggregated once and persisted as (key, count,
    decimal-sum) partials — the 'stored MV'. When the second half
    arrives, only the increment is aggregated from raw rows; the stored
    partials are unioned in and re-summed. Decimal sums and counts are
    exactly associative, so merged == full recompute bit-for-bit (the
    oracle recomputes from scratch). At 100 TB this is the difference
    between scanning the day's increment and re-scanning three years
    of base data on every refresh."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.col("value").cast("decimal(30,10)").alias("dv"),
    )
    cut = F.lit("2024-01-16").cast("date")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("dv").alias("dec_total")
        )

    mv_path = scratch_dir("agg_mv_")
    partials(ev.filter(F.col("day") < cut)).write.mode("overwrite").parquet(mv_path)

    stored = spark.read.parquet(mv_path)
    increment = partials(ev.filter(F.col("day") >= cut))
    return (
        stored.unionByName(increment)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("dec_total").cast("double").alias("total_value"),
        )
    )


def _pagerank_oracle(n_iter: int = 12, damping: str = "0.85") -> str:
    """Unrolled-iteration DuckDB oracle for graph_pagerank_trade: the
    fixed point isn't a recursive CTE (no agg over the recursive
    table), but 12 FIXED rounds over a nation-sized graph unroll as 12
    chained CTEs. Bit-exactness mirrors operators/pagerank.py op for
    op: each mass contribution is floor(x·1e18) summed as BIGINT
    (engine-agnostic by construction — floor, integer sum, and
    BIGINT→double are identical everywhere, unlike double→DECIMAL
    quantization whose rounding path measurably differs three ways
    between Spark and DuckDB's two cast routes). DuckDB's BIGINT SUM
    widens to HUGEINT whose →double conversion differs 1 ulp, so the
    sum re-caps to BIGINT (exact: total scaled mass < 1e18 < 2^63)
    before the double division."""
    dsum = (
        "CAST(CAST(COALESCE(SUM(CAST(FLOOR({x} * 1e18) AS BIGINT)), 0)"
        " AS BIGINT) AS DOUBLE) / 1e18"
    )
    iters = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        # CAST(... AS DOUBLE) on the literals: DuckDB parses 1.0/0.85
        # as DECIMAL and would compute the teleport constant exactly,
        # 1 ulp off Spark's double arithmetic (measured at sf0.01)
        iters.append(f"""
        r{i} AS MATERIALIZED (
            SELECT n.node,
                   (CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) / nn.n
                     + CAST({damping} AS DOUBLE)
                       * (COALESCE(c.in_mass, CAST(0.0 AS DOUBLE))
                          + dm.d_mass / nn.n) AS rank
            FROM nodes n
            CROSS JOIN nn
            LEFT JOIN (
                SELECT e.e_dst,
                       {dsum.format(x='e.p * r.rank')} AS in_mass
                FROM norm e JOIN {prev} r ON e.e_src = r.node
                GROUP BY e.e_dst
            ) c ON c.e_dst = n.node
            CROSS JOIN (
                SELECT {dsum.format(x='r.rank')} AS d_mass
                FROM {prev} r LEFT JOIN sources s ON s.node = r.node
                WHERE s.node IS NULL
            ) dm
        )""")
        prev = f"r{i}"
    return f"""
        WITH edges AS MATERIALIZED (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   CAST(COUNT(*) AS DOUBLE) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey, c.c_nationkey
        ),
        nodes AS MATERIALIZED (
            SELECT DISTINCT src AS node FROM edges
            UNION SELECT DISTINCT dst FROM edges
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        norm AS MATERIALIZED (
            SELECT e.src AS e_src, e.dst AS e_dst,
                   e.w / ow.out_w AS p
            FROM edges e
            JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src) ow
              ON ow.src = e.src
        ),
        sources AS MATERIALIZED (SELECT DISTINCT e_src AS node FROM norm),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
               FROM nodes CROSS JOIN nn),
        {','.join(iters)}
        SELECT CAST(node AS INT) AS nationkey, rank AS pagerank
        FROM {prev}
    """


@register(
    "graph_pagerank_trade",
    tags=("graph", "iterative"),
    oracle=_pagerank_oracle(),
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation-level trade graph (supplier
    nation → customer nation, edge weight = shipment count), 12 rounds
    of one co-partitioned join + one decimal-exact hash agg each
    (operators/pagerank.py). Hash-oracled (promoted from rows-only in
    r7): the fixed 12 rounds unroll as 12 chained CTEs in DuckDB, and
    the operator's decimal-exact mass sums + VARCHAR-routed casts make
    ranks bit-identical cross-engine (see _pagerank_oracle). Invariants
    (probability mass, repartition determinism, hub concentration)
    remain pinned in tests/test_curation.py. The edge build is the
    expensive part at scale — three key-equi joins against SF-scaling
    projections (orders/customer/supplier — no broadcast hints: AQE
    broadcasts them while they fit and degrades to shuffle joins at
    cluster scale) and one count agg over lineitem; the 12 iterations
    run over the nation-sized rank vector."""
    from finance_etl_spark.operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    out = pagerank(edges, n_iter=12)
    return out.select(
        F.col("node").cast("int").alias("nationkey"), F.col("rank").alias("pagerank")
    )


@register(
    "cur_merge_upsert",
    tags=("curation", "merge", "cdc"),
    oracle="""
        WITH target AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
                SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
            ) WHERE rn = 1
        ),
        source AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                   (o_orderkey % 10 = 0) AS is_delete FROM (
                SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
            ) WHERE rn = 1
        )
        SELECT COALESCE(s.o_custkey, t.o_custkey) AS custkey,
               CASE WHEN s.o_custkey IS NOT NULL THEN s.o_orderkey
                    ELSE t.o_orderkey END AS orderkey,
               CASE WHEN s.o_custkey IS NOT NULL THEN s.o_orderdate
                    ELSE t.o_orderdate END AS orderdate,
               CASE WHEN s.o_custkey IS NOT NULL THEN s.o_totalprice
                    ELSE t.o_totalprice END AS totalprice,
               CASE WHEN s.o_custkey IS NULL THEN 'kept'
                    WHEN t.o_custkey IS NULL THEN 'inserted'
                    ELSE 'updated' END AS action
        FROM target t FULL JOIN source s ON t.o_custkey = s.o_custkey
        WHERE NOT (s.o_custkey IS NOT NULL AND s.is_delete)
    """,
)
def cur_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (SCD1 upsert-with-delete) without a table
    format: a latest-per-key change batch (orders from 1997 onward,
    every 10th orderkey a delete marker) applied to a latest-per-key
    snapshot (orders before 1997) in ONE co-partitioned full outer
    join + a classification projection — matched+delete drops the row,
    matched updates in place, unmatched-source inserts, unmatched-
    target survives. This is exactly the reduction Delta/Iceberg MERGE
    performs under copy-on-write; both sides shuffle once on the merge
    key and nothing is quadratic. Deletes for absent keys are no-ops
    (filtered with the same predicate), so replaying the batch is
    idempotent."""
    from finance_etl_spark.operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("orderdate"),
        F.col("o_totalprice").alias("totalprice"),
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    w = Window.partitionBy("custkey").orderBy(
        F.col("orderdate").desc(), F.col("orderkey").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    target = latest(o.filter(F.col("orderdate") < cutoff))
    source = latest(o.filter(F.col("orderdate") >= cutoff)).withColumn(
        "is_delete", F.col("orderkey") % 10 == 0
    )
    return merge_upsert(
        target, source, key="custkey",
        value_cols=("orderkey", "orderdate", "totalprice"),
    )


@register(
    "dq_profile_columns",
    tags=("curation", "quality", "profile"),
    oracle="""
        WITH a AS (
            SELECT COUNT(*) AS n_rows,
                   CAST(COUNT(o_custkey) AS BIGINT) AS nn_custkey,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_custkey,
                   CAST(MIN(o_custkey) AS DOUBLE) AS min_custkey,
                   CAST(MAX(o_custkey) AS DOUBLE) AS max_custkey,
                   CAST(COUNT(o_orderstatus) AS BIGINT) AS nn_status,
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
                   CAST(COUNT(o_totalprice) AS BIGINT) AS nn_price,
                   CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
                   MIN(o_totalprice) AS min_price,
                   MAX(o_totalprice) AS max_price,
                   CAST(COUNT(o_orderpriority) AS BIGINT) AS nn_prio,
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio
            FROM orders
        )
        SELECT 'o_custkey' AS col_name, CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_rows AS BIGINT) - nn_custkey AS n_null,
               nd_custkey AS n_distinct, min_custkey AS min_num,
               max_custkey AS max_num FROM a
        UNION ALL
        SELECT 'o_orderstatus', CAST(n_rows AS BIGINT),
               CAST(n_rows AS BIGINT) - nn_status, nd_status,
               NULL, NULL FROM a
        UNION ALL
        SELECT 'o_totalprice', CAST(n_rows AS BIGINT),
               CAST(n_rows AS BIGINT) - nn_price, nd_price,
               min_price, max_price FROM a
        UNION ALL
        SELECT 'o_orderpriority', CAST(n_rows AS BIGINT),
               CAST(n_rows AS BIGINT) - nn_prio, nd_prio,
               NULL, NULL FROM a
    """,
)
def dq_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (the ingest-time data-quality summary
    every pipeline wants): per-column null count, exact distinct
    count, and numeric min/max for a 4-column slice of orders,
    computed in a SINGLE aggregate over one scan — Catalyst expands
    the multiple COUNT(DISTINCT)s into one Expand + two-stage agg, so
    the table is still read once — then reshaped wide→long on the
    resulting single row (the reshape costs nothing). String min/max
    is deliberately omitted (cross-engine collation) — numeric bounds
    are IEEE-exact."""
    o = load_table(spark, sf_dir, "orders")
    a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.count_distinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("double").alias("min_custkey"),
        F.max("o_custkey").cast("double").alias("max_custkey"),
        F.count("o_orderstatus").alias("nn_status"),
        F.count_distinct("o_orderstatus").alias("nd_status"),
        F.count("o_totalprice").alias("nn_price"),
        F.count_distinct("o_totalprice").alias("nd_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.count_distinct("o_orderpriority").alias("nd_prio"),
    )
    null_d = F.lit(None).cast("double")
    rows = [
        ("o_custkey", "nn_custkey", "nd_custkey", F.col("min_custkey"), F.col("max_custkey")),
        ("o_orderstatus", "nn_status", "nd_status", null_d, null_d),
        ("o_totalprice", "nn_price", "nd_price", F.col("min_price"), F.col("max_price")),
        ("o_orderpriority", "nn_prio", "nd_prio", null_d, null_d),
    ]
    # reshape the ONE aggregate row via explode-of-structs — a union of
    # per-column selects would re-run the aggregate (and the scan) once
    # per branch
    profile = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("col_name"),
                    F.col("n_rows").alias("n_rows"),
                    (F.col("n_rows") - F.col(nn)).alias("n_null"),
                    F.col(nd).alias("n_distinct"),
                    mn.alias("min_num"),
                    mx.alias("max_num"),
                )
                for name, nn, nd, mn, mx in rows
            ]
        )
    ).alias("p")
    return a.select(profile).select("p.*")


@register(
    "cur_winsorize_outliers",
    tags=("curation", "quality", "percentile"),
    oracle=f"""
        WITH b AS (
            SELECT percentile_cont(0.01) WITHIN GROUP (ORDER BY o_totalprice) AS p01,
                   percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99
            FROM orders
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_totalprice < p01 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clip_low,
               CAST(SUM(CASE WHEN o_totalprice > p99 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clip_high,
               {o_dsum('LEAST(GREATEST(o_totalprice, p01), p99)')}
                   AS total_winsorized
        FROM orders, b
        GROUP BY o_orderstatus
    """,
)
def cur_winsorize_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized totals: order values clipped to the corpus [p1, p99]
    band (exact interpolated percentiles — Spark `percentile` and
    DuckDB `quantile_cont` share the linear-interpolation contract),
    with per-status clip counts for the audit trail. The 1-row bounds
    aggregate rides a broadcast cross join into the main scan — the
    fact table is read once and never shuffled by the bounds; clipping
    is a codegen'd projection. At 100 TB swap the exact percentile for
    percentile_approx and the plan shape is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.percentile("o_totalprice", 0.01).alias("p01"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("p01"), 1).otherwise(0)
            ).alias("n_clip_low"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("p99"), 1).otherwise(0)
            ).alias("n_clip_high"),
            dsum(clipped).alias("total_winsorized"),
        )
    )


@register(
    "cur_impute_group_mean",
    tags=("curation", "quality", "impute", "window"),
    oracle="""
        WITH ev AS (
            SELECT user_id,
                   CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
            FROM events
        ),
        imp AS (
            SELECT user_id, v,
                   COALESCE(v,
                            CAST(CAST(SUM(CAST(v AS DECIMAL(30,10))) OVER w
                                 AS STRING) AS DOUBLE)
                            / COUNT(v) OVER w) AS v_imp
            FROM ev
            WINDOW w AS (PARTITION BY user_id)
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_imputed,
               CAST(CAST(SUM(CAST(v_imp AS DECIMAL(30,10))) AS STRING)
                    AS DOUBLE) AS total_after_impute
        FROM imp
        GROUP BY user_id
    """,
)
def cur_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation: synthetic nulls (every 13th event) filled
    with the per-user mean of the OBSERVED values. The mean comes from
    an unordered window over the same user_id partitioning the final
    aggregate needs, so the whole query is ONE shuffle — no join of a
    means table back onto the feed. Mean = decimal-exact sum presented
    as double / non-null count (the davg contract), so both engines
    impute bit-identical values; the imputed column then re-enters a
    decimal sum, keeping the output order-independent."""
    return run_sql(spark, sf_dir, "cur_impute_group_mean")


@register(
    "dq_table_checksum",
    tags=("curation", "quality", "checksum"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST('0x' || substr(md5(
                   CAST(o_orderkey AS STRING) || '#' ||
                   CAST(o_custkey AS STRING) || '#' ||
                   o_orderstatus || '#' ||
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '#' ||
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)
               ), 1, 15) AS BIGINT) AS DECIMAL(38,0))) AS STRING) AS digest
        FROM orders
    """,
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table digest for cross-system reconciliation:
    each row hashes to a 60-bit integer (md5 over a canonical '#'-joined
    rendering — doubles go through DECIMAL(18,2) and timestamps through
    an explicit format so both engines print identical bytes), and the
    digest is the EXACT decimal sum of row hashes — commutative, so the
    same rows give the same digest under any partitioning, engine, or
    file layout. One map-side projection + a 1-row aggregate: the
    cheapest possible 'did the copy lose or mutate a row' gate between
    a source system and the lake."""
    o = load_table(spark, sf_dir, "orders")
    canonical = F.concat_ws(
        "#",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canonical), 1, 15), 16, 10).cast("long")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("digest"),
    )


@register(
    "graph_triangle_count",
    tags=("graph", "join"),
    oracle=f"""
        WITH {STRONG_TRADE_CTE},
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM ku e1
            JOIN ku e2 ON e1.b = e2.a
            JOIN ku e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT CAST((SELECT COUNT(*) FROM ku) AS BIGINT) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_triangles,
               CAST(COUNT(DISTINCT x) AS BIGINT) AS n_apex_nodes
        FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the strong-trade graph (nation pairs whose
    shipment volume clears the corpus-relative 60th-percentile
    threshold — SF-independent, so the graph stays non-trivial at any
    scale). Canonical a<b edge ordering means each triangle is
    enumerated exactly once as a<b<c by TWO equi-joins (the standard
    distributed edge-iterator: candidate wedges a-b-c are closed by
    probing the a-c edge) — never a cubic enumeration; join input is
    |edges|, wedge count bounds the shuffle. The fact-table reduction
    to edges is the same two-broadcast-join + count shape PageRank
    uses."""
    return run_sql(spark, sf_dir, "graph_triangle_count")


def _survivor_oracle() -> str:
    # survivors = docs that are NOT a non-minimum member of any
    # near-dup component (transitive closure over the same edge set as
    # cur_dedup_components)
    pairs_sql = get("text_ngram_jaccard_pairs").oracle
    return f"""
        WITH RECURSIVE
        pairs AS ({pairs_sql}),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        lab AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
            FROM reach GROUP BY a
        ),
        dropped AS (SELECT doc_id FROM lab WHERE doc_id <> component_id)
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN dr.doc_id IS NULL THEN 1 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)
                   AS BIGINT) AS kept_chars
        FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
        GROUP BY d.source
    """


@register(
    "cur_dedup_survivors",
    tags=("curation", "dedup", "iterative"),
    oracle=_survivor_oracle(),
)
def cur_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-dedup deliverable: candidate pairs →
    connected components → keep ONE doc per cluster (the min doc_id)
    plus every unclustered doc, reported as per-source keep rates. The
    drop set is the components labeling minus its own labels — an
    anti-join of documents against (node ≠ component_id) — so the full
    corpus is never shuffled by the clustering, only the (small) drop
    set joins back. Survivor choice is deterministic (min id), so
    reruns keep the same docs."""
    pairs = get("text_ngram_jaccard_pairs").build(spark, sf_dir)
    comp = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    dropped = comp.filter(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    kept_flag = F.col("dr_doc_id").isNull()
    return (
        d.join(
            dropped.select(F.col("doc_id").alias("dr_doc_id")),
            d.doc_id == F.col("dr_doc_id"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(kept_flag, 1)).alias("n_kept"),
            F.sum(F.when(kept_flag, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
    )


@register(
    "cur_rfm_deciles",
    tags=("curation", "analytics", "rank"),
    oracle=f"""
        WITH rfm AS (
            SELECT o_custkey,
                   MAX(CAST(o_orderdate AS DATE)) AS last_order,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS monetary_dec
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY monetary_dec DESC, o_custkey ASC)
                       AS rn,
                   COUNT(*) OVER () AS n
            FROM rfm
        )
        SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(frequency) AS BIGINT) AS total_orders,
               CAST(CAST(SUM(monetary_dec) AS STRING) AS DOUBLE)
                   AS total_spend,
               MAX(last_order) AS most_recent
        FROM ranked
        GROUP BY decile
    """,
)
def cur_rfm_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM decile segmentation (recency / frequency / monetary): the
    classic customer-value report. Customers aggregate first (one hash
    agg over orders), then decile assignment needs a GLOBAL spend
    ranking — done with the two-pass range-partitioned ranker
    (operators/ranks.py), never `Window.orderBy()` without partitions,
    because the customer table grows with SF and a global window would
    serialize it through one task. Decile = ((rn−1)·10)/n in integer
    arithmetic (no float boundary wobble); a unique custkey tiebreak
    makes the whole segmentation deterministic."""
    from finance_etl_spark.operators.ranks import global_row_number

    o = load_table(spark, sf_dir, "orders")
    # monetary stays DECIMAL through ranking and the decile re-agg —
    # re-quantizing an intermediate double back into decimal is where
    # cross-engine 1e-10 divergence creeps in (shortest-string vs
    # binary rounding of the double; caught by the sf0.001 sweep).
    # ONE double cast happens at the presentation edge.
    rfm = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(30,10)")).alias("monetary_dec"),
    )
    ranked = global_row_number(
        rfm,
        [F.col("monetary_dec").desc(), F.col("o_custkey").asc()],
        out_col="rn",
        num_partitions=8,
    )
    n_total = rfm.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .groupBy(F.expr("CAST(((rn - 1) * 10) DIV n AS BIGINT)").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("frequency").alias("total_orders"),
            F.sum("monetary_dec").cast("double").alias("total_spend"),
            F.max("last_order").alias("most_recent"),
        )
    )


@register(
    "cur_scd2_point_in_time",
    tags=("curation", "scd2", "temporal-join"),
    oracle=f"""
        WITH dim AS (
            SELECT o_custkey, o_orderkey AS version_key,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey)
                       AS valid_to
            FROM orders
        ), fact AS (
            SELECT o.o_custkey AS custkey, l.l_shipdate, l.l_quantity
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT (d.valid_to IS NULL) AS matched_current_version,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {o_dsum('f.l_quantity')} AS sum_qty
        FROM fact f JOIN dim d
          ON f.custkey = d.o_custkey
         AND f.l_shipdate >= d.valid_from
         AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
        GROUP BY 1
    """,
)
def cur_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against an SCD2 dimension: each
    lineitem finds the customer version whose validity interval covers
    its ship date — the canonical "which dim version was true when the
    fact happened" warehouse lookup. The SCD2 intervals come from the
    same lead-window derivation as cur_scd2_intervals; the temporal
    probe is an EQUI-join on custkey with the interval containment as
    a residual, so it stays a hash join with per-key fan-out bounded
    by versions-per-customer (~orders per customer), never a
    nested-loop range join. Aggregated by whether the covering version
    is the current one."""
    return run_sql(spark, sf_dir, "cur_scd2_point_in_time")


_DOMAIN_CAP = 15


@register(
    "cur_domain_cap",
    tags=("curation", "sampling"),
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS STRING)), doc_id
                   ) AS INT) AS slot
            FROM documents
        )
        SELECT doc_id, source, slot FROM ranked WHERE slot <= {_DOMAIN_CAP}
    """,
)
def cur_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the anti-boilerplate measure web
    corpora apply so no single domain dominates the training mix
    (C4/Gopher keep at most N pages per host). Hash-partitioned window
    keyed on `source`; the keep-order is md5(doc_id) — a deterministic
    shuffle-stable lottery, not arrival order, so reruns and
    relayouts keep the SAME documents. Per-domain state is one
    counter; no global sort, no driver-side anything."""
    return run_sql(spark, sf_dir, "cur_domain_cap")


_BFS_EDGES_SQL = """
            SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey <> c.c_nationkey
"""


@register(
    "graph_bfs_distance",
    tags=("graph", "iterative"),
    oracle=f"""
        WITH RECURSIVE e AS ({_BFS_EDGES_SQL}),
        u AS (
            SELECT src, dst FROM e
            UNION
            SELECT dst AS src, src AS dst FROM e
        ),
        walk(node, dist) AS (
            SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
            UNION ALL
            SELECT u.dst AS node, walk.dist + 1 AS dist
            FROM walk JOIN u ON u.src = walk.node
            WHERE walk.dist < 4
        )
        SELECT node AS nationkey, CAST(MIN(dist) AS INT) AS dist
        FROM walk GROUP BY node
    """,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS (shortest hop count) over the nation trade
    graph, distributed frontier-at-a-time: each round joins the
    current frontier to the edge list and anti-prunes already-settled
    nodes with a min-aggregate — per round ONE equi-join + one agg,
    both keyed shuffles, state bounded by |V|. Four rounds = the
    oracle's recursion bound. The same loop shape runs at web-graph
    scale (edges never materialize to the driver); at that scale the
    rounds would run through operators/iterate.py, which checkpoints
    each one to cap lineage — at |V|=25 an unrolled plan is cheap
    enough without.
    Edge derivation shares the two-broadcast-join reduction with
    graph_triangle_count / graph_pagerank_trade."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )
    u = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    u.count()  # materialize once; reused every round
    dist = spark.createDataFrame([(0, 0)], "nationkey long, dist int")
    frontier = dist
    for hop in range(1, 5):
        nxt = (
            frontier.join(u, frontier.nationkey == u.src)
            .select(F.col("dst").alias("nationkey"), F.lit(hop).alias("dist"))
            .distinct()
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("nationkey")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = dist.filter(F.col("dist") == hop)
    out = dist.select("nationkey", F.col("dist").cast("int").alias("dist"))
    u.unpersist()
    return out


@register(
    "dq_k_anonymity",
    tags=("quality", "governance"),
    oracle="""
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS n,
               COUNT(*) >= 5 AS k_anonymous
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit on the quasi-identifier tuple
    (nation, market segment): any equivalence class smaller than k=5
    re-identifies its members and must be suppressed or generalized
    before the table leaves the trust boundary. One hash aggregation —
    the same partial-merge shape as any GROUP BY count, so the audit
    runs at billion-row scale for the cost of one shuffle of the
    class keys."""
    return run_sql(spark, sf_dir, "dq_k_anonymity")


@register(
    "cur_sample_exact_n",
    tags=("curation", "sampling"),
    oracle="""
        SELECT doc_id, source
        FROM documents
        ORDER BY md5(CAST(doc_id AS STRING)), doc_id
        LIMIT 100
    """,
)
def cur_sample_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N corpus sample (N=100), deterministic under any
    partitioning: order by the md5 lottery and keep the first N. A
    LIMIT over a total order plans as TakeOrderedAndProject — each
    partition surrenders at most N local winners and the driver merges
    k×N candidate rows, never sorting the corpus globally. The md5
    key makes the winning set a pure function of the data (reruns,
    relayouts, and cluster size changes keep the same sample), which
    hash-RATE sampling (cur_hash_split) cannot promise when the ask
    is an exact row budget."""
    return run_sql(spark, sf_dir, "cur_sample_exact_n")


@register("cur_sample_tablesample", tags=("curation", "sampling", "sql"))
def cur_sample_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI TABLESAMPLE surface (Bernoulli row sampling with a
    REPEATABLE seed): each row flips an independent seeded coin at the
    scan, so the sample never materializes, shuffles, or sorts
    anything — the zero-cost way to eyeball a petabyte. Registered
    rows-only because the kept SET is a function of the physical
    layout (stable within a deployment, not across relayouts) — the
    exact-budget and relayout-stable alternatives are
    cur_sample_exact_n and cur_hash_split; the statistical contract
    (fraction within binomial bounds) is pinned in
    tests/test_curation.py."""
    from finance_etl_spark.io.readers import register_views

    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        SELECT source, COUNT(*) AS n_sampled
        FROM documents TABLESAMPLE (20 PERCENT) REPEATABLE (42)
        GROUP BY source
        """
    )


@register(
    "dq_freshness_sla",
    tags=("quality", "governance"),
    oracle="""
        SELECT event_type,
               MAX(CAST(ts AS DATE)) AS latest_day,
               CAST(DATE '2024-07-01' - CAST(MAX(CAST(ts AS DATE)) AS DATE) AS BIGINT) AS days_stale,
               CAST(DATE '2024-07-01' - CAST(MAX(CAST(ts AS DATE)) AS DATE) AS BIGINT) <= 7
                 AS within_sla
        FROM events
        GROUP BY event_type
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit: per feed, the lag between its newest
    event and the audit reference date, gated against a 7-day SLA.
    The reference date is a pinned literal (a real deployment passes
    the orchestrator's logical date) so the check is deterministic and
    replayable — never wall-clock NOW() inside the query. One MAX
    aggregation per feed; at 100 TB with date-partitioned layout the
    scan prunes to the partition-metadata max, not a full read."""
    return run_sql(spark, sf_dir, "dq_freshness_sla")


@register(
    "cur_url_dedup",
    tags=("curation", "dedup", "url"),
    oracle="""
        WITH crawl AS (
            SELECT o_orderkey,
                   'https://news.example.com/article/' || (o_orderkey % 1000)
                       AS canonical_url
            FROM orders
        )
        SELECT canonical_url,
               'news.example.com' AS host,
               CAST(COUNT(*) AS BIGINT) AS n_crawls,
               MIN(o_orderkey) AS first_seen
        FROM crawl
        GROUP BY canonical_url
        ORDER BY canonical_url
    """,
)
def cur_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL dedup: a synthetic crawl log carries five messy
    variants of each article URL (upper-case host, ``www.`` prefix,
    explicit ``:443`` port, ``utm_*`` tracking params, fragment,
    trailing slash). The canonicalizer works ONLY on the URL string —
    parse_url HOST/PATH/QUERY, lowercase + www-strip, tracking-param
    filter via a higher-order array filter, trailing-slash strip — and
    the oracle reconstructs ground truth from the generation rule, so
    the differential check proves all five variants collapse to the
    same canonical form. One hash shuffle on the canonical key; the
    string surgery is a codegen'd map-side projection."""
    return run_sql(spark, sf_dir, "cur_url_dedup")


@register(
    "cur_incremental_join_view",
    tags=("curation", "incremental", "join", "scale"),
    oracle=f"""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               {o_dsum('l.l_extendedprice')} AS revenue
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
)
def cur_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (classic IVM delta rule):
    with O = O0 ∪ dO and L = L0 ∪ dL, the join delta is

        d(O ⋈ L) = (dO ⋈ L0) ∪ (O0 ⋈ dL) ∪ (dO ⋈ dL)

    so the refresh never re-joins O0 ⋈ L0 — it scans the deltas and
    joins each against the OLD other side. The base view is persisted
    as (key, count, decimal-sum) partials; the three delta terms
    aggregate to partials the same way, and the exact associativity of
    count/decimal-sum makes merged == full recompute bit-for-bit (the
    oracle recomputes the full join from scratch). Deltas here are a
    deterministic md5 10% slice of each table, standing in for a CDC
    batch. At 100 TB: refresh cost is O(|delta| join-probes against
    the base), not O(|base|²-ish full re-join), and every term joins
    on the same l_orderkey=o_orderkey key, so one co-partitioning
    serves all three."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(30,10)").alias("price"),
    )
    o_new = F.pmod(F.xxhash64(F.md5(F.col("o_orderkey").cast("string"))), F.lit(10)) == 0
    l_new = (
        F.pmod(
            F.xxhash64(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                )
            ),
            F.lit(10),
        )
        == 0
    )
    o0, d_o = o.filter(~o_new), o.filter(o_new)
    l0, d_l = li.filter(~l_new), li.filter(l_new)

    def partials(orders_side: DataFrame, items_side: DataFrame) -> DataFrame:
        return (
            orders_side.join(
                items_side, items_side.l_orderkey == orders_side.o_orderkey
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("price").alias("dec_revenue"),
            )
        )

    mv_path = scratch_dir("join_mv_")
    partials(o0, l0).write.mode("overwrite").parquet(mv_path)

    stored = spark.read.parquet(mv_path)
    delta_terms = (
        partials(d_o, l0)
        .unionByName(partials(o0, d_l))
        .unionByName(partials(d_o, d_l))
    )
    return (
        stored.unionByName(delta_terms)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("dec_revenue").cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_ER_RECS_SQL = """
        SELECT k * 3 AS record_id, name FROM (
            SELECT p_partkey AS k, p_name AS name FROM part WHERE p_partkey <= 200
        )
        UNION ALL
        SELECT k * 3 + 1,
               substr(name, 1, (k % length(name)))
                   || substr(name, (k % length(name)) + 2)
        FROM (SELECT p_partkey AS k, p_name AS name FROM part WHERE p_partkey <= 200)
        UNION ALL
        SELECT k * 3 + 2, name || 'x'
        FROM (SELECT p_partkey AS k, p_name AS name FROM part WHERE p_partkey <= 200)
"""


@register(
    "cur_entity_resolution",
    tags=("curation", "dedup", "entity-resolution", "iterative"),
    oracle=f"""
        WITH RECURSIVE
        recs AS ({_ER_RECS_SQL}),
        pairs AS (
            SELECT a.record_id AS ia, b.record_id AS ib
            FROM recs a JOIN recs b ON a.record_id < b.record_id
            WHERE levenshtein(a.name, b.name) <= 1
        ),
        edges AS (
            SELECT ia AS a, ib AS b FROM pairs
            UNION
            SELECT ib AS a, ia AS b FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        lab AS (
            SELECT a AS record_id, LEAST(a, MIN(b)) AS cluster_id
            FROM reach GROUP BY a
        ),
        full_lab AS (
            SELECT r.record_id,
                   COALESCE(lab.cluster_id, r.record_id) AS cluster_id
            FROM recs r LEFT JOIN lab ON lab.record_id = r.record_id
        )
        SELECT f.cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_records,
               ANY_VALUE(c.name) AS canonical_name
        FROM full_lab f
        JOIN recs c ON c.record_id = f.cluster_id
        GROUP BY f.cluster_id
        ORDER BY f.cluster_id
    """,
)
def cur_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: dirty records (each part name
    plus a deterministic one-char-deletion variant and an appended-char
    variant) -> deletion-neighborhood BLOCKING (linear candidate
    generation, operators/dedup.py::edit1_candidate_pairs — never the
    oracle's quadratic all-pairs levenshtein) -> exact edit-distance
    verify -> connected components (iterative min-label propagation)
    -> survivorship: cluster id = min record id, canonical name from
    the surviving record. Singletons that matched nothing keep their
    own record as the cluster. The composed pipeline is exactly the
    blocking/matching/clustering/survivorship stack of a production
    MDM/dedup system, each stage individually scale-safe."""
    from finance_etl_spark.operators.dedup import edit1_candidate_pairs

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    k, name = F.col("p_partkey"), F.col("p_name")
    del_pos = F.pmod(k, F.length(name)) + 1
    v0 = p.select((k * 3).alias("record_id"), name.alias("name"))
    v1 = p.select(
        (k * 3 + 1).alias("record_id"),
        F.concat(
            name.substr(F.lit(1), del_pos - 1),
            name.substr(del_pos + 1, F.length(name)),
        ).alias("name"),
    )
    v2 = p.select(
        (k * 3 + 2).alias("record_id"), F.concat(name, F.lit("x")).alias("name")
    )
    recs = v0.unionByName(v1).unionByName(v2)
    pairs = edit1_candidate_pairs(recs, "record_id", "name")
    comp = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    labeled = (
        recs.join(comp, recs.record_id == comp.node, "left")
        .select(
            "record_id",
            "name",
            F.coalesce(F.col("component_id"), F.col("record_id")).alias(
                "cluster_id"
            ),
        )
    )
    canon = labeled.filter(F.col("record_id") == F.col("cluster_id")).select(
        "cluster_id", F.col("name").alias("canonical_name")
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .join(canon, "cluster_id")
        .select("cluster_id", "n_records", "canonical_name")
        .orderBy("cluster_id")
    )


def weighted_sample(
    df: DataFrame,
    weight_col,
    n: int,
    key_cols: Sequence[str],
    salt: str = "ws0",
) -> DataFrame:
    """Exactly-n weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws u ~ U(0,1) from an md5 hash of its
    key (+ salt) and is ranked by u^(1/w) — equivalently, by the
    exponential key -ln(u)/w ascending, which avoids pow(). The top-n
    by that key is a provably weight-proportional sample, computed as
    TakeOrderedAndProject (per-partition heaps, n rows to the driver
    stage) — one pass, no full sort, deterministic for a given salt
    under any partitioning (hash-derived u, no RNG state).

    Since round 13 the draw is engine-replayable: u comes from the
    first 15 md5 hex chars (a 60-bit uniform — the xxhash64 wrap it
    replaced added nothing statistically and was JVM-only), ln(u) is
    FLOOR-QUANTIZED at 1e-6 into a BIGINT (the quantized-ln recipe: a
    1-ulp libm difference can flip the floored value only exactly AT
    a quantization boundary, the same accepted tail as every entropy
    query), and the ranking key is ONE division of exact integers
    (-lnq / micro-unit weight) — so the sample is identical across
    engines and cur_weighted_sample carries a full hash oracle.
    Weight-proportionality and determinism contracts stay pinned in
    tests/test_weighted_sample.py."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "#",
                    F.lit(salt),
                    *[F.col(c).cast("string") for c in key_cols],
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    # u in (0,1): (h + 0.5) / 2^60 — never 0 or 1, so ln(u) is finite
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    nlq = (-F.floor(F.log(u) * F.lit(1e6))).cast("bigint")
    wq = (F.col(weight_col).cast("decimal(18,6)") * 1000000).cast("bigint")
    ekey = nlq.cast("double") / wq.cast("double")
    return (
        df.withColumn("__wq", wq)
        .filter(F.col("__wq") > 0)
        .withColumn("__ekey", ekey)
        .orderBy(F.col("__ekey").asc(), *[F.col(c) for c in key_cols])
        .limit(n)
        .drop("__ekey", "__wq")
    )


@register(
    "cur_weighted_sample",
    tags=("curation", "sampling"),
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST('0x' || substr(md5('ws0#'
                        || CAST(o_orderkey AS STRING)), 1, 15) AS BIGINT)
                       AS h,
                   CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000
                        AS BIGINT) AS wq
            FROM orders
        ),
        keyed AS (
            SELECT o_orderkey, o_custkey, o_totalprice, wq,
                   CAST(-FLOOR(ln((CAST(h AS DOUBLE)
                                   + CAST('0.5' AS DOUBLE))
                                  / CAST({1 << 60} AS DOUBLE))
                               * CAST(1e6 AS DOUBLE)) AS BIGINT) AS nlq
            FROM base WHERE wq > 0
        )
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM keyed
        ORDER BY CAST(nlq AS DOUBLE) / CAST(wq AS DOUBLE) ASC, o_orderkey
        LIMIT 200
    """,
)
def cur_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional exactly-200 order sample, weighted by order
    value — the 'sample important data more' primitive behind loss-
    weighted corpus subsampling and stratified eval-set construction.
    PROMOTED rows-only -> full hash oracle in round 13 via
    weighted_sample's engine-replayable draw (md5 60-bit uniform +
    floor-quantized ln + exact-integer ranking key — see the helper's
    docstring); the oracle replays the A-ES key ordering verbatim.
    NOTE: the result set is the top-200 SET (returned here sorted by
    orderkey); the oracle sorts by the same key, and the driver's
    order-insensitive multiset compare sees identical rows."""
    o = load_table(spark, sf_dir, "orders")
    return weighted_sample(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_totalprice",
        200,
        ["o_orderkey"],
    ).orderBy("o_orderkey")


def _fk_pair_sql(child_t, child_c, parent_t, parent_c):
    return f"""
        SELECT '{child_t}.{child_c}' AS child_col,
               '{parent_t}.{parent_c}' AS parent_col,
               (SELECT CAST(COUNT(DISTINCT {child_c}) AS BIGINT)
                FROM {child_t}) AS n_child_distinct,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                   (SELECT DISTINCT {child_c} FROM {child_t}) c
                WHERE EXISTS (SELECT 1 FROM {parent_t} p
                              WHERE p.{parent_c} = c.{child_c}))
                   AS n_contained,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                   (SELECT DISTINCT {child_c} FROM {child_t}) c
                WHERE EXISTS (SELECT 1 FROM {parent_t} p
                              WHERE p.{parent_c} = c.{child_c}))
                   = (SELECT COUNT(DISTINCT {child_c}) FROM {child_t})
               AND
               (SELECT COUNT(DISTINCT {parent_c}) FROM {parent_t})
                   = (SELECT COUNT(*) FROM {parent_t})
                   AS is_fk
    """


@register(
    "dq_fk_inference",
    tags=("quality", "discovery", "join"),
    oracle=" UNION ALL ".join(
        [
            _fk_pair_sql("lineitem", "l_orderkey", "orders", "o_orderkey"),
            _fk_pair_sql("orders", "o_custkey", "customer", "c_custkey"),
            _fk_pair_sql("customer", "c_nationkey", "nation", "n_nationkey"),
            _fk_pair_sql("orders", "o_orderkey", "customer", "c_custkey"),
        ]
    )
    + " ORDER BY child_col, parent_col",
)
def dq_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key relationship DISCOVERY by containment analysis: for
    each candidate (child column, parent column) pair, compute the
    child's distinct cardinality, how many of those values the parent
    contains (distinct-set semi join), and whether the evidence proves
    an FK — full containment AND parent-side uniqueness. Three true
    FKs of the star schema plus one negative control. Everything runs
    on DISTINCT key sets (dimension-sized after the first distinct
    agg), so the audit touches each fact column once regardless of
    table volume — the schema-inference pass a lakehouse catalog runs
    over unfamiliar data."""
    return run_sql(spark, sf_dir, "dq_fk_inference")


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    salt: str = "dp0",
) -> DataFrame:
    """ε-differentially-private count release: exact per-group counts
    plus Laplace(1/ε) noise (COUNT has L1 sensitivity 1 under
    add/remove-one-row adjacency). The noise draw is derived from a
    salted hash of the GROUP KEY — deterministic for a given (salt,
    key) under any partitioning, so a release is reproducible, while
    different salts give independent draws (the privacy accountant
    rotates the salt per release). Inverse-CDF sampling:
    lap = -(1/ε)·sign(u−½)·ln(1−2|u−½|), u ~ U(0,1) from the hash.
    Since round 13 the draw is engine-replayable (the weighted_sample
    cure): u = 60-bit md5 uniform, the ln is FLOOR-QUANTIZED at 1e-6
    into a BIGINT, and the noise is ONE pinned double expression of
    that integer — so dq_dp_noisy_counts carries a full hash oracle.
    Unbiasedness and scale stay pinned across salts in
    tests/test_dp.py. The noisy agg costs exactly one hash shuffle —
    the noise rides the 1-row-per-group aggregate, never the raw
    data."""
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("exact_n"))
    keystr = F.concat_ws(
        "#", F.lit(salt), *[F.col(c).cast("string") for c in group_cols]
    )
    h = F.conv(F.substring(F.md5(keystr), 1, 15), 16, 10).cast("bigint")
    # u in (0,1), never exactly 1/2: h + 0.5 is never 2^59
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    centered = u - F.lit(0.5)
    lnq = F.floor(
        F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered)) * F.lit(1e6)
    ).cast("bigint")
    lap = (
        F.lit(1.0 / epsilon)
        * F.signum(centered)
        * ((-lnq).cast("double") / F.lit(1e6))
    )
    return counts.select(
        *group_cols,
        "exact_n",
        (F.col("exact_n").cast("double") + lap).alias("noisy_n"),
    )


@register(
    "dq_dp_noisy_counts",
    tags=("quality", "privacy", "agg"),
    oracle=f"""
        WITH counts AS (
            SELECT o_orderpriority, o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM orders GROUP BY 1, 2
        ),
        drawn AS (
            SELECT o_orderpriority, o_orderstatus, exact_n,
                   (CAST(CAST('0x' || substr(md5('dp0#' || o_orderpriority
                         || '#' || o_orderstatus), 1, 15) AS BIGINT)
                     AS DOUBLE) + CAST('0.5' AS DOUBLE))
                   / CAST({1 << 60} AS DOUBLE) AS u
            FROM counts
        ),
        noised AS (
            SELECT o_orderpriority, o_orderstatus, exact_n,
                   u - CAST('0.5' AS DOUBLE) AS centered,
                   CAST(FLOOR(ln(CAST('1.0' AS DOUBLE)
                                 - CAST('2.0' AS DOUBLE)
                                   * abs(u - CAST('0.5' AS DOUBLE)))
                              * CAST(1e6 AS DOUBLE)) AS BIGINT) AS lnq
            FROM drawn
        )
        SELECT o_orderpriority, o_orderstatus, exact_n,
               CAST(exact_n AS DOUBLE)
                 + CAST('1.0' AS DOUBLE) * sign(centered)
                   * (CAST(-lnq AS DOUBLE) / CAST(1e6 AS DOUBLE))
                   AS noisy_n
        FROM noised
    """,
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε=1 differentially-private order counts per (priority, status)
    — the governance-gated aggregate release shape (census-style
    tables, usage reporting) next to mask()/AES/k-anonymity in the
    privacy surface. Exact counts stay internal; only noisy_n leaves
    the trust boundary in a real deployment. PROMOTED rows-only ->
    full hash oracle in round 13 via dp_noisy_counts' engine-
    replayable draw (md5 60-bit uniform + floor-quantized ln + one
    pinned noise expression — see the helper's docstring)."""
    o = load_table(spark, sf_dir, "orders")
    return dp_noisy_counts(
        o, ["o_orderpriority", "o_orderstatus"], epsilon=1.0
    ).orderBy("o_orderpriority", "o_orderstatus")


def _labelprop_oracle(rounds: int = 5) -> str:
    """Unrolled label propagation (same fixed-round recipe as
    _pagerank_oracle / _kcore_oracle): the update is pure integer
    arithmetic (vote counts, min-label ties), and the one float —
    the 0.8 edge-weight percentile — interpolates identically in
    Spark percentile() and DuckDB quantile_cont() (both (n-1)-based,
    verified on a shared fixture)."""
    ctes = []
    prev = "l0"
    for i in range(1, rounds + 1):
        ctes.append(f"""
        l{i} AS MATERIALIZED (
            SELECT l.node, COALESCE(p.new_label, l.label) AS label
            FROM {prev} l LEFT JOIN (
                SELECT node, label AS new_label FROM (
                    SELECT s.a AS node, v.label,
                           ROW_NUMBER() OVER (PARTITION BY s.a
                               ORDER BY COUNT(*) DESC, v.label ASC) AS rn
                    FROM sym s JOIN {prev} v ON v.node = s.b
                    GROUP BY s.a, v.label
                )
                WHERE rn = 1
            ) p ON p.node = l.node
        )""")
        prev = f"l{i}"
    return f"""
        WITH e AS MATERIALIZED (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   COUNT(*) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey, c.c_nationkey
        ),
        u AS MATERIALIZED (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   SUM(w) AS w
            FROM e WHERE src <> dst
            GROUP BY LEAST(src, dst), GREATEST(src, dst)
        ),
        thr AS (SELECT quantile_cont(w, 0.8) AS t FROM u),
        ku AS MATERIALIZED (
            SELECT a, b FROM u CROSS JOIN thr WHERE w >= t
        ),
        sym AS MATERIALIZED (
            SELECT a, b FROM ku UNION SELECT b, a FROM ku
        ),
        l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
        {','.join(ctes)}
        SELECT label AS community_id,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM {prev}
        GROUP BY label
        ORDER BY community_id
    """


@register(
    "graph_community_labelprop",
    tags=("graph", "iterative"),
    oracle=_labelprop_oracle(),
)
def graph_community_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the strong-trade nation graph via
    deterministic label propagation (operators/components.py::
    label_propagation — max-frequency update, min-label ties, fixed 5
    rounds). Hash-oracled (promoted from rows-only in r7): the fixed
    deterministic rounds unroll as chained CTEs — pure integer votes
    and min-label ties, the one float (the 0.8 percentile threshold)
    interpolating identically cross-engine (_labelprop_oracle).
    tests/test_operators.py additionally pins planted two-clique
    recovery, repartition determinism, and the tiebreak rule."""
    u = trade_pairs(spark, sf_dir)
    thr = u.agg(F.percentile("w", 0.8).alias("t"))
    ku = (
        u.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("a", "b")
    )
    comm = label_propagation(ku, "a", "b", n_rounds=5)
    return (
        comm.groupBy("community_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("community_id")
    )


@register(
    "graph_components_star",
    tags=("graph", "iterative", "scale"),
    oracle=_cc_oracle(),
)
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating LARGE-STAR/SMALL-STAR edge
    rewrites (Kiveris et al. SoCC'14) over the same trigram-Jaccard
    near-dup edges as cur_dedup_components — the O(log^2 n)-round
    algorithm that replaces diameter-bound min-label propagation on
    adversarial graphs (at 100 TB a web-crawl dup graph can chain);
    operators/components.py::connected_components_star. Oracle: the
    same recursive-CTE transitive closure; pytest additionally pins
    star == propagation on path/clique/random graphs."""
    from finance_etl_spark.operators.components import connected_components_star

    pairs = get("text_ngram_jaccard_pairs").build(spark, sf_dir)
    comp = connected_components_star(pairs.select("id_a", "id_b"), "id_a", "id_b")
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        comp.join(sizes, "component_id")
        .select(F.col("node").alias("doc_id"), "component_id", "n_members")
    )


@register(
    "cur_preference_pairs",
    tags=("curation", "llm", "window"),
    oracle="""
        WITH scored AS (
            SELECT doc_id, source, lang, n_chars,
                   array_length(filter(string_split(text, ' '), t -> t <> ''))
                       AS n_toks
            FROM documents
        ),
        ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY source, lang
                                      ORDER BY n_toks DESC, doc_id) AS rn_best,
                   row_number() OVER (PARTITION BY source, lang
                                      ORDER BY n_toks ASC, doc_id) AS rn_worst,
                   COUNT(*) OVER (PARTITION BY source, lang) AS grp_n
            FROM scored
        )
        SELECT b.source, b.lang,
               b.doc_id AS chosen_id, w.doc_id AS rejected_id,
               b.n_toks AS chosen_toks, w.n_toks AS rejected_toks,
               CAST(b.n_toks - w.n_toks AS BIGINT) AS margin
        FROM ranked b JOIN ranked w
          ON b.source = w.source AND b.lang = w.lang
         AND b.rn_best = 1 AND w.rn_worst = 1
        WHERE b.grp_n >= 2 AND b.doc_id <> w.doc_id
    """,
)
def cur_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (DPO/RLHF reward data): per
    (source, lang) group, pair the highest-quality document with the
    lowest-quality one (quality proxy: token count; swap in any score
    column) — chosen/rejected with an explicit margin, deterministic
    tiebreaks, groups of one skipped (no self-pairs).

    Scale: argmax/argmin as ONE partial-aggregable groupBy —
    max(struct(score, tiebreak)) combines map-side, so a (source,
    lang) group of a billion documents never serializes through a
    ranking window's single task (the window formulation is kept as
    the oracle). Tiebreaks are encoded in the struct ordering:
    chosen = max(n_toks, then smallest doc_id via negation),
    rejected = min(n_toks, then smallest doc_id). Generalizing to k
    pairs per group swaps the structs for fixed-k top-k aggregation
    (window_topk_per_group's shape) — still never a ranking window
    over an SF-scaled group."""
    d = load_table_parallel(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "n_toks"
        ),
    )
    agg = scored.groupBy("source", "lang").agg(
        F.max(F.struct(F.col("n_toks"), (-F.col("doc_id")).alias("neg_id"))).alias(
            "best"
        ),
        F.min(F.struct(F.col("n_toks"), F.col("doc_id"))).alias("worst"),
        F.count(F.lit(1)).alias("grp_n"),
    )
    chosen_id = -F.col("best.neg_id")
    rejected_id = F.col("worst.doc_id")
    return (
        agg.filter((F.col("grp_n") >= 2) & (chosen_id != rejected_id))
        .select(
            "source",
            "lang",
            chosen_id.alias("chosen_id"),
            rejected_id.alias("rejected_id"),
            F.col("best.n_toks").alias("chosen_toks"),
            F.col("worst.n_toks").alias("rejected_toks"),
            (F.col("best.n_toks") - F.col("worst.n_toks"))
            .cast("long")
            .alias("margin"),
        )
    )


@register(
    "cur_bitemporal_asknown",
    tags=("curation", "scd", "temporal"),
    oracle="""
        WITH versions AS (
            -- v1: the original booking, known from the order date
            SELECT o_orderkey,
                   CAST(o_totalprice AS DECIMAL(30,10)) AS amount,
                   CAST(o_orderdate AS DATE) AS valid_from,
                   CAST(o_orderdate AS DATE) AS known_from
            FROM orders
            UNION ALL
            -- v2: a 10%-discount correction to F-status orders,
            -- discovered 30 days after booking, retroactive to the
            -- SAME valid date
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(30,10))
                        * CAST(0.9 AS DECIMAL(2,1)) AS DECIMAL(30,10)),
                   CAST(o_orderdate AS DATE),
                   CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
            FROM orders WHERE o_orderstatus = 'F'
        ),
        pit AS (
            SELECT *,
                   row_number() OVER (PARTITION BY o_orderkey
                       ORDER BY known_from DESC, amount ASC) AS rn
            FROM versions
            WHERE valid_from <= DATE '1996-12-31'
              AND known_from <= DATE '1997-01-15'
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(*) FILTER (WHERE rn_total = 2) AS BIGINT) AS n_corrected,
               CAST(CAST(SUM(amount) AS STRING) AS DOUBLE) AS book_value
        FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY o_orderkey) AS rn_total
            FROM pit
        ) WHERE rn = 1
    """,
)
def cur_bitemporal_asknown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL point-in-time: 'the book value of business effective
    ≤ 1996-12-31, as KNOWN on 1997-01-15' — two independent time axes
    (valid time: when the fact was true; transaction time: when we
    learned it). Corrections land as new versions with a later
    known_from but the ORIGINAL valid_from, so restating history never
    rewrites it: the same query with a later knowledge date returns the
    corrected book, with an earlier one reproduces exactly what was
    reported then (the auditor's question SCD2 alone cannot answer).
    Versions: booking at order date; a retroactive 10% correction to
    settled orders discovered 30 days later.

    Scale: the version feed is a union of projections (map-side); the
    as-known selection is one row_number window per order key —
    identical shape to CDC latest-per-key, just filtered on BOTH time
    axes first so state never includes future knowledge."""
    return run_sql(spark, sf_dir, "cur_bitemporal_asknown")


@register(
    "cur_mixture_waterfill",
    tags=("curation", "sample", "window"),
    oracle="""
        WITH caps AS MATERIALIZED (
            SELECT source,
                   CAST(SUM(array_length(filter(string_split(text, ' '),
                                            t -> t <> ''))) AS BIGINT) AS cap
            FROM documents GROUP BY source
        ),
        tot AS MATERIALIZED (
            SELECT CAST(SUM(cap) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS s,
                   CAST(SUM(cap) // 2 AS BIGINT) AS b
            FROM caps
        ),
        ranked AS MATERIALIZED (
            SELECT source, cap, s, b,
                   CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT) AS i,
                   CAST(SUM(cap) OVER (ORDER BY cap, source
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
            FROM caps, tot
        ),
        sat AS MATERIALIZED (
            SELECT *, (p + cap * (s - i) <= b) AS saturated FROM ranked
        ),
        level AS MATERIALIZED (
            SELECT CAST(COUNT(*) FILTER (WHERE saturated) AS BIGINT) AS k,
                   CAST(COALESCE(MAX(p) FILTER (WHERE saturated), 0)
                        AS BIGINT) AS p_k
            FROM sat
        )
        SELECT source, cap, saturated, b AS budget,
               CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                    ELSE CAST(b - p_k AS DOUBLE) / CAST(s - k AS DOUBLE)
               END AS allocated
        FROM sat, level
        ORDER BY source
    """,
)
def cur_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfilling across corpus sources — the mixture
    allocator behind 'cap every domain at a fair share': given budget
    B (half the corpus here), each source gets min(capacity, λ) where
    the water level λ spends B exactly. The classic solver is
    iterative; sorted by capacity it is CLOSED-FORM: the saturated set
    is a prefix (p_i + cap_i·(S-i) is non-decreasing when caps sort
    ascending), so one window pass finds k = |saturated prefix| and
    λ = (B - P_k)/(S - k). Everything until the final division is
    BIGINT-exact. Corpus-scale work is one map-side token count; the
    windows run on the O(|sources|)-row aggregate — source cardinality
    is a registry property, not an SF-scaled one."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    caps = d.groupBy("source").agg(F.sum(n_tok).alias("cap"))
    tot = caps.agg(
        F.sum("cap").alias("total"),
        F.count(F.lit(1)).alias("s"),
        F.floor(F.sum("cap") / F.lit(2)).cast("long").alias("b"),
    )
    w_rank = Window.orderBy("cap", "source")
    ranked = caps.join(F.broadcast(tot)).select(
        "source",
        "cap",
        "s",
        "b",
        F.row_number().over(w_rank).cast("long").alias("i"),
        F.sum("cap")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        .alias("p"),
    )
    sat = ranked.withColumn(
        "saturated",
        F.col("p") + F.col("cap") * (F.col("s") - F.col("i")) <= F.col("b"),
    )
    level = sat.agg(
        F.sum(F.when(F.col("saturated"), 1).otherwise(0))
        .cast("long")
        .alias("k"),
        F.coalesce(
            F.max(F.when(F.col("saturated"), F.col("p"))), F.lit(0)
        )
        .cast("long")
        .alias("p_k"),
    )
    return (
        sat.join(F.broadcast(level))
        .select(
            "source",
            "cap",
            "saturated",
            F.col("b").alias("budget"),
            F.when(F.col("saturated"), F.col("cap").cast("double"))
            .otherwise(
                (F.col("b") - F.col("p_k")).cast("double")
                / (F.col("s") - F.col("k")).cast("double")
            )
            .alias("allocated"),
        )
        .orderBy("source")
    )


@register(
    "graph_jaccard_linkpred",
    tags=("graph", "join"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        common AS MATERIALIZED (
            SELECT x.v AS a, y.v AS b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM nbr x JOIN nbr y ON x.n = y.n AND x.v < y.v
            GROUP BY 1, 2
        )
        SELECT c.a, c.b, c.n_common, da.deg AS deg_a, db.deg AS deg_b,
               CAST(c.n_common AS DOUBLE)
                 / CAST(da.deg + db.deg - c.n_common AS DOUBLE) AS jaccard
        FROM common c
        JOIN deg da ON da.v = c.a
        JOIN deg db ON db.v = c.b
        LEFT JOIN ku k ON k.a = c.a AND k.b = c.b
        WHERE k.a IS NULL
        ORDER BY c.a, c.b
    """,
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction on the strong-trade graph
    (same corpus-relative 60th-percentile edge set as
    graph_triangle_count): for every NON-adjacent node pair sharing at
    least one neighbor, |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    common-neighbors recommender. Candidate pairs come from the
    neighbor-list self-join keyed on the shared neighbor (wedge
    enumeration: cost ∝ Σ deg², never |V|²); adjacency is removed
    with a left anti-join; counts stay BIGINT with one double
    division at the edge. The corpus-scale work is the 4-way fact
    join building edge weights — dims broadcast, one fact shuffle."""
    return run_sql(spark, sf_dir, "graph_jaccard_linkpred")


@register(
    "cur_curriculum_order",
    tags=("curation", "window", "sample"),
    oracle="""
        WITH sharded AS (
            SELECT doc_id, n_chars,
                   CAST('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 1)
                        AS BIGINT) % 4 AS shard
            FROM documents
        ),
        staged AS (
            SELECT doc_id, n_chars, shard,
                   NTILE(10) OVER (PARTITION BY shard
                       ORDER BY n_chars, doc_id) AS stage,
                   ROW_NUMBER() OVER (PARTITION BY shard
                       ORDER BY n_chars, doc_id) AS rn
            FROM sharded
        ),
        positioned AS (
            SELECT doc_id, n_chars, shard, stage,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard, stage
                            ORDER BY rn) - 1 AS BIGINT) * 10
                     + stage - 1 AS pos_in_shard
            FROM staged
        )
        SELECT shard, pos_in_shard, doc_id,
               CAST(stage AS INT) AS stage, n_chars
        FROM positioned
        WHERE pos_in_shard < 15
        ORDER BY shard, pos_in_shard
    """,
)
def cur_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering with difficulty interleaving: documents
    rank easy→hard (length proxy) into 10 stages, then the emission
    order round-robins across stages (pos = cycle·10 + stage) so
    every training window sees the full difficulty mix while earlier
    windows still skew easy — the anti-collapse trick curriculum
    schedules use in practice. Computed PER SHARD (md5(doc_id)%4):
    orderings at corpus scale are always sharded — a global NTILE
    would serialize, per-shard windows distribute and the shard count
    is the parallelism knob. Deterministic: length ties break on
    doc_id, shard membership is a pure hash of the id. The query
    emits each shard's first 15 curriculum positions."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        .cast("long")
        % 4
    )
    sharded = d.select("doc_id", "n_chars", shard.alias("shard"))
    w_rank = Window.partitionBy("shard").orderBy("n_chars", "doc_id")
    staged = sharded.select(
        "doc_id",
        "n_chars",
        "shard",
        F.ntile(10).over(w_rank).alias("stage"),
        F.row_number().over(w_rank).alias("rn"),
    )
    w_cycle = Window.partitionBy("shard", "stage").orderBy("rn")
    positioned = staged.select(
        "doc_id",
        "n_chars",
        "shard",
        "stage",
        (
            (F.row_number().over(w_cycle) - 1).cast("long") * 10
            + F.col("stage")
            - 1
        ).alias("pos_in_shard"),
    )
    return (
        positioned.filter(F.col("pos_in_shard") < 15)
        .select("shard", "pos_in_shard", "doc_id", "stage", "n_chars")
        .orderBy("shard", "pos_in_shard")
    )


@register(
    "cur_span_corruption_masks",
    tags=("curation", "text", "lm"),
    oracle=f"""
        WITH toks AS ({TOKENS_SQL}),
        flagged AS (
            SELECT doc_id, pos,
                   substr(md5(CAST(doc_id AS STRING) || ':'
                              || CAST(pos AS STRING)), 1, 2) < '27'
                       AS masked
            FROM toks
        ),
        runs AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY pos) AS island
            FROM flagged WHERE masked
        ),
        spans AS (
            SELECT doc_id, island,
                   CAST(COUNT(*) AS BIGINT) AS span_len,
                   CAST(MIN(pos) AS BIGINT) AS span_start
            FROM runs GROUP BY doc_id, island
        )
        SELECT f.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN f.masked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_masked,
               CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(s.max_span AS BIGINT) AS max_span_len,
               CAST(s.first_start AS BIGINT) AS first_span_start
        FROM flagged f
        LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_spans, MAX(span_len) AS max_span,
                   MIN(span_start) AS first_start
            FROM spans GROUP BY doc_id
        ) s USING (doc_id)
        GROUP BY f.doc_id, s.n_spans, s.max_span, s.first_start
        ORDER BY f.doc_id
    """,
)
def cur_span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption mask generation — the denoising-
    objective preprocessing step of encoder-decoder pretraining:
    ~15% of token positions flag as masked via an md5 hash gate on
    (doc_id, position) — NO RNG, so the masks are reproducible under
    any partitioning, re-run, or corpus growth (the same determinism
    contract as cur_hash_split, applied at token granularity) — and
    consecutive masked positions merge into spans with the
    gaps-and-islands trick. Per doc: token/mask counts, span count,
    longest span, first span offset — the statistics a pretraining
    pipeline logs to verify its corruption rate. One posexplode + one
    per-doc window; everything else is hash-aggs."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"))
    gate = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("pos").cast("string")
            )
        ),
        1,
        2,
    )
    flagged = toks.select("doc_id", "pos", (gate < "27").alias("masked"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.filter("masked").select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(w)).alias("island"),
    )
    spans = runs.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("span_len"),
        F.min("pos").alias("span_start"),
    )
    span_stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span_len").alias("max_span_len"),
        F.min("span_start").alias("first_span_start"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("masked"), 1).otherwise(0)).alias("n_masked"),
        )
        .join(span_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            "max_span_len",
            "first_span_start",
        )
        .orderBy("doc_id")
    )


_KCORE_K = 8
_KCORE_ROUNDS = 6


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled k-core peeling (same fixed-round unrolling recipe as
    _pagerank_oracle): every quantity is an exact integer count, so
    cross-engine equality is structural."""
    ctes = []
    prev = "e0"
    for i in range(1, rounds + 1):
        ctes.append(f"""
        e{i} AS MATERIALIZED (
            SELECT e.c, e.s FROM {prev} e
            JOIN (SELECT c FROM {prev} GROUP BY c
                  HAVING COUNT(*) >= {k}) cd ON cd.c = e.c
            JOIN (SELECT s FROM {prev} GROUP BY s
                  HAVING COUNT(*) >= {k}) sd ON sd.s = e.s
        )""")
        prev = f"e{i}"
    return f"""
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        {','.join(ctes)}
        SELECT 'customer' AS side, c AS node,
               CAST(COUNT(*) AS BIGINT) AS degree
        FROM {prev} GROUP BY c
        UNION ALL
        SELECT 'supplier' AS side, s AS node,
               CAST(COUNT(*) AS BIGINT) AS degree
        FROM {prev} GROUP BY s
    """


@register(
    "graph_kcore_peel",
    tags=("graph", "iterative"),
    oracle=_kcore_oracle(),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=8) of the bipartite customer–supplier
    trade graph by fixed-round peeling: each round drops every node
    whose degree among SURVIVING edges is < k, then restricts the edge
    set to surviving endpoints — the standard dense-subgraph /
    spam-farm detector. Exact integer degrees make it hash-oracled via
    the same fixed-round CTE unrolling as graph_pagerank_trade. Each
    round is two degree aggregations + two semi-joins over the
    shrinking edge set, checkpointed per round by iterate so the
    LOGICAL plan stays one round deep — each round references the previous
    edge set three times, so an un-truncated lineage tree grows 3^r
    and Catalyst analysis alone went 1.4 s → 28 s by round 6
    (measured); with truncation rounds are flat. At 100 TB rounds
    move edge-key-partitioned data only and the edge set only ever
    shrinks."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )

    def peel(cur: DataFrame, _: int) -> DataFrame:
        cd = cur.groupBy("c").agg(F.count(F.lit(1)).alias("cd")).filter(
            F.col("cd") >= _KCORE_K
        )
        sd = cur.groupBy("s").agg(F.count(F.lit(1)).alias("sd")).filter(
            F.col("sd") >= _KCORE_K
        )
        return cur.join(cd.select("c"), "c").join(sd.select("s"), "s").select("c", "s")

    cur = iterate(edges, peel, _KCORE_ROUNDS)
    out = (
        cur.groupBy("c")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.lit("customer").alias("side"),
            F.col("c").alias("node"),
            F.col("degree").cast("bigint").alias("degree"),
        )
        .unionByName(
            cur.groupBy("s")
            .agg(F.count(F.lit(1)).alias("degree"))
            .select(
                F.lit("supplier").alias("side"),
                F.col("s").alias("node"),
                F.col("degree").cast("bigint").alias("degree"),
            )
        )
    )
    return out


_E2E_MIN_TOKENS = 30


@register(
    "cur_e2e_training_prep",
    tags=("curation", "pipeline", "dedup", "mixture"),
    oracle=f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, lang, text,
                   filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ),
        quality AS (
            SELECT doc_id, lang, text,
                   array_length(t) AS n_tokens,
                   CAST(array_length(filter(t,
                       x -> x IN {tuple(STOPWORDS)})) AS DOUBLE)
                     / CAST(array_length(t) AS DOUBLE) AS stop_ratio
            FROM toks WHERE array_length(t) >= {_E2E_MIN_TOKENS}
        ),
        gated AS (SELECT * FROM quality WHERE stop_ratio > 0),
        deduped AS (
            SELECT doc_id, lang, n_tokens FROM (
                SELECT doc_id, lang, n_tokens,
                       ROW_NUMBER() OVER (
                           PARTITION BY md5(lower(trim(text)))
                           ORDER BY doc_id) AS copy_rank
                FROM gated
            ) WHERE copy_rank = 1
        ),
        ranked AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY doc_id) AS BIGINT) AS lang_rank
            FROM deduped
        ),
        quota AS (
            SELECT MIN(cnt) AS q FROM (
                SELECT COUNT(*) AS cnt FROM ranked GROUP BY lang
            )
        )
        SELECT r.doc_id, r.lang, r.n_tokens, r.lang_rank,
               CAST(ROW_NUMBER() OVER (ORDER BY r.lang_rank, r.lang)
                    AS BIGINT) AS global_position
        FROM ranked r CROSS JOIN quota
        WHERE r.lang_rank <= quota.q
        ORDER BY global_position
    """,
)
def cur_e2e_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data preparation as ONE lazy plan — the
    composition story for the whole curation family: (1) quality gate
    (≥30 tokens and a nonzero stopword ratio — the text_quality_score
    signals), (2) exact dedup keeping the smallest doc_id per
    normalized-content hash, (3) BALANCED language mixture (per-lang
    quota = the smallest post-dedup language count — the waterfill
    floor), (4) round-robin interleave (order by (per-lang rank,
    lang)) so no language is clumped — the curriculum-friendly
    emission order. The quality filter pushes below the dedup window
    and columns prune to the five consumed; the quota broadcasts back
    as one row, and the global interleave position is the two-phase
    range-partitioned rank — no unpartitioned window ever sees a
    corpus-scale relation. Everything is integer/string-exact; the one
    float (stop ratio) only gates."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "text",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("t"),
    )
    quality = toks.filter(F.size("t") >= _E2E_MIN_TOKENS).select(
        "doc_id",
        "lang",
        "text",
        F.size("t").alias("n_tokens"),
        (
            F.size(
                F.filter(F.col("t"), lambda x: x.isin(*STOPWORDS))
            ).cast("double")
            / F.size("t").cast("double")
        ).alias("stop_ratio"),
    )
    gated = quality.filter(F.col("stop_ratio") > 0)
    wd = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy(
        "doc_id"
    )
    deduped = (
        gated.withColumn("copy_rank", F.row_number().over(wd))
        .filter(F.col("copy_rank") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    # The quota (min post-dedup language count) comes from the
    # O(|langs|) aggregate broadcast back, NOT from
    # min(...).over(Window.partitionBy()) — an unpartitioned window
    # funnels every surviving doc through ONE task (the repo-wide rule:
    # unpartitioned windows only over already-aggregated relations).
    lang_counts = deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("lang_n")
    )
    quota = lang_counts.agg(F.min("lang_n").alias("q"))
    wl = Window.partitionBy("lang").orderBy("doc_id")
    ranked = (
        deduped.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.row_number().over(wl).cast("bigint").alias("lang_rank"),
        )
        .crossJoin(F.broadcast(quota))
        .filter(F.col("lang_rank") <= F.col("q"))
        .select("doc_id", "lang", "n_tokens", "lang_rank")
    )
    # global interleave position via the two-phase range-partitioned
    # rank (operators/ranks.py) — never a global Window.orderBy over
    # the corpus-scale balanced sample. (lang_rank, lang) is a total
    # order: lang_rank is unique within each lang.
    from finance_etl_spark.operators.ranks import global_row_number

    out = global_row_number(
        ranked,
        [F.col("lang_rank"), F.col("lang")],
        out_col="global_position",
    )
    return out.select(
        "doc_id",
        "lang",
        "n_tokens",
        "lang_rank",
        F.col("global_position").cast("bigint").alias("global_position"),
    ).orderBy("global_position")


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling (round 7 continuation): the
# multilingual-LM upsampling rule p_i ∝ n_i^alpha (Conneau & Lample's
# XLM alpha-smoothing; alpha in [0.2, 0.7] across published corpora).
# alpha is fixed at 0.5 here deliberately: n^0.5 = sqrt(n) is
# IEEE-CORRECTLY-ROUNDED (unlike pow/exp/ln, which are libm-dependent
# and would force this query to rows-only), so the whole sampling
# table stays engine-exact and hash-oracle-checked. The sqrt weights
# are floor-quantized to 1e-6 and summed as exact integers (the
# o_fsum recipe) — never an order-dependent float sum.

_TEMP_EPOCH_DOCS = 100_000  # docs drawn per training epoch


@register(
    "cur_mixture_temperature",
    tags=("curation", "sample", "agg"),
    oracle=f"""
        WITH per_dom AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6)
                        AS DECIMAL(38,0)) AS wq
            FROM documents GROUP BY 1, 2
        ),
        tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
                   SUM(wq) AS total_wq
            FROM per_dom
        )
        SELECT source, lang, n_docs,
               n_docs / CAST(total_docs AS DOUBLE) AS p_raw,
               CAST(CAST(wq AS STRING) AS DOUBLE)
                 / CAST(CAST(total_wq AS STRING) AS DOUBLE) AS p_temp,
               (CAST(CAST(wq AS STRING) AS DOUBLE)
                 / CAST(CAST(total_wq AS STRING) AS DOUBLE))
                 / (n_docs / CAST(total_docs AS DOUBLE)) AS upsample,
               CAST(FLOOR(CAST(CAST(wq AS STRING) AS DOUBLE)
                 / CAST(CAST(total_wq AS STRING) AS DOUBLE)
                 * {_TEMP_EPOCH_DOCS}) AS BIGINT) AS epoch_docs
        FROM per_dom, tot
        ORDER BY source, lang
    """,
)
def cur_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) domain-mixture sampling table
    over (source, lang) domains: p_temp ∝ sqrt(n_docs), the standard
    smoothing that upsamples tail domains without letting any head
    domain dominate an epoch. Emits raw and smoothed shares, the
    per-domain upsample factor, and the integer per-epoch doc budget.
    alpha = 0.5 is chosen because sqrt is IEEE-correctly-rounded on
    both engines (general n^alpha needs libm pow and would demote the
    query to rows-only); the sqrt weights are floor-quantized and
    integer-summed, so no float reduction touches the output. Shape:
    one hash agg keyed by domain + a 1-row broadcast cross join —
    corpus-scale work is only the count; domains are registry-bounded
    at any SF."""
    return run_sql(spark, sf_dir, "cur_mixture_temperature")


# ---------------------------------------------------------------------------
# Degree assortativity of the trade graph (round 7 continuation): do
# high-degree customers trade with high-degree suppliers (assortative,
# r > 0) or with the long tail (disassortative, r < 0)? Newman's r is
# the Pearson correlation of the two endpoint degrees across edges —
# integer degrees, so the whole statistic reduces to six exact
# DECIMAL(38,0) sums with one double expression at the edge, the same
# contract as agg_corr_exact / stat_spearman_corr. Network science
# baseline: bipartite commercial graphs are typically disassortative.


@register(
    "graph_degree_assortativity",
    tags=("graph", "agg"),
    oracle="""
        WITH e AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        dc AS (SELECT c, COUNT(*) AS dc FROM e GROUP BY c),
        ds AS (SELECT s, COUNT(*) AS ds FROM e GROUP BY s),
        j AS (
            SELECT CAST(dc.dc AS DECIMAL(38,0)) AS x,
                   CAST(ds.ds AS DECIMAL(38,0)) AS y
            FROM e JOIN dc ON dc.c = e.c JOIN ds ON ds.s = e.s
        ),
        agg AS (
            SELECT COUNT(*) AS m,
                   CAST(CAST(SUM(x) AS STRING) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) AS STRING) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x * x) AS STRING) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y * y) AS STRING) AS DOUBLE) AS syy,
                   CAST(CAST(SUM(x * y) AS STRING) AS DOUBLE) AS sxy
            FROM j
        )
        SELECT CAST(m AS BIGINT) AS n_edges,
               (m * sxy - sx * sy)
                 / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy))
                   AS assortativity
        FROM agg
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the bipartite customer-supplier
    trade graph (the same distinct edge set as graph_kcore_peel):
    Pearson correlation of the customer-side and supplier-side degrees
    across edges. Degrees are exact integers from two hash aggs; two
    keyed joins attach them back to edges; one agg reduces to six
    exact decimal sums; the correlation is a single identical-order
    IEEE expression. At scale the joins shuffle on the natural edge
    keys, degree maps partial-aggregate map-side, and the driver sees
    one row."""
    return run_sql(spark, sf_dir, "graph_degree_assortativity")


# ---------------------------------------------------------------------------
# Epoch-sample materialization (round 7 continuation): turn the
# temperature mixture's per-domain budgets into an ACTUAL document
# selection, deterministically. Selection is hash-threshold (keep doc
# iff md5(doc#epoch) 16-bit bucket < floor(budget*65536/n_docs)) — one
# map-side predicate per row, no per-domain sort, no bottom-k window:
# the only shape that stays embarrassingly parallel when a domain has
# ten billion docs. The realized sample size is binomial around the
# budget (documented; an exact-k variant needs a two-phase threshold
# refinement). Rotating the epoch key reshuffles the sample; keeping
# it replays the identical epoch — byte-stable across engines, so the
# whole sampler is hash-oracle-checked via per-domain id checksums.

_EPOCH_KEY = "epoch-1"
_EPOCH_BUDGET = 100_000


@register(
    "cur_epoch_sample",
    tags=("curation", "sample"),
    oracle=f"""
        WITH per_dom AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6)
                        AS DECIMAL(38,0)) AS wq
            FROM documents GROUP BY 1, 2
        ),
        tot AS (SELECT SUM(wq) AS total_wq FROM per_dom),
        budgets AS (
            SELECT source, lang, n_docs,
                   CAST(FLOOR(CAST(CAST(wq AS STRING) AS DOUBLE)
                        / CAST(CAST(total_wq AS STRING) AS DOUBLE)
                        * {_EPOCH_BUDGET}) AS BIGINT) AS budget
            FROM per_dom, tot
        ),
        sel AS (
            SELECT d.source, d.lang, d.doc_id,
                   CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS STRING)
                                  || '#{_EPOCH_KEY}'), 1, 4) AS BIGINT)
                             < LEAST(65536, (b.budget * 65536) // b.n_docs)
                        THEN 1 ELSE 0 END AS keep
            FROM documents d
            JOIN budgets b ON b.source = d.source AND b.lang = d.lang
        )
        SELECT s.source, s.lang, b.n_docs, b.budget,
               CAST(SUM(s.keep) AS BIGINT) AS n_selected,
               CAST(SUM(CASE WHEN s.keep = 1 THEN s.doc_id ELSE 0 END)
                    AS BIGINT) AS id_checksum,
               CAST(SUM(s.keep) AS DOUBLE)
                 / CAST(GREATEST(b.budget, 1) AS DOUBLE) AS fill_ratio
        FROM sel s
        JOIN budgets b ON b.source = s.source AND b.lang = s.lang
        GROUP BY s.source, s.lang, b.n_docs, b.budget
        ORDER BY s.source, s.lang
    """,
)
def cur_epoch_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize one training epoch's document sample from the
    alpha=0.5 temperature budgets (cur_mixture_temperature's shares x
    a 100k-doc epoch): per-domain hash-threshold selection keeps doc
    iff md5(doc#epoch) < floor(budget*65536/n_docs) — a single
    broadcast-joined map predicate, so sampling ten billion docs is
    one scan with map-side aggregation and the driver sees O(domains)
    rows (budgets, realized counts, id checksums). Deterministic:
    same epoch key -> byte-identical sample on any engine, any
    partitioning; rotate the key per epoch for fresh draws. Realized
    size is binomial around the budget (fill_ratio tracks it); the
    exact-k alternative costs a per-domain rank and is deliberately
    not the default at scale."""
    d = load_table(spark, sf_dir, "documents")
    per_dom = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "wq",
            F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e6)).cast(
                "decimal(38,0)"
            ),
        )
    )
    tot = per_dom.agg(F.sum("wq").alias("total_wq"))
    budgets = per_dom.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        F.floor(
            F.col("wq").cast("double")
            / F.col("total_wq").cast("double")
            * F.lit(_EPOCH_BUDGET)
        )
        .cast("bigint")
        .alias("budget"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(f"#{_EPOCH_KEY}")
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    thr = F.least(F.lit(65536).cast("bigint"), F.expr("(budget * 65536) DIV n_docs"))
    sel = (
        d.join(F.broadcast(budgets), ["source", "lang"])
        .select(
            "source",
            "lang",
            "n_docs",
            "budget",
            F.when(u < thr, 1).otherwise(0).alias("keep"),
            "doc_id",
        )
    )
    return (
        sel.groupBy("source", "lang", "n_docs", "budget")
        .agg(
            F.sum("keep").cast("bigint").alias("n_selected"),
            F.sum(F.when(F.col("keep") == 1, F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("id_checksum"),
            (
                F.sum("keep").cast("double")
                / F.greatest(F.max("budget"), F.lit(1)).cast("double")
            ).alias("fill_ratio"),
        )
        .select(
            "source", "lang", "n_docs", "budget",
            "n_selected", "id_checksum", "fill_ratio",
        )
        .orderBy("source", "lang")
    )


_CHUNK_CTX = 512  # tokens per packed training context


@register(
    "cur_pretrain_chunking",
    tags=("curation", "llm", "packing"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(array_length(filter(string_split(text, ' '),
                        t -> t <> '')) AS BIGINT) AS n_tok
            FROM documents
        ),
        offs AS (
            SELECT doc_id, n_tok,
                   CAST(SUM(n_tok) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
                       AS start_off
            FROM toks WHERE n_tok > 0
        ),
        spans AS (
            SELECT doc_id, n_tok, start_off,
                   start_off // {_CHUNK_CTX} AS c_lo,
                   (start_off + n_tok - 1) // {_CHUNK_CTX} AS c_hi
            FROM offs
        ),
        exploded AS (
            SELECT s.doc_id, s.n_tok, s.start_off, s.c_lo, s.c_hi,
                   unnest(generate_series(s.c_lo, s.c_hi)) AS chunk_id
            FROM spans s
        )
        SELECT chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN c_lo < chunk_id OR c_hi > chunk_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
               CAST(SUM(LEAST(start_off + n_tok,
                              (chunk_id + 1) * {_CHUNK_CTX})
                        - GREATEST(start_off, chunk_id * {_CHUNK_CTX}))
                    AS BIGINT) AS fill_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
        FROM exploded
        GROUP BY chunk_id
        ORDER BY chunk_id
    """,
)
def cur_pretrain_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — how pretraining corpora are
    actually served: documents concatenate in a deterministic order
    and the token stream is cut into fixed {ctx}-token contexts, with
    documents spilling across chunk boundaries. Emits the per-chunk
    composition audit (docs touched, boundary-spanning docs, fill) a
    data pipeline needs to tune context length against fragmentation.
    The global token offset is the scale-critical piece: Spark
    computes it TWO-LEVEL (within-bucket running sums partitioned by
    doc_id ranges, plus a carry-in from the O(buckets) bucket-total
    cumsum) so no corpus-scale relation crosses a single-task window
    — the DuckDB oracle uses the plain global window, same integers.
    Each doc then expands only into the chunks it overlaps
    (sequence + explode = O(chunks), not O(docs x chunks)); every
    output is exact BIGINT arithmetic with floor division on the
    DIV/ // pair. All integers: hash-exact with no float edge."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    # two-level exclusive prefix sum over doc_id order
    toks = toks.withColumn("bkt", F.expr("doc_id DIV 4096"))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_carry = (
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        toks.groupBy("bkt")
        .agg(F.sum("n_tok").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    offs = (
        toks.select(
            "bkt", "doc_id", "n_tok",
            (F.sum("n_tok").over(w_in) - F.col("n_tok")).alias("in_off"),
        )
        .join(F.broadcast(carry), "bkt")
        .select(
            "doc_id",
            "n_tok",
            (F.col("in_off") + F.col("cb")).cast("bigint").alias("start_off"),
        )
    )
    spans = offs.select(
        "doc_id",
        "n_tok",
        "start_off",
        F.expr(f"start_off DIV {_CHUNK_CTX}").alias("c_lo"),
        F.expr(f"(start_off + n_tok - 1) DIV {_CHUNK_CTX}").alias("c_hi"),
    )
    exploded = spans.select(
        "doc_id",
        "n_tok",
        "start_off",
        "c_lo",
        "c_hi",
        F.explode(F.sequence(F.col("c_lo"), F.col("c_hi"))).alias("chunk_id"),
    )
    ctx = F.lit(_CHUNK_CTX).cast("bigint")
    return (
        exploded.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (
                    (F.col("c_lo") < F.col("chunk_id"))
                    | (F.col("c_hi") > F.col("chunk_id"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_spanning"),
            F.sum(
                F.least(
                    F.col("start_off") + F.col("n_tok"),
                    (F.col("chunk_id") + 1) * ctx,
                )
                - F.greatest(F.col("start_off"), F.col("chunk_id") * ctx)
            )
            .cast("bigint")
            .alias("fill_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
        .orderBy("chunk_id")
    )


@register(
    "graph_modularity_score",
    tags=("graph", "agg"),
    oracle="""
        WITH e0 AS (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY 1, 2
        ),
        u AS (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   CAST(SUM(w) AS BIGINT) AS w
            FROM e0 WHERE src <> dst GROUP BY 1, 2
        ),
        part AS (SELECT n_nationkey AS v, n_regionkey AS comm FROM nation),
        m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM u),
        deg AS (
            SELECT v, CAST(SUM(w) AS BIGINT) AS d
            FROM (
                SELECT a AS v, w FROM u
                UNION ALL
                SELECT b AS v, w FROM u
            ) GROUP BY v
        ),
        dc AS (
            SELECT p.comm, CAST(SUM(COALESCE(g.d, 0)) AS BIGINT) AS d_c
            FROM part p LEFT JOIN deg g ON g.v = p.v
            GROUP BY p.comm
        ),
        ec AS (
            SELECT pa.comm, CAST(SUM(u.w) AS BIGINT) AS e_c
            FROM u
            JOIN part pa ON pa.v = u.a
            JOIN part pb ON pb.v = u.b
            WHERE pa.comm = pb.comm
            GROUP BY pa.comm
        ),
        terms AS (
            SELECT d.comm, COALESCE(e.e_c, 0) AS e_c, d.d_c, m.m,
                   4 * m.m * COALESCE(e.e_c, 0) - d.d_c * d.d_c AS num
            FROM dc d LEFT JOIN ec e ON e.comm = d.comm CROSS JOIN m
        )
        SELECT comm AS regionkey, CAST(e_c AS BIGINT) AS intra_weight,
               CAST(d_c AS BIGINT) AS degree_sum,
               CAST(num AS DOUBLE)
                 / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE)
                    * CAST(m AS DOUBLE)) AS q_term,
               CAST(CAST(SUM(num) OVER () AS BIGINT) AS DOUBLE)
                 / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE)
                    * CAST(m AS DOUBLE)) AS modularity
        FROM terms
        ORDER BY regionkey
    """,
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the region partition over the weighted
    nation trade graph — the community-QUALITY metric that grades any
    clustering (here: do trade flows concentrate inside geographic
    regions?). The whole statistic is EXACT integer arithmetic via
    Q = Σ_c (4m·e_c − d_c²) / (4m²): intra-community weights e_c and
    degree sums d_c are BIGINT aggregates over the 25-node edge list,
    the numerator sum is exact, and the single division happens at
    the presentation edge — no quantization, no fold-order concerns.
    Scale: the corpus collapses through the same snowflake broadcast
    joins as the other trade-graph ops into a |nations|² edge list;
    everything after is graph-sized. The per-community q_term rows
    plus the shared total let a monitoring job threshold on either."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("v"), F.col("n_regionkey").alias("comm")
    )
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    u = (
        e0.filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.sum("w").cast("bigint").alias("w"))
        .persist()  # graph-sized; consumed by m, deg, and ec
    )
    m = u.agg(F.sum("w").cast("bigint").alias("m"))
    deg = (
        u.select(F.col("a").alias("v"), "w")
        .unionByName(u.select(F.col("b").alias("v"), "w"))
        .groupBy("v")
        .agg(F.sum("w").cast("bigint").alias("d"))
    )
    dc = (
        n.join(F.broadcast(deg), "v", "left")
        .groupBy("comm")
        .agg(F.sum(F.coalesce(F.col("d"), F.lit(0))).cast("bigint").alias("d_c"))
    )
    pa = n.select(F.col("v").alias("a"), F.col("comm").alias("ca"))
    pb = n.select(F.col("v").alias("b"), F.col("comm").alias("cb"))
    ec = (
        u.join(F.broadcast(pa), "a")
        .join(F.broadcast(pb), "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("comm"))
        .agg(F.sum("w").cast("bigint").alias("e_c"))
    )
    terms = (
        dc.join(F.broadcast(ec), "comm", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "comm",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("e_c"),
            "d_c",
            "m",
            (
                4 * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).alias("num"),
        )
    )
    denom = (
        F.lit(4).cast("double")
        * F.col("m").cast("double")
        * F.col("m").cast("double")
    )
    return terms.select(
        F.col("comm").alias("regionkey"),
        F.col("e_c").alias("intra_weight"),
        F.col("d_c").alias("degree_sum"),
        (F.col("num").cast("double") / denom).alias("q_term"),
        (
            F.sum("num").over(W.partitionBy()).cast("bigint").cast("double")
            / denom
        ).alias("modularity"),
    ).orderBy("regionkey")


# ---------------------------------------------------------------------------
# Round-9 graph additions: local clustering coefficient, Adamic-Adar
# link prediction, and HITS hubs/authorities — all on the same
# corpus-thresholded nation trade graph as graph_triangle_count /
# graph_jaccard_linkpred (reference scope: graph analytics over the
# trade fact table). The fact-to-edges reduction is the shared
# two-broadcast-join + count shape; everything after runs on the
# O(|V|^2)-bounded edge relation.







@register(
    "graph_clustering_coeff",
    tags=("graph", "join"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        wedge AS (
            SELECT x.v, x.n AS n1, y.n AS n2
            FROM nbr x JOIN nbr y ON y.v = x.v AND x.n < y.n
        ),
        closed AS (
            SELECT w.v,
                   CAST(COUNT(*) AS BIGINT) AS n_wedges,
                   CAST(SUM(CASE WHEN k.a IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tri
            FROM wedge w
            LEFT JOIN ku k ON k.a = w.n1 AND k.b = w.n2
            GROUP BY w.v
        )
        SELECT d.v AS nationkey, d.deg,
               CAST(COALESCE(c.n_wedges, 0) AS BIGINT) AS n_wedges,
               CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_tri,
               CASE WHEN d.deg >= 2 THEN
                   CAST(2 * COALESCE(c.n_tri, 0) AS DOUBLE)
                     / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1))
               END AS clustering_coeff
        FROM deg d LEFT JOIN closed c ON c.v = d.v
        ORDER BY nationkey
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation on the strong-trade
    graph: C(v) = 2*T(v) / (deg(v)(deg(v)-1)) with T(v) counted by the
    wedge-close join (neighbor pairs n1<n2 probed against the
    canonical a<b edge list — the distributed edge-iterator, input
    |wedges| never cubic). Counts are exact integers; the coefficient
    is one double division guarded NULL for deg<2 on both engines.
    Corpus work is the shared fact-to-edges reduction; the wedge join
    runs on the |V|-bounded neighbor relation."""
    return run_sql(spark, sf_dir, "graph_clustering_coeff")


@register(
    "graph_adamic_adar",
    tags=("graph", "join"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        cand AS (
            SELECT x.v AS a, y.v AS b, x.n AS z
            FROM nbr x JOIN nbr y ON x.n = y.n AND x.v < y.v
        ),
        nonadj AS (
            SELECT c.a, c.b, c.z FROM cand c
            LEFT JOIN ku k ON k.a = c.a AND k.b = c.b
            WHERE k.a IS NULL
        ),
        scored AS (
            SELECT na.a, na.b,
                   CAST(COUNT(*) AS BIGINT) AS n_common,
                   list_reduce(
                       list(CAST(1 AS DOUBLE) / ln(CAST(d.deg AS DOUBLE))
                            ORDER BY na.z),
                       (acc, x) -> acc + x) AS aa_score
            FROM nonadj na JOIN deg d ON d.v = na.z
            GROUP BY na.a, na.b
        )
        SELECT a, b, n_common, aa_score FROM scored ORDER BY a, b
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over non-adjacent nation pairs:
    AA(a,b) = sum over common neighbors z of 1/ln(deg(z)). The
    common-neighbor enumeration inverts the neighbor relation (join on
    the shared neighbor, a<b — |wedges| work, never |V|^2 blind), adjacency
    is removed with a left-anti probe, and the per-pair sum folds the
    1/ln(deg) doubles in ascending-z order on BOTH engines (sorted
    collect_list fold here, ordered list_reduce there) so the float
    reduction is order-free. deg(z) >= 2 for any common neighbor, so
    ln is never zero."""
    ku = trade_edges_undirected(spark, sf_dir)
    nbr = ku.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        ku.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    x = nbr.select(F.col("v").alias("pa"), "n")
    y = nbr.select(F.col("v").alias("pb"), "n")
    cand = (
        x.join(y, "n")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"), F.col("n").alias("z"))
    )
    nonadj = cand.join(ku, ["a", "b"], "left_anti")
    dz = deg.select(F.col("v").alias("z"), "deg")
    scored = (
        nonadj.join(F.broadcast(dz), "z")
        .withColumn("val", F.lit(1.0) / F.log(F.col("deg").cast("double")))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("z", "val"))),
                F.lit(0.0),
                lambda acc, s: acc + s["val"],
            ).alias("aa_score"),
        )
    )
    return scored.select("a", "b", "n_common", "aa_score").orderBy("a", "b")


@register(
    "graph_hits",
    tags=("graph", "join", "iterative"),
    oracle="""
        WITH e AS MATERIALIZED (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey <> c.c_nationkey
            GROUP BY src, dst
        ),
        thr AS MATERIALIZED (SELECT quantile_cont(w, 0.6) AS t FROM e),
        kd AS MATERIALIZED (SELECT src, dst FROM e, thr WHERE w >= t),
        nodes AS MATERIALIZED (
            SELECT DISTINCT v FROM (
                SELECT src AS v FROM kd UNION ALL SELECT dst AS v FROM kd
            )
        ),
        h0 AS (SELECT v, CAST(1 AS BIGINT) AS h FROM nodes),
        a1 AS (
            SELECT n.v, CAST(COALESCE(SUM(h0.h), 0) AS BIGINT) AS a
            FROM nodes n
            LEFT JOIN kd ON kd.dst = n.v
            LEFT JOIN h0 ON h0.v = kd.src
            GROUP BY n.v
        ),
        h1 AS (
            SELECT n.v, CAST(COALESCE(SUM(a1.a), 0) AS BIGINT) AS h
            FROM nodes n
            LEFT JOIN kd ON kd.src = n.v
            LEFT JOIN a1 ON a1.v = kd.dst
            GROUP BY n.v
        ),
        a2 AS (
            SELECT n.v, CAST(COALESCE(SUM(h1.h), 0) AS BIGINT) AS a
            FROM nodes n
            LEFT JOIN kd ON kd.dst = n.v
            LEFT JOIN h1 ON h1.v = kd.src
            GROUP BY n.v
        ),
        h2 AS (
            SELECT n.v, CAST(COALESCE(SUM(a2.a), 0) AS BIGINT) AS h
            FROM nodes n
            LEFT JOIN kd ON kd.src = n.v
            LEFT JOIN a2 ON a2.v = kd.dst
            GROUP BY n.v
        ),
        a3 AS (
            SELECT n.v, CAST(COALESCE(SUM(h2.h), 0) AS BIGINT) AS a
            FROM nodes n
            LEFT JOIN kd ON kd.dst = n.v
            LEFT JOIN h2 ON h2.v = kd.src
            GROUP BY n.v
        ),
        h3 AS (
            SELECT n.v, CAST(COALESCE(SUM(a3.a), 0) AS BIGINT) AS h
            FROM nodes n
            LEFT JOIN kd ON kd.src = n.v
            LEFT JOIN a3 ON a3.v = kd.dst
            GROUP BY n.v
        ),
        a4 AS (
            SELECT n.v, CAST(COALESCE(SUM(h3.h), 0) AS BIGINT) AS a
            FROM nodes n
            LEFT JOIN kd ON kd.dst = n.v
            LEFT JOIN h3 ON h3.v = kd.src
            GROUP BY n.v
        ),
        h4 AS (
            SELECT n.v, CAST(COALESCE(SUM(a4.a), 0) AS BIGINT) AS h
            FROM nodes n
            LEFT JOIN kd ON kd.src = n.v
            LEFT JOIN a4 ON a4.v = kd.dst
            GROUP BY n.v
        ),
        norms AS (
            SELECT
                sqrt(CAST(CAST((SELECT SUM(CAST(a AS DECIMAL(19,0)) * a)
                                FROM a4) AS STRING) AS DOUBLE)) AS na,
                sqrt(CAST(CAST((SELECT SUM(CAST(h AS DECIMAL(19,0)) * h)
                                FROM h4) AS STRING) AS DOUBLE)) AS nh
        )
        SELECT a4.v AS nationkey, a4.a AS auth_raw, h4.h AS hub_raw,
               CAST(a4.a AS DOUBLE) / norms.na AS authority,
               CAST(h4.h AS DOUBLE) / norms.nh AS hub
        FROM a4 JOIN h4 ON h4.v = a4.v CROSS JOIN norms
        ORDER BY nationkey
    """,
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the thresholded DIRECTED trade graph
    (supplier nation -> customer nation), 4 unnormalized power
    iterations in EXACT BIGINT arithmetic (adjacency times an integer
    vector stays integer; 25-node graph bounds entries by 25^8 —
    well inside int64), then ONE L2 normalization at the edge from a
    DECIMAL(38,0) sum of squares. Skipping per-iteration float
    normalization is what makes the trajectory hash-exact cross-engine
    (the IRR/pagerank fixed-round promotion recipe); the oracle
    unrolls the same 4 rounds as chained CTEs. Corpus work is the
    fact-to-edges reduction; each iteration is a model-sized
    broadcast join + exact agg."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    thr = e.select(F.expr("percentile(w, 0.6)").alias("t"))
    kd = (
        e.join(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("src", "dst")
        .localCheckpoint()
    )
    nodes = (
        kd.select(F.col("src").alias("v"))
        .unionAll(kd.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    h = nodes.withColumn("h", F.lit(1).cast("bigint"))
    a = None
    for _ in range(4):
        a = (
            nodes.join(kd, nodes.v == kd.dst, "left")
            .join(
                h.select(F.col("v").alias("hv"), F.col("h").alias("hval")),
                F.col("src") == F.col("hv"),
                "left",
            )
            .groupBy(nodes.v)
            .agg(F.coalesce(F.sum("hval"), F.lit(0)).cast("bigint").alias("a"))
        )
        h = (
            nodes.join(kd, nodes.v == kd.src, "left")
            .join(
                a.select(F.col("v").alias("av"), F.col("a").alias("aval")),
                F.col("dst") == F.col("av"),
                "left",
            )
            .groupBy(nodes.v)
            .agg(F.coalesce(F.sum("aval"), F.lit(0)).cast("bigint").alias("h"))
        )
    na = a.agg(
        F.sqrt(
            as_d(F.sum(F.col("a").cast("decimal(19,0)") * F.col("a")).cast("decimal(38,0)"))
        ).alias("na")
    )
    nh = h.agg(
        F.sqrt(
            as_d(F.sum(F.col("h").cast("decimal(19,0)") * F.col("h")).cast("decimal(38,0)"))
        ).alias("nh")
    )
    out = (
        a.join(h, "v")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nh))
        .select(
            F.col("v").alias("nationkey"),
            F.col("a").alias("auth_raw"),
            F.col("h").alias("hub_raw"),
            (F.col("a").cast("double") / F.col("na")).alias("authority"),
            (F.col("h").cast("double") / F.col("nh")).alias("hub"),
        )
        .orderBy("nationkey")
    )
    return out


@register(
    "cur_rejection_sample_md5",
    tags=("curation", "sampling"),
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang, n_chars,
                   CAST('0x' || substr(md5('rej:' || CAST(doc_id AS STRING)),
                        1, 15) AS BIGINT) AS h
            FROM documents
        ),
        mx AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS qmax FROM documents),
        dec AS (
            SELECT s.doc_id, s.lang, s.n_chars, mx.qmax,
                   (CAST(s.h AS DECIMAL(38,0)) * mx.qmax
                    < CAST(s.n_chars AS DECIMAL(38,0)) * 1152921504606846976)
                       AS accepted
            FROM scored s CROSS JOIN mx
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_accepted,
               CAST(SUM(CASE WHEN accepted THEN n_chars ELSE 0 END)
                    AS BIGINT) AS accepted_chars,
               CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS accept_rate
        FROM dec GROUP BY lang
        ORDER BY lang
    """,
)
def cur_rejection_sample_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quality-proportional rejection sampling: accept document d
    with probability n_chars(d)/max_chars, decided by the md5 coin
    h(d)/2^60 — the accept test cross-multiplies to pure integer
    arithmetic (h·qmax < n_chars·2^60 in DECIMAL(38,0)), so the
    accepted SET is replayable on any engine, any partitioning, any
    day: the property that makes a sampling step auditable in a
    training-data lineage review, which rand()-based sampling can
    never be. One scan + one broadcast max; the census is exact
    integers."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rej:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    mx = d.agg(F.max("n_chars").cast("bigint").alias("qmax"))
    dec = scored.crossJoin(F.broadcast(mx)).withColumn(
        "accepted",
        F.col("h").cast("decimal(38,0)") * F.col("qmax")
        < F.col("n_chars").cast("decimal(38,0)") * F.lit(1152921504606846976).cast("decimal(38,0)"),
    )
    return (
        dec.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("accepted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_accepted"),
            F.sum(F.when(F.col("accepted"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("accepted_chars"),
            (
                F.sum(F.when(F.col("accepted"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("accept_rate"),
        )
        .orderBy("lang")
    )


@register(
    "graph_reciprocity",
    tags=("graph", "agg"),
    oracle=f"""
        WITH e AS MATERIALIZED ({_BFS_EDGES_SQL}),
        thr AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e
        ),
        recip AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_recip
            FROM e a JOIN e b ON b.src = a.dst AND b.dst = a.src
        )
        SELECT t.n_edges, r.n_recip,
               CAST(r.n_recip AS DOUBLE) / CAST(t.n_edges AS DOUBLE)
                   AS reciprocity
        FROM thr t CROSS JOIN recip r
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity of the nation trade graph: the fraction of
    directed edges whose reverse edge also exists (Garlaschelli-
    Loffredo r without the density correction — exact integer counts,
    one double division). The reverse-edge probe is a self equi-join
    on the |V|²-bounded distinct edge relation; corpus work is the
    shared fact-to-edges reduction."""
    return run_sql(spark, sf_dir, "graph_reciprocity")


# ---------------------------------------------------------------------------
# Round-10: Katz centrality — the attenuation-weighted walk-count
# centrality (alpha^k per length-k walk), the damped cousin of
# graph_hits' raw power iteration. Same promotion recipe: fixed
# rounds, EXACT integer/decimal walk counts (no per-round float
# normalization), one double presentation edge.

_KATZ_EDGE_SQL = """
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   CAST(COUNT(*) AS DECIMAL(12,0)) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey <> c.c_nationkey
            GROUP BY src, dst
"""


@register(
    "graph_katz_centrality",
    tags=("graph", "join", "iterative"),
    oracle=f"""
        WITH e AS MATERIALIZED ({_KATZ_EDGE_SQL}),
        nodes AS MATERIALIZED (
            SELECT DISTINCT v FROM (
                SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e
            )
        ),
        c1 AS (
            SELECT n.v,
                   CAST(COALESCE(SUM(e.w), 0) AS DECIMAL(25,0)) AS c
            FROM nodes n LEFT JOIN e ON e.dst = n.v
            GROUP BY n.v
        ),
        c2 AS (
            SELECT n.v,
                   CAST(COALESCE(SUM(e.w * c1.c), 0) AS DECIMAL(25,0)) AS c
            FROM nodes n
            LEFT JOIN e ON e.dst = n.v
            LEFT JOIN c1 ON c1.v = e.src
            GROUP BY n.v
        ),
        c3 AS (
            SELECT n.v,
                   CAST(COALESCE(SUM(e.w * c2.c), 0) AS DECIMAL(25,0)) AS c
            FROM nodes n
            LEFT JOIN e ON e.dst = n.v
            LEFT JOIN c2 ON c2.v = e.src
            GROUP BY n.v
        )
        SELECT c1.v AS nationkey,
               CAST(CAST(c1.c AS STRING) AS DOUBLE) AS walks1,
               CAST(CAST(c2.c AS STRING) AS DOUBLE) AS walks2,
               CAST(CAST(c3.c AS STRING) AS DOUBLE) AS walks3,
               CAST(CAST(c1.c AS STRING) AS DOUBLE) * CAST(1e-2 AS DOUBLE)
                 + CAST(CAST(c2.c AS STRING) AS DOUBLE) * CAST(1e-4 AS DOUBLE)
                 + CAST(CAST(c3.c AS STRING) AS DOUBLE) * CAST(1e-6 AS DOUBLE)
                   AS katz
        FROM c1 JOIN c2 ON c2.v = c1.v JOIN c3 ON c3.v = c1.v
        ORDER BY nationkey
    """,
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (3 attenuation rounds, alpha=0.01) on the
    weighted directed trade graph: katz(j) = sum_k alpha^k * (number
    of weighted length-k walks ending at j). Walk counts stay EXACT —
    each round is one broadcast join + one DECIMAL agg, with operand
    widths pinned at (12,0) x (25,0) so every product fits both
    engines' 38-digit multiply (supports edge weights to 1e12 and walk
    counts to 1e25 — ~sf1000 headroom; beyond that, re-scale the cap);
    alpha enters ONLY in the single presentation-edge double
    expression, the graph_hits/pagerank promotion recipe that keeps
    fixed-round iteration hash-exact cross-engine. Corpus work is the
    one fact-to-edges reduction; every round runs on the |V|-bounded
    model relation. No divisions (class-5 clean)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("decimal(12,0)").alias("w"))
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    dec25 = "decimal(25,0)"
    prev = nodes.withColumn("c", F.lit(1).cast(dec25))
    rounds = []
    for _ in range(3):
        prev = (
            nodes.join(e, nodes.v == e.dst, "left")
            .join(
                prev.select(F.col("v").alias("pv"), F.col("c").alias("pc")),
                F.col("src") == F.col("pv"),
                "left",
            )
            .groupBy(nodes.v)
            .agg(
                F.coalesce(F.sum(F.col("w") * F.col("pc")), F.lit(0))
                .cast(dec25)
                .alias("c")
            )
        )
        rounds.append(prev)
    c1, c2, c3 = rounds
    out = (
        c1.select(F.col("v"), as_d(F.col("c")).alias("walks1"))
        .join(c2.select(F.col("v"), as_d(F.col("c")).alias("walks2")), "v")
        .join(c3.select(F.col("v"), as_d(F.col("c")).alias("walks3")), "v")
    )
    return out.select(
        F.col("v").alias("nationkey"),
        "walks1",
        "walks2",
        "walks3",
        (
            F.col("walks1") * F.lit(1e-2)
            + F.col("walks2") * F.lit(1e-4)
            + F.col("walks3") * F.lit(1e-6)
        ).alias("katz"),
    ).orderBy("nationkey")


@register(
    "graph_harmonic_closeness",
    tags=("graph", "join", "iterative"),
    oracle="""
        WITH {edge_cte},
        nodes AS MATERIALIZED (SELECT DISTINCT v FROM nbr),
        r0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS d FROM nodes),
        r1 AS MATERIALIZED (
            SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, v, d FROM r0
                UNION ALL
                SELECT p.s, nbr.n AS v, p.d + 1 AS d
                FROM r0 p JOIN nbr ON nbr.v = p.v
            ) GROUP BY s, v
        ),
        r2 AS MATERIALIZED (
            SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, v, d FROM r1
                UNION ALL
                SELECT p.s, nbr.n AS v, p.d + 1 AS d
                FROM r1 p JOIN nbr ON nbr.v = p.v
            ) GROUP BY s, v
        ),
        r3 AS MATERIALIZED (
            SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, v, d FROM r2
                UNION ALL
                SELECT p.s, nbr.n AS v, p.d + 1 AS d
                FROM r2 p JOIN nbr ON nbr.v = p.v
            ) GROUP BY s, v
        ),
        r4 AS MATERIALIZED (
            SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, v, d FROM r3
                UNION ALL
                SELECT p.s, nbr.n AS v, p.d + 1 AS d
                FROM r3 p JOIN nbr ON nbr.v = p.v
            ) GROUP BY s, v
        ),
        r5 AS MATERIALIZED (
            SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, v, d FROM r4
                UNION ALL
                SELECT p.s, nbr.n AS v, p.d + 1 AS d
                FROM r4 p JOIN nbr ON nbr.v = p.v
            ) GROUP BY s, v
        ),
        counts AS (
            SELECT s,
                   CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
                   CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
                   CAST(SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
                   CAST(SUM(CASE WHEN d = 5 THEN 1 ELSE 0 END) AS BIGINT) AS d5
            FROM r5 GROUP BY s
        )
        SELECT s AS nationkey, d1, d2, d3, d4, d5,
               (d1 + d2 + d3 + d4 + d5) AS reached_5hop,
               CAST(d1 AS DOUBLE) + CAST(d2 AS DOUBLE) / 2
                 + CAST(d3 AS DOUBLE) / 3 + CAST(d4 AS DOUBLE) / 4
                 + CAST(d5 AS DOUBLE) / 5 AS harmonic_5hop
        FROM counts ORDER BY nationkey
    """.format(edge_cte=GRAPH_EDGE_CTE),
)
def graph_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon harmonic closeness on the strong-trade graph:
    H_5(s) = sum over v != s of 1/d(s,v) for shortest paths within 5
    hops — the centrality that stays defined on disconnected graphs
    (unreachable nodes contribute 0, no infinite-distance special
    case), here with the k-hop horizon every at-scale implementation
    uses. Distances come from a multi-source BFS: the (s,v,min_d)
    state relation (|V|^2-bounded model size) expands 5 fixed rounds
    of one broadcast join + one min agg each — exact integers
    throughout — and the harmonic sum is ONE double expression over
    the per-distance counts (cnt_1 + cnt_2/2 + ... + cnt_5/5), so no
    float fold exists at all. Corpus work is the shared fact-to-edges
    reduction; the oracle unrolls the same 5 rounds as chained CTEs.
    No division by data (distance denominators are literals)."""
    ku = trade_edges_undirected(spark, sf_dir)
    nbr = (
        ku.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .unionAll(ku.select(F.col("b").alias("v"), F.col("a").alias("n")))
        .localCheckpoint()
    )
    nodes = nbr.select("v").distinct().localCheckpoint()
    state = nodes.select(
        F.col("v").alias("s"), F.col("v"), F.lit(0).cast("bigint").alias("d")
    )
    for _ in range(5):
        expanded = (
            state.alias("p")
            .join(F.broadcast(nbr.alias("e")), F.col("p.v") == F.col("e.v"))
            .select(
                F.col("p.s").alias("s"),
                F.col("e.n").alias("v"),
                (F.col("p.d") + 1).alias("d"),
            )
        )
        state = (
            state.unionByName(expanded)
            .groupBy("s", "v")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    cnt = lambda k: F.sum(  # noqa: E731
        F.when(F.col("d") == k, 1).otherwise(0)
    ).cast("bigint").alias(f"d{k}")
    counts = state.groupBy("s").agg(cnt(1), cnt(2), cnt(3), cnt(4), cnt(5))
    return counts.select(
        F.col("s").alias("nationkey"),
        "d1",
        "d2",
        "d3",
        "d4",
        "d5",
        (
            F.col("d1") + F.col("d2") + F.col("d3") + F.col("d4") + F.col("d5")
        ).alias("reached_5hop"),
        (
            F.col("d1").cast("double")
            + F.col("d2").cast("double") / 2
            + F.col("d3").cast("double") / 3
            + F.col("d4").cast("double") / 4
            + F.col("d5").cast("double") / 5
        ).alias("harmonic_5hop"),
    ).orderBy("nationkey")


@register(
    "graph_rich_club",
    tags=("graph", "join", "agg"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        dd AS (
            SELECT k.a, k.b, da.deg AS da, db.deg AS db
            FROM ku k
            JOIN deg da ON da.v = k.a
            JOIN deg db ON db.v = k.b
        ),
        ks AS (SELECT unnest(generate_series(1, 8)) AS k),
        ek AS (
            SELECT ks.k,
                   CAST(SUM(CASE WHEN LEAST(dd.da, dd.db) > ks.k
                        THEN 1 ELSE 0 END) AS BIGINT) AS e_k
            FROM dd CROSS JOIN ks GROUP BY ks.k
        ),
        nk AS (
            SELECT ks.k,
                   CAST(SUM(CASE WHEN deg.deg > ks.k THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_k
            FROM deg CROSS JOIN ks GROUP BY ks.k
        )
        SELECT nk.k, nk.n_k, ek.e_k,
               CASE WHEN nk.n_k >= 2 THEN
                 CAST(2 * ek.e_k AS DOUBLE)
                 / (CAST(nk.n_k AS DOUBLE) * (CAST(nk.n_k AS DOUBLE) - 1))
               END AS rich_club_phi
        FROM nk JOIN ek ON ek.k = nk.k
        ORDER BY nk.k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) = 2*E_k / (N_k(N_k-1)) of the
    strong-trade graph for k = 1..8: how densely the hubs (degree > k)
    interconnect — the elite-cohesion diagnostic that complements
    degree assortativity (correlation) with the subgraph-density view.
    An edge counts toward E_k for every k below min(deg(a), deg(b)),
    so both counts come from ONE pass each over the |V|-bounded
    edge/degree relations against a broadcast k-spine — exact integers
    with one guarded division per k (N_k < 2 NULLs on both engines).
    Corpus work is the shared fact-to-edges reduction."""
    ku = trade_edges_undirected(spark, sf_dir)
    nbr = ku.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        ku.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    dd = (
        ku.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
        .select("a", "b", "da", "db")
    )
    ks = spark.range(1, 9).select(F.col("id").cast("int").alias("k"))
    ek = (
        dd.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.least("da", "db") > F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("e_k")
        )
    )
    nk = (
        deg.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("deg") > F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_k")
        )
    )
    n_d = F.col("n_k").cast("double")
    return (
        nk.join(ek, "k")
        .select(
            "k",
            "n_k",
            "e_k",
            F.when(
                F.col("n_k") >= 2,
                (2 * F.col("e_k")).cast("double") / (n_d * (n_d - 1)),
            ).alias("rich_club_phi"),
        )
        .orderBy("k")
    )


def _bfs5_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, v, d): min-distance pairs within 5 hops on the strong-trade
    graph — the shared 5-round broadcast-join BFS of
    graph_harmonic_closeness (|V|^2-bounded state, exact integers)."""
    ku = trade_edges_undirected(spark, sf_dir)
    nbr = (
        ku.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .unionAll(ku.select(F.col("b").alias("v"), F.col("a").alias("n")))
        .localCheckpoint()
    )
    nodes = nbr.select("v").distinct()
    state = nodes.select(
        F.col("v").alias("s"), F.col("v"), F.lit(0).cast("bigint").alias("d")
    )
    for _ in range(5):
        expanded = (
            state.alias("p")
            .join(F.broadcast(nbr.alias("e")), F.col("p.v") == F.col("e.v"))
            .select(
                F.col("p.s").alias("s"),
                F.col("e.n").alias("v"),
                (F.col("p.d") + 1).alias("d"),
            )
        )
        state = (
            state.unionByName(expanded)
            .groupBy("s", "v")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    return state


_BFS5_SQL_ROUNDS = "".join(
    f"""
        r{i} AS MATERIALIZED (
            SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT s, v, d FROM r{i - 1}
                UNION ALL
                SELECT p.s, nbr.n AS v, p.d + 1 AS d
                FROM r{i - 1} p JOIN nbr ON nbr.v = p.v
            ) GROUP BY s, v
        ),"""
    for i in range(1, 6)
)


@register(
    "graph_eccentricity_diameter",
    tags=("graph", "join", "iterative"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        nodes AS MATERIALIZED (SELECT DISTINCT v FROM nbr),
        r0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS d FROM nodes),
        {_BFS5_SQL_ROUNDS}
        ecc AS (
            SELECT s,
                   CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS reached,
                   CAST(MAX(d) AS BIGINT) AS ecc
            FROM r5 GROUP BY s
        ),
        gstats AS (
            SELECT CAST(MAX(ecc) AS BIGINT) AS diameter,
                   CAST(MIN(ecc) AS BIGINT) AS radius
            FROM ecc WHERE reached > 0
        )
        SELECT ecc.s AS nationkey, ecc.reached AS reached_5hop,
               CASE WHEN ecc.reached > 0 THEN ecc.ecc END AS ecc_5hop,
               gstats.diameter AS diameter_5hop, gstats.radius AS radius_5hop
        FROM ecc CROSS JOIN gstats
        ORDER BY nationkey
    """,
)
def graph_eccentricity_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity per nation plus graph diameter and radius on the
    strong-trade graph, within the 5-hop BFS horizon: ecc(s) = max
    shortest-path distance from s, diameter = max ecc, radius = min
    ecc — the topology report (is the trade network a tight core or a
    long chain?) that complements harmonic closeness' per-node
    average-distance view with worst-case distances. Same
    |V|^2-bounded 5-round broadcast-join BFS, exact integers
    everywhere, isolated nodes NULL their eccentricity and are
    excluded from diameter/radius on both engines (classical
    convention for disconnected graphs)."""
    state = _bfs5_state(spark, sf_dir)
    ecc = state.groupBy("s").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("reached"),
        F.max("d").cast("bigint").alias("ecc"),
    )
    glob = ecc.filter(F.col("reached") > 0).agg(
        F.max("ecc").cast("bigint").alias("diameter"),
        F.min("ecc").cast("bigint").alias("radius"),
    )
    return (
        ecc.crossJoin(F.broadcast(glob))
        .select(
            F.col("s").alias("nationkey"),
            F.col("reached").alias("reached_5hop"),
            F.when(F.col("reached") > 0, F.col("ecc")).alias("ecc_5hop"),
            F.col("diameter").alias("diameter_5hop"),
            F.col("radius").alias("radius_5hop"),
        )
        .orderBy("nationkey")
    )


@register(
    "graph_path_length_histogram",
    tags=("graph", "join", "iterative"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        nodes AS MATERIALIZED (SELECT DISTINCT v FROM nbr),
        r0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS d FROM nodes),
        {_BFS5_SQL_ROUNDS}
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
        hist AS (
            SELECT CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d1,
                   CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d2,
                   CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d3,
                   CAST(SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d4,
                   CAST(SUM(CASE WHEN d = 5 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d5,
                   CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT)
                       AS d_sum,
                   CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS reached_pairs
            FROM r5
        )
        SELECT n.n_nodes,
               CAST(n.n_nodes * (n.n_nodes - 1) AS BIGINT) AS ordered_pairs,
               hist.d1, hist.d2, hist.d3, hist.d4, hist.d5,
               CAST(n.n_nodes * (n.n_nodes - 1) - hist.reached_pairs
                    AS BIGINT) AS unreached_pairs,
               CASE WHEN hist.reached_pairs > 0 THEN
                 CAST(hist.d_sum AS DOUBLE) / hist.reached_pairs
               END AS avg_path_length
        FROM n CROSS JOIN hist
    """,
)
def graph_path_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path length distribution of the strong-trade graph
    within the 5-hop horizon: how many ordered node pairs sit at
    distance 1..5, how many are unreachable, and the average path
    length over reached pairs — the small-world diagnostic (compare
    avg to ln(V)) and the denominator audit for every distance-based
    centrality. Shares the exact-integer 5-round BFS state; outputs
    are integer counts plus one guarded edge division."""
    state = _bfs5_state(spark, sf_dir)
    nodes = state.filter(F.col("d") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    hist = state.agg(
        *[
            F.sum(F.when(F.col("d") == k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"d{k}")
            for k in range(1, 6)
        ],
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0))
        .cast("bigint")
        .alias("d_sum"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("reached_pairs"),
    )
    return nodes.crossJoin(F.broadcast(hist)).select(
        "n_nodes",
        (F.col("n_nodes") * (F.col("n_nodes") - 1))
        .cast("bigint")
        .alias("ordered_pairs"),
        "d1",
        "d2",
        "d3",
        "d4",
        "d5",
        (
            F.col("n_nodes") * (F.col("n_nodes") - 1) - F.col("reached_pairs")
        )
        .cast("bigint")
        .alias("unreached_pairs"),
        F.when(
            F.col("reached_pairs") > 0,
            F.col("d_sum").cast("double") / F.col("reached_pairs"),
        ).alias("avg_path_length"),
    )


# ---------------------------------------------------------------------------
# graph_avg_neighbor_degree — degree-mixing profile knn(k)


@register(
    "graph_avg_neighbor_degree",
    tags=("graph", "join", "agg"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        num AS (
            SELECT nbr.v, CAST(SUM(dn.deg) AS BIGINT) AS sum_nbr_deg
            FROM nbr JOIN deg dn ON dn.v = nbr.n
            GROUP BY nbr.v
        )
        SELECT CAST(deg.deg AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(num.sum_nbr_deg) AS DOUBLE)
                 / (CAST(deg.deg AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
                   AS avg_neighbor_degree
        FROM num JOIN deg ON deg.v = num.v
        GROUP BY deg.deg ORDER BY k
    """,
)
def graph_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-mixing profile knn(k) of the strong-trade graph: for
    each degree class k, the mean over degree-k nodes of the average
    degree of their neighbors — the curve whose slope is the
    assortativity story behind graph_degree_assortativity's single r
    (falling knn(k) = hubs attach to the periphery). Exactness: every
    node in a degree-k bucket divides its neighbor-degree sum by the
    SAME k, so mean_v(sum_deg(N(v))/k) = sum_v(sum_deg(N(v))) / (k *
    n_k) — pure integer numerator, ONE double division per bucket, no
    float sum anywhere. Shape: degree map + neighbor-degree sum are
    two hash aggs on the |V|^2-bounded edge relation; corpus-scale
    work is only the shared fact-to-edges reduction."""
    ku = trade_edges_undirected(spark, sf_dir)
    nbr = ku.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        ku.select(F.col("b").alias("v"), F.col("a").alias("n"))
    ).persist()  # |E|-bounded; feeds degree map AND neighbor sum
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    num = (
        nbr.join(
            F.broadcast(deg.select(F.col("v").alias("n"), "deg")), "n"
        )
        .groupBy("v")
        .agg(F.sum("deg").cast("bigint").alias("sum_nbr_deg"))
    )
    return (
        num.join(F.broadcast(deg), "v")
        .groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (
                F.sum("sum_nbr_deg").cast("double")
                / (
                    F.col("deg").cast("double")
                    * F.count(F.lit(1)).cast("double")
                )
            ).alias("avg_neighbor_degree"),
        )
        .select(
            F.col("deg").cast("bigint").alias("k"),
            "n_nodes",
            "avg_neighbor_degree",
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# graph_lpa_majority_2round — synchronous label propagation


@register(
    "graph_lpa_majority_2round",
    tags=("graph", "iterative", "window"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        l1 AS (
            SELECT v, lbl AS l1 FROM (
                SELECT nbr.v, nbr.n AS lbl,
                       ROW_NUMBER() OVER (PARTITION BY nbr.v
                           ORDER BY COUNT(*) DESC, nbr.n) AS rk
                FROM nbr GROUP BY nbr.v, nbr.n
            ) WHERE rk = 1
        ),
        l2 AS (
            SELECT v, lbl AS l2 FROM (
                SELECT nbr.v, l1.l1 AS lbl,
                       ROW_NUMBER() OVER (PARTITION BY nbr.v
                           ORDER BY COUNT(*) DESC, l1.l1) AS rk
                FROM nbr JOIN l1 ON l1.v = nbr.n
                GROUP BY nbr.v, l1.l1
            ) WHERE rk = 1
        )
        SELECT CAST(l1.v AS BIGINT) AS nationkey,
               CAST(l1.l1 AS BIGINT) AS label_r1,
               CAST(l2.l2 AS BIGINT) AS label_r2
        FROM l1 JOIN l2 ON l2.v = l1.v
        ORDER BY nationkey
    """,
)
def graph_lpa_majority_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous rounds of majority label propagation on the
    strong-trade nation graph (labels initialized to node ids, each
    round every node adopts the most frequent label among its
    neighbors, ties to the SMALLEST label — the deterministic
    synchronous variant of Raghavan et al. 2007's LPA, fixed-round
    unrolled like vec_kmeans_unrolled2): after two rounds dense trade
    cliques share a label — the cheap community seed used before
    heavier modularity optimization (graph_modularity_score scores
    such partitions). Each round is one neighbor join + an integer
    count argmax with an exact (count desc, label asc) tie-break —
    no floats anywhere. Scale: per round one shuffle on the node key
    of the neighbor relation; state between rounds is the |V|-row
    label relation."""
    return run_sql(spark, sf_dir, "graph_lpa_majority_2round")


# ---------------------------------------------------------------------------
# graph_bipartite_projection — co-purchase projection with df cap


@register(
    "graph_bipartite_projection",
    tags=("graph", "join"),
    oracle="""
        WITH cp AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        pdeg AS (
            SELECT p FROM cp GROUP BY p HAVING COUNT(*) <= 40
        ),
        capped AS (SELECT cp.c, cp.p FROM cp JOIN pdeg ON pdeg.p = cp.p),
        proj AS (
            SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS w
            FROM capped a JOIN capped b ON a.p = b.p AND a.c < b.c
            GROUP BY a.c, b.c
        )
        SELECT CAST(w AS BIGINT) AS weight,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(MIN(c1) AS BIGINT) AS min_c1,
               CAST(MAX(c2) AS BIGINT) AS max_c2
        FROM proj GROUP BY w ORDER BY weight
    """,
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the customer-part purchase graph onto
    customers: co-purchase pairs weighted by common parts, reported as
    the weight histogram (pair count + id envelope per weight) — the
    standard recommender / entity-linking primitive. The projection is
    generated through the part side with a DEGREE CAP (parts bought by
    more than 40 distinct customers are excluded — the df-capped
    inverted-index contract of operators/dedup.py): projection cost is
    sum over parts of deg^2 <= 40*|edges|, LINEAR in the corpus, never
    |customers|^2, and the pair join shuffles on the part key. The cap
    is sized to the fixture's CONSTANT part degree (~30 buyers/part at
    every SF by TPC-H sizing: lineitem and part both scale with SF),
    so it binds only pathological hot parts; a 10-cap drops the entire
    corpus — measured, the same every-block-trips-the-cap failure the
    levenshtein profile documents. All counts are exact integers; the
    histogram output is bounded by the cap. Popular-part recall loss
    is the documented trade-off (same as minhash's banding)."""
    return run_sql(spark, sf_dir, "graph_bipartite_projection")


# ---------------------------------------------------------------------------
# cur_license_detect — license keyword audit over documents


_LICENSES = (
    ("mit", "mit license"),
    ("apache", "apache license"),
    ("gpl", "general public license"),
    ("bsd", "bsd license"),
    ("cc", "creative commons"),
)


@register(
    "cur_license_detect",
    tags=("curation", "text", "agg"),
    oracle=f"""
        WITH lic (license, pat) AS (VALUES
            {", ".join(f"('{k}', '{p}')" for k, p in _LICENSES)}),
        srcs AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        hits AS (
            SELECT d.source, lic.license,
                   CAST(SUM(CASE WHEN instr(lower(d.text), lic.pat) > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM documents d CROSS JOIN lic
            GROUP BY d.source, lic.license
        )
        SELECT srcs.source AS source, hits.license, srcs.n_docs,
               hits.n_hits,
               CAST(hits.n_hits AS DOUBLE) / CAST(srcs.n_docs AS DOUBLE)
                   AS hit_rate
        FROM srcs JOIN hits ON hits.source = srcs.source
        ORDER BY srcs.source, hits.license
    """,
)
def cur_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License keyword audit per document source: for each of five
    license phrase markers (MIT / Apache / GPL / BSD / Creative
    Commons), how many docs in each source mention it — the
    provenance-governance gate a training-data pipeline runs before
    mixing a crawl source in (license-restricted text must be routed,
    not silently ingested). Matching is case-folded LITERAL substring
    (strpos/instr — identical semantics, no regex dialect risk); the
    full source x license grid is emitted so zero-hit cells are
    visible (grid join, not present-only — the fin_active_share
    lesson). Counts integer, rate one division; n_docs > 0 by the
    group-by. One scan x 5 literals, |sources| x 5 output."""
    return run_sql(spark, sf_dir, "cur_license_detect")


# ---------------------------------------------------------------------------
# cur_blocklist_filter — spam-term gate per source


_BLOCKTERMS = ("casino", "lottery", "jackpot", "winner takes")


@register(
    "cur_blocklist_filter",
    tags=("curation", "text", "agg"),
    oracle=f"""
        WITH flagged AS (
            SELECT source,
                   CASE WHEN {" OR ".join(
                       f"instr(lower(text), '{t}') > 0" for t in _BLOCKTERMS
                   )} THEN 1 ELSE 0 END AS hit
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(hit) AS BIGINT) AS n_flagged,
               CAST(COUNT(*) - SUM(hit) AS BIGINT) AS n_passed,
               CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS flag_rate
        FROM flagged GROUP BY source ORDER BY source
    """,
)
def cur_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate per document source: docs containing any of the
    spam marker terms are flagged and the per-source pass/flag split
    reported — the wordlist-filter stage of a training-data curation
    pipeline (the real list is thousands of terms; the mechanism —
    case-folded literal substring OR-chain, map-side, no shuffle
    before the agg — is what this pins; swap the literal list for a
    broadcast lookup at production size). Zero-hit sources still
    report their full row (counts integer, rate one division). One
    scan, one |sources|-row agg."""
    return run_sql(spark, sf_dir, "cur_blocklist_filter")


# ---------------------------------------------------------------------------
# graph_edge_triangle_support — per-edge triangle support (k-truss
# building block) on the strong-trade graph


@register(
    "graph_edge_triangle_support",
    tags=("graph", "join"),
    oracle=f"""
        WITH {STRONG_TRADE_CTE},
        adj AS (
            SELECT a AS node, b AS nb FROM ku
            UNION ALL
            SELECT b AS node, a AS nb FROM ku
        ),
        sup AS (
            SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS support
            FROM ku e
            JOIN adj na ON na.node = e.a
            JOIN adj nb ON nb.node = e.b AND nb.nb = na.nb
            GROUP BY e.a, e.b
        )
        SELECT k.a, k.b,
               CAST(COALESCE(s.support, 0) AS BIGINT) AS support,
               (COALESCE(s.support, 0) >= 2) AS in_4truss
        FROM ku k LEFT JOIN sup s ON s.a = k.a AND s.b = k.b
    """,
)
def graph_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle SUPPORT on the strong-trade nation graph
    (same corpus-relative 60th-percentile edge set as
    graph_triangle_count): support(a,b) = number of common neighbors
    = number of triangles through the edge — the quantity k-truss
    decomposition peels on (an edge is in the k-truss iff support >=
    k-2; the in_4truss flag reads that off for k=4). Distributed
    shape: the adjacency list is the edge set mirrored once (2|E|
    rows); support is TWO equi-joins fanning each edge out to its
    endpoints' neighbor lists and counting matches on the shared
    neighbor key — join input is O(|E| * avg_degree) wedges, never a
    cubic enumeration, and the shuffle keys are node ids so a
    1000-executor cluster partitions by vertex. Zero-support edges
    are kept via the left join (exactly the edges the 3-truss would
    drop first). All integers end-to-end."""
    u = trade_pairs(spark, sf_dir)
    thr = u.agg(F.percentile("w", 0.6).alias("t"))
    ku = (
        u.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("a", "b")
    )
    adj = ku.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionByName(
        ku.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    na = adj.select(F.col("node").alias("a"), F.col("nb").alias("cn"))
    nb = adj.select(F.col("node").alias("b"), F.col("nb").alias("cn"))
    sup = (
        ku.join(na, "a")
        .join(nb, ["b", "cn"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return ku.join(sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support"),
        (F.coalesce(F.col("support"), F.lit(0)) >= 2).alias("in_4truss"),
    )


# ---------------------------------------------------------------------------
# graph_ktruss_peel2 — two peeling rounds toward the 4-truss


@register(
    "graph_ktruss_peel2",
    tags=("graph", "iterative"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        g0 AS MATERIALIZED (SELECT a, b FROM ku),
        adj0 AS (SELECT a AS node, b AS nb FROM g0
                 UNION ALL SELECT b AS node, a AS nb FROM g0),
        sup0 AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS s
                 FROM g0 e
                 JOIN adj0 na ON na.node = e.a
                 JOIN adj0 nb ON nb.node = e.b AND nb.nb = na.nb
                 GROUP BY e.a, e.b),
        g1 AS MATERIALIZED (
            SELECT g.a, g.b FROM g0 g
            JOIN sup0 s ON s.a = g.a AND s.b = g.b WHERE s.s >= 2),
        adj1 AS (SELECT a AS node, b AS nb FROM g1
                 UNION ALL SELECT b AS node, a AS nb FROM g1),
        sup1 AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS s
                 FROM g1 e
                 JOIN adj1 na ON na.node = e.a
                 JOIN adj1 nb ON nb.node = e.b AND nb.nb = na.nb
                 GROUP BY e.a, e.b),
        g2 AS MATERIALIZED (
            SELECT g.a, g.b FROM g1 g
            JOIN sup1 s ON s.a = g.a AND s.b = g.b WHERE s.s >= 2),
        adj2 AS (SELECT a AS node, b AS nb FROM g2
                 UNION ALL SELECT b AS node, a AS nb FROM g2),
        sup2 AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS s
                 FROM g2 e
                 JOIN adj2 na ON na.node = e.a
                 JOIN adj2 nb ON nb.node = e.b AND nb.nb = na.nb
                 GROUP BY e.a, e.b)
        SELECT g.a, g.b, CAST(COALESCE(s.s, 0) AS BIGINT) AS support
        FROM g2 g LEFT JOIN sup2 s ON s.a = g.a AND s.b = g.b
    """,
)
def graph_ktruss_peel2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two k-truss peeling rounds (k=4: drop edges in <2 triangles,
    recount, drop again) on the strong-trade nation graph — the
    iterative refinement graph_edge_triangle_support reads one round
    of: peeling removes an edge, which erases triangles through its
    SURVIVORS, so single-round support over-counts the truss (this
    query's g1 vs g2 difference is exactly that cascade). Fixed
    2 rounds through operators/iterate.py, each checkpointed, so the
    sink reads a materialized edge set; each round is the same two
    equi-joins over the
    mirrored adjacency (O(|E|*avg_degree) wedges, vertex-keyed
    shuffles — never a cubic enumeration), so the pattern extends to
    convergence peeling by iterating the same stage. Final support is
    recounted INSIDE the surviving subgraph. All integers; same
    corpus-relative 60th-percentile edge set as graph_triangle_count
    (the quantile threshold twin is the proven round-13 idiom)."""

    def support(edges: DataFrame) -> DataFrame:
        adj = edges.select(
            F.col("a").alias("node"), F.col("b").alias("nb")
        ).unionByName(
            edges.select(F.col("b").alias("node"), F.col("a").alias("nb"))
        )
        na = adj.select(F.col("node").alias("a"), F.col("nb").alias("cn"))
        nb = adj.select(F.col("node").alias("b"), F.col("nb").alias("cn"))
        return (
            edges.join(na, "a")
            .join(nb, ["b", "cn"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
        )

    def peel(g: DataFrame, _: int) -> DataFrame:
        return g.join(support(g), ["a", "b"]).filter(F.col("s") >= 2).select("a", "b")

    g = iterate(trade_edges_undirected(spark, sf_dir), peel, 2)
    final_sup = support(g)
    return g.join(final_sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("support"),
    )


# ---------------------------------------------------------------------------
# graph_transitivity_global — global clustering coefficient


@register(
    "graph_transitivity_global",
    tags=("graph", "join"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        wed AS (SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS wedges,
                       CAST(COUNT(*) AS BIGINT) AS n_nodes
                FROM deg),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS triangles
            FROM ku e1
            JOIN ku e2 ON e1.b = e2.a
            JOIN ku e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ku)
        SELECT n_nodes, n_edges, wedges, triangles,
               CASE WHEN wedges > 0 THEN
                 CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)
               END AS transitivity
        FROM wed CROSS JOIN tri CROSS JOIN ne
    """,
)
def graph_transitivity_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the strong-trade
    nation graph: 3·triangles / wedges — the whole-graph closure
    ratio, which weighs hubs by their wedge count and so can differ
    sharply from graph_clustering_coeff's vertex-AVERAGED local
    coefficient (Newman's standard distinction). Wedges are an exact
    per-node degree sum (d(d-1) DIV 2 — always even); triangles reuse
    the canonical a<b<c edge-iterator join (each triangle counted
    once, input bounded by wedge count); the ratio is one guarded
    presentation division. Same corpus-relative 60th-percentile edge
    set as the rest of the graph family."""
    ku = trade_edges_undirected(spark, sf_dir).persist()
    adj = ku.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionByName(
        ku.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    wed = deg.agg(
        F.sum(F.expr("CAST((d * (d - 1)) DIV 2 AS BIGINT)"))
        .cast("bigint")
        .alias("wedges"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    e1, e2, e3 = ku.alias("e1"), ku.alias("e2"), ku.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    ne = ku.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        wed.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ne))
        .select(
            "n_nodes",
            "n_edges",
            "wedges",
            "triangles",
            F.when(
                F.col("wedges") > 0,
                (F.lit(3) * F.col("triangles")).cast("double")
                / F.col("wedges").cast("double"),
            ).alias("transitivity"),
        )
    )


# ---------------------------------------------------------------------------
# graph_common_neighbors — link prediction on the trade graph


@register(
    "graph_common_neighbors",
    tags=("graph", "join"),
    oracle=f"""
        WITH {GRAPH_EDGE_CTE},
        cand AS (
            SELECT x.n AS a, y.n AS b, CAST(COUNT(*) AS BIGINT) AS cn
            FROM nbr x JOIN nbr y ON y.v = x.v AND x.n < y.n
            GROUP BY x.n, y.n
        )
        SELECT c.a, c.b, c.cn AS common_neighbors
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM ku k WHERE k.a = c.a AND k.b = c.b
        )
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the strong-trade nation
    graph: for every NON-adjacent pair, the number of shared
    neighbors — the baseline scorer every link-prediction study
    starts from (pairs with many shared partners are the missing
    trade lanes to investigate). The candidate pairs come from the
    wedge self-join on the mirrored adjacency (O(|E|*avg_degree),
    vertex-keyed — never an all-pairs cross), existing edges drop via
    a LEFT ANTI join on the edge key, and every score is an exact
    BIGINT count. Same corpus-relative 60th-percentile edge set as
    the other round-9+ graph queries; corpus work is the one
    edge-build scan, graph state is nation-bounded."""
    return run_sql(spark, sf_dir, "graph_common_neighbors")
