"""Classical-ML training, feature engineering, and model evaluation as
distributed queries — the modeling layer a training-data pipeline runs
AFTER curation. Round 6: Lloyd's k-means, multinomial naive Bayes
(train + classify), closed-form OLS. Round 7 feature engineering:
standard scaler, smoothed target encoding, one-hot, quantile binning,
feature correlation matrix, mutual information, χ² selection. Round 7
training: histogram decision-stump splits, a full GBDT boosting round,
ridge regression. Round 7 evaluation: k-fold OLS CV, ROC-AUC
(midrank), threshold sweep, calibration bins, Wald SPRT sequential
testing.

Scale contracts shared by the module:
- Every iteration / pass is ONE linear scan of the fact table reducing
  to O(k·d) (k-means), O(|vocab|·|classes|) (NB), or O(d²) (OLS)
  sufficient statistics via ordinary mergeable column aggregates —
  map-side partials, no collect of row-level data, no quadratic join.
- Model state (centroids, log-prob table, coefficient vector) moves
  executor-ward by broadcast, never the reverse.
- Determinism: initializations are fixed functions of the data (no
  RNG), float reductions route through DECIMAL where a comparison
  (argmin/argmax) depends on them, so results are partition-layout
  independent (the repo-wide relayout-stability contract).

Reference scope: the reference ETL (ibqp/finance-etl transform.py)
has no modeling surface; these are capability-expansion operators
(SURVEY.md §2 round-6 and round-7 tables).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import (
    as_d,
    fsum,
    o_fsum,
    o_ordered_fold_sum,
    o_qsum,
    ordered_fold_sum,
    qsum,
)
from finance_etl_spark.io.readers import load_table, load_table_parallel
from finance_etl_spark.plans.recipes import ORDER_PRIORITIES, SPACE, pois_case_sql
from finance_etl_spark.plans.registry import register

_DIM = 64  # embeddings.embedding is ArrayType(float), 64-dim
_K = 8
_ITERS = 16  # sf0.001 fixture converges (n_moved==0) at iteration 12


_KM_STATS_SCHEMA = (
    "cluster int, n long, inertia double, n_moved long, "
    + ", ".join(f"s{i} double" for i in range(_DIM))
)


def _km_partial_stats(cents, prev_cents):
    """Arrow-batched per-partition sufficient statistics for one Lloyd
    iteration: each batch reduces to ≤k rows of (cluster, n, Σd², moved
    count, Σ per-dimension) via vectorized numpy — a hand-rolled
    map-side combine, so the shuffle is k·partitions rows regardless of
    corpus size. n_moved rides in the SAME pass by re-deriving the
    previous argmin from the previous centroids (argmin is a
    deterministic function of (vector, centroids), so this equals the
    stored assignment — no per-iteration persist or vec_id self-join).
    A fully unrolled JVM expression was tried first and measured ~12 s
    PER ITERATION at sf0.01: Catalyst re-optimizes the ~3000-node
    distance tree every iteration because the centroid literals change;
    the numpy kernel runs the same math in milliseconds."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)
    P = np.asarray(prev_cents, dtype=np.float64) if prev_cents else None

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            best = d2[np.arange(len(X)), a]
            if P is None:
                moved = np.zeros(len(X), dtype=bool)
            else:
                pa = ((X[:, None, :] - P[None, :, :]) ** 2).sum(
                    axis=2
                ).argmin(axis=1)
                moved = pa != a
            rows = []
            for c in np.unique(a):
                m = a == c
                rows.append(
                    [int(c), int(m.sum()), float(best[m].sum()),
                     int(moved[m].sum())]
                    + [float(v) for v in X[m].sum(axis=0)]
                )
            yield pd.DataFrame(
                rows,
                columns=["cluster", "n", "inertia", "n_moved"]
                + [f"s{i}" for i in range(C.shape[1])],
            )

    return gen


def kmeans_fit(
    spark: SparkSession, sf_dir: str, k: int = _K, iters: int = _ITERS
) -> tuple[list[list[float]], list[tuple[int, float, int]]]:
    """Lloyd's algorithm, data-parallel: per iteration ONE linear scan
    (mapInPandas partial stats, see _km_partial_stats) reduces the
    corpus to ≤ k·partitions rows, a k-row final agg sums them, and the
    driver sees O(k·d) scalars — nothing row-sized, no RNG (init = the
    first k vectors by vec_id). Returns (centroids,
    [(iteration, inertia, n_moved)])."""
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # size the cached layout to the data: ~20k vectors per task keeps
    # per-iteration task overhead flat on small fixtures while scaling
    # to defaultParallelism (and beyond via more executors) on big ones
    n_vecs = raw.count()
    n_parts = max(
        1, min(spark.sparkContext.defaultParallelism, n_vecs // 20000 + 1)
    )
    e = raw.repartition(n_parts).persist()
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.orderBy("vec_id").limit(k).collect()
    ]
    emb = e.select("embedding")
    prev_cents: list[list[float]] | None = None
    history: list[tuple[int, float, int]] = []
    for it in range(iters):
        # the partials are already model-sized (≤ k·partitions rows of
        # 68 scalars), so the final merge runs driver-side — one
        # single-stage job per iteration, no shuffle. At extreme
        # partition counts (>~10k) a groupBy("cluster") tree-merge in
        # front of the collect bounds driver traffic at k rows.
        partials = emb.mapInPandas(
            _km_partial_stats(cents, prev_cents), _KM_STATS_SCHEMA
        ).collect()
        merged: dict[int, list[float]] = {}
        for r in partials:
            acc = merged.setdefault(
                r["cluster"], [0.0] * (3 + _DIM)
            )
            acc[0] += r["n"]
            acc[1] += r["inertia"]
            acc[2] += r["n_moved"]
            for i in range(_DIM):
                acc[3 + i] += r[f"s{i}"]
        inertia = float(sum(a[1] for a in merged.values()))
        n_moved = (
            int(sum(a[2] for a in merged.values()))
            if prev_cents is not None
            else -1
        )
        history.append((it, inertia, n_moved))
        prev_cents = cents
        cents = [
            [merged[c][3 + i] / merged[c][0] for i in range(_DIM)]
            if c in merged
            else cents[c]  # empty cluster keeps its centroid
            for c in range(k)
        ]
        if n_moved == 0:
            break
    e.unpersist()
    return cents, history


@register("ml_kmeans_lloyd", tags=("ml", "vector", "iterative"))
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd): returns the iteration history
    (iteration, inertia, n_moved). Rows-only for the driver (float
    means ride through averages whose exact values are compared by a
    pure-python reference pytest instead): tests/test_round6_ops.py
    pins non-increasing inertia, convergence (n_moved hits 0 at
    iteration 12 on the sf0.001 fixture, within _ITERS=16), and
    centroid agreement with an identical-init numpy Lloyd run. At
    100 TB: iters linear scans, k·d scalars back per scan — the
    textbook data-parallel shape; n_moved rides in the SAME scan by
    re-deriving the previous argmin from the previous centroids."""
    _, history = kmeans_fit(spark, sf_dir)
    return spark.createDataFrame(
        history, "iteration int, inertia double, n_moved int"
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes over documents (class = lang)

_NB_PROBES = ("table", "row", "value", "spark", "query")


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.col("text"), SPACE), lambda t: t != "")
        ).alias("tok"),
    )


_NB_TOKENS_SQL = """
        SELECT doc_id, lang, unnest(list_filter(
                   string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents
"""


@register(
    "ml_naive_bayes_train",
    tags=("ml", "text", "agg"),
    oracle=f"""
        WITH toks AS ({_NB_TOKENS_SQL}),
        cls AS (
            SELECT lang,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS n_tokens
            FROM toks GROUP BY lang
        ),
        vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
        probe AS (
            SELECT lang, tok, COUNT(*) AS tok_count
            FROM toks
            WHERE tok IN {tuple(_NB_PROBES)}
            GROUP BY lang, tok
        )
        SELECT c.lang,
               CAST(c.n_docs AS BIGINT) AS n_docs,
               CAST(c.n_tokens AS BIGINT) AS n_tokens,
               p.tok,
               CAST(COALESCE(pr.tok_count, 0) AS BIGINT) AS tok_count,
               CAST(COALESCE(pr.tok_count, 0) + 1 AS DOUBLE)
                   / CAST(c.n_tokens + v AS DOUBLE) AS p_smoothed
        FROM cls c
        CROSS JOIN (SELECT UNNEST({list(_NB_PROBES)}) AS tok) p
        CROSS JOIN vocab
        LEFT JOIN probe pr ON pr.lang = c.lang AND pr.tok = p.tok
    """,
)
def ml_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes training as pure aggregation: per-class
    doc/token totals, the corpus vocabulary size, and Laplace-smoothed
    conditionals p(tok|class) = (count+1)/(class_tokens+V) for a fixed
    probe-token set — every input an exact integer count, one double
    division at the edge (oracle-checkable, engine-exact). The full
    conditional table this classifier uses at inference time is the
    same aggregate without the probe filter: vocab x classes rows,
    i.e. model size ∝ vocabulary, never corpus. One token-key shuffle
    + one class-key shuffle at any scale."""
    toks = _doc_tokens(spark, sf_dir).persist()
    cls = toks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    probe_counts = (
        toks.filter(F.col("tok").isin(*_NB_PROBES))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("tok_count"))
    )
    probes = spark.createDataFrame([(t,) for t in _NB_PROBES], "tok string")
    return (
        cls.crossJoin(F.broadcast(probes))
        .crossJoin(F.broadcast(vocab))
        .join(probe_counts, ["lang", "tok"], "left")
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "tok",
            F.coalesce(F.col("tok_count"), F.lit(0))
            .cast("bigint")
            .alias("tok_count"),
            (
                (F.coalesce(F.col("tok_count"), F.lit(0)) + F.lit(1)).cast(
                    "double"
                )
                / (F.col("n_tokens") + F.col("v")).cast("double")
            ).alias("p_smoothed"),
        )
    )


@register(
    "ml_naive_bayes_classify",
    tags=("ml", "text", "join"),
    oracle=f"""
        WITH toks AS MATERIALIZED ({_NB_TOKENS_SQL}),
        cls AS MATERIALIZED (
            SELECT lang,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS n_tokens
            FROM toks GROUP BY lang
        ),
        tot AS (
            SELECT COUNT(DISTINCT tok) AS v,
                   COUNT(DISTINCT doc_id) AS n_all_docs
            FROM toks
        ),
        counts AS (
            SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY lang, tok
        ),
        model AS MATERIALIZED (
            SELECT v.tok, c.lang AS model_lang,
                   CAST(ln(CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE)
                           / CAST(c.n_tokens + t.v AS DOUBLE))
                        AS DECIMAL(20,12)) AS logp
            FROM (SELECT DISTINCT tok FROM toks) v
            CROSS JOIN cls c CROSS JOIN tot t
            LEFT JOIN counts ct ON ct.lang = c.lang AND ct.tok = v.tok
        ),
        prior AS (
            SELECT lang AS model_lang,
                   CAST(ln(CAST(n_docs AS DOUBLE)
                           / CAST(t.n_all_docs AS DOUBLE))
                        AS DECIMAL(20,12)) AS log_prior
            FROM cls CROSS JOIN tot t
        ),
        doc_tok AS (
            SELECT doc_id, lang, tok, COUNT(*) AS n
            FROM toks GROUP BY doc_id, lang, tok
        ),
        scored AS (
            SELECT dt.doc_id, dt.lang, m.model_lang,
                   SUM(dt.n * m.logp) + ANY_VALUE(p.log_prior) AS score
            FROM doc_tok dt
            JOIN model m ON m.tok = dt.tok
            JOIN prior p ON p.model_lang = m.model_lang
            GROUP BY dt.doc_id, dt.lang, m.model_lang
        ),
        best AS (
            SELECT doc_id, lang, model_lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, model_lang DESC) AS rn
            FROM scored
        )
        SELECT lang, model_lang AS pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM best WHERE rn = 1
        GROUP BY lang, model_lang
        ORDER BY lang, pred_lang
    """,
)
def ml_naive_bayes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes inference at corpus scale, relayout-stable: the
    class-conditional log-probability table (vocab x classes — model-
    sized) is QUANTIZED to DECIMAL(20,12) once, so per-doc scores are
    exact decimal sums — bit-identical under any partitioning (a raw
    double Σ count·logp would be addition-order dependent and could
    flip argmax on near-ties). Scoring = doc-token counts ⋈ the
    (auto-broadcast at the fixture scale; token-key shuffle at web
    scale) model table, then a doc-key agg and a 5-way argmax via
    array_max over (score, lang) structs. Output is the confusion
    matrix (true lang vs predicted) — class-count sized. Hash-oracled
    (promoted from rows-only in r7): libm ln differs cross-engine at
    1 ulp (~1e-15), which perturbs scores by ≤ n_tok·1e-12 after the
    DECIMAL(20,12) quantization, while the smallest top-2 winning
    margin is 3.4e-4 at sf0.01 (measured) — six orders of magnitude
    of headroom, so the integer matrix is engine- and build-stable.
    tests/test_round6_ops.py additionally pins the full matrix
    against an independent pure-python NB on the same quantization."""
    toks = _doc_tokens(spark, sf_dir).persist()
    cls = toks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    tot = toks.agg(
        F.countDistinct("tok").alias("v"),
        F.countDistinct("doc_id").alias("n_all_docs"),
    )
    # model: vocab x classes smoothed log-conditionals, decimal-quantized
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    langs = cls.select("lang", "n_tokens", "n_docs")
    vocab = toks.select("tok").distinct()
    model = (
        vocab.crossJoin(F.broadcast(langs))
        .join(counts, ["lang", "tok"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.col("lang").alias("model_lang"),
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("n_tokens") + F.col("v")).cast("double")
            )
            .cast("decimal(20,12)")
            .alias("logp"),
        )
    )
    prior = (
        cls.crossJoin(F.broadcast(tot))
        .select(
            F.col("lang").alias("model_lang"),
            F.log(
                F.col("n_docs").cast("double")
                / F.col("n_all_docs").cast("double")
            )
            .cast("decimal(20,12)")
            .alias("log_prior"),
        )
    )
    doc_tok = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    scored = (
        doc_tok.join(model, "tok")
        .groupBy("doc_id", "lang", "model_lang")
        .agg(F.sum(F.col("n") * F.col("logp")).alias("tok_score"))
        .join(F.broadcast(prior), "model_lang")
        .select(
            "doc_id",
            "lang",
            "model_lang",
            (F.col("tok_score") + F.col("log_prior")).alias("score"),
        )
    )
    best = scored.groupBy("doc_id", "lang").agg(
        F.max(F.struct(F.col("score"), F.col("model_lang"))).alias("b")
    )
    return (
        best.select("lang", F.col("b.model_lang").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Closed-form OLS (normal equations, Cramer's rule)

_OLS_SUMS_SQL = """
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS s1,
               CAST(CAST(SUM(CAST(l_discount AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS s2,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))
                           * CAST(l_quantity AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS s11,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))
                           * CAST(l_discount AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS s12,
               CAST(CAST(SUM(CAST(l_discount AS DECIMAL(20,2))
                           * CAST(l_discount AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS s22,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))
                           * CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS s1y,
               CAST(CAST(SUM(CAST(l_discount AS DECIMAL(20,2))
                           * CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS s2y
        FROM lineitem
"""


@register(
    "ml_ols_normal_equations",
    tags=("ml", "agg"),
    headline=True,  # tracks the ml family's cost in BENCH_r{N}
    oracle=f"""
        WITH s AS ({_OLS_SUMS_SQL})
        SELECT CAST(n AS BIGINT) AS n,
               ((s11*s22 - s12*s12)*sy + (s2*s12 - s1*s22)*s1y
                  + (s1*s12 - s2*s11)*s2y)
               / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s2*s12)
                  + s2*(s1*s12 - s2*s11)) AS beta0,
               ((s2*s12 - s1*s22)*sy + (n*s22 - s2*s2)*s1y
                  + (s1*s2 - n*s12)*s2y)
               / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s2*s12)
                  + s2*(s1*s12 - s2*s11)) AS beta1,
               ((s1*s12 - s2*s11)*sy + (s1*s2 - n*s12)*s1y
                  + (n*s11 - s1*s1)*s2y)
               / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s2*s12)
                  + s2*(s1*s12 - s2*s11)) AS beta2
        FROM s
    """,
)
def ml_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (price ~ quantity + discount) solved in closed
    form: ONE scan reduces lineitem to the 9 sufficient statistics
    (n, Σx, Σxxᵀ, Σxy — all exact integer sums of cents-scaled values,
    so the fit is partition-order independent), then the 3x3 normal
    equations solve by Cramer's rule as a single scalar expression over
    the adjugate — identical IEEE arithmetic on both engines from
    identical sums, hence oracle-checkable, unlike an iterative solver.
    d features → d² sums: the driver never sees row data at any scale.

    Round-15 reshape (guide step 2 — per-task work): the original
    DECIMAL(20,2) products and sums ran every row through BigDecimal
    (decimal multiply has no compact fast path), 0.86 s of the 0.99 s
    query at sf0.1. The cents quantization now happens in pure double
    arithmetic — k = floor(x*100 + 0.5) — which equals the previous
    CAST(x AS DECIMAL(20,2)) exactly for this data because the money
    columns are non-negative nearest-double encodings of <= 2-decimal
    rationals (so x*100 lands within ~5e-9 of the integer k, far from
    the 0.5 boundary; bit-identity of all betas re-proven at all three
    SFs). Products are then plain long multiplies; sums accumulate in
    DECIMAL(38,0) (compact-long fast path, overflow-safe at any SF
    where a bigint sum would not be), and one exact decimal division
    per statistic restores the scale at the 1-row edge — the quotients
    are exact at scale 6, so the presented doubles are the same
    correctly-rounded values as before (min-of-5 at sf0.1:
    0.92 s -> 0.55 s)."""
    li = load_table(spark, sf_dir, "lineitem")

    def cents(c: str):
        return (F.col(c) * 100 + F.lit(0.5)).cast("long")

    d38 = "decimal(38,0)"
    q, x, p = cents("l_quantity"), cents("l_discount"), cents("l_extendedprice")
    s = (
        li.select(q.alias("q"), x.alias("x"), p.alias("p"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("q").cast(d38)).alias("S1"),
            F.sum(F.col("x").cast(d38)).alias("S2"),
            F.sum((F.col("q") * F.col("q")).cast(d38)).alias("S11"),
            F.sum((F.col("q") * F.col("x")).cast(d38)).alias("S12"),
            F.sum((F.col("x") * F.col("x")).cast(d38)).alias("S22"),
            F.sum(F.col("p").cast(d38)).alias("SY"),
            F.sum((F.col("q") * F.col("p")).cast(d38)).alias("S1Y"),
            F.sum((F.col("x") * F.col("p")).cast(d38)).alias("S2Y"),
        )
    )

    def unscale(col: str, k: int):
        # decimal(30,0) / decimal(9,0) plans as decimal(36,6): exact
        # for these scale-2/scale-4 rationals, so the double cast is
        # the same correctly-rounded value the decimal-sum cast gave
        return (
            F.col(col).cast("decimal(30,0)") / F.lit(k).cast("decimal(9,0)")
        ).cast("double")

    s = s.select(
        "n",
        unscale("S1", 100).alias("s1"),
        unscale("S2", 100).alias("s2"),
        unscale("S11", 10000).alias("s11"),
        unscale("S12", 10000).alias("s12"),
        unscale("S22", 10000).alias("s22"),
        unscale("SY", 100).alias("sy"),
        unscale("S1Y", 10000).alias("s1y"),
        unscale("S2Y", 10000).alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s2 * s12)
        + s2 * (s1 * s12 - s2 * s11)
    )
    beta0 = (
        (s11 * s22 - s12 * s12) * sy
        + (s2 * s12 - s1 * s22) * s1y
        + (s1 * s12 - s2 * s11) * s2y
    ) / det
    beta1 = (
        (s2 * s12 - s1 * s22) * sy
        + (n * s22 - s2 * s2) * s1y
        + (s1 * s2 - n * s12) * s2y
    ) / det
    beta2 = (
        (s1 * s12 - s2 * s11) * sy
        + (s1 * s2 - n * s12) * s1y
        + (n * s11 - s1 * s1) * s2y
    ) / det
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        beta0.alias("beta0"),
        beta1.alias("beta1"),
        beta2.alias("beta2"),
    )


# ---------------------------------------------------------------------------
# Feature engineering + model evaluation (round 7). Where a formula
# must be bit-identical cross-engine, the SAME SQL fragment is passed
# to Spark's F.expr and embedded in the DuckDB oracle — identical
# operation order by construction.


_SCALER_FEATURES = ("l_quantity", "l_extendedprice", "l_discount")

# identical double arithmetic on both engines (inputs are exact decimal
# sums presented as correctly-rounded doubles)
_SCALER_FORMULAS = {
    "mean": "s_d / n_d",
    "std": "sqrt((ss_d - s_d * s_d / n_d) / (n_d - 1.0))",
    "z_min": "(min_d - s_d / n_d) / sqrt((ss_d - s_d * s_d / n_d) / (n_d - 1.0))",
    "z_max": "(max_d - s_d / n_d) / sqrt((ss_d - s_d * s_d / n_d) / (n_d - 1.0))",
}


@register(
    "ml_standard_scaler",
    tags=("ml", "features", "agg"),
    oracle=f"""
        WITH stats AS (
            {" UNION ALL ".join(
                f'''SELECT '{f}' AS feature,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(COUNT(*) AS DOUBLE) AS n_d,
                       CAST(CAST(SUM(CAST({f} AS DECIMAL(25,4))) AS VARCHAR) AS DOUBLE) AS s_d,
                       CAST(CAST(SUM(CAST({f} AS DECIMAL(25,4))
                                     * CAST({f} AS DECIMAL(25,4))) AS VARCHAR) AS DOUBLE) AS ss_d,
                       CAST(CAST(MIN({f}) AS VARCHAR) AS DOUBLE) AS min_d,
                       CAST(CAST(MAX({f}) AS VARCHAR) AS DOUBLE) AS max_d
                FROM lineitem'''
                for f in _SCALER_FEATURES
            )}
        )
        SELECT feature, n,
               {_SCALER_FORMULAS['mean']} AS mean,
               {_SCALER_FORMULAS['std']} AS std,
               {_SCALER_FORMULAS['z_min']} AS z_min,
               {_SCALER_FORMULAS['z_max']} AS z_max
        FROM stats
    """,
)
def ml_standard_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization fit over three lineitem measures: ONE
    scan reduces each feature to exact decimal sufficient statistics
    (n, Σx, Σx², min, max — all DECIMAL, partition-independent), then
    mean/std/extreme-z are closed-form double expressions evaluated
    from those scalars via the SAME SQL fragments on both engines.
    At 100 TB the fitted (mean, std) pairs broadcast into the scoring
    projection; nothing row-sized leaves the executors."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for f in _SCALER_FEATURES:
        d = F.col(f).cast("decimal(25,4)")
        aggs += [
            F.sum(d).cast("double").alias(f"{f}__s"),
            F.sum(d * d).cast("double").alias(f"{f}__ss"),
            F.min(F.col(f)).cast("double").alias(f"{f}__min"),
            F.max(F.col(f)).cast("double").alias(f"{f}__max"),
        ]
    # ONE scan for all three features; the 1-row result is persisted so
    # the per-feature unpivot below doesn't re-trigger the scan
    wide = li.agg(F.count(F.lit(1)).alias("n"), *aggs).persist()
    parts = [
        wide.select(
            F.lit(f).alias("feature"),
            "n",
            F.col("n").cast("double").alias("n_d"),
            F.col(f"{f}__s").alias("s_d"),
            F.col(f"{f}__ss").alias("ss_d"),
            F.col(f"{f}__min").alias("min_d"),
            F.col(f"{f}__max").alias("max_d"),
        )
        for f in _SCALER_FEATURES
    ]
    stats = parts[0]
    for p in parts[1:]:
        stats = stats.unionByName(p)
    return stats.select(
        "feature",
        "n",
        F.expr(_SCALER_FORMULAS["mean"]).alias("mean"),
        F.expr(_SCALER_FORMULAS["std"]).alias("std"),
        F.expr(_SCALER_FORMULAS["z_min"]).alias("z_min"),
        F.expr(_SCALER_FORMULAS["z_max"]).alias("z_max"),
    )


_TE_FORMULA = "(c_sum_d + 50.0 * (g_sum_d / g_n_d)) / (c_n_d + 50.0)"


@register(
    "ml_target_encode_smoothed",
    tags=("ml", "features", "agg"),
    oracle=f"""
        WITH cat AS (
            SELECT o_orderpriority AS category,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS c_n_d,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2)))
                        AS VARCHAR) AS DOUBLE) AS c_sum_d
            FROM orders GROUP BY o_orderpriority
        ),
        g AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS g_n_d,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2)))
                        AS VARCHAR) AS DOUBLE) AS g_sum_d
            FROM orders
        )
        SELECT category, n,
               c_sum_d / c_n_d AS target_mean,
               {_TE_FORMULA} AS encoded
        FROM cat CROSS JOIN g
    """,
)
def ml_target_encode_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding (CatBoost/Micci-Barreca style,
    prior weight m=50): encode(cat) = (Σy_cat + m·μ_global)/(n_cat+m).
    Category sums and the global prior are exact decimal aggregates
    (one category-key shuffle + one scalar agg); the encoding itself
    is the same double fragment on both engines. At scale the
    category table is model-sized and broadcasts into feature
    projection — the standard leakage-safe categorical encoder for
    gradient-boosted training pipelines."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(25,2)")
    cat = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("c_n_d"),
        F.sum(d).cast("double").alias("c_sum_d"),
    )
    glob = o.agg(
        F.count(F.lit(1)).cast("double").alias("g_n_d"),
        F.sum(d).cast("double").alias("g_sum_d"),
    )
    return cat.crossJoin(F.broadcast(glob)).select(
        "category",
        "n",
        (F.col("c_sum_d") / F.col("c_n_d")).alias("target_mean"),
        F.expr(_TE_FORMULA).alias("encoded"),
    )


_STUMP_BINS = 32
# identical double arithmetic from exact integer counts on both engines
# NB: {p}/{t} substitutions are parenthesized — "({t}) - ({p})" — an
# unparenthesized "{t} - {p}" silently mis-associates for compound
# arguments like t='tot_n - cum_n' (caught by the gain>=0 invariant in
# tests/test_round7_ops.py; the shared-fragment hash oracle CANNOT
# catch it, both engines computing the same wrong expression)
_GINI = (
    "1.0 - (CAST(({p}) AS DOUBLE) / CAST(({t}) AS DOUBLE))"
    " * (CAST(({p}) AS DOUBLE) / CAST(({t}) AS DOUBLE))"
    " - (CAST(({t}) - ({p}) AS DOUBLE) / CAST(({t}) AS DOUBLE))"
    " * (CAST(({t}) - ({p}) AS DOUBLE) / CAST(({t}) AS DOUBLE))"
)
_STUMP_GAIN = (
    "CASE WHEN cum_n < tot_n THEN "
    + _GINI.format(p="tot_pos", t="tot_n")
    + " - (CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)) * ("
    + _GINI.format(p="cum_pos", t="cum_n")
    + ") - (CAST(tot_n - cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)) * ("
    + _GINI.format(p="tot_pos - cum_pos", t="tot_n - cum_n")
    + ") END"
)


@register(
    "ml_decision_stump_split",
    tags=("ml", "tree", "agg"),
    oracle=f"""
        WITH rng AS (
            SELECT CAST(CAST(MIN(l_extendedprice) AS VARCHAR) AS DOUBLE)
                       AS xmin,
                   CAST(CAST(MAX(l_extendedprice) AS VARCHAR) AS DOUBLE)
                       AS xmax
            FROM lineitem
        ),
        hist AS (
            SELECT LEAST({_STUMP_BINS - 1},
                       CAST(FLOOR((CAST(CAST(l_extendedprice AS VARCHAR)
                                        AS DOUBLE) - r.xmin)
                           / ((r.xmax - r.xmin)
                              / {float(_STUMP_BINS)})) AS INT)) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS n_pos
            FROM lineitem CROSS JOIN rng r
            GROUP BY 1
        ),
        cum AS (
            SELECT bin, n, n_pos,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
                   CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
                   CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
                   CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
            FROM hist
            WINDOW w AS (ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT bin, n, n_pos, cum_n, cum_pos, {_STUMP_GAIN} AS gain
        FROM cum
    """,
)
def ml_decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump split finding — the inner loop of
    every distributed GBDT (LightGBM/XGBoost-hist style): ONE pass bins
    the feature into 32 equi-width buckets of exact integer (count,
    positive-count) pairs, then the best threshold search is a
    32-row cumulative scan computing exact-arithmetic Gini gain per
    boundary from integer prefix sums. At 100 TB only the histogram
    shuffles (bins·features rows); candidate evaluation never touches
    row data. The bin id and the gain are the same double fragments on
    both engines (min/max come from exact decimal aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    rng = li.agg(
        F.min("l_extendedprice").cast("double").alias("xmin"),
        F.max("l_extendedprice").cast("double").alias("xmax"),
    )
    from pyspark.sql import Window

    hist = (
        li.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.lit(_STUMP_BINS - 1),
                F.floor(
                    (F.col("l_extendedprice").cast("double") - F.col("xmin"))
                    / ((F.col("xmax") - F.col("xmin")) / F.lit(float(_STUMP_BINS)))
                ).cast("int"),
            ).alias("bin"),
            (F.col("l_returnflag") == "R").cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
        F.sum("n").over(wall).cast("bigint").alias("tot_n"),
        F.sum("n_pos").over(wall).cast("bigint").alias("tot_pos"),
    )
    return cum.select(
        "bin", "n", "n_pos", "cum_n", "cum_pos",
        F.expr(_STUMP_GAIN).alias("gain"),
    )


_KF_FOLDS = 5
_KF_BETAS = {
    "beta0": (
        "((s11*s22 - s12*s12)*sy + (s2*s12 - s1*s22)*s1y"
        " + (s1*s12 - s2*s11)*s2y) / (n*(s11*s22 - s12*s12)"
        " - s1*(s1*s22 - s2*s12) + s2*(s1*s12 - s2*s11))"
    ),
    "beta1": (
        "((s2*s12 - s1*s22)*sy + (n*s22 - s2*s2)*s1y"
        " + (s1*s2 - n*s12)*s2y) / (n*(s11*s22 - s12*s12)"
        " - s1*(s1*s22 - s2*s12) + s2*(s1*s12 - s2*s11))"
    ),
    "beta2": (
        "((s1*s12 - s2*s11)*sy + (s1*s2 - n*s12)*s1y"
        " + (n*s11 - s1*s1)*s2y) / (n*(s11*s22 - s12*s12)"
        " - s1*(s1*s22 - s2*s12) + s2*(s1*s12 - s2*s11))"
    ),
}
_KF_STATS = {
    "n": "COUNT(*)",
    "s1": "SUM(x1)", "s2": "SUM(x2)",
    "s11": "SUM(x1*x1)", "s12": "SUM(x1*x2)", "s22": "SUM(x2*x2)",
    "sy": "SUM(y)", "s1y": "SUM(x1*y)", "s2y": "SUM(x2*y)",
}


@register(
    "ml_kfold_ols_eval",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH feat AS MATERIALIZED (
            SELECT CAST(l_orderkey % {_KF_FOLDS} AS INT) AS fold,
                   CAST(l_quantity AS DECIMAL(20,2)) AS x1,
                   CAST(l_discount AS DECIMAL(20,2)) AS x2,
                   CAST(l_extendedprice AS DECIMAL(20,2)) AS y
            FROM lineitem
        ),
        fold_stats AS MATERIALIZED (
            SELECT fold,
                   {", ".join(f"{expr} AS f_{k}" for k, expr in _KF_STATS.items())}
            FROM feat GROUP BY fold
        ),
        total AS (
            SELECT {", ".join(f"SUM(f_{k}) AS t_{k}" for k in _KF_STATS)}
            FROM fold_stats
        ),
        betas AS MATERIALIZED (
            SELECT fold,
                   {", ".join(
                       f"CAST(CAST(t_{k} - f_{k} AS VARCHAR) AS DOUBLE) AS {k}"
                       for k in _KF_STATS
                   )}
            FROM fold_stats CROSS JOIN total
        ),
        scored AS (
            SELECT f.fold,
                   CAST(CAST(f.y AS VARCHAR) AS DOUBLE)
                     - ({_KF_BETAS['beta0']}
                        + ({_KF_BETAS['beta1']}) * CAST(CAST(f.x1 AS VARCHAR) AS DOUBLE)
                        + ({_KF_BETAS['beta2']}) * CAST(CAST(f.x2 AS VARCHAR) AS DOUBLE)) AS resid
            FROM feat f JOIN betas b ON b.fold = f.fold
        )
        SELECT fold,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               sqrt(({o_fsum('(resid * resid)')})
                    / CAST(COUNT(*) AS DOUBLE)) AS rmse
        FROM scored
        GROUP BY fold
    """,
)
def ml_kfold_ols_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated evaluation of the closed-form OLS
    (price ~ quantity + discount), entirely in-engine: per-fold exact
    decimal sufficient statistics (ONE scan, a k-row shuffle), each
    fold's TRAINING stats formed by subtracting its held-out stats from
    the total (exact decimal subtraction — no second scan), betas via
    the same Cramer fragments as ml_ols_normal_equations, and held-out
    RMSE via an engine-agnostic floor-scaled residual² sum (money.fsum /
    o_fsum). A constant 3 scans regardless of k (stats,
    stats-for-total, scoring — .explain-verified); the per-fold model
    is 9 scalars broadcast back into the scoring scan. The leave-one-
    fold-out-by-subtraction trick is what makes k-fold O(1) scans
    instead of O(k) at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    feat = li.select(
        (F.col("l_orderkey") % _KF_FOLDS).cast("int").alias("fold"),
        F.col("l_quantity").cast("decimal(20,2)").alias("x1"),
        F.col("l_discount").cast("decimal(20,2)").alias("x2"),
        F.col("l_extendedprice").cast("decimal(20,2)").alias("y"),
    )
    fold_stats = feat.groupBy("fold").agg(
        *[F.expr(expr).alias(f"f_{k}") for k, expr in _KF_STATS.items()]
    )
    total = fold_stats.agg(
        *[F.sum(f"f_{k}").alias(f"t_{k}") for k in _KF_STATS]
    )
    betas = fold_stats.crossJoin(F.broadcast(total)).select(
        "fold",
        *[
            (F.col(f"t_{k}") - F.col(f"f_{k}")).cast("double").alias(k)
            for k in _KF_STATS
        ],
    )
    scored = feat.join(F.broadcast(betas), "fold").select(
        "fold",
        (
            F.col("y").cast("double")
            - (
                F.expr(_KF_BETAS["beta0"])
                + F.expr(f"({_KF_BETAS['beta1']})") * F.col("x1").cast("double")
                + F.expr(f"({_KF_BETAS['beta2']})") * F.col("x2").cast("double")
            )
        ).alias("resid"),
    )
    return scored.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sqrt(
            fsum(F.col("resid") * F.col("resid"))
            / F.count(F.lit(1)).cast("double")
        ).alias("rmse"),
    )


@register(
    "ml_one_hot_encode",
    tags=("ml", "features", "scalar"),
    oracle=f"""
        SELECT o_orderkey,
               o_orderpriority,
               {", ".join(
                   f"CAST(o_orderpriority = '{p}' AS INT) AS is_p{i + 1}"
                   for i, p in enumerate(ORDER_PRIORITIES)
               )}
        FROM orders
    """,
)
def ml_one_hot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a low-cardinality categorical into indicator
    columns — a pure codegen'd projection (no shuffle, no UDF); the
    category list is DECLARED (config, not inferred) so the output
    schema is stable across batches — the property that matters when
    the encoded matrix feeds an incremental trainer. Inferring the
    distinct values instead is one tiny extra agg + broadcast."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        *[
            (F.col("o_orderpriority") == p).cast("int").alias(f"is_p{i + 1}")
            for i, p in enumerate(ORDER_PRIORITIES)
        ],
    )


_QB_QS = (0.25, 0.5, 0.75)


@register(
    "ml_quantile_binning",
    tags=("ml", "features", "agg"),
    oracle=f"""
        WITH ranked AS MATERIALIZED (
            SELECT o_totalprice,
                   ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey)
                       AS rn,
                   COUNT(*) OVER () AS n
            FROM orders
        ),
        edges AS (
            SELECT
              {", ".join(
                  f"MAX(CASE WHEN rn = CAST(ceil({q} * n) AS BIGINT)"
                  f" THEN o_totalprice END) AS e{i}"
                  for i, q in enumerate(_QB_QS)
              )}
            FROM ranked
        )
        SELECT CASE WHEN o_totalprice <= e0 THEN 0
                    WHEN o_totalprice <= e1 THEN 1
                    WHEN o_totalprice <= e2 THEN 2
                    ELSE 3 END AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_totalprice) AS bin_min,
               MAX(o_totalprice) AS bin_max
        FROM orders CROSS JOIN edges
        GROUP BY 1
    """,
)
def ml_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (equi-depth) feature binning with EXACT order-statistic
    edges: the k-th value at rank ceil(q·n) under a deterministic
    (value, key) order — the repo-wide quantile contract (order
    statistics, never interpolation, so edges are exact decimals and
    bin assignment is engine-exact). The value at rank ceil(q·n) is
    the smallest value whose cumulative count reaches the rank, so the
    edges come from the distinct-value bucket + carry-in decomposition
    (agg_equidepth_histogram's shape): value-range-partitioned
    cumulative windows plus an O(buckets) carry — no corpus-scale
    relation ever crosses an unpartitioned window (the global
    ROW_NUMBER lives only in the DuckDB oracle, where it is fine).
    One distinct-value agg + a 3-scalar broadcast + one grouped
    count."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per_val = (
        o.groupBy(F.col("o_totalprice").alias("x"))
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("bkt", F.floor(F.col("x") / F.lit(10000)).cast("long"))
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        per_val.groupBy("bkt")
        .agg(F.sum("w").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
            F.sum("tb")
            .over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("n"),
        )
    )
    cum = (
        per_val.select("bkt", "x", F.sum("w").over(w_in).alias("win"))
        .join(F.broadcast(carry), "bkt")
        .select("x", (F.col("win") + F.col("cb")).alias("cw"), "n")
    )
    edges = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cw") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col("x"),
                )
            ).alias(f"e{i}")
            for i, q in enumerate(_QB_QS)
        ]
    )
    return (
        o.crossJoin(F.broadcast(edges))
        .select(
            F.when(F.col("o_totalprice") <= F.col("e0"), 0)
            .when(F.col("o_totalprice") <= F.col("e1"), 1)
            .when(F.col("o_totalprice") <= F.col("e2"), 2)
            .otherwise(3)
            .alias("bin"),
            "o_totalprice",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("bin_min"),
            F.max("o_totalprice").alias("bin_max"),
        )
    )


# ---------------------------------------------------------------------------
# Model-evaluation suite (round 7): every metric is derived from exact
# integer counts / decimal sums, so all are hash-oracled.

_AUC_NUM = (
    "CAST(sum2mr - npos * (npos + 1) AS DOUBLE)"
    " / CAST(2 * npos * (n_total - npos) AS DOUBLE)"
)


@register(
    "ml_roc_auc",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH grp AS (
            SELECT l_quantity AS score,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS pos
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT score, cnt, pos,
                   CAST(COALESCE(SUM(cnt) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cum_before
            FROM grp
        ),
        agg AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
                   CAST(SUM(pos) AS BIGINT) AS npos,
                   CAST(SUM(pos * (2 * cum_before + cnt + 1))
                        AS BIGINT) AS sum2mr
            FROM cum
        )
        SELECT n_total, npos, CAST(n_total - npos AS BIGINT) AS nneg,
               {_AUC_NUM} AS auc
        FROM agg
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a score column (l_quantity) against a binary
    label (returnflag='R') via the Mann-Whitney identity with midrank
    tie handling — AUC = (Σ_pos midrank − n⁺(n⁺+1)/2) / (n⁺n⁻).
    Doubled midranks keep everything INTEGER until the single edge
    division: per distinct score, Σ_pos 2·midrank = pos·(2·cum_before
    + cnt + 1). One score-key agg + a distinct-score-sized window (50
    values here; at unbounded-cardinality scores route through the
    two-phase range-partitioned rank, operators/ranks.py) — never a
    |pos|·|neg| pair join."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("score")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("pos"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.select(
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    agg = cum.agg(
        F.sum("cnt").cast("bigint").alias("n_total"),
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum(
            F.col("pos")
            * (F.lit(2) * F.col("cum_before") + F.col("cnt") + F.lit(1))
        )
        .cast("bigint")
        .alias("sum2mr"),
    )
    return agg.select(
        "n_total",
        "npos",
        (F.col("n_total") - F.col("npos")).cast("bigint").alias("nneg"),
        F.expr(_AUC_NUM).alias("auc"),
    )


_F1 = (
    "CASE WHEN tp > 0 THEN"
    " 2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))"
    " * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))"
    " / (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)"
    "    + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))"
    " ELSE 0.0 END"
)


@register(
    "ml_threshold_sweep",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH grp AS (
            SELECT l_quantity AS threshold,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS pos
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT threshold,
                   CAST(SUM(pos) OVER (ORDER BY threshold DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS tp,
                   CAST(SUM(cnt - pos) OVER (ORDER BY threshold DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS fp,
                   CAST(SUM(pos) OVER () AS BIGINT) AS all_pos,
                   CAST(SUM(cnt - pos) OVER () AS BIGINT) AS all_neg
            FROM grp
        ),
        m AS (
            SELECT threshold, tp, fp,
                   CAST(all_pos - tp AS BIGINT) AS fn,
                   CAST(all_neg - fp AS BIGINT) AS tn
            FROM cum
        )
        SELECT threshold, tp, fp, fn, tn,
               CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
               CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
               {_F1} AS f1
        FROM m
    """,
)
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at EVERY candidate decision threshold
    ("predict positive when score ≥ t") in one pass: group by distinct
    score, then descending cumulative (tp, fp) windows give the whole
    confusion-matrix family — |distinct scores| rows, never a
    per-threshold rescan. The sweep is the input to PR curves and
    threshold pickers; all counts exact integers, metrics are shared
    double fragments."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("threshold")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("pos"),
    )
    wd = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = grp.select(
        "threshold",
        F.sum("pos").over(wd).cast("bigint").alias("tp"),
        F.sum(F.col("cnt") - F.col("pos")).over(wd).cast("bigint").alias("fp"),
        F.sum("pos").over(wall).cast("bigint").alias("all_pos"),
        F.sum(F.col("cnt") - F.col("pos"))
        .over(wall)
        .cast("bigint")
        .alias("all_neg"),
    )
    m = cum.select(
        "threshold",
        "tp",
        "fp",
        (F.col("all_pos") - F.col("tp")).cast("bigint").alias("fn"),
        (F.col("all_neg") - F.col("fp")).cast("bigint").alias("tn"),
    )
    return m.select(
        "threshold", "tp", "fp", "fn", "tn",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")).alias("precision"),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double")).alias("recall"),
        F.expr(_F1).alias("f1"),
    )


@register(
    "ml_calibration_bins",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH scored AS (
            SELECT LEAST(9, CAST(FLOOR((CAST(CAST(l_quantity AS VARCHAR)
                       AS DOUBLE) / 50.0) * 10.0) AS INT)) AS bin,
                   CAST(l_quantity AS DECIMAL(20,2)) AS q,
                   CAST(l_returnflag = 'R' AS INT) AS y
            FROM lineitem
        )
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE)
                 / (50.0 * CAST(COUNT(*) AS DOUBLE)) AS mean_predicted,
               CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS actual_rate
        FROM scored
        GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table: a declared monotone score map
    p̂ = quantity/50 bucketed into 10 equal-width probability bins;
    per bin the mean predicted probability (exact decimal quantity
    sums divided once at the edge) vs the actual positive rate (exact
    integer counts). The ECE/reliability-diagram input, as one
    grouped aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("l_quantity").cast("double") / F.lit(50.0))
                * F.lit(10.0)
            ).cast("int"),
        ).alias("bin"),
        F.col("l_quantity").cast("decimal(20,2)").alias("q"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("q").cast("double")
            / (F.lit(50.0) * F.count(F.lit(1)).cast("double"))
        ).alias("mean_predicted"),
        (
            F.sum("y").cast("bigint").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("actual_rate"),
    )


_RIDGE_LAMBDA = "1000.0"


@register(
    "ml_ridge_normal_equations",
    tags=("ml", "agg"),
    oracle=f"""
        WITH s AS ({_OLS_SUMS_SQL}),
        adj AS (
            SELECT n, s1, s2, sy, s1y, s2y, s12,
                   s11 + {_RIDGE_LAMBDA} AS s11,
                   s22 + {_RIDGE_LAMBDA} AS s22
            FROM s
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST({_RIDGE_LAMBDA} AS DOUBLE) AS lambda,
               {_KF_BETAS['beta0']} AS beta0,
               {_KF_BETAS['beta1']} AS beta1,
               {_KF_BETAS['beta2']} AS beta2
        FROM adj
    """,
)
def ml_ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression in closed form: the same one-scan exact-decimal
    sufficient statistics as ml_ols_normal_equations, with λ=1000 added
    to the Gram diagonal (intercept unpenalized — the n row/column is
    untouched) before the identical Cramer solve. Shrinkage as a pure
    post-aggregation scalar adjustment: at 100 TB a whole λ sweep
    reuses ONE scan's statistics — the reason normal-equation form
    beats SGD for small-d linear models on huge data."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("decimal(20,2)")
    x2 = F.col("l_discount").cast("decimal(20,2)")
    y = F.col("l_extendedprice").cast("decimal(20,2)")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x1 * x1).cast("double").alias("s11_raw"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22_raw"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
    )
    adj = s.select(
        "n", "s1", "s2", "sy", "s1y", "s2y", "s12",
        (F.col("s11_raw") + F.expr(_RIDGE_LAMBDA)).alias("s11"),
        (F.col("s22_raw") + F.expr(_RIDGE_LAMBDA)).alias("s22"),
    )
    return adj.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(_RIDGE_LAMBDA).cast("double").alias("lambda"),
        F.expr(_KF_BETAS["beta0"]).alias("beta0"),
        F.expr(_KF_BETAS["beta1"]).alias("beta1"),
        F.expr(_KF_BETAS["beta2"]).alias("beta2"),
    )


_CORR_FEATURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "ml_feature_corr_matrix",
    tags=("ml", "features", "agg"),
    oracle=f"""
        WITH s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_d,
                   {", ".join(
                       f'''CAST(CAST(SUM(CAST({f} AS DECIMAL(25,4))) AS VARCHAR)
                           AS DOUBLE) AS s_{i}'''
                       for i, f in enumerate(_CORR_FEATURES)
                   )},
                   {", ".join(
                       f'''CAST(CAST(SUM(CAST({_CORR_FEATURES[i]} AS DECIMAL(25,4))
                               * CAST({_CORR_FEATURES[j]} AS DECIMAL(25,4)))
                           AS VARCHAR) AS DOUBLE) AS s_{i}_{j}'''
                       for i in range(len(_CORR_FEATURES))
                       for j in range(i, len(_CORR_FEATURES))
                   )}
            FROM lineitem
        )
        {" UNION ALL ".join(
            f'''SELECT '{_CORR_FEATURES[i]}' AS feature_x,
                   '{_CORR_FEATURES[j]}' AS feature_y,
                   (n_d * s_{i}_{j} - s_{i} * s_{j})
                     / sqrt((n_d * s_{i}_{i} - s_{i} * s_{i})
                            * (n_d * s_{j}_{j} - s_{j} * s_{j})) AS corr
            FROM s'''
            for i in range(len(_CORR_FEATURES))
            for j in range(i + 1, len(_CORR_FEATURES))
        )}
    """,
)
def ml_feature_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over four lineitem measures
    from ONE scan: all d first moments and d(d+1)/2 exact decimal
    cross-moments in a single aggregate (the upper-triangular Gram —
    the same sufficient statistics a distributed PCA/whitening fit
    uses), then each of the 6 coefficients is closed-form double
    arithmetic on those scalars, identical on both engines. Extends
    agg_corr_exact (one pair) to the full matrix without extra
    passes."""
    li = load_table(spark, sf_dir, "lineitem")
    nf = len(_CORR_FEATURES)
    dec = {
        f: F.col(f).cast("decimal(25,4)") for f in _CORR_FEATURES
    }
    aggs = [F.count(F.lit(1)).cast("double").alias("n_d")]
    aggs += [
        F.sum(dec[f]).cast("double").alias(f"s_{i}")
        for i, f in enumerate(_CORR_FEATURES)
    ]
    aggs += [
        F.sum(dec[_CORR_FEATURES[i]] * dec[_CORR_FEATURES[j]])
        .cast("double")
        .alias(f"s_{i}_{j}")
        for i in range(nf)
        for j in range(i, nf)
    ]
    s = li.agg(*aggs).persist()
    parts = [
        s.select(
            F.lit(_CORR_FEATURES[i]).alias("feature_x"),
            F.lit(_CORR_FEATURES[j]).alias("feature_y"),
            F.expr(
                f"(n_d * s_{i}_{j} - s_{i} * s_{j})"
                f" / sqrt((n_d * s_{i}_{i} - s_{i} * s_{i})"
                f" * (n_d * s_{j}_{j} - s_{j} * s_{j}))"
            ).alias("corr"),
        )
        for i in range(nf)
        for j in range(i + 1, nf)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_GB_F0 = "g_sum_d / g_n_d"  # global mean prediction (round 0)
_GB_GAIN = (
    "(cum_r * cum_r) / CAST(cum_n AS DOUBLE)"
    " + ((tot_r - cum_r) * (tot_r - cum_r))"
    " / CAST(tot_n - cum_n AS DOUBLE)"
    " - (tot_r * tot_r) / CAST(tot_n AS DOUBLE)"
)
_GB_SSE_AFTER = (
    "tot_r2 - (cum_r * cum_r) / CAST(cum_n AS DOUBLE)"
    " - ((tot_r - cum_r) * (tot_r - cum_r)) / CAST(tot_n - cum_n AS DOUBLE)"
)


@register(
    "ml_gbdt_boost_round",
    tags=("ml", "tree", "agg"),
    oracle=f"""
        WITH g AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS g_n_d,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2)))
                        AS VARCHAR) AS DOUBLE) AS g_sum_d
            FROM lineitem
        ),
        grp AS (
            SELECT l_quantity AS threshold,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(FLOOR((CAST(CAST(l_extendedprice
                       AS VARCHAR) AS DOUBLE) - {_GB_F0}) * 1e4)
                       AS DECIMAL(38,0))) AS sr_raw,
                   SUM(CAST(FLOOR((CAST(CAST(l_extendedprice
                       AS VARCHAR) AS DOUBLE) - {_GB_F0})
                       * (CAST(CAST(l_extendedprice AS VARCHAR) AS DOUBLE)
                          - {_GB_F0}) * 1e4)
                       AS DECIMAL(38,0))) AS sr2_raw
            FROM lineitem CROSS JOIN g
            GROUP BY l_quantity
        ),
        cum AS (
            -- window sums stay DECIMAL (exact, order-independent);
            -- the double presentation happens per output row
            SELECT threshold,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
                   CAST(CAST(SUM(sr_raw) OVER w AS VARCHAR) AS DOUBLE)
                       / 1e4 AS cum_r,
                   CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
                   CAST(CAST(SUM(sr_raw) OVER () AS VARCHAR) AS DOUBLE)
                       / 1e4 AS tot_r,
                   CAST(CAST(SUM(sr2_raw) OVER () AS VARCHAR) AS DOUBLE)
                       / 1e4 AS tot_r2
            FROM grp
            WINDOW w AS (ORDER BY threshold
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        scored AS (
            SELECT threshold, cum_n, cum_r, tot_n, tot_r, tot_r2,
                   {_GB_GAIN} AS gain
            FROM cum WHERE cum_n < tot_n
        ),
        best AS (
            SELECT * FROM scored ORDER BY gain DESC, threshold DESC LIMIT 1
        )
        SELECT (SELECT {_GB_F0} FROM g) AS f0,
               threshold AS best_threshold, gain,
               cum_r / CAST(cum_n AS DOUBLE) AS gamma_left,
               (tot_r - cum_r) / CAST(tot_n - cum_n AS DOUBLE) AS gamma_right,
               sqrt(({_GB_SSE_AFTER}) / CAST(tot_n AS DOUBLE)) AS rmse_after
        FROM best
    """,
)
def ml_gbdt_boost_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full gradient-boosting round on squared loss (the XGBoost/
    LightGBM unit of work): F₀ = global mean; residuals against F₀ feed
    a regression stump (candidate splits = distinct feature values,
    best by exact SSE-reduction from cumulative (n, Σr) statistics);
    leaf values are residual means; and the post-round train RMSE comes
    from the same statistics — no second residual scan. Engine-exact:
    residual sums use the floor-scale trick (o_fsum recipe) so
    every gain/leaf/rmse is identical double arithmetic on identical
    inputs; argmax ties break on (gain, threshold) struct order. Scale
    shape: 2 scans (global mean, residual histogram), a
    |distinct-values| window, and a model-sized result — the inner
    loop that distributed GBDT repeats per feature per round, shown
    here end-to-end with its evaluation."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # persisted 1-row aggregate: it is consumed by BOTH the residual
    # histogram and the final presentation row — without the cache the
    # global-mean scan would run twice (explain-verified)
    g = li.agg(
        F.count(F.lit(1)).cast("double").alias("g_n_d"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,2)"))
        .cast("double")
        .alias("g_sum_d"),
    ).persist()
    r = F.col("l_extendedprice").cast("double") - F.expr(_GB_F0)
    def raw(col):  # floor-scaled DECIMAL(38,0) partial (o_fsum recipe)
        return F.sum(F.floor(col * F.lit(1e4)).cast("decimal(38,0)"))

    grp = (
        li.crossJoin(F.broadcast(g))
        .groupBy(F.col("l_quantity").alias("threshold"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            raw(r).alias("sr_raw"),
            raw(r * r).alias("sr2_raw"),
        )
    )
    w = Window.orderBy("threshold").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    # window sums stay DECIMAL (exact, order-independent); double
    # presentation per row
    cum = grp.select(
        "threshold",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        (F.sum("sr_raw").over(w).cast("double") / F.lit(1e4)).alias("cum_r"),
        F.sum("n").over(wall).cast("bigint").alias("tot_n"),
        (F.sum("sr_raw").over(wall).cast("double") / F.lit(1e4)).alias(
            "tot_r"
        ),
        (F.sum("sr2_raw").over(wall).cast("double") / F.lit(1e4)).alias(
            "tot_r2"
        ),
    )
    scored = cum.filter(F.col("cum_n") < F.col("tot_n")).select(
        "*", F.expr(_GB_GAIN).alias("gain")
    )
    best = scored.orderBy(
        F.col("gain").desc(), F.col("threshold").desc()
    ).limit(1)
    return best.crossJoin(F.broadcast(g)).select(
        F.expr(_GB_F0).alias("f0"),
        F.col("threshold").alias("best_threshold"),
        "gain",
        (F.col("cum_r") / F.col("cum_n").cast("double")).alias("gamma_left"),
        (
            (F.col("tot_r") - F.col("cum_r"))
            / (F.col("tot_n") - F.col("cum_n")).cast("double")
        ).alias("gamma_right"),
        F.sqrt(
            F.expr(_GB_SSE_AFTER) / F.col("tot_n").cast("double")
        ).alias("rmse_after"),
    )


@register(
    "ml_mutual_information",
    tags=("ml", "features", "agg"),
    oracle="""
        WITH joint AS (
            SELECT o_orderpriority AS x, o_orderstatus AS y,
                   CAST(COUNT(*) AS BIGINT) AS n_xy
            FROM orders GROUP BY 1, 2
        ),
        mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x
               FROM joint GROUP BY x),
        my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y
               FROM joint GROUP BY y),
        tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM joint)
        SELECT j.x, j.y, j.n_xy,
               CAST(CAST(CAST(ln(CAST(j.n_xy AS DOUBLE) * CAST(t.n AS DOUBLE)
                       / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE)))
                    AS DECIMAL(12,6)) AS VARCHAR) AS DOUBLE) AS pmi,
               CAST(CAST(j.n_xy * CAST(ln(CAST(j.n_xy AS DOUBLE)
                       * CAST(t.n AS DOUBLE)
                       / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE)))
                    AS DECIMAL(12,6)) AS VARCHAR) AS DOUBLE)
                 / CAST(t.n AS DOUBLE) AS mi_contribution
        FROM joint j
        JOIN mx ON mx.x = j.x
        JOIN my ON my.y = j.y
        CROSS JOIN tot t
    """,
)
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise and total mutual information between two categoricals
    (order priority × order status) — the feature-relevance measure
    behind information-gain selection. Per cell: exact joint/marginal
    integer counts, PMI = ln(N·n_xy/(n_x·n_y)) quantized to
    DECIMAL(12,6) (the libm-drift-absorbing recipe), and the cell's MI
    contribution (n_xy·PMI_q exact decimal product, one edge division)
    — Σ contributions = MI. One joint-key shuffle + two broadcast
    marginals at any scale."""
    o = load_table(spark, sf_dir, "orders")
    joint = o.groupBy(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    mx = joint.groupBy("x").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = joint.groupBy("y").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").cast("bigint").alias("n"))
    pmi_q = F.log(
        F.col("n_xy").cast("double")
        * F.col("n").cast("double")
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    ).cast("decimal(12,6)")
    return (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "n_xy",
            pmi_q.cast("double").alias("pmi"),
            (
                (F.col("n_xy") * pmi_q).cast("double")
                / F.col("n").cast("double")
            ).alias("mi_contribution"),
        )
    )


_CHI2 = (
    "CAST(n AS DOUBLE)"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
    "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"
)


@register(
    "ml_chi2_feature_select",
    tags=("ml", "text", "features"),
    oracle=f"""
        WITH dt AS MATERIALIZED (
            SELECT DISTINCT doc_id, lang,
                   unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        n_docs AS (
            SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
            FROM documents
        ),
        cls AS (
            SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_lang
            FROM documents GROUP BY lang
        ),
        tok_tot AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM dt GROUP BY tok
        ),
        cells AS (
            SELECT dt.tok, dt.lang,
                   CAST(COUNT(*) AS BIGINT) AS a,
                   CAST(tt.n_tok - COUNT(*) AS BIGINT) AS b,
                   CAST(c.n_lang - COUNT(*) AS BIGINT) AS c,
                   CAST(nd.n - tt.n_tok - c.n_lang + COUNT(*) AS BIGINT) AS d,
                   nd.n AS n
            FROM dt
            JOIN tok_tot tt ON tt.tok = dt.tok
            JOIN cls c ON c.lang = dt.lang
            CROSS JOIN n_docs nd
            GROUP BY dt.tok, dt.lang, tt.n_tok, c.n_lang, nd.n
        )
        SELECT tok, lang, a, b, c, d, {_CHI2} AS chi2
        FROM cells
        WHERE b > 0 AND c > 0 AND d > 0
        ORDER BY chi2 DESC, tok, lang
        LIMIT 20
    """,
)
def ml_chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² feature selection for text classification (the scikit-learn
    chi2/SelectKBest shape): for every (token, class) pair, the 2×2
    presence table [a,b;c,d] over documents and the closed-form
    χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — a SINGLE double expression
    over exact integers, so no float accumulation exists to diverge.
    Top-20 by (χ², tok, lang) deterministic order. Vocabulary-sized
    intermediate, token-key shuffles only; degenerate pairs (a full
    row/column) are filtered to keep the statistic defined."""
    d = load_table(spark, sf_dir, "documents")
    dt = (
        d.select(
            "doc_id",
            "lang",
            F.explode(
                F.filter(F.split(F.col("text"), SPACE), lambda t: t != "")
            ).alias("tok"),
        )
        .distinct()
        .persist()  # consumed by both the cell counts and tok_tot
    )
    n_docs = d.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    cls = d.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_lang")
    )
    tok_tot = dt.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    cells = (
        dt.groupBy("tok", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        .join(tok_tot, "tok")
        .join(F.broadcast(cls), "lang")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            "lang",
            "a",
            (F.col("n_tok") - F.col("a")).cast("bigint").alias("b"),
            (F.col("n_lang") - F.col("a")).cast("bigint").alias("c"),
            (F.col("n") - F.col("n_tok") - F.col("n_lang") + F.col("a"))
            .cast("bigint")
            .alias("d"),
            "n",
        )
    )
    return (
        cells.filter((F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0))
        .select("tok", "lang", "a", "b", "c", "d", F.expr(_CHI2).alias("chi2"))
        .orderBy(F.col("chi2").desc(), "tok", "lang")
        .limit(20)
    )


# SPRT constants: H0 p=0.15 vs H1 p=0.22, alpha=beta=0.05. The per-trial
# log-likelihood ratios and the decision bounds are DECIMAL(12,6)-
# quantized constants, so the cumulative LLR is an exact integer
# combination n_succ·L1 + n_fail·L0 — relayout- and engine-stable.
_SPRT_L1 = "CAST(ln(CAST(0.22 AS DOUBLE) / CAST(0.15 AS DOUBLE)) AS DECIMAL(12,6))"
_SPRT_L0 = "CAST(ln(CAST(0.78 AS DOUBLE) / CAST(0.85 AS DOUBLE)) AS DECIMAL(12,6))"
_SPRT_A = "CAST(ln(CAST(0.95 AS DOUBLE) / CAST(0.05 AS DOUBLE)) AS DECIMAL(12,6))"
_SPRT_B = "CAST(ln(CAST(0.05 AS DOUBLE) / CAST(0.95 AS DOUBLE)) AS DECIMAL(12,6))"


@register(
    "ml_ab_sequential_sprt",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH trials AS (
            SELECT event_id,
                   CAST(event_type = 'purchase' AS INT) AS s
            FROM events
        ),
        cum AS (
            SELECT event_id,
                   CAST(ROW_NUMBER() OVER w AS BIGINT) AS n_trials,
                   CAST(SUM(s) OVER w AS BIGINT) AS n_success,
                   CAST(SUM(s) OVER w AS DECIMAL(20,0)) * {_SPRT_L1}
                     + CAST(CAST(ROW_NUMBER() OVER w AS BIGINT)
                            - SUM(s) OVER w AS DECIMAL(20,0)) * {_SPRT_L0}
                       AS llr
            FROM trials
            WINDOW w AS (ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        crossing AS (
            SELECT * FROM cum
            WHERE llr >= {_SPRT_A} OR llr <= {_SPRT_B}
            ORDER BY event_id LIMIT 1
        ),
        latest AS (
            SELECT * FROM cum ORDER BY event_id DESC LIMIT 1
        )
        SELECT CASE WHEN c.event_id IS NOT NULL AND c.llr >= {_SPRT_A}
                        THEN 'accept_H1'
                    WHEN c.event_id IS NOT NULL THEN 'accept_H0'
                    ELSE 'continue' END AS decision,
               COALESCE(c.n_trials, l.n_trials) AS n_trials,
               COALESCE(c.n_success, l.n_success) AS n_success,
               CAST(CAST(COALESCE(c.llr, l.llr) AS VARCHAR) AS DOUBLE)
                   AS llr
        FROM latest l LEFT JOIN crossing c ON TRUE
    """,
)
def ml_ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test (Wald) on a live experiment
    stream: trials in event_id order, success = purchase; H0 p=0.15 vs
    H1 p=0.22 at α=β=0.05. The cumulative LLR is an exact decimal
    integer-combination of quantized per-trial constants, so the FIRST
    boundary crossing — the early-stopping decision sequential testing
    exists for — is engine- and relayout-exact. The fixed-n companion
    is agg_ab_test_ztest; this is the peeking-safe version. The
    cumulative (n_trials, n_success) over the global trial order runs
    through the two-phase range-partitioned rank+running-sum
    (operators/ranks.py::global_rank_running_sums) — per-partition
    windows keyed on the physical partition id plus O(numPartitions)
    offsets — so no Exchange SinglePartition ever sees the events
    table, exactly as the vocab-window queries are shaped."""
    from finance_etl_spark.operators.ranks import global_rank_running_sums

    e = load_table(spark, sf_dir, "events")
    trials = e.select(
        "event_id", (F.col("event_type") == "purchase").cast("int").alias("s")
    )
    l1, l0 = F.expr(_SPRT_L1), F.expr(_SPRT_L0)
    ranked, _ = global_rank_running_sums(
        trials, order_by=[F.col("event_id")], sum_cols=["s"],
        rank_col="n_trials",
    )
    cum = ranked.select(
        "event_id",
        F.col("n_trials").cast("bigint").alias("n_trials"),
        F.col("cum_s").cast("bigint").alias("n_success"),
        (
            F.col("cum_s").cast("decimal(20,0)") * l1
            + (F.col("n_trials") - F.col("cum_s")).cast("decimal(20,0)")
            * l0
        ).alias("llr"),
    )
    crossing = (
        cum.filter(
            (F.col("llr") >= F.expr(_SPRT_A))
            | (F.col("llr") <= F.expr(_SPRT_B))
        )
        .orderBy("event_id")
        .limit(1)
        .select(
            F.col("event_id").alias("c_event"),
            F.col("n_trials").alias("c_trials"),
            F.col("n_success").alias("c_success"),
            F.col("llr").alias("c_llr"),
        )
    )
    latest = cum.orderBy(F.col("event_id").desc()).limit(1)
    return latest.crossJoin(crossing.unionByName(
        # guarantee one (possibly all-null) crossing row for the join
        latest.select(
            F.lit(None).cast("long").alias("c_event"),
            F.lit(None).cast("bigint").alias("c_trials"),
            F.lit(None).cast("bigint").alias("c_success"),
            F.lit(None).cast("decimal(26,6)").alias("c_llr"),
        )
    ).orderBy(F.col("c_event").asc_nulls_last()).limit(1)).select(
        F.when(
            F.col("c_event").isNotNull()
            & (F.col("c_llr") >= F.expr(_SPRT_A)),
            F.lit("accept_H1"),
        )
        .when(F.col("c_event").isNotNull(), F.lit("accept_H0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.coalesce("c_trials", "n_trials").alias("n_trials"),
        F.coalesce("c_success", "n_success").alias("n_success"),
        F.coalesce("c_llr", "llr").cast("double").alias("llr"),
    )


# ---------------------------------------------------------------------------
# First-order Markov chain over user event sequences (round 7
# continuation): the complete Laplace-smoothed transition matrix —
# user-behavior modeling's "hello world", and the sequence twin of
# naive-Bayes train (pure counting + one smoothed division at the
# edge, so the whole model is engine-exact). Distinct from
# ts_sequence_mining_pairs, which counts UNORDERED co-occurrence
# margins anywhere in a session; this is the adjacent-step
# conditional model P(next | prev).


@register(
    "ml_markov_transition",
    tags=("ml", "timeseries", "window", "agg"),
    oracle="""
        WITH steps AS (
            SELECT user_id, event_type AS next,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        ),
        c AS (
            SELECT prev, next, COUNT(*) AS cnt
            FROM steps WHERE prev IS NOT NULL
            GROUP BY prev, next
        ),
        states AS (SELECT DISTINCT event_type AS s FROM events),
        k AS (SELECT COUNT(*) AS k FROM states),
        matrix AS (
            SELECT a.s AS prev, b.s AS next,
                   COALESCE(cnt, 0) AS cnt
            FROM states a
            CROSS JOIN states b
            LEFT JOIN c ON c.prev = a.s AND c.next = b.s
        ),
        rowtot AS (
            SELECT prev, SUM(cnt) AS tot FROM matrix GROUP BY prev
        )
        SELECT m.prev, m.next, CAST(m.cnt AS BIGINT) AS cnt,
               CAST(m.cnt + 1 AS DOUBLE)
                 / CAST(rowtot.tot + k.k AS DOUBLE) AS prob
        FROM matrix m
        JOIN rowtot ON rowtot.prev = m.prev
        CROSS JOIN k
        ORDER BY m.prev, m.next
    """,
)
def ml_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-smoothed first-order Markov transition matrix over each
    user's time-ordered event sequence: adjacent steps come from one
    lag window per user (deterministic (ts, event_id) order), the
    |states|^2 matrix is completed by a broadcast state cross join so
    unseen transitions appear with their smoothed floor 1/(n_prev+K),
    and P(next|prev) = (c+1)/(n_prev+K) is a single integer-exact
    double division. Corpus-scale work is the per-user window (user
    partitions are small) and one (prev,next) hash agg; everything
    after runs on the K^2-row model relation. The chain IS the model —
    its stationary behavior, top flows, and self-loop mass all read
    off this table."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        F.col("event_type").alias("next"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    c = steps.groupBy("prev", "next").agg(F.count(F.lit(1)).alias("cnt"))
    # states and the completed matrix are model-sized (K and K^2 rows)
    # but DERIVED from full fact scans — persist both so events is
    # read exactly twice (steps + distinct), not once per consumer
    # (unpersisted, this plan scanned events 7x: states feeds the
    # cross join twice plus k, and matrix feeds rowtot plus the final
    # join)
    states = e.select(F.col("event_type").alias("s")).distinct().persist()
    k = states.agg(F.count(F.lit(1)).alias("k"))
    matrix = (
        states.select(F.col("s").alias("prev"))
        .crossJoin(F.broadcast(states.select(F.col("s").alias("next"))))
        .join(c, ["prev", "next"], "left")
        .select("prev", "next", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .persist()
    )
    rowtot = matrix.groupBy("prev").agg(F.sum("cnt").alias("tot"))
    return (
        matrix.join(F.broadcast(rowtot), "prev")
        .crossJoin(F.broadcast(k))
        .select(
            "prev",
            "next",
            F.col("cnt").cast("bigint").alias("cnt"),
            (
                (F.col("cnt") + F.lit(1)).cast("double")
                / (F.col("tot") + F.col("k")).cast("double")
            ).alias("prob"),
        )
        .orderBy("prev", "next")
    )


# ---------------------------------------------------------------------------
# Depth-2 decision tree (round 7 continuation): the histogram stump
# (ml_decision_stump_split) grown one level — root split chosen across
# TWO features, then the best split per child leaf, each level ONE
# linear scan reducing to a (leaf, feature, bin) integer histogram.
# Depth d costs d scans regardless of corpus size; candidate
# evaluation and argmax run on the bins·features·leaves relation.
# Shared bin/Gini fragments keep the doubles identical cross-engine;
# argmax ties break deterministically on (gain DESC, feature, bin).

_T2_BINS = 32
# engine-shared fragments ({x}/{mn}/{mx} substitute column names; all
# arguments parenthesized — the _GINI lesson)
_T2_BIN = (
    f"LEAST({_T2_BINS - 1}, CAST(FLOOR((CAST(({{x}}) AS DOUBLE) - ({{mn}}))"
    f" / ((({{mx}}) - ({{mn}})) / {float(_T2_BINS)})) AS INT))"
)
_T2_GAIN = _STUMP_GAIN  # same exact-integer prefix-sum Gini gain


@register(
    "ml_decision_tree_depth2",
    tags=("ml", "tree", "agg", "window"),
    oracle=f"""
        WITH rng AS (
            SELECT CAST(CAST(MIN(l_extendedprice) AS VARCHAR) AS DOUBLE) AS mn1,
                   CAST(CAST(MAX(l_extendedprice) AS VARCHAR) AS DOUBLE) AS mx1,
                   CAST(CAST(MIN(l_quantity) AS VARCHAR) AS DOUBLE) AS mn2,
                   CAST(CAST(MAX(l_quantity) AS VARCHAR) AS DOUBLE) AS mx2
            FROM lineitem
        ),
        binned AS (
            SELECT {_T2_BIN.format(x="l_extendedprice", mn="r.mn1", mx="r.mx1")} AS bin1,
                   {_T2_BIN.format(x="l_quantity", mn="r.mn2", mx="r.mx2")} AS bin2,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
            FROM lineitem CROSS JOIN rng r
        ),
        hist1 AS (
            SELECT f, bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS n_pos
            FROM (SELECT 1 AS f, bin1 AS bin, pos FROM binned
                  UNION ALL
                  SELECT 2 AS f, bin2 AS bin, pos FROM binned)
            GROUP BY f, bin
        ),
        cum1 AS (
            SELECT f, bin,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
                   CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
                   CAST(SUM(n) OVER p AS BIGINT) AS tot_n,
                   CAST(SUM(n_pos) OVER p AS BIGINT) AS tot_pos
            FROM hist1
            WINDOW w AS (PARTITION BY f ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   p AS (PARTITION BY f)
        ),
        root AS (
            SELECT f, bin, gain, tot_n, tot_pos FROM (
                SELECT f, bin, {_T2_GAIN} AS gain, tot_n, tot_pos,
                       ROW_NUMBER() OVER (ORDER BY {_T2_GAIN} DESC, f, bin) AS rk
                FROM cum1
            ) WHERE rk = 1
        ),
        leaves AS (
            SELECT CASE WHEN (CASE WHEN root.f = 1 THEN b.bin1 ELSE b.bin2 END)
                             <= root.bin
                        THEN 'left' ELSE 'right' END AS leaf,
                   b.bin1, b.bin2, b.pos
            FROM binned b CROSS JOIN root
        ),
        hist2 AS (
            SELECT leaf, f, bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS n_pos
            FROM (SELECT leaf, 1 AS f, bin1 AS bin, pos FROM leaves
                  UNION ALL
                  SELECT leaf, 2 AS f, bin2 AS bin, pos FROM leaves)
            GROUP BY leaf, f, bin
        ),
        cum2 AS (
            SELECT leaf, f, bin,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
                   CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
                   CAST(SUM(n) OVER p AS BIGINT) AS tot_n,
                   CAST(SUM(n_pos) OVER p AS BIGINT) AS tot_pos
            FROM hist2
            WINDOW w AS (PARTITION BY leaf, f ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   p AS (PARTITION BY leaf, f)
        ),
        best2 AS (
            SELECT leaf, f, bin, gain, tot_n, tot_pos FROM (
                SELECT leaf, f, bin, {_T2_GAIN} AS gain, tot_n, tot_pos,
                       ROW_NUMBER() OVER (PARTITION BY leaf
                           ORDER BY {_T2_GAIN} DESC, f, bin) AS rk
                FROM cum2 WHERE {_T2_GAIN} IS NOT NULL
            ) WHERE rk = 1
        )
        SELECT 'root' AS node, f AS feature, bin AS split_bin, gain,
               tot_n AS n, tot_pos AS n_pos
        FROM root
        UNION ALL
        SELECT leaf AS node, f AS feature, bin AS split_bin, gain,
               tot_n AS n, tot_pos AS n_pos
        FROM best2
        ORDER BY node
    """,
)
def ml_decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 histogram decision tree over (extended price, quantity)
    predicting returns, LightGBM-hist style: level 1 is one scan to a
    2x32-bin integer histogram, the root split is the exact-Gini
    argmax over bin boundaries (deterministic (gain, feature, bin)
    tiebreak); level 2 re-scans with the 1-row root spec broadcast,
    histograms per (leaf, feature, bin), and picks each child's best
    split the same way. Depth d = d scans; everything after the
    histogram runs on O(leaves·features·bins) rows, so the tree grows
    at 100 TB exactly as it does at sf0.01. Output: the root and both
    child splits with their populations."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # both 1-row model relations feed TWO consumers each (rng -> the
    # level-1 and level-2 binned scans; root -> the leaf predicate and
    # the output row) — persist so each level really is one scan
    rng = li.agg(
        F.min("l_extendedprice").cast("double").alias("mn1"),
        F.max("l_extendedprice").cast("double").alias("mx1"),
        F.min("l_quantity").cast("double").alias("mn2"),
        F.max("l_quantity").cast("double").alias("mx2"),
    ).persist()
    binned = (
        li.crossJoin(F.broadcast(rng))
        .select(
            F.expr(
                _T2_BIN.format(x="l_extendedprice", mn="mn1", mx="mx1")
            ).alias("bin1"),
            F.expr(_T2_BIN.format(x="l_quantity", mn="mn2", mx="mx2")).alias(
                "bin2"
            ),
            (F.col("l_returnflag") == "R").cast("int").alias("pos"),
        )
    )
    def _hist(df, keys):
        stacked = df.select(
            *keys,
            F.expr("stack(2, 1, bin1, 2, bin2)").alias("f", "bin"),
            "pos",
        )
        return stacked.groupBy(*keys, "f", "bin").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )

    def _cums(hist, part):
        w = (
            Window.partitionBy(*part)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        p = Window.partitionBy(*part)
        return hist.select(
            *[c for c in hist.columns if c not in ("n", "n_pos")],
            F.sum("n").over(w).cast("bigint").alias("cum_n"),
            F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
            F.sum("n").over(p).cast("bigint").alias("tot_n"),
            F.sum("n_pos").over(p).cast("bigint").alias("tot_pos"),
        )

    cum1 = _cums(_hist(binned, []), ["f"])
    rk1 = Window.orderBy(F.desc(F.expr(_T2_GAIN)), "f", "bin")
    root = (
        cum1.withColumn("gain", F.expr(_T2_GAIN))
        .withColumn("rk", F.row_number().over(rk1))
        .filter(F.col("rk") == 1)
        .select("f", "bin", "gain", "tot_n", "tot_pos")
        .persist()
    )
    leaves = binned.crossJoin(F.broadcast(root.select(
        F.col("f").alias("rf"), F.col("bin").alias("rbin")
    ))).select(
        F.when(
            F.when(F.col("rf") == 1, F.col("bin1")).otherwise(F.col("bin2"))
            <= F.col("rbin"),
            "left",
        )
        .otherwise("right")
        .alias("leaf"),
        "bin1",
        "bin2",
        "pos",
    )
    cum2 = _cums(_hist(leaves, ["leaf"]), ["leaf", "f"])
    rk2 = Window.partitionBy("leaf").orderBy(
        F.desc(F.expr(_T2_GAIN)), "f", "bin"
    )
    best2 = (
        cum2.withColumn("gain", F.expr(_T2_GAIN))
        .filter(F.col("gain").isNotNull())
        .withColumn("rk", F.row_number().over(rk2))
        .filter(F.col("rk") == 1)
        .select("leaf", "f", "bin", "gain", "tot_n", "tot_pos")
    )
    out_root = root.select(
        F.lit("root").alias("node"),
        F.col("f").alias("feature"),
        F.col("bin").alias("split_bin"),
        "gain",
        F.col("tot_n").alias("n"),
        F.col("tot_pos").alias("n_pos"),
    )
    out_leaf = best2.select(
        F.col("leaf").alias("node"),
        F.col("f").alias("feature"),
        F.col("bin").alias("split_bin"),
        "gain",
        F.col("tot_n").alias("n"),
        F.col("tot_pos").alias("n_pos"),
    )
    return out_root.unionAll(out_leaf).orderBy("node")


# ---------------------------------------------------------------------------
# TWO gradient-boosting rounds, trajectory hash-checked (round 7
# continuation): round 1 = ml_gbdt_boost_round's stump on the global-
# mean residuals over l_quantity; round 2 re-residualizes against
# F1 = F0 + gamma(x) and searches BOTH features (quantity, discount)
# for the next split — the actual multi-feature inner loop of
# distributed GBDT. Every residual statistic is a floor-scaled
# DECIMAL(38,0) sum (o_fsum recipe), every gain/leaf/RMSE a shared
# double fragment, so the ENTIRE two-round trajectory (split, leaf
# values, declining RMSE) is bit-identical cross-engine. 4 scans
# total: d rounds cost 2d scans, everything else is model-sized.

def _gb2_r2(y: str) -> str:
    """Round-2 residual fragment: y - F1(x), F1 from round-1 leaves."""
    return (
        f"(({y}) - (CASE WHEN l_quantity <= thr1"
        " THEN g_sum_d / g_n_d + gl"
        " ELSE g_sum_d / g_n_d + gr END))"
    )


_GB2_Y_DUCK = "CAST(CAST(l_extendedprice AS VARCHAR) AS DOUBLE)"
_GB2_Y_SPARK = "CAST(l_extendedprice AS DOUBLE)"


@register(
    "ml_gbdt_two_rounds",
    tags=("ml", "tree", "agg", "window"),
    oracle=f"""
        WITH g AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS g_n_d,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2)))
                        AS VARCHAR) AS DOUBLE) AS g_sum_d
            FROM lineitem
        ),
        grp1 AS (
            SELECT l_quantity AS threshold,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(FLOOR(({_GB2_Y_DUCK} - {_GB_F0}) * 1e4)
                       AS DECIMAL(38,0))) AS sr_raw,
                   SUM(CAST(FLOOR(({_GB2_Y_DUCK} - {_GB_F0})
                       * ({_GB2_Y_DUCK} - {_GB_F0}) * 1e4)
                       AS DECIMAL(38,0))) AS sr2_raw
            FROM lineitem CROSS JOIN g
            GROUP BY l_quantity
        ),
        cum1 AS (
            SELECT threshold,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
                   CAST(CAST(SUM(sr_raw) OVER w AS VARCHAR) AS DOUBLE)
                       / 1e4 AS cum_r,
                   CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
                   CAST(CAST(SUM(sr_raw) OVER () AS VARCHAR) AS DOUBLE)
                       / 1e4 AS tot_r,
                   CAST(CAST(SUM(sr2_raw) OVER () AS VARCHAR) AS DOUBLE)
                       / 1e4 AS tot_r2
            FROM grp1
            WINDOW w AS (ORDER BY threshold
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        best1 AS (
            SELECT threshold AS thr1,
                   cum_r / CAST(cum_n AS DOUBLE) AS gl,
                   (tot_r - cum_r) / CAST(tot_n - cum_n AS DOUBLE) AS gr,
                   sqrt(({_GB_SSE_AFTER}) / CAST(tot_n AS DOUBLE)) AS rmse1
            FROM (SELECT *, {_GB_GAIN} AS gain FROM cum1
                  WHERE cum_n < tot_n)
            ORDER BY gain DESC, threshold DESC LIMIT 1
        ),
        grp2 AS (
            SELECT f, thr,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(FLOOR({_gb2_r2(_GB2_Y_DUCK)} * 1e4)
                       AS DECIMAL(38,0))) AS sr_raw,
                   SUM(CAST(FLOOR({_gb2_r2(_GB2_Y_DUCK)}
                       * {_gb2_r2(_GB2_Y_DUCK)} * 1e4)
                       AS DECIMAL(38,0))) AS sr2_raw
            FROM (
                SELECT 1 AS f, CAST(l_quantity AS DOUBLE) AS thr,
                       l_quantity, l_extendedprice
                FROM lineitem
                UNION ALL
                SELECT 2 AS f, CAST(l_discount AS DOUBLE) AS thr,
                       l_quantity, l_extendedprice
                FROM lineitem
            ) CROSS JOIN g CROSS JOIN best1
            GROUP BY f, thr
        ),
        cum2 AS (
            SELECT f, thr,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
                   CAST(CAST(SUM(sr_raw) OVER w AS VARCHAR) AS DOUBLE)
                       / 1e4 AS cum_r,
                   CAST(SUM(n) OVER p AS BIGINT) AS tot_n,
                   CAST(CAST(SUM(sr_raw) OVER p AS VARCHAR) AS DOUBLE)
                       / 1e4 AS tot_r,
                   CAST(CAST(SUM(sr2_raw) OVER p AS VARCHAR) AS DOUBLE)
                       / 1e4 AS tot_r2
            FROM grp2
            WINDOW w AS (PARTITION BY f ORDER BY thr
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   p AS (PARTITION BY f)
        ),
        best2 AS (
            SELECT f AS f2, thr AS thr2, gain AS gain2,
                   cum_r / CAST(cum_n AS DOUBLE) AS g2l,
                   (tot_r - cum_r) / CAST(tot_n - cum_n AS DOUBLE) AS g2r,
                   sqrt(({_GB_SSE_AFTER}) / CAST(tot_n AS DOUBLE)) AS rmse2
            FROM (SELECT *, {_GB_GAIN} AS gain FROM cum2
                  WHERE cum_n < tot_n)
            ORDER BY gain DESC, f, thr DESC LIMIT 1
        )
        SELECT (SELECT {_GB_F0} FROM g) AS f0,
               best1.thr1, best1.gl AS gamma1_left, best1.gr AS gamma1_right,
               best1.rmse1 AS rmse_after_r1,
               best2.f2 AS feature2, best2.thr2,
               best2.g2l AS gamma2_left, best2.g2r AS gamma2_right,
               best2.rmse2 AS rmse_after_r2
        FROM best1 CROSS JOIN best2
    """,
)
def ml_gbdt_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full squared-loss boosting rounds with the trajectory
    hash-checked end to end: round 1 fits the global-mean-residual
    stump over quantity (identical to ml_gbdt_boost_round); round 2
    residualizes against F1 = F0 + gamma(x) and searches BOTH
    features' candidate thresholds (the stacked multi-feature
    histogram of ml_decision_tree_depth2), reporting the next split,
    its leaves, and the post-round RMSE — which must not exceed round
    1's (boosting monotonicity; pinned in tests). Floor-scaled
    DECIMAL residual sums keep every statistic partition-order
    independent; argmax ties break on (gain, feature, threshold).
    Scale: 2 scans per round (1-row model relations broadcast back),
    candidate evaluation on O(features x thresholds) rows — the real
    distributed-GBDT inner loop, two iterations deep."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    g = li.agg(
        F.count(F.lit(1)).cast("double").alias("g_n_d"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,2)"))
        .cast("double")
        .alias("g_sum_d"),
    ).persist()

    def raw(col):
        return F.sum(F.floor(col * F.lit(1e4)).cast("decimal(38,0)"))

    r1 = F.expr(f"({_GB2_Y_SPARK} - ({_GB_F0}))")
    grp1 = (
        li.crossJoin(F.broadcast(g))
        .groupBy(F.col("l_quantity").alias("threshold"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            raw(r1).alias("sr_raw"),
            raw(r1 * r1).alias("sr2_raw"),
        )
    )
    w1 = Window.orderBy("threshold").rowsBetween(Window.unboundedPreceding, 0)
    wa1 = Window.partitionBy()
    cum1 = grp1.select(
        "threshold",
        F.sum("n").over(w1).cast("bigint").alias("cum_n"),
        (F.sum("sr_raw").over(w1).cast("double") / F.lit(1e4)).alias("cum_r"),
        F.sum("n").over(wa1).cast("bigint").alias("tot_n"),
        (F.sum("sr_raw").over(wa1).cast("double") / F.lit(1e4)).alias("tot_r"),
        (F.sum("sr2_raw").over(wa1).cast("double") / F.lit(1e4)).alias(
            "tot_r2"
        ),
    )
    rk1 = Window.orderBy(F.desc(F.expr(_GB_GAIN)), F.desc("threshold"))
    best1 = (
        cum1.filter(F.col("cum_n") < F.col("tot_n"))
        .withColumn("rk", F.row_number().over(rk1))
        .filter(F.col("rk") == 1)
        .select(
            F.col("threshold").alias("thr1"),
            (F.col("cum_r") / F.col("cum_n").cast("double")).alias("gl"),
            (
                (F.col("tot_r") - F.col("cum_r"))
                / (F.col("tot_n") - F.col("cum_n")).cast("double")
            ).alias("gr"),
            F.sqrt(
                F.expr(_GB_SSE_AFTER) / F.col("tot_n").cast("double")
            ).alias("rmse1"),
        )
        .persist()
    )
    stacked = li.select(
        F.expr(
            "stack(2, 1, CAST(l_quantity AS DOUBLE),"
            " 2, CAST(l_discount AS DOUBLE))"
        ).alias("f", "thr"),
        "l_quantity",
        "l_extendedprice",
    )
    r2 = F.expr(_gb2_r2(_GB2_Y_SPARK))
    grp2 = (
        stacked.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(best1.select("thr1", "gl", "gr")))
        .groupBy("f", "thr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            raw(r2).alias("sr_raw"),
            raw(r2 * r2).alias("sr2_raw"),
        )
    )
    w2 = (
        Window.partitionBy("f")
        .orderBy("thr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p2 = Window.partitionBy("f")
    cum2 = grp2.select(
        "f",
        "thr",
        F.sum("n").over(w2).cast("bigint").alias("cum_n"),
        (F.sum("sr_raw").over(w2).cast("double") / F.lit(1e4)).alias("cum_r"),
        F.sum("n").over(p2).cast("bigint").alias("tot_n"),
        (F.sum("sr_raw").over(p2).cast("double") / F.lit(1e4)).alias("tot_r"),
        (F.sum("sr2_raw").over(p2).cast("double") / F.lit(1e4)).alias(
            "tot_r2"
        ),
    )
    rk2 = Window.orderBy(F.desc(F.expr(_GB_GAIN)), "f", F.desc("thr"))
    best2 = (
        cum2.filter(F.col("cum_n") < F.col("tot_n"))
        .withColumn("gain", F.expr(_GB_GAIN))
        .withColumn("rk", F.row_number().over(rk2))
        .filter(F.col("rk") == 1)
        .select(
            F.col("f").alias("feature2"),
            F.col("thr").alias("thr2"),
            (F.col("cum_r") / F.col("cum_n").cast("double")).alias(
                "gamma2_left"
            ),
            (
                (F.col("tot_r") - F.col("cum_r"))
                / (F.col("tot_n") - F.col("cum_n")).cast("double")
            ).alias("gamma2_right"),
            F.sqrt(
                F.expr(_GB_SSE_AFTER) / F.col("tot_n").cast("double")
            ).alias("rmse2"),
        )
    )
    return (
        g.select(F.expr(_GB_F0).alias("f0"))
        .crossJoin(F.broadcast(best1))
        .crossJoin(F.broadcast(best2))
        .select(
            "f0",
            "thr1",
            F.col("gl").alias("gamma1_left"),
            F.col("gr").alias("gamma1_right"),
            F.col("rmse1").alias("rmse_after_r1"),
            "feature2",
            "thr2",
            "gamma2_left",
            "gamma2_right",
            F.col("rmse2").alias("rmse_after_r2"),
        )
    )


# ---------------------------------------------------------------------------
# Round-8 evaluation instruments: agreement, correlation-quality and
# ranking metrics — all exact integer counts reduced map-side, with
# double arithmetic only at the presentation edge (identical op order
# on both engines), so every one is hash-oracled.


@register(
    "ml_cohen_kappa",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH lab AS (
            SELECT o_orderstatus AS grp,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS ra,
                   CASE WHEN o_totalprice >= 250000 THEN 1 ELSE 0 END AS rb
            FROM orders
        ),
        c AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11,
                   CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00,
                   CAST(SUM(ra) AS BIGINT) AS a1,
                   CAST(SUM(rb) AS BIGINT) AS b1
            FROM lab GROUP BY grp
        )
        SELECT grp AS o_orderstatus, n, n11, n00, a1, b1,
               CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
               CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE)
                 / CAST(n * n AS DOUBLE) AS pe,
               CASE WHEN a1 * b1 + (n - a1) * (n - b1) = n * n THEN NULL
                    ELSE (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                          - CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE)
                            / CAST(n * n AS DOUBLE))
                         / (1.0 - CAST(a1 * b1 + (n - a1) * (n - b1)
                                       AS DOUBLE)
                                  / CAST(n * n AS DOUBLE))
               END AS kappa
        FROM c
        ORDER BY o_orderstatus
    """,
)
def ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two deterministic
    labeling rules (a priority-based rater vs a value-based rater),
    per order status — the label-quality instrument for multi-annotator
    training data (agreement above chance, not raw accuracy). One scan
    to four BIGINT cell counts per group (map-side combine); po, pe,
    kappa are pure double edges over exact integers in identical op
    order on both engines. The integer products stay below 2^53
    through sf0.1 verification scale; at larger group cardinalities
    the pe numerator would route through DECIMAL like every money sum.
    Degenerate groups (both raters constant AND agreeing, pe = 1) emit
    NULL kappa on both engines via an exact INTEGER equality guard
    (a1*b1 + (n-a1)*(n-b1) = n*n) — Spark's 0/0 NULL vs DuckDB's IEEE
    NaN would otherwise diverge, the MCC-guard divergence class.
    Citation for parity scope: reference has no eval surface
    (SURVEY.md round-8 table)."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderstatus").alias("grp"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("ra"),
        (F.col("o_totalprice") >= 250000).cast("int").alias("rb"),
    )
    c = lab.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 1)).cast("int"))
        .cast("bigint")
        .alias("n11"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 0)).cast("int"))
        .cast("bigint")
        .alias("n00"),
        F.sum("ra").cast("bigint").alias("a1"),
        F.sum("rb").cast("bigint").alias("b1"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        F.col("a1") * F.col("b1")
        + (F.col("n") - F.col("a1")) * (F.col("n") - F.col("b1"))
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    return c.select(
        F.col("grp").alias("o_orderstatus"),
        "n",
        "n11",
        "n00",
        "a1",
        "b1",
        po.alias("po"),
        pe.alias("pe"),
        F.when(
            F.col("a1") * F.col("b1")
            + (F.col("n") - F.col("a1")) * (F.col("n") - F.col("b1"))
            == F.col("n") * F.col("n"),
            F.lit(None).cast("double"),
        )
        .otherwise((po - pe) / (F.lit(1.0) - pe))
        .alias("kappa"),
    ).orderBy("o_orderstatus")


@register(
    "ml_mcc_binary",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH c AS (
            SELECT l_linestatus AS grp,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R'
                        AND l_discount >= 0.05) AS BIGINT) AS tp,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R'
                        AND l_discount >= 0.05) AS BIGINT) AS fp,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R'
                        AND l_discount < 0.05) AS BIGINT) AS fn,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R'
                        AND l_discount < 0.05) AS BIGINT) AS tn
            FROM lineitem GROUP BY l_linestatus
        )
        SELECT grp AS l_linestatus, tp, fp, fn, tn,
               CASE WHEN (tp + fp) * (tp + fn) = 0
                      OR (tn + fp) * (tn + fn) = 0 THEN NULL
                    ELSE CAST(tp * tn - fp * fn AS DOUBLE)
                         / (sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE))
                            * sqrt(CAST((tn + fp) * (tn + fn) AS DOUBLE)))
               END AS mcc
        FROM c
        ORDER BY l_linestatus
    """,
)
def ml_mcc_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of a deterministic classifier
    rule (discount >= 0.05 predicts return) against the actual return
    flag, per line status — the balanced single-number binary metric
    that, unlike accuracy or F1, stays honest under class imbalance.
    Four BIGINT confusion cells per group from one scan; the MCC edge
    splits sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)) into a PRODUCT OF TWO
    SQRTS so each radicand (a product of two counts) stays exactly
    representable in a double — sqrt and the final divide are
    correctly-rounded IEEE ops, identical cross-engine. Degenerate
    margins (any zero row/column) emit NULL on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pos = F.col("l_returnflag") == "R"
    pred = F.col("l_discount") >= 0.05
    c = li.groupBy(F.col("l_linestatus").alias("grp")).agg(
        F.sum((pos & pred).cast("int")).cast("bigint").alias("tp"),
        F.sum(((~pos) & pred).cast("int")).cast("bigint").alias("fp"),
        F.sum((pos & (~pred)).cast("int")).cast("bigint").alias("fn"),
        F.sum(((~pos) & (~pred)).cast("int")).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    degen = ((tp + fp) * (tp + fn) == 0) | ((tn + fp) * (tn + fn) == 0)
    mcc = (tp * tn - fp * fn).cast("double") / (
        F.sqrt(((tp + fp) * (tp + fn)).cast("double"))
        * F.sqrt(((tn + fp) * (tn + fn)).cast("double"))
    )
    return c.select(
        F.col("grp").alias("l_linestatus"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(degen, F.lit(None).cast("double")).otherwise(mcc).alias("mcc"),
    ).orderBy("l_linestatus")


@register(
    "ml_pr_auc",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH grp AS (
            SELECT l_quantity AS score,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS pos
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT score, cnt, pos,
                   CAST(SUM(pos) OVER (ORDER BY score DESC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                   CAST(SUM(cnt) OVER (ORDER BY score DESC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nt,
                   CAST(SUM(pos) OVER () AS BIGINT) AS npos,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
            FROM grp
        )
        SELECT MIN(npos) AS npos,
               MIN(n_total) AS n_total,
               CAST(MIN(npos) AS DOUBLE) / CAST(MIN(n_total) AS DOUBLE)
                   AS prevalence,
               {o_fsum('CAST(pos * tp AS DOUBLE) / CAST(npos * nt AS DOUBLE)', 12)}
                   AS average_precision
        FROM cum
    """,
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware average precision (the PR-curve area as scikit-learn's
    step interpolation): AP = Σ_blocks ΔR·P over distinct score blocks
    descending, where after block i, P = TP_i/n_i and ΔR = pos_i/npos,
    so each block contributes (pos_i·TP_i)/(npos·n_i). The per-block
    term is ONE correctly-rounded double division of exact integer
    products (both < 2^53), floor-quantized at 1e-12 and summed as
    DECIMAL(38,0) — order-independent, engine-exact (the o_fsum
    recipe); the final divide is the only presentation edge. The
    cumulative runs over the ~50-row distinct-quantity aggregate
    (unpartitioned window over aggregated relation — repo rule); at
    a high-cardinality score column the same bucket + carry
    decomposition as agg_equidepth_histogram drops in. Complements
    ml_roc_auc: AP is the metric that collapses when positives are
    rare, AUC is not."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("score")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("pos"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = grp.select(
        "pos",
        F.sum("pos").over(w).cast("bigint").alias("tp"),
        F.sum("cnt").over(w).cast("bigint").alias("nt"),
        F.sum("pos").over(wall).cast("bigint").alias("npos"),
        F.sum("cnt").over(wall).cast("bigint").alias("n_total"),
    )
    term = (F.col("pos") * F.col("tp")).cast("double") / (
        F.col("npos") * F.col("nt")
    ).cast("double")
    return cum.agg(
        F.min("npos").alias("npos"),
        F.min("n_total").alias("n_total"),
        (
            F.min("npos").cast("double") / F.min("n_total").cast("double")
        ).alias("prevalence"),
        (
            F.sum(F.floor(term * F.lit(1e12)).cast("decimal(38,0)"))
            .cast("string")
            .cast("double")
            / F.lit(1e12)
        ).alias("average_precision"),
    )


# NDCG@k discount table: 1/log2(i+1) computed ONCE in Python and
# injected as identical decimal-string literals into BOTH engines
# (each parses the same shortest-repr string to the same double), so
# no libm log runs inside either query — the whole metric is integer
# relevance × literal discount, floor-quantized and integer-summed.
_NDCG_K = 10
_NDCG_DISC = [(i, repr(1.0 / math.log2(i + 1))) for i in range(1, _NDCG_K + 1)]


@register(
    "ml_ndcg_at_k",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH disc(i, disc) AS (
            VALUES {", ".join(f"({i}, CAST({d} AS DOUBLE))" for i, d in _NDCG_DISC)}
        ),
        items AS (
            SELECT o_orderpriority AS g, o_totalprice, o_orderkey,
                   CAST(o_orderkey % 4 AS BIGINT) AS rel
            FROM orders
        ),
        ranked AS (
            SELECT g, rel,
                   ROW_NUMBER() OVER (PARTITION BY g
                       ORDER BY o_totalprice DESC, o_orderkey) AS i
            FROM items
        ),
        dcg AS (
            SELECT r.g,
                   {o_qsum('r.rel * d.disc', 12)} AS dcg_q
            FROM ranked r JOIN disc d ON d.i = r.i
            WHERE r.i <= {_NDCG_K}
            GROUP BY r.g
        ),
        counts AS (
            SELECT g,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(COUNT(*) FILTER (WHERE rel = 3) AS BIGINT) AS n3,
                   CAST(COUNT(*) FILTER (WHERE rel = 2) AS BIGINT) AS n2,
                   CAST(COUNT(*) FILTER (WHERE rel = 1) AS BIGINT) AS n1
            FROM items GROUP BY g
        ),
        idcg AS (
            SELECT c.g,
                   {o_qsum(
                       '(CASE WHEN d.i <= c.n3 THEN 3 WHEN d.i <= c.n3 + c.n2 THEN 2'
                       ' WHEN d.i <= c.n3 + c.n2 + c.n1 THEN 1 ELSE 0 END) * d.disc',
                       12,
                   )} AS idcg_q
            FROM counts c CROSS JOIN disc d
            GROUP BY c.g
        )
        SELECT c.g AS o_orderpriority, c.n_items,
               CAST(d.dcg_q AS DOUBLE) / 1e12 AS dcg_at_10,
               CAST(i.idcg_q AS DOUBLE) / 1e12 AS idcg_at_10,
               CASE WHEN i.idcg_q = 0 THEN NULL
                    ELSE CAST(d.dcg_q AS DOUBLE)
                         / CAST(i.idcg_q AS DOUBLE)
               END AS ndcg_at_10
        FROM counts c JOIN dcg d ON d.g = c.g JOIN idcg i ON i.g = c.g
        ORDER BY o_orderpriority
    """,
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of a value-ranked retrieval per priority 'query': items
    are orders ranked by total price (the model's ranking), graded
    relevance is the deterministic rel = orderkey % 4. The top-10 per
    group comes from a TWO-PHASE top-k (per-(group, salt) local
    row_number, then a final window over the <= 10·|salts| survivors)
    so no corpus-scale group ever funnels through one window task —
    the oracle uses the naive per-group ROW_NUMBER, which is fine in
    DuckDB. IDCG needs no sort at all: with integer grades 0..3 the
    ideal ranking is a closed form over the four grade counts. Both
    DCG sums are rel × literal-discount terms floor-quantized at 1e-12
    and summed as integers — order-free, engine-exact."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    items = o.select(
        F.col("o_orderpriority").alias("g"),
        "o_totalprice",
        "o_orderkey",
        (F.col("o_orderkey") % 4).cast("bigint").alias("rel"),
    )
    disc = spark.createDataFrame(
        [(i, float(d)) for i, d in _NDCG_DISC], "i int, disc double"
    )
    # phase 1: per-(group, salt) local top-k — bounded survivor set
    salted = items.withColumn("salt", (F.col("o_orderkey") % 32).cast("int"))
    w1 = Window.partitionBy("g", "salt").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    cand = (
        salted.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _NDCG_K)
        .drop("salt", "r1")
    )
    # phase 2: exact top-k over <= 32·k survivors per group
    w2 = Window.partitionBy("g").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    top = cand.withColumn("i", F.row_number().over(w2)).filter(
        F.col("i") <= _NDCG_K
    )
    dcg = (
        top.join(F.broadcast(disc), "i")
        .groupBy("g")
        .agg(
            qsum(F.col("rel") * F.col("disc"), 12).alias("dcg_q")
        )
    )
    counts = items.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum((F.col("rel") == 3).cast("int")).cast("bigint").alias("n3"),
        F.sum((F.col("rel") == 2).cast("int")).cast("bigint").alias("n2"),
        F.sum((F.col("rel") == 1).cast("int")).cast("bigint").alias("n1"),
    )
    ideal_rel = (
        F.when(F.col("i") <= F.col("n3"), 3)
        .when(F.col("i") <= F.col("n3") + F.col("n2"), 2)
        .when(F.col("i") <= F.col("n3") + F.col("n2") + F.col("n1"), 1)
        .otherwise(0)
    )
    idcg = (
        counts.crossJoin(F.broadcast(disc))
        .groupBy("g")
        .agg(
            qsum(ideal_rel * F.col("disc"), 12).alias("idcg_q")
        )
    )
    return (
        counts.select("g", "n_items")
        .join(dcg, "g")
        .join(idcg, "g")
        .select(
            F.col("g").alias("o_orderpriority"),
            "n_items",
            (F.col("dcg_q").cast("double") / F.lit(1e12)).alias("dcg_at_10"),
            (F.col("idcg_q").cast("double") / F.lit(1e12)).alias(
                "idcg_at_10"
            ),
            # idcg_q = 0 (all-zero ideal relevance in the top 10) would
            # be Spark NULL vs DuckDB IEEE NaN — NULL-guard both engines
            F.when(F.col("idcg_q") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double")
            )
            .alias("ndcg_at_10"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "ml_lift_gains_table",
    tags=("ml", "eval", "window"),
    oracle="""
        WITH per_val AS (
            SELECT o_totalprice AS x,
                   CAST(COUNT(*) AS BIGINT) AS w,
                   CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F')
                        AS BIGINT) AS pos
            FROM orders GROUP BY 1
        ),
        cum AS (
            SELECT x, w, pos,
                   CAST(SUM(w) OVER (ORDER BY x DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                   CAST(SUM(pos) OVER (ORDER BY x DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
                   CAST(SUM(w) OVER () AS BIGINT) AS tw,
                   CAST(SUM(pos) OVER () AS BIGINT) AS tp
            FROM per_val
        ),
        ks AS (SELECT unnest(generate_series(1, 10)) AS decile)
        SELECT k.decile,
               CAST(MIN(c.cw) AS BIGINT) AS cum_n,
               CAST(arg_min(c.cp, c.cw) AS BIGINT) AS cum_pos,
               MIN(c.tw) AS total_n,
               MIN(c.tp) AS total_pos,
               CAST(arg_min(c.cp, c.cw) AS DOUBLE) / CAST(MIN(c.tp) AS DOUBLE)
                   AS gain,
               CAST(arg_min(c.cp, c.cw) * MIN(c.tw) AS DOUBLE)
                 / CAST(MIN(c.cw) * MIN(c.tp) AS DOUBLE) AS lift
        FROM cum c JOIN ks k ON c.cw * 10 >= k.decile * c.tw
        GROUP BY k.decile
        ORDER BY k.decile
    """,
)
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift at the 10 score deciles (score =
    order total descending, target = finished status) — the campaign-
    targeting table: 'the top 20% of scores capture X% of positives at
    Y× random'. Same whole-tie-block cut semantics and distinct-value
    + bucket + carry-in machinery as stat_lorenz_deciles, but ordered
    DESCENDING and carrying the positive count alongside population;
    the per-decile row at a cut is picked by min_by/arg_min on the
    strictly-increasing cumulative count (deterministic). Gains and
    lift are double edges over exact integer cross-products."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per_val = (
        o.groupBy(F.col("o_totalprice").alias("x"))
        .agg(
            F.count(F.lit(1)).alias("w"),
            F.sum((F.col("o_orderstatus") == "F").cast("int"))
            .cast("bigint")
            .alias("pos"),
        )
        .withColumn(
            # DESC cut: bucket on the NEGATED value so ascending bucket
            # order walks scores from high to low
            "bkt",
            F.floor(-F.col("x") / F.lit(10000)).cast("long"),
        )
        .persist()
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        per_val.groupBy("bkt")
        .agg(F.sum("w").alias("tb"), F.sum("pos").alias("pb"))
        .select(
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
            F.coalesce(F.sum("pb").over(w_carry), F.lit(0)).alias("cpb"),
            F.sum("tb")
            .over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("tw"),
            F.sum("pb")
            .over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("tp"),
        )
    )
    cum = (
        per_val.select(
            "bkt",
            "x",
            F.sum("w").over(w_in).alias("win"),
            F.sum("pos").over(w_in).alias("pin"),
        )
        .join(F.broadcast(carry), "bkt")
        .select(
            (F.col("win") + F.col("cb")).cast("bigint").alias("cw"),
            (F.col("pin") + F.col("cpb")).cast("bigint").alias("cp"),
            F.col("tw").cast("bigint").alias("tw"),
            F.col("tp").cast("bigint").alias("tp"),
        )
    )
    ks = spark.range(1, 11).select(F.col("id").alias("decile"))
    g = (
        cum.join(
            F.broadcast(ks), F.col("cw") * 10 >= F.col("decile") * F.col("tw")
        )
        .groupBy("decile")
        .agg(
            F.min("cw").alias("cum_n"),
            F.min_by("cp", "cw").alias("cum_pos"),
            F.min("tw").alias("total_n"),
            F.min("tp").alias("total_pos"),
        )
    )
    return g.select(
        "decile",
        "cum_n",
        "cum_pos",
        "total_n",
        "total_pos",
        (F.col("cum_pos").cast("double") / F.col("total_pos").cast("double")).alias(
            "gain"
        ),
        (
            (F.col("cum_pos") * F.col("total_n")).cast("double")
            / (F.col("cum_n") * F.col("total_pos")).cast("double")
        ).alias("lift"),
    ).orderBy("decile")


@register(
    "ml_psi_drift",
    tags=("ml", "eval", "dq"),
    oracle="""
        WITH lab AS (
            SELECT LEAST(CAST(FLOOR(o_totalprice / 60000) AS BIGINT), 9)
                       AS bin,
                   CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                             < '8' THEN 1 ELSE 0 END AS is_ref
            FROM orders
        ),
        bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
        c AS (
            SELECT b.bin,
                   CAST(COALESCE(SUM(l.is_ref), 0) AS BIGINT) AS n_ref,
                   CAST(COALESCE(SUM(1 - l.is_ref), 0) AS BIGINT) AS n_cur
            FROM bins b LEFT JOIN lab l ON l.bin = b.bin
            GROUP BY b.bin
        ),
        tot AS (
            SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
                   CAST(SUM(n_cur) AS BIGINT) AS tc
            FROM c
        ),
        terms AS (
            SELECT c.bin, c.n_ref, c.n_cur, t.tr, t.tc,
                   CAST((c.n_cur + 1) * (t.tr + 10)
                        - (c.n_ref + 1) * (t.tc + 10) AS BIGINT) AS diffnum,
                   CAST(FLOOR(1e6 * ln(
                        CAST((c.n_cur + 1) * (t.tr + 10) AS DOUBLE)
                      / CAST((c.n_ref + 1) * (t.tc + 10) AS DOUBLE)))
                        AS BIGINT) AS lnq6
            FROM c CROSS JOIN tot t
        )
        SELECT bin, n_ref, n_cur,
               CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE) AS p_ref,
               CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE) AS p_cur,
               CAST(diffnum * lnq6 AS DOUBLE)
                 / CAST((tr + 10) * (tc + 10) AS DOUBLE) / 1e6 AS psi_term,
               CAST(CAST(SUM(CAST(diffnum * lnq6 AS DECIMAL(38,0)))
                         OVER () AS VARCHAR) AS DOUBLE)
                 / CAST((tr + 10) * (tc + 10) AS DOUBLE) / 1e6 AS psi_total
        FROM terms
        ORDER BY bin
    """,
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference and a current
    cohort (deterministic md5 split of orders) over 10 fixed-width
    value bins — THE model-monitoring drift metric (PSI > 0.2 =
    retrain). Laplace-smoothed bin shares keep empty bins finite; the
    log-ratio's input is ONE correctly-rounded division of exact
    integer cross-products, its output floor-quantized at 1e-6 (the
    NB-classify libm recipe: 1-ulp cross-engine ln drift cannot move
    a 1e-6 floor except on a ~5e-9 boundary sliver), and PSI reduces
    as exact integer products diffnum·lnq6 — order-free. One scan:
    orders aggregates to <=10 bin-count rows FIRST (map-side combine),
    the 10-row bins spine left-joins onto that tiny aggregate, and the
    persisted c feeds both the term and total branches — the corpus
    relation never crosses a <=10-key join boundary."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / 60000).cast("bigint"), F.lit(9)
        ).alias("bin"),
        (
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "8"
        )
        .cast("int")
        .alias("is_ref"),
    )
    bins = spark.range(0, 10).select(F.col("id").alias("bin"))
    agg = lab.groupBy("bin").agg(
        F.sum("is_ref").cast("bigint").alias("nr"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("bigint").alias("nc"),
    )
    c = (
        bins.join(agg, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("nr"), F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce(F.col("nc"), F.lit(0)).cast("bigint").alias("n_cur"),
        )
        .persist()  # 10 rows; consumed by both tot and the term branch
    )
    tot = c.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    t = c.crossJoin(F.broadcast(tot))
    num = (F.col("n_cur") + 1) * (F.col("tr") + 10)
    den = (F.col("n_ref") + 1) * (F.col("tc") + 10)
    terms = t.select(
        "bin",
        "n_ref",
        "n_cur",
        "tr",
        "tc",
        (num - den).cast("bigint").alias("diffnum"),
        F.floor(
            F.lit(1e6) * F.log(num.cast("double") / den.cast("double"))
        )
        .cast("bigint")
        .alias("lnq6"),
    )
    denom = ((F.col("tr") + 10) * (F.col("tc") + 10)).cast("double")
    return terms.select(
        "bin",
        "n_ref",
        "n_cur",
        ((F.col("n_ref") + 1).cast("double") / (F.col("tr") + 10).cast("double")).alias(
            "p_ref"
        ),
        ((F.col("n_cur") + 1).cast("double") / (F.col("tc") + 10).cast("double")).alias(
            "p_cur"
        ),
        (
            (F.col("diffnum") * F.col("lnq6")).cast("double") / denom / F.lit(1e6)
        ).alias("psi_term"),
        (
            F.sum((F.col("diffnum") * F.col("lnq6")).cast("decimal(38,0)"))
            .over(Window.partitionBy())
            .cast("string")
            .cast("double")
            / denom
            / F.lit(1e6)
        ).alias("psi_total"),
    ).orderBy("bin")


# Learning-curve fractions: percent of the 90% training pool used, and
# the (precomputed) orderkey-bucket threshold that selects it. The
# holdout is always buckets 90-99 — fixed, so every point on the curve
# is evaluated on the SAME test set (the property that makes the curve
# readable).
_LC_FRACS = ((10, 9), (25, 22), (50, 45), (75, 67), (100, 90))


@register(
    "ml_learning_curve",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH feat AS MATERIALIZED (
            SELECT CAST(l_orderkey % 100 AS INT) AS bkt,
                   CAST(l_quantity AS DECIMAL(20,2)) AS x,
                   CAST(l_extendedprice AS DECIMAL(20,2)) AS y
            FROM lineitem
        ),
        fracs(frac_pct, thr) AS (
            VALUES {", ".join(f"({p}, {t})" for p, t in _LC_FRACS)}
        ),
        stats AS MATERIALIZED (
            SELECT f2.frac_pct,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(f.x) AS sx, SUM(f.y) AS sy,
                   SUM(f.x * f.x) AS sxx, SUM(f.x * f.y) AS sxy
            FROM feat f JOIN fracs f2 ON f.bkt < f2.thr
            WHERE f.bkt < 90
            GROUP BY f2.frac_pct
        ),
        betas AS MATERIALIZED (
            SELECT frac_pct, n,
                   (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                      - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS b1,
                   CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                   CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd
            FROM stats
        ),
        models AS MATERIALIZED (
            SELECT frac_pct, n, b1,
                   (syd - b1 * sxd) / CAST(n AS DOUBLE) AS b0
            FROM betas
        ),
        scored AS (
            SELECT m.frac_pct, m.n, m.b0, m.b1,
                   CAST(CAST(f.y AS VARCHAR) AS DOUBLE)
                     - (m.b0 + m.b1 * CAST(CAST(f.x AS VARCHAR) AS DOUBLE))
                       AS resid
            FROM feat f CROSS JOIN models m
            WHERE f.bkt >= 90
        )
        SELECT frac_pct,
               MIN(n) AS n_train,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               MIN(b0) AS beta0,
               MIN(b1) AS beta1,
               sqrt({o_fsum('resid * resid')}
                    / CAST(COUNT(*) AS DOUBLE)) AS rmse_test
        FROM scored
        GROUP BY frac_pct
        ORDER BY frac_pct
    """,
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the closed-form 1-feature OLS (price ~
    quantity): train on 10/25/50/75/100% of a hash-bucketed training
    pool, ALWAYS evaluate on the same 10% holdout — the
    diminishing-returns diagnostic that answers 'would more training
    data help'. Shape: the fraction fan-out happens BEFORE the
    map-side-combined stats aggregate (the bootstrap-replicate
    precedent — shuffle stays O(|fracs|)), each model is 2 scalars from
    exact decimal sufficient statistics VARCHAR-routed to double, and
    the 5 models broadcast into ONE scoring scan of the fixed holdout
    whose residual² reduces via the floor-scaled engine-agnostic sum.
    Two scans total regardless of the number of curve points."""
    li = load_table(spark, sf_dir, "lineitem")
    feat = li.select(
        (F.col("l_orderkey") % 100).cast("int").alias("bkt"),
        F.col("l_quantity").cast("decimal(20,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(20,2)").alias("y"),
    )
    fracs = spark.createDataFrame(
        list(_LC_FRACS), "frac_pct int, thr int"
    )
    stats = (
        feat.filter(F.col("bkt") < 90)
        .join(F.broadcast(fracs), F.col("bkt") < F.col("thr"))
        .groupBy("frac_pct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("string").cast("double")
    syd = F.col("sy").cast("string").cast("double")
    sxxd = F.col("sxx").cast("string").cast("double")
    sxyd = F.col("sxy").cast("string").cast("double")
    b1 = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    models = stats.select(
        "frac_pct",
        "n",
        b1.alias("b1"),
        syd.alias("syd"),
        sxd.alias("sxd"),
    ).select(
        "frac_pct",
        "n",
        "b1",
        ((F.col("syd") - F.col("b1") * F.col("sxd")) / F.col("n").cast("double")).alias(
            "b0"
        ),
    )
    scored = (
        feat.filter(F.col("bkt") >= 90)
        .crossJoin(F.broadcast(models))
        .select(
            "frac_pct",
            "n",
            "b0",
            "b1",
            (
                F.col("y").cast("string").cast("double")
                - (
                    F.col("b0")
                    + F.col("b1") * F.col("x").cast("string").cast("double")
                )
            ).alias("resid"),
        )
    )
    return (
        scored.groupBy("frac_pct")
        .agg(
            F.min("n").alias("n_train"),
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.min("b0").alias("beta0"),
            F.min("b1").alias("beta1"),
            F.sqrt(
                fsum(F.col("resid") * F.col("resid"))
                / F.count(F.lit(1)).cast("double")
            ).alias("rmse_test"),
        )
        .orderBy("frac_pct")
    )


@register(
    "ml_isotonic_calibration",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH scored AS (
            SELECT LEAST(9, CAST(FLOOR((CAST(CAST(l_quantity AS VARCHAR)
                       AS DOUBLE) / 50.0) * 10.0) AS INT)) AS bin,
                   CAST(l_returnflag = 'R' AS INT) AS y
            FROM lineitem
        ),
        bins AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS pos
            FROM scored GROUP BY bin
        ),
        cum AS (
            SELECT bin, n, pos,
                   CAST(SUM(n) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
                   CAST(SUM(pos) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
            FROM bins
        ),
        inner_min AS (
            SELECT b.bin, i.bin AS i,
                   MIN(CAST(j.cp - (i.cp - i.pos) AS DOUBLE)
                       / CAST(j.cn - (i.cn - i.n) AS DOUBLE)) AS m
            FROM cum b
            JOIN cum i ON i.bin <= b.bin
            JOIN cum j ON j.bin >= b.bin
            GROUP BY b.bin, i.bin
        )
        SELECT c.bin, c.n,
               CAST(c.pos AS DOUBLE) / CAST(c.n AS DOUBLE) AS raw_rate,
               mx.iso AS iso_rate
        FROM cum c
        JOIN (SELECT bin, MAX(m) AS iso FROM inner_min GROUP BY bin) mx
          ON mx.bin = c.bin
        ORDER BY c.bin
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration of the reliability table: the
    monotone-nondecreasing fit of per-bin positive rates, computed by
    the exact pool-adjacent-violators minimax identity
    iso_b = max_{i<=b} min_{j>=b} mean(pos over bins i..j) — the
    closed form that needs no sequential pooling loop, so it maps to
    joins + aggregates instead of a driver-side scan. The corpus
    collapses to <=10 (bin, n, pos) rows in ONE map-side-combining
    scan; everything after — cumulative counts, the O(bins^3) triple
    join (<=220 rows), min-then-max — is bin-sized. Every candidate
    mean is one double division of exact BIGINT cumulative-count
    differences (denominator >= n_b > 0 since every span covers the
    output bin), and min/max over deterministic doubles is
    order-free, so the fit hash-matches cross-engine with no
    quantization at all. Scale: only the first aggregation touches
    the corpus; bins, not rows, bound the polynomial stage."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    scored = li.select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("l_quantity").cast("double") / F.lit(50.0))
                * F.lit(10.0)
            ).cast("int"),
        ).alias("bin"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("pos").over(w).cast("bigint").alias("cp"),
    ).persist()  # <=10 rows; consumed by three join arms
    b = cum.select(F.col("bin").alias("b_bin"), "n", "pos", "cn", "cp")
    i = cum.select(
        F.col("bin").alias("i_bin"),
        (F.col("cp") - F.col("pos")).alias("p_lo"),
        (F.col("cn") - F.col("n")).alias("n_lo"),
    )
    j = cum.select(
        F.col("bin").alias("j_bin"),
        F.col("cp").alias("p_hi"),
        F.col("cn").alias("n_hi"),
    )
    inner = (
        b.join(F.broadcast(i), F.col("i_bin") <= F.col("b_bin"))
        .join(F.broadcast(j), F.col("j_bin") >= F.col("b_bin"))
        .groupBy("b_bin", "i_bin")
        .agg(
            F.min(
                (F.col("p_hi") - F.col("p_lo")).cast("double")
                / (F.col("n_hi") - F.col("n_lo")).cast("double")
            ).alias("m")
        )
    )
    iso = inner.groupBy("b_bin").agg(F.max("m").alias("iso"))
    return (
        cum.join(iso, cum["bin"] == iso["b_bin"])
        .select(
            "bin",
            "n",
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias(
                "raw_rate"
            ),
            F.col("iso").alias("iso_rate"),
        )
        .orderBy("bin")
    )


@register(
    "ml_kaplan_meier",
    tags=("ml", "eval", "survival"),
    oracle="""
        WITH span AS (
            SELECT o_custkey,
                   MIN(o_orderdate) AS f, MAX(o_orderdate) AS l
            FROM orders GROUP BY o_custkey
        ),
        g AS (SELECT MAX(o_orderdate) AS gm FROM orders),
        cust AS (
            SELECT c.c_mktsegment AS seg,
                   LEAST(7, CAST(FLOOR(CAST(date_diff('day', s.f, s.l) AS BIGINT) / 365.0)
                        AS BIGINT)) AS bkt,
                   CAST(CAST(date_diff('day', s.l, gm) AS BIGINT) > 180 AS INT) AS ev
            FROM span s
            JOIN customer c ON c.c_custkey = s.o_custkey
            CROSS JOIN g
        ),
        counts AS (
            SELECT seg, bkt,
                   CAST(COUNT(*) AS BIGINT) AS n_b,
                   CAST(SUM(ev) AS BIGINT) AS d
            FROM cust GROUP BY seg, bkt
        ),
        risk AS (
            SELECT seg, bkt, d,
                   CAST(SUM(n_b) OVER (PARTITION BY seg ORDER BY bkt DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
            FROM counts
        ),
        surv AS (
            SELECT a.seg, a.bkt,
                   list_reduce(
                       list(CAST(b.n_risk - b.d AS DOUBLE)
                            / CAST(b.n_risk AS DOUBLE) ORDER BY b.bkt),
                       (acc, x) -> acc * x) AS s
            FROM risk a JOIN risk b ON b.seg = a.seg AND b.bkt <= a.bkt
            GROUP BY a.seg, a.bkt
        )
        SELECT r.seg AS c_mktsegment, r.bkt AS tenure_years,
               r.n_risk AS n_at_risk, r.d AS d_events, s.s AS survival
        FROM risk r JOIN surv s ON s.seg = r.seg AND s.bkt = r.bkt
        ORDER BY c_mktsegment, tenure_years
    """,
)
def ml_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer tenure per market
    segment — the right-censoring-aware churn curve (a customer whose
    last order falls inside the final 180 days is censored, not dead).
    Tenure buckets to whole years, so the corpus collapses to
    <=8 rows per segment in one grouped scan (plus a broadcast 1-row
    global max date); the at-risk count is a DESCENDING cumulative sum
    over those bucket rows, and the survival product
    S_j = prod_{i<=j} (n_i - d_i)/n_i folds each segment's <=8 exact
    integer ratios in PINNED bucket order (Spark array_sort +
    F.aggregate == DuckDB list(... ORDER BY) + list_reduce; init 1.0
    times r1 == r1 exactly, so the fold prefixes agree) — identical
    IEEE multiply order, no quantization. Windows partition by
    segment over bucket-level rows, never the corpus. Scale: the only
    corpus-sized work is the per-customer span aggregate and one
    custkey-partitioned join; everything after is O(segments x 8)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    gmax = o.agg(F.max("o_orderdate").alias("gm"))
    cust = (
        span.join(c.select("c_custkey", "c_mktsegment"),
                  span["o_custkey"] == F.col("c_custkey"))
        .crossJoin(F.broadcast(gmax))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.least(
                F.lit(7),
                F.floor(
                    F.datediff(F.col("l"), F.col("f")).cast("bigint")
                    / F.lit(365.0)
                ).cast("bigint"),
            ).alias("bkt"),
            (F.datediff(F.col("gm"), F.col("l")).cast("bigint") > 180)
            .cast("int")
            .alias("ev"),
        )
    )
    counts = cust.groupBy("seg", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    w = (
        Window.partitionBy("seg")
        .orderBy(F.col("bkt").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = counts.select(
        "seg", "bkt", "d", F.sum("n_b").over(w).cast("bigint").alias("n_risk")
    ).persist()  # O(segments x 8) rows; joined to itself below
    a = risk.select(F.col("seg").alias("a_seg"), F.col("bkt").alias("a_bkt"))
    ratio = (F.col("n_risk") - F.col("d")).cast("double") / F.col(
        "n_risk"
    ).cast("double")
    surv = (
        a.join(
            F.broadcast(risk),
            (F.col("seg") == F.col("a_seg")) & (F.col("bkt") <= F.col("a_bkt")),
        )
        .groupBy("a_seg", "a_bkt")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("bkt"), ratio.alias("r")))
                ),
                F.lit(1.0),
                lambda acc, x: acc * x["r"],
            ).alias("s")
        )
    )
    return (
        risk.join(
            surv,
            (risk["seg"] == surv["a_seg"]) & (risk["bkt"] == surv["a_bkt"]),
        )
        .select(
            F.col("seg").alias("c_mktsegment"),
            F.col("bkt").alias("tenure_years"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("d_events"),
            F.col("s").alias("survival"),
        )
        .orderBy("c_mktsegment", "tenure_years")
    )


@register(
    "ml_feature_hashing",
    tags=("ml", "features", "text"),
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks WHERE tok <> '' GROUP BY tok
        ),
        hashed AS (
            SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 32
                       AS dim,
                   CASE WHEN substr(md5(tok), 16, 1) < '8'
                        THEN 1 ELSE -1 END AS sgn,
                   n
            FROM tf
        )
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(sgn * n) AS BIGINT) AS signed_weight,
               CAST(SUM(n) AS BIGINT) AS total_occurrences
        FROM hashed
        GROUP BY dim
        ORDER BY dim
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project an unbounded token vocabulary into a
    fixed 32-dim feature space with a hash bucket and a second
    independent hash bit as the sign (the Weinberger et al. recipe
    that makes collisions cancel in expectation) — the standard way to
    featurize text at 100 TB without a driver-side vocabulary build.
    Hash = md5 (the engine-portable choice: Spark xxhash64 has no
    DuckDB twin): dim from the first 15 hex chars (60 bits, fits
    BIGINT on both engines), sign from the 16th. One explode-and-count
    shuffle on the token builds term frequencies map-side; the 32-row
    projection is all exact BIGINT arithmetic — no floats anywhere.
    Scale: vocabulary-sized intermediate, fixed-size output;
    collisions per dim surface as n_tokens for feature-quality
    monitoring."""
    from finance_etl_spark.io.readers import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    hashed = tf.select(
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
                "bigint"
            )
            % 32
        ).alias("dim"),
        F.when(F.substring(F.md5(F.col("tok")), 16, 1) < "8", 1)
        .otherwise(-1)
        .alias("sgn"),
        "n",
    )
    return (
        hashed.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.col("sgn") * F.col("n")).cast("bigint").alias(
                "signed_weight"
            ),
            F.sum("n").cast("bigint").alias("total_occurrences"),
        )
        .orderBy("dim")
    )


@register(
    "ml_brier_log_loss",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH scored AS (
            SELECT l_linestatus AS g,
                   2 * CAST(l_quantity AS BIGINT) - 1 AS p100,
                   CAST(l_returnflag = 'R' AS INT) AS y
            FROM lineitem
        ),
        brier AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM((p100 - 100 * y) * (p100 - 100 * y))
                        AS BIGINT) AS bq
            FROM scored GROUP BY g
        ),
        bins AS (
            SELECT g, p100, y, CAST(COUNT(*) AS BIGINT) AS c
            FROM scored GROUP BY g, p100, y
        ),
        ll AS (
            SELECT g,
                   CAST(SUM(c * CAST(FLOOR(1e6 * ln(CASE WHEN y = 1
                        THEN CAST(p100 AS DOUBLE) / CAST(100 AS DOUBLE)
                        ELSE CAST(100 - p100 AS DOUBLE)
                             / CAST(100 AS DOUBLE) END))
                        AS BIGINT)) AS BIGINT) AS lnsum
            FROM bins GROUP BY g
        )
        SELECT b.g AS l_linestatus, b.n,
               CAST(b.bq AS DOUBLE) / 1e4 / CAST(b.n AS DOUBLE) AS brier,
               -CAST(l.lnsum AS DOUBLE) / 1e6 / CAST(b.n AS DOUBLE)
                   AS log_loss
        FROM brier b JOIN ll l ON l.g = b.g
        ORDER BY l_linestatus
    """,
)
def ml_brier_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score and log loss of the declared monotone score map
    p = (2·quantity−1)/100 against the return flag, per line status —
    the two proper scoring rules that complete the eval suite (AUC
    ranks, calibration bins, and now probability-accuracy itself).
    The clip-free score design keeps p in [0.01, 0.99] so log loss
    never sees 0 or 1. Brier is EXACT end to end in INTEGERS:
    (100p − 100y)² = (2q−1−100y)² sums as BIGINT (decimal division
    was rejected — DuckDB demotes DECIMAL/INT to DOUBLE), scaled
    back by 1e4 at the edge. Log loss reduces the corpus to <=100 (group, p, y)
    bins first, takes ln per BIN (the lnq6 floor recipe — 1-ulp libm
    drift can't move a 1e-6 floor except on a ~5e-9 sliver), and
    reduces exact integer count·lnq6 products — order-free. One scan
    feeds both via map-side-combining aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_linestatus").alias("g"),
        (2 * F.col("l_quantity").cast("bigint") - 1).alias("p100"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    ).persist()  # consumed by the brier and the log-loss bin branches
    dev = F.col("p100") - 100 * F.col("y")
    brier = scored.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dev * dev).cast("bigint").alias("bq"),
    )
    bins = scored.groupBy("g", "p100", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lnp = F.when(
        F.col("y") == 1,
        F.col("p100").cast("double") / F.lit(100).cast("double"),
    ).otherwise(
        (100 - F.col("p100")).cast("double") / F.lit(100).cast("double")
    )
    ll = bins.groupBy("g").agg(
        F.sum(
            F.col("c")
            * F.floor(F.lit(1e6) * F.log(lnp)).cast("bigint")
        )
        .cast("bigint")
        .alias("lnsum")
    )
    return (
        brier.join(ll, "g")
        .select(
            F.col("g").alias("l_linestatus"),
            "n",
            (
                F.col("bq").cast("double")
                / F.lit(1e4)
                / F.col("n").cast("double")
            ).alias("brier"),
            (
                -F.col("lnsum").cast("double")
                / F.lit(1e6)
                / F.col("n").cast("double")
            ).alias("log_loss"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "ml_multiclass_prf",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH lab AS (
            SELECT o_orderpriority AS actual,
                   CASE
                     WHEN o_totalprice < 60000  THEN '1-URGENT'
                     WHEN o_totalprice < 120000 THEN '2-HIGH'
                     WHEN o_totalprice < 180000 THEN '3-MEDIUM'
                     WHEN o_totalprice < 240000 THEN '4-NOT SPECIFIED'
                     ELSE '5-LOW'
                   END AS pred
            FROM orders
        ),
        cells AS (
            SELECT actual, pred, CAST(COUNT(*) AS BIGINT) AS c
            FROM lab GROUP BY actual, pred
        ),
        classes AS (
            SELECT actual AS cls FROM cells
            UNION
            SELECT pred FROM cells
        ),
        prf AS (
            SELECT k.cls,
                   CAST(COALESCE(SUM(CASE WHEN c.actual = k.cls
                        AND c.pred = k.cls THEN c.c END), 0) AS BIGINT)
                       AS tp,
                   CAST(COALESCE(SUM(CASE WHEN c.pred = k.cls
                        THEN c.c END), 0) AS BIGINT) AS pred_n,
                   CAST(COALESCE(SUM(CASE WHEN c.actual = k.cls
                        THEN c.c END), 0) AS BIGINT) AS actual_n
            FROM classes k LEFT JOIN cells c
              ON c.actual = k.cls OR c.pred = k.cls
            GROUP BY k.cls
        )
        SELECT cls, tp, pred_n, actual_n,
               CASE WHEN pred_n = 0 THEN NULL
                    ELSE CAST(tp AS DOUBLE) / CAST(pred_n AS DOUBLE)
               END AS precision_c,
               CASE WHEN actual_n = 0 THEN NULL
                    ELSE CAST(tp AS DOUBLE) / CAST(actual_n AS DOUBLE)
               END AS recall_c,
               CASE WHEN pred_n + actual_n = 0 THEN NULL
                    ELSE CAST(2 * tp AS DOUBLE)
                         / CAST(pred_n + actual_n AS DOUBLE)
               END AS f1_c
        FROM prf
        ORDER BY cls
    """,
)
def ml_multiclass_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of a deterministic 5-class
    value-band classifier against the actual order priority — the
    multiclass evaluation table (the binary confusion ops stop at two
    classes). The corpus collapses to the <=25-cell confusion matrix
    in one map-side scan; the class spine is the union of observed
    actual and predicted labels so absent predictions still get a
    (NULL-guarded) row. F1 uses the division-free identity
    2tp/(pred_n+actual_n) — one exact-integer division per class, no
    precision·recall float chaining. Every guard emits NULL on both
    engines (the IEEE divergence class). Macro/micro roll-ups are one
    trivial aggregation away and deliberately left to the caller."""
    o = load_table(spark, sf_dir, "orders")
    pred = (
        F.when(F.col("o_totalprice") < 60000, "1-URGENT")
        .when(F.col("o_totalprice") < 120000, "2-HIGH")
        .when(F.col("o_totalprice") < 180000, "3-MEDIUM")
        .when(F.col("o_totalprice") < 240000, "4-NOT SPECIFIED")
        .otherwise("5-LOW")
    )
    cells = (
        o.select(F.col("o_orderpriority").alias("actual"), pred.alias("pred"))
        .groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()  # <=25 rows; consumed by the spine and three sums
    )
    classes = (
        cells.select(F.col("actual").alias("cls"))
        .union(cells.select("pred"))
        .distinct()
    )
    joined = classes.join(
        F.broadcast(cells),
        (F.col("actual") == F.col("cls")) | (F.col("pred") == F.col("cls")),
        "left",
    )
    prf = joined.groupBy("cls").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("actual") == F.col("cls"))
                    & (F.col("pred") == F.col("cls")),
                    F.col("c"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("pred") == F.col("cls"), F.col("c"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("pred_n"),
        F.coalesce(
            F.sum(F.when(F.col("actual") == F.col("cls"), F.col("c"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("actual_n"),
    )
    return prf.select(
        "cls",
        "tp",
        "pred_n",
        "actual_n",
        F.when(F.col("pred_n") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("tp").cast("double") / F.col("pred_n").cast("double"))
        .alias("precision_c"),
        F.when(F.col("actual_n") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.col("tp").cast("double") / F.col("actual_n").cast("double")
        )
        .alias("recall_c"),
        F.when(
            F.col("pred_n") + F.col("actual_n") == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            (2 * F.col("tp")).cast("double")
            / (F.col("pred_n") + F.col("actual_n")).cast("double")
        )
        .alias("f1_c"),
    ).orderBy("cls")


# Permutation-importance base: predict extendedprice (cents) from
# quantity and discount (scaled ints) on lineitem, keyed uniquely by
# (orderkey, linenumber).
_PI_KEY = "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)"


def _pi_r2_sql(xcol: str) -> str:
    """R² of the single-feature OLS y~x from exact sufficient sums —
    shared shape for the baseline and permuted fits (DuckDB side)."""
    return f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR)
                    AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST({xcol} AS DECIMAL(38,0))) AS VARCHAR)
                    AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(y AS DECIMAL(19,0))
                    * CAST(y AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
                   AS syy,
               CAST(CAST(SUM(CAST({xcol} AS DECIMAL(19,0))
                    * CAST({xcol} AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
                   AS sxx,
               CAST(CAST(SUM(CAST(y AS DECIMAL(19,0))
                    * CAST({xcol} AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
                   AS sxy
    """


@register(
    "ml_permutation_importance",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH lab AS (
            SELECT {_PI_KEY} AS k,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS y,
                   CAST(l_quantity AS BIGINT) AS x
            FROM lineitem
        ),
        row_rank AS (
            SELECT k, y, x,
                   ROW_NUMBER() OVER (ORDER BY md5('r:' || k), y, x)
                       AS rr
            FROM lab
        ),
        feat_rank AS (
            SELECT x AS xp,
                   ROW_NUMBER() OVER (ORDER BY md5('f:' || k), x) AS fr
            FROM lab
        ),
        permuted AS (
            SELECT r.y, r.x, f.xp
            FROM row_rank r JOIN feat_rank f ON f.fr = r.rr
        ),
        base AS ({_pi_r2_sql("x")} FROM permuted),
        perm AS ({_pi_r2_sql("xp")} FROM permuted),
        r2 AS (
            SELECT b.n,
                   (b.sxy - b.sx * b.sy / CAST(b.n AS DOUBLE))
                   * (b.sxy - b.sx * b.sy / CAST(b.n AS DOUBLE))
                   / ((b.sxx - b.sx * b.sx / CAST(b.n AS DOUBLE))
                      * (b.syy - b.sy * b.sy / CAST(b.n AS DOUBLE)))
                       AS r2_base,
                   (p.sxy - p.sx * p.sy / CAST(p.n AS DOUBLE))
                   * (p.sxy - p.sx * p.sy / CAST(p.n AS DOUBLE))
                   / ((p.sxx - p.sx * p.sx / CAST(p.n AS DOUBLE))
                      * (p.syy - p.sy * p.sy / CAST(p.n AS DOUBLE)))
                       AS r2_perm
            FROM base b CROSS JOIN perm p
        )
        SELECT n, r2_base, r2_perm, r2_base - r2_perm AS importance
        FROM r2
    """,
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance — the model-agnostic standard:
    break the feature↔target coupling by re-pairing the quantity
    column with rows under an INDEPENDENT deterministic md5 ordering,
    and report how much single-feature OLS R² collapses. The
    distributed permutation is the scale-critical piece: two global
    md5 rankings joined on rank position. Spark computes both with
    operators/ranks.py::global_row_number (range-repartition + local
    row_number + partition offsets — never a single-task window);
    the DuckDB oracle uses plain ROW_NUMBER. R² on both sides reduces
    to six exact DECIMAL(38,0) sufficient sums with one pinned-order
    double edge. The permuted R² collapsing toward 0 (pinned in the
    pytest) is the direct importance signal; md5 determinism makes
    the 'random' permutation byte-replayable. The synthetic
    (orderkey, linenumber) pair is NOT unique (measured 45832/60000 at
    sf0.01), so both rank orders carry the row PAYLOAD as tiebreaker —
    rows tied on (hash, payload) are interchangeable, making the
    pairing sums invariant under the residual tie order."""
    from finance_etl_spark.operators.ranks import global_row_number

    li = load_table(spark, sf_dir, "lineitem")
    lab = li.select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("k"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * F.lit(100))
        .cast("bigint")
        .alias("y"),
        F.col("l_quantity").cast("bigint").alias("x"),
    ).persist()  # feeds both global rankings
    rr = global_row_number(
        lab.select(
            "y", "x", F.md5(F.concat(F.lit("r:"), F.col("k"))).alias("h")
        ),
        [F.col("h"), F.col("y"), F.col("x")],
        out_col="rr",
    ).select("y", "x", "rr")
    fr = global_row_number(
        lab.select(
            F.col("x").alias("xp"),
            F.md5(F.concat(F.lit("f:"), F.col("k"))).alias("h"),
        ),
        [F.col("h"), F.col("xp")],
        out_col="fr",
    ).select("xp", "fr")
    permuted = rr.join(fr, rr["rr"] == fr["fr"]).persist()

    def r2(xc: str):
        d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
        d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        s = permuted.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(d38("y")).cast("double").alias("sy"),
            F.sum(d38(xc)).cast("double").alias("sx"),
            F.sum(d19("y") * d19("y")).cast("double").alias("syy"),
            F.sum(d19(xc) * d19(xc)).cast("double").alias("sxx"),
            F.sum(d19("y") * d19(xc)).cast("double").alias("sxy"),
        )
        nd = F.col("n").cast("double")
        cxy = F.col("sxy") - F.col("sx") * F.col("sy") / nd
        cxx = F.col("sxx") - F.col("sx") * F.col("sx") / nd
        cyy = F.col("syy") - F.col("sy") * F.col("sy") / nd
        return s.select("n", (cxy * cxy / (cxx * cyy)).alias("r2"))

    base = r2("x").select("n", F.col("r2").alias("r2_base"))
    perm = r2("xp").select(F.col("r2").alias("r2_perm"))
    return base.crossJoin(perm).select(
        "n",
        "r2_base",
        "r2_perm",
        (F.col("r2_base") - F.col("r2_perm")).alias("importance"),
    )


@register(
    "ml_adaboost_round",
    tags=("ml", "boosting", "agg"),
    oracle=f"""
        WITH rng AS (
            SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS xmin,
                   CAST(MAX(l_extendedprice) AS DOUBLE) AS xmax
            FROM lineitem
        ),
        hist AS (
            SELECT LEAST({_STUMP_BINS - 1},
                   CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - rng.xmin)
                        / ((rng.xmax - rng.xmin)
                           / {float(_STUMP_BINS)})) AS INT)) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos
            FROM lineitem CROSS JOIN rng
            GROUP BY 1
        ),
        cum AS (
            SELECT bin,
                   CAST(SUM(n) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                   CAST(SUM(n_pos) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
                   CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
                   CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
            FROM hist
        ),
        cand AS (
            SELECT bin, pol.polarity,
                   CASE WHEN pol.polarity = 'left_pos'
                        THEN (cum_n - cum_pos) + (tot_pos - cum_pos)
                        ELSE cum_pos + (tot_n - cum_n) - (tot_pos - cum_pos)
                   END AS n_wrong,
                   tot_n
            FROM cum
            CROSS JOIN (SELECT unnest(['left_pos', 'left_neg'])
                        AS polarity) pol
            WHERE cum_n < tot_n
        ),
        best AS (
            SELECT * FROM cand
            ORDER BY n_wrong, bin, polarity LIMIT 1
        )
        SELECT CAST(bin AS INT) AS split_bin, polarity,
               CAST(n_wrong AS BIGINT) AS n_wrong,
               CAST(tot_n AS BIGINT) AS n,
               CAST(n_wrong AS DOUBLE) / CAST(tot_n AS DOUBLE) AS err,
               CASE WHEN n_wrong > 0 AND n_wrong < tot_n THEN
                   0.5 * ln(CAST(tot_n - n_wrong AS DOUBLE)
                            / CAST(n_wrong AS DOUBLE)) END AS alpha,
               CASE WHEN n_wrong > 0 THEN
                   CAST(1 AS DOUBLE) / (2 * CAST(n_wrong AS DOUBLE))
               END AS w_wrong,
               CASE WHEN n_wrong < tot_n THEN
                   CAST(1 AS DOUBLE) / (2 * CAST(tot_n - n_wrong AS DOUBLE))
               END AS w_right
        FROM best
    """,
)
def ml_adaboost_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One AdaBoost round with a histogram decision stump as the weak
    learner: under the uniform initial distribution the weighted error
    is a pure INTEGER misclassification count, so the best (boundary,
    polarity) pair is an exact arg-min over 62 candidates from one
    32-bin histogram scan (the ml_decision_stump_split shape — only
    the histogram ever shuffles). alpha = 0.5 ln((n-wrong)/wrong) and
    the two post-update normalized weights (every wrong row gets
    1/(2*wrong), every right row 1/(2*(n-wrong)) — the classic
    half-mass-to-errors property) are single double edge expressions,
    NULL-guarded for the degenerate perfect/degenerate-worst stump on
    both engines. Deterministic tiebreak: (n_wrong, bin, polarity)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    rng = li.agg(
        F.min("l_extendedprice").cast("double").alias("xmin"),
        F.max("l_extendedprice").cast("double").alias("xmax"),
    )
    hist = (
        li.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.lit(_STUMP_BINS - 1),
                F.floor(
                    (F.col("l_extendedprice").cast("double") - F.col("xmin"))
                    / ((F.col("xmax") - F.col("xmin")) / F.lit(float(_STUMP_BINS)))
                ).cast("int"),
            ).alias("bin"),
            (F.col("l_returnflag") == "R").cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "bin",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
        F.sum("n").over(wall).cast("bigint").alias("tot_n"),
        F.sum("n_pos").over(wall).cast("bigint").alias("tot_pos"),
    ).filter(F.col("cum_n") < F.col("tot_n"))
    pol = spark.createDataFrame(
        [("left_pos",), ("left_neg",)], "polarity string"
    )
    cand = cum.crossJoin(F.broadcast(pol)).select(
        "bin",
        "polarity",
        F.when(
            F.col("polarity") == "left_pos",
            (F.col("cum_n") - F.col("cum_pos"))
            + (F.col("tot_pos") - F.col("cum_pos")),
        )
        .otherwise(
            F.col("cum_pos")
            + (F.col("tot_n") - F.col("cum_n"))
            - (F.col("tot_pos") - F.col("cum_pos"))
        )
        .alias("n_wrong"),
        "tot_n",
    )
    best = cand.orderBy("n_wrong", "bin", "polarity").limit(1)
    wrong_d = F.col("n_wrong").cast("double")
    tot_d = F.col("tot_n").cast("double")
    return best.select(
        F.col("bin").cast("int").alias("split_bin"),
        "polarity",
        F.col("n_wrong").cast("bigint").alias("n_wrong"),
        F.col("tot_n").cast("bigint").alias("n"),
        (wrong_d / tot_d).alias("err"),
        F.when(
            (F.col("n_wrong") > 0) & (F.col("n_wrong") < F.col("tot_n")),
            F.lit(0.5) * F.log((tot_d - wrong_d) / wrong_d),
        ).alias("alpha"),
        F.when(F.col("n_wrong") > 0, F.lit(1.0) / (2 * wrong_d)).alias("w_wrong"),
        F.when(
            F.col("n_wrong") < F.col("tot_n"),
            F.lit(1.0) / (2 * (tot_d - wrong_d)),
        ).alias("w_right"),
    )


@register(
    "ml_item_item_cf",
    tags=("ml", "recommender", "join"),
    oracle="""
        WITH p AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        n AS MATERIALIZED (
            SELECT i, CAST(COUNT(*) AS BIGINT) AS ni FROM p GROUP BY i
        ),
        co AS (
            SELECT a.i AS i1, b.i AS i2, CAST(COUNT(*) AS BIGINT) AS co
            FROM p a JOIN p b ON a.u = b.u AND a.i < b.i
            GROUP BY 1, 2
        ),
        top AS (
            SELECT i1, i2, co FROM co
            ORDER BY co DESC, i1, i2 LIMIT 50
        )
        SELECT t.i1, t.i2, t.co, na.ni AS n1, nb.ni AS n2,
               CAST(t.co AS DOUBLE)
                 / (sqrt(CAST(na.ni AS DOUBLE)) * sqrt(CAST(nb.ni AS DOUBLE)))
                   AS cosine
        FROM top t
        JOIN n na ON na.i = t.i1
        JOIN n nb ON nb.i = t.i2
        ORDER BY t.co DESC, t.i1, t.i2
    """,
)
def ml_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering on the co-purchase matrix:
    binarized (customer, part) baskets, exact integer co-occurrence
    counts via the per-user self-join (work is sum of squared basket
    sizes — bounded by purchase behavior, not SF; the containment-
    pairs df-capping recipe drops in when baskets are heavy), and
    cosine similarity co/sqrt(n1*n2) as ONE double edge expression per
    surviving pair. The report ranks by the EXACT integer key
    (co DESC, i1, i2) — hash-stable — and cosine rides along as a
    value. This is the classic 'customers who bought X also bought Y'
    batch job every retail warehouse runs."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    n = p.groupBy("i").agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    a = p.select(F.col("u"), F.col("i").alias("i1"))
    b = p.select(F.col("u").alias("u2"), F.col("i").alias("i2"))
    co = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.col("i1") < F.col("i2")))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    )
    top = co.orderBy(F.col("co").desc(), "i1", "i2").limit(50)
    na = n.select(F.col("i").alias("i1"), F.col("ni").alias("n1"))
    nb = n.select(F.col("i").alias("i2"), F.col("ni").alias("n2"))
    return (
        top.join(na, "i1")
        .join(nb, "i2")
        .select(
            "i1",
            "i2",
            "co",
            "n1",
            "n2",
            (
                F.col("co").cast("double")
                / (
                    F.sqrt(F.col("n1").cast("double"))
                    * F.sqrt(F.col("n2").cast("double"))
                )
            ).alias("cosine"),
        )
        .orderBy(F.col("co").desc(), "i1", "i2")
    )


@register(
    "ml_shapley_2feature",
    tags=("ml", "explain", "agg"),
    oracle="""
        WITH feat AS (
            SELECT CAST(l_quantity AS DECIMAL(20,2)) AS x1,
                   CAST(l_discount AS DECIMAL(20,2)) AS x2,
                   CAST(l_extendedprice AS DECIMAL(20,2)) AS y
            FROM lineitem
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(x1) AS VARCHAR) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(x2) AS VARCHAR) AS DOUBLE) AS s2,
                   CAST(CAST(SUM(y)  AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x1*x1) AS VARCHAR) AS DOUBLE) AS s11,
                   CAST(CAST(SUM(CAST(x1 AS DECIMAL(21,2)) * x2)
                        AS VARCHAR) AS DOUBLE) AS s12,
                   CAST(CAST(SUM(x2*x2) AS VARCHAR) AS DOUBLE) AS s22,
                   CAST(CAST(SUM(CAST(x1 AS DECIMAL(21,2)) * y)
                        AS VARCHAR) AS DOUBLE) AS s1y,
                   CAST(CAST(SUM(CAST(x2 AS DECIMAL(21,2)) * y)
                        AS VARCHAR) AS DOUBLE) AS s2y,
                   CAST(CAST(SUM(y*y) AS VARCHAR) AS DOUBLE) AS syy
            FROM feat
        ),
        c AS (
            SELECT n,
                   s11 - s1*s1/n AS v11, s12 - s1*s2/n AS v12,
                   s22 - s2*s2/n AS v22, s1y - s1*sy/n AS v1y,
                   s2y - s2*sy/n AS v2y, syy - sy*sy/n AS vyy
            FROM s
        ),
        r AS (
            SELECT n,
                   (v1y * v1y) / (v11 * vyy) AS r2_1,
                   (v2y * v2y) / (v22 * vyy) AS r2_2,
                   (v22*v1y*v1y - 2*v12*v1y*v2y + v11*v2y*v2y)
                     / ((v11*v22 - v12*v12) * vyy) AS r2_12
            FROM c
        )
        SELECT n, r2_1, r2_2, r2_12,
               0.5 * (r2_1 + (r2_12 - r2_2)) AS shapley_x1,
               0.5 * (r2_2 + (r2_12 - r2_1)) AS shapley_x2
        FROM r
    """,
)
def ml_shapley_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley decomposition of OLS R² across two features
    (quantity, discount → extendedprice): with two players the
    marginal-contribution average is closed-form, and every coalition
    R² (single-feature and both-feature) comes from the SAME ten exact
    decimal sufficient statistics in one scan — the two-feature R²
    via the explicit 2x2 normal-equation solution. shapley_x1 +
    shapley_x2 == r2_12 by construction (efficiency axiom, pytest-
    pinned). One corpus scan to ten numbers; everything after is
    constant-sized shared double expressions."""
    li = load_table(spark, sf_dir, "lineitem")
    feat = li.select(
        F.col("l_quantity").cast("decimal(20,2)").alias("x1"),
        F.col("l_discount").cast("decimal(20,2)").alias("x2"),
        F.col("l_extendedprice").cast("decimal(20,2)").alias("y"),
    )
    wide = lambda c: F.col(c).cast("decimal(21,2)")  # noqa: E731
    s = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum("x1")).alias("s1"),
        as_d(F.sum("x2")).alias("s2"),
        as_d(F.sum("y")).alias("sy"),
        as_d(F.sum(F.col("x1") * F.col("x1"))).alias("s11"),
        as_d(F.sum(wide("x1") * F.col("x2"))).alias("s12"),
        as_d(F.sum(F.col("x2") * F.col("x2"))).alias("s22"),
        as_d(F.sum(wide("x1") * F.col("y"))).alias("s1y"),
        as_d(F.sum(wide("x2") * F.col("y"))).alias("s2y"),
        as_d(F.sum(F.col("y") * F.col("y"))).alias("syy"),
    )
    nd_ = F.col("n").cast("double")
    c = s.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / nd_).alias("v11"),
        (F.col("s12") - F.col("s1") * F.col("s2") / nd_).alias("v12"),
        (F.col("s22") - F.col("s2") * F.col("s2") / nd_).alias("v22"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / nd_).alias("v1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / nd_).alias("v2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / nd_).alias("vyy"),
    )
    r = c.select(
        "n",
        (F.col("v1y") * F.col("v1y") / (F.col("v11") * F.col("vyy"))).alias("r2_1"),
        (F.col("v2y") * F.col("v2y") / (F.col("v22") * F.col("vyy"))).alias("r2_2"),
        (
            (
                F.col("v22") * F.col("v1y") * F.col("v1y")
                - 2 * F.col("v12") * F.col("v1y") * F.col("v2y")
                + F.col("v11") * F.col("v2y") * F.col("v2y")
            )
            / ((F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12")) * F.col("vyy"))
        ).alias("r2_12"),
    )
    return r.select(
        "n",
        "r2_1",
        "r2_2",
        "r2_12",
        (F.lit(0.5) * (F.col("r2_1") + (F.col("r2_12") - F.col("r2_2")))).alias(
            "shapley_x1"
        ),
        (F.lit(0.5) * (F.col("r2_2") + (F.col("r2_12") - F.col("r2_1")))).alias(
            "shapley_x2"
        ),
    )


@register(
    "ml_conformal_ols_interval",
    tags=("ml", "uncertainty", "agg"),
    oracle="""
        WITH lab AS (
            SELECT CAST(l_orderkey % 2 AS INT) AS fold,
                   CAST(l_quantity AS DECIMAL(20,2)) AS x,
                   CAST(l_extendedprice AS DECIMAL(20,2)) AS y
            FROM lineitem
        ),
        tr AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x*x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(21,2)) * y)
                        AS VARCHAR) AS DOUBLE) AS sxy
            FROM lab WHERE fold = 0
        ),
        beta AS (
            SELECT n,
                   (CAST(n AS DOUBLE)*sxy - sx*sy)
                     / (CAST(n AS DOUBLE)*sxx - sx*sx) AS b1,
                   sy/CAST(n AS DOUBLE)
                     - (CAST(n AS DOUBLE)*sxy - sx*sy)
                       / (CAST(n AS DOUBLE)*sxx - sx*sx)
                       * sx/CAST(n AS DOUBLE) AS b0
            FROM tr
        ),
        cal AS (
            SELECT CAST(FLOOR(abs(
                       CAST(CAST(l.y AS VARCHAR) AS DOUBLE)
                       - b.b0
                       - b.b1 * CAST(CAST(l.x AS VARCHAR) AS DOUBLE)
                   ) * 1e6) AS BIGINT) AS r_q6
            FROM lab l CROSS JOIN beta b WHERE l.fold = 1
        ),
        dist AS (
            SELECT r_q6, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY r_q6
        ),
        cum AS (
            SELECT r_q6, c,
                   SUM(c) OVER (ORDER BY r_q6
                        ROWS UNBOUNDED PRECEDING) AS cum_c,
                   SUM(c) OVER () AS n_cal
            FROM dist
        ),
        q AS (
            SELECT r_q6 AS q_hat_q6, n_cal FROM cum
            WHERE cum_c >= CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT)
            ORDER BY r_q6 LIMIT 1
        ),
        cov AS (
            SELECT CAST(SUM(CASE WHEN cal.r_q6 <= q.q_hat_q6
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
            FROM cal CROSS JOIN q
        )
        SELECT b.n AS n_train, CAST(q.n_cal AS BIGINT) AS n_cal,
               b.b0 AS beta0, b.b1 AS beta1,
               q.q_hat_q6,
               CAST(c.n_cov AS DOUBLE) / CAST(q.n_cal AS DOUBLE) AS coverage
        FROM beta b CROSS JOIN q CROSS JOIN cov c
    """,
)
def ml_conformal_ols_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval around a one-feature OLS
    fit: train on the even-orderkey fold from exact sufficient
    statistics, score the odd fold's ABSOLUTE residuals (one shared
    double expression, immediately floor-quantized to q6 BIGINTs),
    and take q_hat as the ceil(0.9(n+1))-th order statistic via the
    TWO-LEVEL bucket+carry cumulative (midranks2 shape): within-
    bucket windows partition by a value-range-bounded bucket key and
    the carry is O(buckets), so no corpus-scale relation ever crosses
    one task — distinct quantized residuals scale with the corpus, a
    flat ORDER BY window over them would not survive 100x. Coverage is an exact integer census. This is
    the distribution-free uncertainty wrapper modern ML pipelines
    bolt onto any regressor."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    lab = li.select(
        (F.col("l_orderkey") % 2).cast("int").alias("fold"),
        F.col("l_quantity").cast("decimal(20,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(20,2)").alias("y"),
    )
    tr = lab.filter(F.col("fold") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum("x")).alias("sx"),
        as_d(F.sum("y")).alias("sy"),
        as_d(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        as_d(F.sum(F.col("x").cast("decimal(21,2)") * F.col("y"))).alias("sxy"),
    )
    nd_ = F.col("n").cast("double")
    b1 = (nd_ * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd_ * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    beta = tr.select(
        "n",
        b1.alias("b1"),
        (F.col("sy") / nd_ - b1 * F.col("sx") / nd_).alias("b0"),
    )
    cal = (
        lab.filter(F.col("fold") == 1)
        .crossJoin(F.broadcast(beta))
        .select(
            F.floor(
                F.abs(
                    as_d(F.col("y"))
                    - F.col("b0")
                    - F.col("b1") * as_d(F.col("x"))
                )
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("r_q6")
        )
    )
    # two-level cumulative (the midranks2 / ranks.py shape): the
    # distinct-residual relation scales with the corpus, so a single
    # unpartitioned ORDER BY r_q6 window would funnel it through one
    # task at 100x. Buckets are value-range-bounded; within-bucket
    # windows partition by bucket; the carry is O(buckets).
    dist = (
        cal.groupBy("r_q6")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("bkt", F.floor(F.col("r_q6") / F.lit(1000000)).cast("long"))
        .persist()
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("r_q6")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = dist.select(
        "bkt", "r_q6", F.sum("c").over(w_in).alias("wc_")
    )
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        dist.groupBy("bkt")
        .agg(F.sum("c").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb"),
        )
    )
    n_cal_rel = dist.agg(F.sum("c").cast("bigint").alias("n_cal"))
    cum = (
        within.join(F.broadcast(carry), "bkt")
        .crossJoin(F.broadcast(n_cal_rel))
        .select(
            "r_q6",
            (F.col("wc_") + F.col("cb")).cast("bigint").alias("cum_c"),
            "n_cal",
        )
    )
    q = (
        cum.filter(
            F.col("cum_c")
            >= F.ceil(F.lit(0.9) * (F.col("n_cal") + 1)).cast("bigint")
        )
        .orderBy("r_q6")
        .limit(1)
        .select(F.col("r_q6").alias("q_hat_q6"), "n_cal")
    )
    cov = (
        cal.crossJoin(F.broadcast(q))
        .agg(
            F.sum(F.when(F.col("r_q6") <= F.col("q_hat_q6"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_cov")
        )
    )
    return (
        beta.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("n").alias("n_train"),
            F.col("n_cal").cast("bigint").alias("n_cal"),
            F.col("b0").alias("beta0"),
            F.col("b1").alias("beta1"),
            "q_hat_q6",
            (F.col("n_cov").cast("double") / F.col("n_cal").cast("double")).alias(
                "coverage"
            ),
        )
    )


@register(
    "ml_class_weights",
    tags=("ml", "agg"),
    oracle="""
        WITH per AS (
            SELECT l_returnflag AS label, CAST(COUNT(*) AS BIGINT) AS n_c
            FROM lineitem GROUP BY l_returnflag
        ),
        tot AS (
            SELECT CAST(SUM(n_c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM per
        ),
        w AS (
            SELECT p.label, p.n_c, t.n, t.k,
                   CAST(t.n AS DOUBLE)
                     / (CAST(t.k AS DOUBLE) * CAST(p.n_c AS DOUBLE))
                       AS w_inverse_freq,
                   CAST(FLOOR(pow(CAST(0.9999 AS DOUBLE),
                        CAST(p.n_c AS DOUBLE)) * 1e12) AS BIGINT) AS beta_q12
            FROM per p CROSS JOIN tot t
        )
        SELECT label, n_c, w_inverse_freq,
               CAST(0.0001 AS DOUBLE) * 1e12
                 / (CAST(1e12 AS DOUBLE) - CAST(beta_q12 AS DOUBLE))
                   AS w_effective_number
        FROM w ORDER BY label
    """,
)
def ml_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class weights for imbalanced training, two standard recipes:
    inverse frequency n/(k*n_c) (exact-integer ratio, one double
    edge) and the effective-number-of-samples weight (Cui et al. 2019)
    (1-beta)/(1-beta^n_c) at beta=0.9999 — the ONE libm pow call is
    floor-quantized to q12 before any further arithmetic (the
    libm-ulp lesson from ts_hurst_rs: JVM and C transcendentals can
    differ in the last ulp on identical inputs; the quantize-then-
    exact pattern absorbs it). One corpus scan to k rows."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_returnflag").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c")
    )
    tot = per.agg(
        F.sum("n_c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    w = per.crossJoin(F.broadcast(tot)).select(
        "label",
        "n_c",
        (
            F.col("n").cast("double")
            / (F.col("k").cast("double") * F.col("n_c").cast("double"))
        ).alias("w_inverse_freq"),
        F.floor(
            F.pow(F.lit(0.9999), F.col("n_c").cast("double")) * F.lit(1e12)
        )
        .cast("bigint")
        .alias("beta_q12"),
    )
    return w.select(
        "label",
        "n_c",
        "w_inverse_freq",
        (
            F.lit(0.0001) * F.lit(1e12)
            / (F.lit(1e12) - F.col("beta_q12").cast("double"))
        ).alias("w_effective_number"),
    ).orderBy("label")


@register(
    "ml_ab_cuped",
    tags=("ml", "experiment", "agg"),
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey AS cust,
                   CAST('0x' || substr(md5('arm:' || CAST(o_custkey AS VARCHAR)),
                        1, 15) AS BIGINT) % 2 AS arm,
                   CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) ELSE 0 END) AS BIGINT) AS y
            FROM orders GROUP BY o_custkey
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                        AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,0)) * y)
                        AS VARCHAR) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                        AS VARCHAR) AS DOUBLE) AS syy
            FROM per_cust
        ),
        theta AS (
            SELECT n, sx, sy, sxx, sxy, syy,
                   CASE WHEN sxx - CAST(sx AS DOUBLE) * sx / n > 0 THEN
                       (sxy - CAST(sx AS DOUBLE) * sy / n)
                         / (sxx - CAST(sx AS DOUBLE) * sx / n)
                   ELSE CAST(0 AS DOUBLE) END AS th
            FROM s
        ),
        arms AS (
            SELECT p.arm,
                   CAST(COUNT(*) AS BIGINT) AS n_arm,
                   CAST(SUM(p.y) AS BIGINT) AS sy_arm,
                   CAST(SUM(p.x) AS BIGINT) AS sx_arm
            FROM per_cust p GROUP BY p.arm
        ),
        adj AS (
            SELECT a.arm, a.n_arm,
                   CAST(a.sy_arm AS DOUBLE)
                     - t.th * (CAST(a.sx_arm AS DOUBLE)
                               - CAST(a.n_arm AS DOUBLE)
                                 * CAST(t.sx AS DOUBLE) / t.n) AS s_adj
            FROM arms a CROSS JOIN theta t
        )
        SELECT t.n,
               t.th AS theta,
               (t.syy - CAST(t.sy AS DOUBLE) * t.sy / t.n) / (t.n - 1)
                 / 1e4 AS var_y,
               CASE WHEN t.sxx - CAST(t.sx AS DOUBLE) * t.sx / t.n > 0 THEN
               ((t.syy - CAST(t.sy AS DOUBLE) * t.sy / t.n)
                - (t.sxy - CAST(t.sx AS DOUBLE) * t.sy / t.n)
                  * (t.sxy - CAST(t.sx AS DOUBLE) * t.sy / t.n)
                  / (t.sxx - CAST(t.sx AS DOUBLE) * t.sx / t.n))
                 / (t.n - 1) / 1e4 END AS var_cuped,
               CASE WHEN (t.sxx - CAST(t.sx AS DOUBLE) * t.sx / t.n)
                       * (t.syy - CAST(t.sy AS DOUBLE) * t.sy / t.n) > 0 THEN
               (t.sxy - CAST(t.sx AS DOUBLE) * t.sy / t.n)
                 * (t.sxy - CAST(t.sx AS DOUBLE) * t.sy / t.n)
                 / ((t.sxx - CAST(t.sx AS DOUBLE) * t.sx / t.n)
                    * (t.syy - CAST(t.sy AS DOUBLE) * t.sy / t.n)) END
                   AS var_reduction,
               MAX(CASE WHEN a.arm = 1 THEN a.s_adj / a.n_arm END) / 100
                   AS adj_mean_treat,
               MAX(CASE WHEN a.arm = 0 THEN a.s_adj / a.n_arm END) / 100
                   AS adj_mean_control
        FROM theta t CROSS JOIN adj a
        GROUP BY t.n, t.th, t.sx, t.sy, t.sxx, t.sxy, t.syy
    """,
)
def ml_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B experiments (Deng et al.
    2013): pre-period spend as the covariate, post-period spend as the
    metric, md5-parity arms. theta = cov(X,Y)/var(X) and both
    variances come from ONE scan's exact integer sufficient statistics
    (the variance-reduction ratio is exactly the squared correlation —
    reported from the same sums); per-arm CUPED-adjusted means use
    the algebraic identity sum_adj = sum_y - theta*(sum_x - n*mu_x)
    over exact per-arm integer sums — a per-customer double fold would
    need a corpus-scale collect, the identity needs two BIGINTs. This is
    the standard pre-experiment-data trick that makes experiment
    readouts converge ~rho² faster."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("timestamp")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    per_cust = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.when(F.col("o_orderdate") < cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("o_orderdate") >= cutoff, cents).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).withColumn(
        "arm",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("arm:"), F.col("cust").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 2,
    )
    s = per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        as_d(F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        as_d(F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        as_d(F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    nd_ = F.col("n").cast("double")
    cxy = F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / nd_
    cxx = F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / nd_
    cyy = F.col("syy") - F.col("sy").cast("double") * F.col("sy") / nd_
    theta = s.withColumn(
        "th", F.when(cxx > 0, cxy / cxx).otherwise(F.lit(0.0))
    )
    # per-arm adjusted SUM in closed form from exact integer sums:
    # sum(y - th*(x - mu_x)) == sum_y - th*(sum_x - n_arm*mu_x). A
    # per-customer fold would need a corpus-scale collect_list; the
    # algebraic identity needs two BIGINT sums per arm.
    arm_sums = per_cust.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arm"),
        F.sum("y").cast("bigint").alias("sy_arm"),
        F.sum("x").cast("bigint").alias("sx_arm"),
    )
    arms = arm_sums.crossJoin(
        F.broadcast(theta.select(F.col("n").alias("n_t"), F.col("sx").alias("sx_t"), "th"))
    ).select(
        "arm",
        "n_arm",
        (
            F.col("sy_arm").cast("double")
            - F.col("th")
            * (
                F.col("sx_arm").cast("double")
                - F.col("n_arm").cast("double")
                * F.col("sx_t").cast("double")
                / F.col("n_t").cast("double")
            )
        ).alias("s_adj"),
    )
    pick = lambda a: F.max(  # noqa: E731
        F.when(F.col("arm") == a, F.col("s_adj") / F.col("n_arm"))
    )
    return (
        theta.crossJoin(arms)
        .groupBy("n", "th", "sx", "sy", "sxx", "sxy", "syy")
        .agg(
            pick(1).alias("am_t"),
            pick(0).alias("am_c"),
        )
        .select(
            "n",
            F.col("th").alias("theta"),
            (cyy / (nd_ - 1) / F.lit(1e4)).alias("var_y"),
            F.when(
                cxx > 0, (cyy - cxy * cxy / cxx) / (nd_ - 1) / F.lit(1e4)
            ).alias("var_cuped"),
            F.when(cxx * cyy > 0, cxy * cxy / (cxx * cyy)).alias(
                "var_reduction"
            ),
            (F.col("am_t") / F.lit(100.0)).alias("adj_mean_treat"),
            (F.col("am_c") / F.lit(100.0)).alias("adj_mean_control"),
        )
    )


@register(
    "ml_logrank_test",
    tags=("ml", "survival", "agg"),
    oracle=f"""
        WITH span AS (
            SELECT o_custkey, MIN(o_orderdate) AS f, MAX(o_orderdate) AS l
            FROM orders GROUP BY o_custkey
        ),
        gmax AS (SELECT MAX(o_orderdate) AS gm FROM orders),
        cust AS (
            SELECT CASE WHEN c.c_mktsegment = 'BUILDING'
                        THEN 1 ELSE 0 END AS grp,
                   LEAST(7, CAST(FLOOR(
                       CAST(date_diff('day', s.f, s.l) AS BIGINT) / 365.0)
                       AS BIGINT)) AS bkt,
                   CASE WHEN CAST(date_diff('day', s.l, g.gm) AS BIGINT) > 180
                        THEN 1 ELSE 0 END AS ev
            FROM span s
            JOIN customer c ON c.c_custkey = s.o_custkey
            CROSS JOIN gmax g
        ),
        counts AS (
            SELECT grp, bkt,
                   CAST(COUNT(*) AS BIGINT) AS n_b,
                   CAST(SUM(ev) AS BIGINT) AS d
            FROM cust GROUP BY grp, bkt
        ),
        spine AS (
            SELECT DISTINCT bkt FROM counts
        ),
        aligned AS (
            SELECT sp.bkt, g.grp,
                   COALESCE(c.n_b, 0) AS n_b, COALESCE(c.d, 0) AS d
            FROM spine sp
            CROSS JOIN (SELECT unnest([0, 1]) AS grp) g
            LEFT JOIN counts c ON c.bkt = sp.bkt AND c.grp = g.grp
        ),
        risk AS (
            SELECT bkt, grp, d,
                   CAST(SUM(n_b) OVER (PARTITION BY grp ORDER BY bkt DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
            FROM aligned
        ),
        wide AS (
            SELECT bkt,
                   MAX(CASE WHEN grp = 1 THEN n_risk END) AS n1,
                   MAX(CASE WHEN grp = 0 THEN n_risk END) AS n2,
                   MAX(CASE WHEN grp = 1 THEN d END) AS d1,
                   MAX(CASE WHEN grp = 0 THEN d END) AS d2
            FROM risk GROUP BY bkt
        ),
        terms AS (
            SELECT bkt, n1, n2, d1, d2, n1 + n2 AS n, d1 + d2 AS d
            FROM wide WHERE n1 + n2 > 0
        ),
        fold AS (
            SELECT
                CAST(SUM(d1) AS BIGINT) AS o1,
                {o_ordered_fold_sum('bkt', 'CAST(d AS DOUBLE) * n1 / n')} AS e1,
                {o_ordered_fold_sum(
                    'bkt',
                    'CASE WHEN n > 1 THEN CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)'
                    ' * (CAST(n2 AS DOUBLE) / n) * (CAST(n - d AS DOUBLE) / (n - 1))'
                    ' ELSE CAST(0 AS DOUBLE) END',
                )} AS v
            FROM terms
        )
        SELECT o1, e1, v,
               CASE WHEN v > 0 THEN
                   (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v
               END AS chi2_logrank
        FROM fold
    """,
)
def ml_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing customer-tenure survival between the
    BUILDING segment and everyone else — the standard two-group
    survival comparison that pairs with ml_kaplan_meier's curves.
    Observed group-1 deaths are exact integers; the expected count
    E1 = Σ d·n1/n and the hypergeometric variance fold per-bucket
    double terms (each from exact integer at-risk/death counts via the
    same descending-cumsum risk sets as KM, on a bucket spine so both
    groups align) in PINNED bucket order; chi² is one guarded double
    edge. Corpus work: one per-customer span agg + one broadcast dim
    join; everything after is O(8) rows per group."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    gmax = o.agg(F.max("o_orderdate").alias("gm"))
    cust = (
        span.join(
            c.select("c_custkey", "c_mktsegment"),
            span["o_custkey"] == F.col("c_custkey"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("grp"),
            F.least(
                F.lit(7),
                F.floor(
                    F.datediff(F.col("l"), F.col("f")).cast("bigint") / F.lit(365.0)
                ).cast("bigint"),
            ).alias("bkt"),
            (F.datediff(F.col("gm"), F.col("l")).cast("bigint") > 180)
            .cast("int")
            .alias("ev"),
        )
    )
    counts = cust.groupBy("grp", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    spine = counts.select("bkt").distinct()
    grps = spark.createDataFrame([(0,), (1,)], "grp int")
    both = (
        spine.crossJoin(F.broadcast(grps))
        .join(counts, ["bkt", "grp"], "left")
        .select(
            "bkt",
            "grp",
            F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.col("bkt").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = both.select(
        "bkt", "grp", "d", F.sum("n_b").over(w).cast("bigint").alias("n_risk")
    )
    pick = lambda g, col: F.max(F.when(F.col("grp") == g, F.col(col)))  # noqa: E731
    wide = risk.groupBy("bkt").agg(
        pick(1, "n_risk").alias("n1"),
        pick(0, "n_risk").alias("n2"),
        pick(1, "d").alias("d1"),
        pick(0, "d").alias("d2"),
    )
    terms = wide.withColumn("n", F.col("n1") + F.col("n2")).withColumn(
        "d", F.col("d1") + F.col("d2")
    ).filter(F.col("n") > 0)
    e_term = F.col("d").cast("double") * F.col("n1") / F.col("n")
    v_term = F.when(
        F.col("n") > 1,
        F.col("d").cast("double")
        * (F.col("n1").cast("double") / F.col("n"))
        * (F.col("n2").cast("double") / F.col("n"))
        * ((F.col("n") - F.col("d")).cast("double") / (F.col("n") - 1)),
    ).otherwise(F.lit(0.0))
    fold = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bkt", e_term.alias("t")))),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("e1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bkt", v_term.alias("t")))),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("v"),
    )
    return fold.select(
        "o1",
        "e1",
        "v",
        F.when(
            F.col("v") > 0,
            (F.col("o1").cast("double") - F.col("e1"))
            * (F.col("o1").cast("double") - F.col("e1"))
            / F.col("v"),
        ).alias("chi2_logrank"),
    )


@register(
    "ml_calibration_ece",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH scored AS (
            SELECT LEAST(9, CAST(FLOOR(CAST(l_quantity AS DOUBLE) / 50.0
                        * 10) AS INT)) AS bin,
                   CAST(l_quantity AS DECIMAL(12,2)) AS q,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem
        ),
        bins AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
                   CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) / 50 AS sp,
                   CAST(SUM(y) AS BIGINT) AS k
            FROM scored GROUP BY bin
        ),
        tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM bins),
        terms AS (
            SELECT b.bin, b.n_b, t.n,
                   abs(CAST(b.k AS DOUBLE) / b.n_b - b.sp / b.n_b) AS gap,
                   CAST(b.n_b AS DOUBLE) / t.n
                     * abs(CAST(b.k AS DOUBLE) / b.n_b - b.sp / b.n_b)
                       AS w_gap
            FROM bins b CROSS JOIN tot t
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               {o_ordered_fold_sum('bin', 'w_gap')} AS ece,
               MAX(gap) AS mce
        FROM terms
    """,
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and Maximum Calibration Error over the same declared
    score map as ml_calibration_bins: per-bin accuracy and confidence
    come from exact integer counts and exact decimal score sums; each
    bin's |acc - conf| gap is one shared double expression, the ECE
    weights fold in PINNED bin order, and MCE is a plain max. The
    single scalar every calibration paper quotes, from one grouped
    scan."""
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.least(
            F.lit(9),
            F.floor(F.col("l_quantity").cast("double") / F.lit(50.0) * 10).cast(
                "int"
            ),
        ).alias("bin"),
        F.col("l_quantity").cast("decimal(12,2)").alias("q"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    # sum the EXACT decimal quantity and divide by 50 once at the edge
    # (a per-row DECIMAL/INT division demotes to DOUBLE on DuckDB and
    # the per-bin sum becomes order-dependent — the Brier lesson)
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        (as_d(F.sum("q")) / F.lit(50.0)).alias("sp"),
        F.sum("y").cast("bigint").alias("k"),
    )
    tot = bins.agg(F.sum("n_b").cast("bigint").alias("n"))
    gap = F.abs(
        F.col("k").cast("double") / F.col("n_b") - F.col("sp") / F.col("n_b")
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        gap.alias("gap"),
        (F.col("n_b").cast("double") / F.col("n") * gap).alias("w_gap"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", F.col("w_gap").alias("t")))),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("ece"),
        F.max("gap").alias("mce"),
    )


_BAG_B = 16


def _bagging_oracle(u_sql: str) -> str:
    """Bagged-stump + OOB oracle, parameterized by the per-(row, b)
    16-bit uniform draw `u_sql` (references b.k and r.b) so the
    single-digest (v1) and 2-digest (v2) ladders share one body."""
    return f"""
        WITH rng AS (
            SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS xmin,
                   CAST(MAX(l_extendedprice) AS DOUBLE) AS xmax
            FROM lineitem
        ),
        base AS (
            SELECT CAST(l_orderkey AS VARCHAR) || '-'
                       || CAST(l_linenumber AS VARCHAR) || '-'
                       || CAST(l_partkey AS VARCHAR) AS k,
                   LEAST(31, CAST(FLOOR(
                       (CAST(l_extendedprice AS DOUBLE) - rng.xmin)
                       / ((rng.xmax - rng.xmin) / 32.0)) AS INT)) AS bin,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem CROSS JOIN rng
            GROUP BY 1, 2, 3
        ),
        rep AS (
            SELECT b.k, b.bin, b.y, b.cnt, r.b,
                   {pois_case_sql(u_sql)} AS w
            FROM base b
            CROSS JOIN (SELECT UNNEST(range({_BAG_B})) AS b) r
        ),
        hist AS (
            SELECT b, bin,
                   CAST(SUM(w * cnt) AS BIGINT) AS n_w,
                   CAST(SUM(w * cnt * y) AS BIGINT) AS pos_w
            FROM rep GROUP BY b, bin
        ),
        cum AS (
            SELECT b, bin,
                   CAST(SUM(n_w) OVER (PARTITION BY b ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                   CAST(SUM(pos_w) OVER (PARTITION BY b ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
                   CAST(SUM(n_w) OVER (PARTITION BY b) AS BIGINT) AS tot_n,
                   CAST(SUM(pos_w) OVER (PARTITION BY b) AS BIGINT) AS tot_pos
            FROM hist
        ),
        cand AS (
            SELECT b, bin, pol.polarity,
                   CASE WHEN pol.polarity = 'left_pos'
                        THEN (cum_n - cum_pos) + (tot_pos - cum_pos)
                        ELSE cum_pos + (tot_n - cum_n) - (tot_pos - cum_pos)
                   END AS wrong
            FROM cum
            CROSS JOIN (SELECT unnest(['left_pos', 'left_neg'])
                        AS polarity) pol
            WHERE cum_n < tot_n
        ),
        stumps AS (
            SELECT b, bin AS split_bin, polarity, wrong FROM (
                SELECT b, bin, polarity, wrong,
                       ROW_NUMBER() OVER (PARTITION BY b
                           ORDER BY wrong, bin, polarity) AS pk
                FROM cand
            ) WHERE pk = 1
        ),
        oob AS (
            SELECT r.k, r.bin, r.y, r.cnt,
                   CAST(COUNT(*) AS BIGINT) AS n_oob,
                   CAST(SUM(CASE WHEN (r.bin <= s.split_bin)
                                      = (s.polarity = 'left_pos')
                            THEN 1 ELSE 0 END) AS BIGINT) AS votes_1
            FROM rep r JOIN stumps s ON s.b = r.b
            WHERE r.w = 0
            GROUP BY r.k, r.bin, r.y, r.cnt
        ),
        scored AS (
            SELECT cnt, y,
                   CASE WHEN 2 * votes_1 > n_oob THEN 1 ELSE 0 END AS pred
            FROM oob
        ),
        summary AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_oob_rows,
                   CAST(SUM(CASE WHEN pred <> y THEN cnt ELSE 0 END)
                        AS BIGINT) AS n_err
            FROM scored
        )
        SELECT s.b, CAST(s.split_bin AS INT) AS split_bin, s.polarity,
               CAST(s.wrong AS BIGINT) AS weighted_wrong,
               m.n_oob_rows,
               CAST(m.n_err AS DOUBLE) / CAST(m.n_oob_rows AS DOUBLE)
                   AS oob_error
        FROM stumps s CROSS JOIN summary m
        ORDER BY s.b
    """


@register(
    "ml_bagging_oob",
    tags=("ml", "ensemble", "agg"),
    headline=True,  # tracks the xB replicate fan-out cost in BENCH_r{N}
    oracle=_bagging_oracle(
        "CAST('0x' || substr(md5(b.k || '#' "
        "|| CAST(r.b AS VARCHAR)), 1, 4) AS BIGINT)"
    ),
)
def ml_bagging_oob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagged decision stumps with out-of-bag error — RNG-FREE
    bagging: each of 16 replicates draws per-row Poisson(1) weights
    from an md5 ladder (the stat_bootstrap_ci recipe), each replicate
    fits its stump from ONE weighted 32-bin histogram, and rows with
    weight 0 in a replicate are that stump's out-of-bag test set; the
    OOB majority vote and its error are exact integers. Round-11
    reshape (round-10 verdict watch item): the 16 Poisson weights pack
    into ONE BIGINT (4 bits each, max weight 8) carried on the 1x
    deduped base — the only persist is primitive-columnar at 1x the
    corpus, not the old 16x row fan-out cache. The histogram unpivots
    the packed word transiently (posexplode inside one codegen stage,
    collapsed to 16x32 cells by map-side partial agg before the
    shuffle), and the OOB census evaluates all 16 replicates in place
    with shift/mask arithmetic against broadcast stump arrays — so the
    old 0.37x16x-corpus groupBy shuffle is gone too. Same output hash
    as the fan-out formulation (driver-confirmed d10). This is the
    distributed random-forest training shape with the forest's free
    generalization estimate, end-to-end replayable. Duplicate
    (orderkey,linenumber,partkey) rows collapse with multiplicities so
    the census stays exact; the dedup exchange ships the numeric key
    triple (the string key is synthesized post-shuffle) and doubles as
    the barrier that lets wsb's three concurrent consumers reuse one
    computation of the md5 pipeline (a no-dedup variant measured 2.3x
    slower end-to-end)."""

    def _w_sql(b: int) -> str:
        u = (
            f"CAST(conv(substring(md5(concat(k, '#{b}')), 1, 4), 16, 10)"
            " AS BIGINT)"
        )
        return pois_case_sql(u)

    return _bagging_pipeline(spark, sf_dir, _w_sql)


def _bagging_pipeline(spark: SparkSession, sf_dir: str, w_sql) -> DataFrame:
    """Shared bagged-stump + OOB pipeline; `w_sql(b)` supplies the
    replicate-b Poisson weight expression AS SQL TEXT over the string
    key column `k` (v1: one md5 per (row, b); v2: 16 draws sliced from
    2 md5s). Everything downstream of the draw is identical — packed
    word, transient unpivot histogram, stump pick, shift/mask OOB
    census.

    Round-15 (optimization round) driver-side shave: the four widest
    expression blocks (packed word, histogram unpivot array, per-bin
    prediction bitmask, OOB popcount census) are built as SQL strings
    parsed JVM-side in ONE py4j call each, instead of ~900 Column-API
    py4j round trips. The parsed trees are the same expressions the
    Column API produced (pinned by the unchanged hash oracle and plan-
    shape tests), so the physical plan and results are identical; only
    the per-run Python build cost drops — measured min-of-5 bench
    wall 4.04 s -> ~3.1 s at sf0.1 (`tools/probe.py time`: build
    1.55 s -> ~0.35 s, exec unchanged)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    rng = li.agg(
        F.min("l_extendedprice").cast("double").alias("xmin"),
        F.max("l_extendedprice").cast("double").alias("xmax"),
    )
    # Group by the NUMERIC key triple and synthesize the string key
    # AFTER the agg: the exchange ships 3 longs + 2 ints per row
    # instead of a ~25-byte string. Round-12 head-to-head adjudication
    # of the round-11 advisor's regression claim (a stage profile at
    # sf0.1, min-of-3 in ONE session): numeric-key
    # base 3.24 s vs string-key base 6.87 s; full query numeric 3.11 s
    # vs string 5.42 s — the numeric shape IS faster, the advisor's
    # suspected key-shape regression is refuted. Decomposed floor
    # (round-12 committed measurement): the md5-ladder base costs
    # ~3.2-3.3 s cold and the two branches ~0.9-1.5 s on a warm cache;
    # under the bench harness's cold-cache runs the query floors at
    # ~4.1 s even at min-of-5 (BENCH_LOCAL.json loadavg 0.84), inside
    # its 5.014 s budget row with ~17% headroom — the 3.11 s profile
    # reading had warm sibling-variant state and is NOT the bench
    # floor. (A no-dedup variant measured 2.3x SLOWER end-to-end at
    # sf0.1: the dedup exchange is also the barrier that lets the
    # three concurrent consumers of wsb reuse one computation of the
    # hash pipeline. A 2-digest variant — all 16 draws sliced from two
    # md5s, 8x less hashing — measured base 2.35 s vs 3.24 s and is
    # the next shave IF a semantics change is ever scheduled; it draws
    # different bags, so it is not a drop-in.)
    # Round-15 ladder adjudication (same warm-base min-of-4 protocol):
    # the 16 digests cost only ~0.50 s and conv ~0.01 s — the ladder's
    # ~0.7 s balance is CaseWhen evaluation itself. Four alternatives
    # all LOST to the shipped shape: branchless sum of (u >= t_i)
    # 1.93 s vs 1.16 s; int-typed u — no change; two-stage projection
    # (u columns materialized first) 1.57 s vs 1.21 s; 32-column wide
    # histogram agg 0.68 s vs the transient explode's 0.47 s. The
    # round-15 shave is the predmask OOB census (0.65 -> 0.36 s warm,
    # byte-identical counts; see the census comment below).
    # Round-15 (optimization): one explicit hash repartition on the
    # dedup key triple BEFORE the projection. The dedup groupBy's keys
    # are ~unique (duplicates are rare), so its map-side partial agg
    # reduced nothing while building a corpus-sized hash map inside
    # the lone scan task of an under-split layout; hash-distributing
    # on a subset of the group keys satisfies the aggregation's
    # required distribution, so the SAME single exchange now feeds a
    # fully parallel aggregation (guide §2.4 — share one exchange;
    # §2.5 — the keyed exchange replaces the useless partial agg, it
    # does not add a shuffle: plan diff shows Exchange count
    # unchanged). Load-gated alternating A/B at sf0.1: 4.341 s →
    # 3.844 s min-of-6, byte-identical rows. The exchange below the
    # wsb persist also keeps the shuffle-file reuse barrier the
    # census/histogram consumers rely on.
    base = (
        li.repartition(
            F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_partkey")
        )
        .crossJoin(F.broadcast(rng))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.least(
                F.lit(31),
                F.floor(
                    (F.col("l_extendedprice").cast("double") - F.col("xmin"))
                    / ((F.col("xmax") - F.col("xmin")) / F.lit(32.0))
                ).cast("int"),
            ).alias("bin"),
            (F.col("l_returnflag") == "R").cast("int").alias("y"),
        )
        .groupBy("l_orderkey", "l_linenumber", "l_partkey", "bin", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.concat_ws(
                "-",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_partkey").cast("string"),
            ).alias("k"),
            "bin",
            "y",
            "cnt",
        )
    )
    from functools import reduce as _reduce

    def _w_at_sql(b: int) -> str:
        return f"(shiftright(ws, {4 * b}) & 15)"

    # All 16 weights fit 4 bits each (max = len(_BAG_POIS) = 8), so
    # the replicate axis packs into ONE BIGINT: the persist stays
    # primitive-columnar at 1x the corpus. Disjoint nibbles combine
    # with bitwise OR, never arithmetic +/* (weight 8 shifted into the
    # top nibble overflows a signed long; OR wraps into the sign bit
    # harmlessly and the arithmetic shiftright + mask-15 unpack is
    # sign-agnostic).
    ws_sql = " | ".join(
        f"shiftleft(CAST({w_sql(b)} AS BIGINT), {4 * b})"
        for b in range(_BAG_B)
    )
    wsb = base.selectExpr(
        "bin", "y", "cnt", f"{ws_sql} AS ws"
    ).persist()  # 1x deduped corpus; consumed by histogram AND OOB census
    # Transient unpivot: the 16x row amplification lives only inside
    # this one codegen stage and is collapsed by the map-side partial
    # agg to 16 x 32 cells per partition before the shuffle — nothing
    # 16x is ever persisted or exchanged. (A 64-column wide agg avoids
    # even the transient explode but costs ~2 s of Janino compile per
    # session — measured slower end-to-end than this shape.)
    hist = (
        wsb.selectExpr(
            "bin",
            "cnt",
            "y",
            "posexplode(array("
            + ", ".join(
                f"CAST({_w_at_sql(b)} AS INT)" for b in range(_BAG_B)
            )
            + "))",
        )
        .groupBy(F.col("pos").cast("int").alias("b"), "bin")
        .agg(
            F.sum(F.col("col") * F.col("cnt")).cast("bigint").alias("n_w"),
            F.sum(F.col("col") * F.col("cnt") * F.col("y"))
            .cast("bigint")
            .alias("pos_w"),
        )
    )
    wc = Window.partitionBy("b").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("b")
    cum = hist.select(
        "b",
        "bin",
        F.sum("n_w").over(wc).cast("bigint").alias("cum_n"),
        F.sum("pos_w").over(wc).cast("bigint").alias("cum_pos"),
        F.sum("n_w").over(wall).cast("bigint").alias("tot_n"),
        F.sum("pos_w").over(wall).cast("bigint").alias("tot_pos"),
    ).filter(F.col("cum_n") < F.col("tot_n"))
    # Round-15 (optimization): the 2-row polarity spine was a
    # spark.createDataFrame + broadcast crossJoin — ~0.15 s of driver
    # py4j/RDD setup per build and a BroadcastNestedLoopJoin in the
    # plan, to duplicate 496 rows. Inlined as one explode of a 2-slot
    # literal struct array computing both polarities' `wrong` counts
    # directly (identical integers to the when/otherwise pair it
    # replaces; hash oracle unchanged ×3 SFs).
    cand = cum.select(
        "b",
        "bin",
        F.explode(
            F.array(
                F.struct(
                    F.lit("left_pos").alias("polarity"),
                    (
                        (F.col("cum_n") - F.col("cum_pos"))
                        + (F.col("tot_pos") - F.col("cum_pos"))
                    ).alias("wrong"),
                ),
                F.struct(
                    F.lit("left_neg").alias("polarity"),
                    (
                        F.col("cum_pos")
                        + (F.col("tot_n") - F.col("cum_n"))
                        - (F.col("tot_pos") - F.col("cum_pos"))
                    ).alias("wrong"),
                ),
            )
        ).alias("pw"),
    ).select(
        "b", "bin", F.col("pw.polarity").alias("polarity"), F.col("pw.wrong").alias("wrong")
    )
    wpick = Window.partitionBy("b").orderBy("wrong", "bin", "polarity")
    stumps = (
        cand.withColumn("pk", F.row_number().over(wpick))
        .filter(F.col("pk") == 1)
        .select("b", F.col("bin").alias("split_bin"), "polarity", "wrong")
        .persist()  # 16 rows; read by the OOB broadcast AND the output
    )
    srow = (
        stumps.agg(
            F.array_sort(
                F.collect_list(F.struct("b", "split_bin", "polarity"))
            ).alias("sarr")
        )
        .select(
            F.transform("sarr", lambda s: s["split_bin"]).alias("sb"),
            F.transform(
                "sarr", lambda s: s["polarity"] == F.lit("left_pos")
            ).alias("lp"),
        )
        # Per-bin PREDICTION BITMASK: pm[v] packs all 16 stumps'
        # votes for bin v into one 16-bit word (bit b set iff stump b
        # predicts class 1 for a row in bin v). Built once on the
        # 1-row broadcast side — 32 bins x 16 stumps, constant work —
        # so the corpus-side census collapses to two popcounts and
        # ONE array lookup per row instead of 16 array lookups + 16
        # comparison terms (round-15 measured: census branch 0.65 s
        # -> 0.36 s from cache at sf0.1, byte-identical counts).
        .selectExpr(
            "transform(sequence(0, 31), v -> "
            + " | ".join(
                f"shiftleft(CAST(((v <= sb[{b}]) = lp[{b}]) AS BIGINT), {b})"
                for b in range(_BAG_B)
            )
            + ") AS pm"
        )
    )
    # Statically unrolled zero-mask over the packed word (literal
    # shift/mask ordinals stay inside whole-stage codegen; an
    # F.aggregate fold would drop to interpreted HOF eval on the
    # corpus-sized relation). Replaces the old filter+join+groupBy(k)
    # census — a 0.37x16x-corpus shuffle — with a map-only pass:
    # zmask bit b set iff the row is out-of-bag for replicate b, so
    # n_oob = popcount(zmask) and votes_1 = popcount(zmask & pm[bin])
    # — identical integers to the unrolled 16-term sums they replace.
    zmask_sql = "(" + " | ".join(
        f"shiftleft(CAST(({_w_at_sql(b)} = 0) AS BIGINT), {b})"
        for b in range(_BAG_B)
    ) + ")"
    oob = wsb.crossJoin(F.broadcast(srow)).selectExpr(
        "cnt",
        "y",
        f"bit_count({zmask_sql}) AS n_oob",
        f"bit_count({zmask_sql} & element_at(pm, bin + 1)) AS votes_1",
    )
    scored = oob.filter(F.col("n_oob") > 0).select(
        "cnt",
        "y",
        F.when(2 * F.col("votes_1") > F.col("n_oob"), 1).otherwise(0).alias("pred"),
    )
    summary = scored.agg(
        F.sum("cnt").cast("bigint").alias("n_oob_rows"),
        F.sum(F.when(F.col("pred") != F.col("y"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
    )
    return (
        stumps.crossJoin(F.broadcast(summary))
        .select(
            "b",
            F.col("split_bin").cast("int").alias("split_bin"),
            "polarity",
            F.col("wrong").cast("bigint").alias("weighted_wrong"),
            "n_oob_rows",
            (
                F.col("n_err").cast("double") / F.col("n_oob_rows").cast("double")
            ).alias("oob_error"),
        )
        .orderBy("b")
    )


@register(
    "ml_bagging_oob_v2",
    tags=("ml", "ensemble", "agg"),
    oracle=_bagging_oracle(
        "CAST('0x' || substr(md5(b.k || '#' || CAST(r.b // 8 AS VARCHAR)), "
        "1 + 4 * (r.b % 8), 4) AS BIGINT)"
    ),
)
def ml_bagging_oob_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml_bagging_oob with a 2-DIGEST md5 ladder: the 16 replicates'
    16-bit uniform draws are SLICED from two md5 digests per row
    (replicate b reads hex chars [4*(b%8), 4) of md5(k || '#' ||
    b//8)) instead of computing 16 separate md5s — 8x less hashing in
    the draw stage, the dominant base cost. Catalyst's subexpression
    elimination evaluates each digest once per row inside the packed-
    word projection; everything downstream (Poisson inverse-CDF
    ladder, ONE-BIGINT packed weights, transient-unpivot histogram,
    stump pick, shift/mask OOB census) is the SHARED
    _bagging_pipeline, byte-identical to v1's. Landed as a NEW query
    name per the round-12 verdict: the slicing draws DIFFERENT (still
    valid, still RNG-free and partition-invariant) bags than v1, so it
    is not a drop-in — v1 keeps its name, oracle, and driver history;
    the headline/bench pointer briefly moved here in round 13 and was
    REVERTED to v1 in round 14 on the evidence. Honest measurement —
    the committed artifact BAGGING_V1V2.json (round-14: quiet host,
    1-min loadavg 0.13 at launch, single session, BOTH variants warmed,
    then TEN alternating back-to-back pairs so neither JIT nor load
    drift can bias a side; rerun with `tools/probe.py ab ml_bagging_oob
    ml_bagging_oob_v2`): end-to-end the two are STATISTICALLY TIED at sf0.1
    — v2 min 2.055 s vs v1 min 2.069 s, mean per-pair delta +0.011 s,
    v2 wins 4/10 load-controlled pairs. The DRAW stage is genuinely
    cheaper (base 2.35 s vs 3.24 s in a stage profile — 8x
    less hashing), but the histogram shuffle + OOB census dominate
    end-to-end at this SF, so the stage win does not move the total;
    earlier same-session comparisons that showed a v2 "win" (or the
    round-13 "loss") were load drift, which the per-pair alternating
    protocol now controls. v2 stays registered as the scale-leaning
    variant (the draw stage's share grows with corpus size), v1 keeps
    the headline/bench pointer per the round-13 directive: no
    substantiated end-to-end win means revert.
    Statistical validity is unchanged: each
    4-hex slice of md5 output is uniform on [0, 65536) and
    independent across rows/slices for bagging purposes, exactly like
    the first-4-chars draw."""

    def _w_sql(b: int) -> str:
        u = (
            f"CAST(conv(substring(md5(concat(k, '#{b // 8}')),"
            f" {1 + 4 * (b % 8)}, 4), 16, 10) AS BIGINT)"
        )
        return pois_case_sql(u)

    return _bagging_pipeline(spark, sf_dir, _w_sql)


@register(
    "ml_ols_influence",
    tags=("ml", "diagnostics", "agg"),
    oracle="""
        WITH feat AS (
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS yc,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                        AS BIGINT) AS x
            FROM orders
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(yc) AS BIGINT) AS sy,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                        AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(19,0)) * yc)
                        AS VARCHAR) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(CAST(yc AS DECIMAL(19,0)) * yc)
                        AS VARCHAR) AS DOUBLE) AS syy
            FROM feat
        ),
        fit AS (
            SELECT n, sx, sy, sxx, syy,
                   (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx) AS b1,
                   sxx - CAST(sx AS DOUBLE) * sx / n AS cxx,
                   (syy - CAST(sy AS DOUBLE) * sy / n
                    - (sxy - CAST(sx AS DOUBLE) * sy / n)
                      * (sxy - CAST(sx AS DOUBLE) * sy / n)
                      / (sxx - CAST(sx AS DOUBLE) * sx / n))
                     / (n - 2) AS mse
            FROM s
        ),
        scored AS (
            SELECT f.o_orderkey,
                   CAST(1 AS DOUBLE) / t.n
                     + (f.x - CAST(t.sx AS DOUBLE) / t.n)
                       * (f.x - CAST(t.sx AS DOUBLE) / t.n) / t.cxx AS h,
                   f.yc - (CAST(t.sy AS DOUBLE) / t.n
                           + t.b1 * (f.x - CAST(t.sx AS DOUBLE) / t.n)) AS e
            FROM feat f CROSS JOIN fit t
        ),
        cook AS (
            SELECT o_orderkey, h,
                   CAST(FLOOR(
                       (e * e / (2 * t.mse)) * (h / ((1 - h) * (1 - h)))
                       * 1e12) AS BIGINT) AS cook_q12
            FROM scored CROSS JOIN fit t
        )
        SELECT o_orderkey, h AS leverage, cook_q12
        FROM cook
        ORDER BY cook_q12 DESC, o_orderkey
        LIMIT 20
    """,
)
def ml_ols_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS influence diagnostics (order value on order age): per-row
    leverage h_i = 1/n + (x_i - x̄)²/Sxx and Cook's distance, the top-20
    most influential observations — what a modeling pipeline checks
    before trusting a fit. One scan gives the six exact sufficient
    statistics; leverage, residual, and Cook's D are shared double
    expressions, and the ranking key is Cook floor-quantized to q12 so
    the top-20 cut is an exact integer ordering (double-ordered LIMITs
    are the cross-engine tie trap). The per-row pass is a broadcast of
    one 6-number row — nothing quadratic, no hat matrix."""
    o = load_table(spark, sf_dir, "orders")
    feat = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("yc"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
    )
    s = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("yc").cast("bigint").alias("sy"),
        as_d(F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        as_d(F.sum(F.col("x").cast("decimal(19,0)") * F.col("yc")).cast("decimal(38,0)")).alias("sxy"),
        as_d(F.sum(F.col("yc").cast("decimal(19,0)") * F.col("yc")).cast("decimal(38,0)")).alias("syy"),
    )
    nd_ = F.col("n").cast("double")
    cxy = F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / nd_
    cxx = F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / nd_
    cyy = F.col("syy") - F.col("sy").cast("double") * F.col("sy") / nd_
    fit = s.select(
        "n",
        "sx",
        "sy",
        (
            (nd_ * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (nd_ * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        ).alias("b1"),
        cxx.alias("cxx"),
        ((cyy - cxy * cxy / cxx) / (nd_ - 2)).alias("mse"),
    )
    xbar = F.col("sx").cast("double") / F.col("n")
    ybar = F.col("sy").cast("double") / F.col("n")
    h = (
        F.lit(1.0) / F.col("n")
        + (F.col("x") - xbar) * (F.col("x") - xbar) / F.col("cxx")
    )
    e = F.col("yc") - (ybar + F.col("b1") * (F.col("x") - xbar))
    cook_q12 = F.floor(
        (e * e / (2 * F.col("mse")))
        * (h / ((1 - h) * (1 - h)))
        * F.lit(1e12)
    ).cast("bigint")
    return (
        feat.crossJoin(F.broadcast(fit))
        .select(
            "o_orderkey",
            h.alias("leverage"),
            cook_q12.alias("cook_q12"),
        )
        .orderBy(F.col("cook_q12").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "ml_uplift_qini",
    tags=("ml", "experiment", "agg"),
    oracle="""
        WITH lab AS (
            SELECT CAST('0x' || substr(md5('arm:'
                       || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)
                       % 2 AS arm,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS v,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        vals AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM lab GROUP BY v
        ),
        cumv AS (
            SELECT v, c,
                   CAST(SUM(c) OVER (ORDER BY v DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_desc,
                   CAST(SUM(c) OVER () AS BIGINT) AS n
            FROM vals
        ),
        dec AS (
            SELECT v,
                   CAST((10 * cum_desc + n - 1) // n AS INT) AS decile
            FROM cumv
        ),
        cells AS (
            SELECT d.decile,
                   CAST(SUM(l.arm) AS BIGINT) AS n_t,
                   CAST(SUM(1 - l.arm) AS BIGINT) AS n_c,
                   CAST(SUM(l.arm * l.y) AS BIGINT) AS y_t,
                   CAST(SUM((1 - l.arm) * l.y) AS BIGINT) AS y_c
            FROM lab l JOIN dec d ON d.v = l.v
            GROUP BY d.decile
        ),
        cum AS (
            SELECT decile,
                   CAST(SUM(n_t) OVER w AS BIGINT) AS cn_t,
                   CAST(SUM(n_c) OVER w AS BIGINT) AS cn_c,
                   CAST(SUM(y_t) OVER w AS BIGINT) AS cy_t,
                   CAST(SUM(y_c) OVER w AS BIGINT) AS cy_c
            FROM cells
            WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        )
        SELECT decile, cn_t, cn_c, cy_t, cy_c,
               CAST(cy_t AS DOUBLE)
                 - CAST(cy_c AS DOUBLE) * cn_t / cn_c AS qini,
               CAST(cy_t AS DOUBLE) / cn_t
                 - CAST(cy_c AS DOUBLE) / cn_c AS uplift_rate
        FROM cum ORDER BY decile
    """,
)
def ml_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift evaluation: md5-parity treatment arms,
    orders ranked by value into VALUE-BASED deciles (a whole tie block
    shares a decile: decile = ceil(10*cum_desc/n) over the DISTINCT-
    value cumulative, computed with the two-level bucket+carry — never
    a global NTILE funnelling the corpus through one task), then
    per-decile cumulative treated/control response counts. The Qini
    statistic cy_t - cy_c*(cn_t/cn_c) and the uplift rate are single
    double expressions over exact integers. The decision tool behind
    'who should we target': no uplift signal tracks the diagonal."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("arm:"), F.col("o_orderkey").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("arm"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    # distinct-value cumulative via bucket + carry (ascending), then
    # the descending cumulative by complement: cum_desc = n - cum_asc + c
    vals = (
        lab.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("bkt", F.floor(F.col("v") / F.lit(1000000)).cast("long"))
        .persist()
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = vals.select("bkt", "v", "c", F.sum("c").over(w_in).alias("wc"))
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        vals.groupBy("bkt")
        .agg(F.sum("c").alias("tb"))
        .select(
            "bkt", F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb")
        )
    )
    ntot = vals.agg(F.sum("c").cast("bigint").alias("n"))
    dec = (
        within.join(F.broadcast(carry), "bkt")
        .crossJoin(F.broadcast(ntot))
        .select(
            "v",
            F.floor(
                (
                    10 * (F.col("n") - (F.col("wc") + F.col("cb")) + F.col("c"))
                    + F.col("n")
                    - 1
                )
                / F.col("n")
            )
            .cast("int")
            .alias("decile"),
        )
    )
    cells = (
        lab.join(dec, "v")
        .groupBy("decile")
        .agg(
            F.sum("arm").cast("bigint").alias("n_t"),
            F.sum(1 - F.col("arm")).cast("bigint").alias("n_c"),
            F.sum(F.col("arm") * F.col("y")).cast("bigint").alias("y_t"),
            F.sum((1 - F.col("arm")) * F.col("y")).cast("bigint").alias("y_c"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "decile",
        F.sum("n_t").over(w).cast("bigint").alias("cn_t"),
        F.sum("n_c").over(w).cast("bigint").alias("cn_c"),
        F.sum("y_t").over(w).cast("bigint").alias("cy_t"),
        F.sum("y_c").over(w).cast("bigint").alias("cy_c"),
    )
    return cum.select(
        "decile",
        "cn_t",
        "cn_c",
        "cy_t",
        "cy_c",
        (
            F.col("cy_t").cast("double")
            - F.col("cy_c").cast("double") * F.col("cn_t") / F.col("cn_c")
        ).alias("qini"),
        (
            F.col("cy_t").cast("double") / F.col("cn_t")
            - F.col("cy_c").cast("double") / F.col("cn_c")
        ).alias("uplift_rate"),
    ).orderBy("decile")


@register(
    "ml_stratified_ate",
    tags=("ml", "experiment", "agg"),
    oracle=f"""
        WITH lab AS (
            SELECT c.c_mktsegment AS stratum,
                   CAST('0x' || substr(md5('arm:'
                        || CAST(o.o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)
                       % 2 AS arm,
                   CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS yc
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        per AS (
            SELECT stratum,
                   CAST(COUNT(*) AS BIGINT) AS n_s,
                   CAST(SUM(arm) AS BIGINT) AS n_t,
                   CAST(SUM(1 - arm) AS BIGINT) AS n_c,
                   CAST(SUM(arm * yc) AS BIGINT) AS y_t,
                   CAST(SUM((1 - arm) * yc) AS BIGINT) AS y_c
            FROM lab GROUP BY stratum
        ),
        tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM per),
        strata AS (
            SELECT p.stratum, p.n_s, p.n_t, p.n_c,
                   CAST(p.y_t AS DOUBLE) / p.n_t / 100 AS mean_t,
                   CAST(p.y_c AS DOUBLE) / p.n_c / 100 AS mean_c,
                   (CAST(p.y_t AS DOUBLE) / p.n_t
                    - CAST(p.y_c AS DOUBLE) / p.n_c) / 100 AS effect_s,
                   CAST(p.n_s AS DOUBLE) / t.n AS w_s
            FROM per p CROSS JOIN tot t
        ),
        ate AS (
            SELECT {o_ordered_fold_sum('stratum', 'w_s * effect_s')} AS ate
            FROM strata
        )
        SELECT s.stratum, s.n_s, s.n_t, s.n_c, s.mean_t, s.mean_c,
               s.effect_s, s.w_s, a.ate
        FROM strata s CROSS JOIN ate a
        ORDER BY s.stratum
    """,
)
def ml_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified average treatment effect: md5-parity arms, market
    segment as the confounding stratum, order value as the outcome —
    the observational-causal workhorse (stratify, estimate the effect
    inside each stratum from exact integer sums, reweight by stratum
    share). Per-stratum effects are single double expressions; the
    pooled ATE folds w_s * effect_s in PINNED stratum order. Together
    with stat_diff_in_diff, ml_ab_cuped, and ml_uplift_qini this
    completes the experimentation-analysis quartet. One broadcast-dim
    scan; everything after is 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lab = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("stratum"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("arm:"), F.col("o_orderkey").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("arm"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("yc"),
    )
    per = lab.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum("arm").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("n_c"),
        F.sum(F.col("arm") * F.col("yc")).cast("bigint").alias("y_t"),
        F.sum((1 - F.col("arm")) * F.col("yc")).cast("bigint").alias("y_c"),
    )
    tot = per.agg(F.sum("n_s").cast("bigint").alias("n"))
    eff = (
        F.col("y_t").cast("double") / F.col("n_t")
        - F.col("y_c").cast("double") / F.col("n_c")
    ) / 100
    strata = per.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_s",
        "n_t",
        "n_c",
        (F.col("y_t").cast("double") / F.col("n_t") / 100).alias("mean_t"),
        (F.col("y_c").cast("double") / F.col("n_c") / 100).alias("mean_c"),
        eff.alias("effect_s"),
        (F.col("n_s").cast("double") / F.col("n")).alias("w_s"),
    )
    ate = strata.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "stratum", (F.col("w_s") * F.col("effect_s")).alias("t")
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s_: acc + s_["t"],
        ).alias("ate")
    )
    return (
        strata.crossJoin(F.broadcast(ate))
        .select(
            "stratum", "n_s", "n_t", "n_c", "mean_t", "mean_c",
            "effect_s", "w_s", "ate",
        )
        .orderBy("stratum")
    )


@register(
    "ml_cost_optimal_threshold",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH grp AS (
            SELECT CAST(l_quantity AS BIGINT) AS threshold,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS pos
            FROM lineitem GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS p
            FROM grp
        ),
        cum AS (
            SELECT threshold,
                   CAST(SUM(cnt) OVER w AS BIGINT) AS pred_pos,
                   CAST(SUM(pos) OVER w AS BIGINT) AS tp
            FROM grp
            WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)
        ),
        cost AS (
            SELECT c.threshold, c.tp,
                   c.pred_pos - c.tp AS fp,
                   t.p - c.tp AS fn,
                   5 * (t.p - c.tp) + 1 * (c.pred_pos - c.tp) AS total_cost
            FROM cum c CROSS JOIN tot t
        ),
        best AS (
            SELECT * FROM cost
            ORDER BY total_cost, threshold DESC LIMIT 1
        )
        SELECT b.threshold AS optimal_threshold,
               CAST(b.tp AS BIGINT) AS tp, CAST(b.fp AS BIGINT) AS fp,
               CAST(b.fn AS BIGINT) AS fn,
               CAST(b.total_cost AS BIGINT) AS total_cost,
               CAST(5 * t.p AS BIGINT) AS cost_reject_all,
               CAST(t.n - t.p AS BIGINT) AS cost_accept_all
        FROM best b CROSS JOIN tot t
    """,
)
def ml_cost_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive threshold selection on the threshold-sweep
    machinery: with a 5:1 false-negative:false-positive cost ratio,
    total cost at every candidate threshold is PURE INTEGER arithmetic
    over the descending cumulative confusion counts, so the arg-min
    (tie -> highest threshold, the conservative pick) is exact. The
    two degenerate policies (reject-all, accept-all) are reported as
    the baselines the picked threshold must beat. |distinct scores|
    rows of work after one grouped scan — never a per-threshold
    rescan."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").cast("bigint").alias("threshold")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    tot = grp.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grp.select(
        "threshold",
        F.sum("cnt").over(w).cast("bigint").alias("pred_pos"),
        F.sum("pos").over(w).cast("bigint").alias("tp"),
    )
    cost = cum.crossJoin(F.broadcast(tot)).select(
        "threshold",
        "tp",
        (F.col("pred_pos") - F.col("tp")).alias("fp"),
        (F.col("p") - F.col("tp")).alias("fn"),
        (
            5 * (F.col("p") - F.col("tp")) + (F.col("pred_pos") - F.col("tp"))
        ).alias("total_cost"),
    )
    best = cost.orderBy("total_cost", F.col("threshold").desc()).limit(1)
    return best.crossJoin(F.broadcast(tot)).select(
        F.col("threshold").alias("optimal_threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("total_cost").cast("bigint").alias("total_cost"),
        (5 * F.col("p")).cast("bigint").alias("cost_reject_all"),
        (F.col("n") - F.col("p")).cast("bigint").alias("cost_accept_all"),
    )


@register(
    "ml_lr_grid_one_step",
    tags=("ml", "train", "agg"),
    oracle="""
        WITH feat AS (
            SELECT CAST(l_quantity AS DECIMAL(20,2)) AS x,
                   CAST(l_discount AS DECIMAL(20,2)) * 10 AS y
            FROM lineitem
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(21,2)) * y)
                        AS VARCHAR) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(x*x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y*y) AS VARCHAR) AS DOUBLE) AS syy
            FROM feat
        ),
        grid AS (
            SELECT unnest([CAST(0.0001 AS DOUBLE), CAST(0.0005 AS DOUBLE),
                           CAST(0.001 AS DOUBLE), CAST(0.005 AS DOUBLE)])
                       AS lr
        ),
        stepped AS (
            SELECT g.lr, s.n,
                   g.lr * 2 * s.sxy / s.n AS w1,
                   (s.syy - 2 * (g.lr * 2 * s.sxy / s.n) * s.sxy
                    + (g.lr * 2 * s.sxy / s.n)
                      * (g.lr * 2 * s.sxy / s.n) * s.sxx) / s.n AS loss1,
                   s.syy / s.n AS loss0
            FROM grid g CROSS JOIN s
        )
        SELECT lr, n, w1, loss0, loss1,
               (loss0 - loss1) / loss0 AS improvement
        FROM stepped ORDER BY lr
    """,
)
def ml_lr_grid_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-rate grid search as a RELATIONAL op: one gradient
    step of no-intercept least squares (w0 = 0, w1 = lr * 2*Sxy/n) at
    four learning rates, with the post-step loss in CLOSED FORM from
    the same three exact sufficient statistics — the whole grid
    evaluates from ONE corpus scan plus a 4-row broadcast, the shape
    hyperparameter sweeps should take before anyone reaches for a
    per-trial rescan. All shared double expressions over exact decimal
    sums; too-large rates show loss DIVERGENCE (improvement < 0),
    pytest-pinned against numpy."""
    li = load_table(spark, sf_dir, "lineitem")
    feat = li.select(
        F.col("l_quantity").cast("decimal(20,2)").alias("x"),
        (F.col("l_discount").cast("decimal(20,2)") * 10).alias("y"),
    )
    s = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum(F.col("x").cast("decimal(21,2)") * F.col("y"))).alias("sxy"),
        as_d(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        as_d(F.sum(F.col("y") * F.col("y"))).alias("syy"),
    )
    grid = spark.createDataFrame(
        [(0.0001,), (0.0005,), (0.001,), (0.005,)], "lr double"
    )
    nd_ = F.col("n").cast("double")
    w1 = F.col("lr") * 2 * F.col("sxy") / nd_
    loss1 = (
        F.col("syy") - 2 * w1 * F.col("sxy") + w1 * w1 * F.col("sxx")
    ) / nd_
    loss0 = F.col("syy") / nd_
    return (
        grid.crossJoin(F.broadcast(s))
        .select(
            "lr",
            "n",
            w1.alias("w1"),
            loss0.alias("loss0"),
            loss1.alias("loss1"),
            ((loss0 - loss1) / loss0).alias("improvement"),
        )
        .orderBy("lr")
    )


# ---------------------------------------------------------------------------
# Round-10: regularized-regression training step and collinearity
# diagnostics — both closed forms over ONE exact-decimal moment agg,
# the ridge_normal_equations recipe extended to the L1 path
# (coordinate descent's soft threshold) and to the 3-feature
# correlation-matrix inverse (VIF).

_EN_MOMENTS_SQL = """
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
                        AS DOUBLE) AS s11,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS s2,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR)
                        AS DOUBLE) AS s22,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR)
                        AS DOUBLE) AS s12,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
                        AS DOUBLE) AS syy,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
                        AS DOUBLE) AS s1y,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
                        AS DOUBLE) AS s2y
            FROM lineitem
"""

_EN_CORR = {
    "r1y": "(nd * s1y - s1 * sy) / sqrt((nd * s11 - s1 * s1) * (nd * syy - sy * sy))",
    "r2y": "(nd * s2y - s2 * sy) / sqrt((nd * s22 - s2 * s2) * (nd * syy - sy * sy))",
    "r12": "(nd * s12 - s1 * s2) / sqrt((nd * s11 - s1 * s1) * (nd * s22 - s2 * s2))",
}


def _en_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        as_d(F.sum(q)).alias("s1"),
        as_d(F.sum(q * q)).alias("s11"),
        as_d(F.sum(d)).alias("s2"),
        as_d(F.sum(d * d)).alias("s22"),
        as_d(F.sum(q * d)).alias("s12"),
        as_d(F.sum(y)).alias("sy"),
        as_d(F.sum(y * y)).alias("syy"),
        as_d(F.sum(q * y)).alias("s1y"),
        as_d(F.sum(d * y)).alias("s2y"),
    ).withColumn("nd", F.col("n").cast("double"))


@register(
    "ml_elastic_net_cd",
    tags=("ml", "training", "agg"),
    oracle=f"""
        WITH m AS ({_EN_MOMENTS_SQL}),
        c AS (
            SELECT n, CAST(n AS DOUBLE) AS nd, s1, s11, s2, s22, s12,
                   sy, syy, s1y, s2y
            FROM m
        ),
        r AS (
            SELECT n,
                   {_EN_CORR['r1y']} AS r1y,
                   {_EN_CORR['r2y']} AS r2y,
                   {_EN_CORR['r12']} AS r12
            FROM c
        ),
        w1s AS (
            SELECT *,
                   SIGN(r1y) * GREATEST(ABS(r1y) - CAST(0.05 AS DOUBLE), 0)
                     / CAST(1.05 AS DOUBLE) AS w1
            FROM r
        )
        SELECT n, r1y, r2y, r12, w1,
               SIGN(r2y - w1 * r12)
                 * GREATEST(ABS(r2y - w1 * r12) - CAST(0.05 AS DOUBLE), 0)
                 / CAST(1.05 AS DOUBLE) AS w2
        FROM w1s
    """,
)
def ml_elastic_net_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One elastic-net coordinate-descent sweep (lambda=0.1,
    l1_ratio=0.5 => soft threshold 0.05, ridge shrink 1.05) on the
    STANDARDIZED 2-feature regression price ~ quantity + discount,
    from w=0: w1 = S(<z1,zy>/n, t)/(1+l2) then w2 = S(<z2,zy>/n -
    w1*<z1,z2>/n, t)/(1+l2). For z-scored variables those inner
    products ARE the Pearson correlations, so the whole sweep is a
    closed form over ONE exact-decimal moment agg (ten sums, map-side
    combining) — the glmnet update realized without any per-row
    standardization pass, and the L1 path companion to
    ml_ridge_normal_equations. The soft threshold is
    sign*greatest(|z|-t,0) — IEEE-exact on both engines. Zero-variance
    features would NaN the correlations via sqrt(0) division; the
    fixture's features have documented positive variance (same
    contract as ml_feature_corr_matrix)."""
    m = _en_moments(spark, sf_dir)
    r = m.selectExpr(
        "n",
        f"{_EN_CORR['r1y']} AS r1y",
        f"{_EN_CORR['r2y']} AS r2y",
        f"{_EN_CORR['r12']} AS r12",
    )
    w1 = (
        F.signum(F.col("r1y"))
        * F.greatest(F.abs(F.col("r1y")) - F.lit(0.05), F.lit(0.0))
        / F.lit(1.05)
    )
    out = r.withColumn("w1", w1)
    z2 = F.col("r2y") - F.col("w1") * F.col("r12")
    return out.select(
        "n",
        "r1y",
        "r2y",
        "r12",
        "w1",
        (
            F.signum(z2)
            * F.greatest(F.abs(z2) - F.lit(0.05), F.lit(0.0))
            / F.lit(1.05)
        ).alias("w2"),
    )


@register(
    "ml_vif_collinearity",
    tags=("ml", "features", "agg"),
    oracle=f"""
        WITH m AS ({_EN_MOMENTS_SQL}),
        c AS (
            SELECT n, CAST(n AS DOUBLE) AS nd, s1, s11, s2, s22, s12,
                   sy, syy, s1y, s2y
            FROM m
        ),
        r AS (
            SELECT n,
                   {_EN_CORR['r1y']} AS rqy,
                   {_EN_CORR['r2y']} AS rdy,
                   {_EN_CORR['r12']} AS rqd
            FROM c
        ),
        d AS (
            SELECT *,
                   1 + 2 * rqy * rdy * rqd
                     - rqy * rqy - rdy * rdy - rqd * rqd AS det
            FROM r
        )
        SELECT n, rqy, rdy, rqd, det,
               CASE WHEN det > 0 THEN (1 - rdy * rdy) / det END AS vif_quantity,
               CASE WHEN det > 0 THEN (1 - rqy * rqy) / det END AS vif_discount,
               CASE WHEN det > 0 THEN (1 - rqd * rqd) / det END AS vif_price
        FROM d
    """,
)
def ml_vif_collinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-inflation factors for the 3-variable feature set
    (quantity, discount, price) via the closed-form 3x3 correlation-
    matrix inverse: VIF_i = (1 - r_jk^2)/det with det = 1 + 2*r1*r2*r3
    - r1^2 - r2^2 - r3^2 — multicollinearity screening (VIF > 5-10 =
    drop or combine) computed from ONE exact-decimal moment agg and a
    single double edge expression; no per-row standardization, no
    matrix library, shares _en_moments with ml_elastic_net_cd.
    Class-5: a singular correlation matrix (perfect collinearity,
    det<=0) NULLs every VIF via the same CASE on both engines."""
    m = _en_moments(spark, sf_dir)
    r = m.selectExpr(
        "n",
        f"{_EN_CORR['r1y']} AS rqy",
        f"{_EN_CORR['r2y']} AS rdy",
        f"{_EN_CORR['r12']} AS rqd",
    )
    det = (
        F.lit(1.0)
        + 2 * F.col("rqy") * F.col("rdy") * F.col("rqd")
        - F.col("rqy") * F.col("rqy")
        - F.col("rdy") * F.col("rdy")
        - F.col("rqd") * F.col("rqd")
    )
    d = r.withColumn("det", det)
    ok = F.col("det") > 0
    return d.select(
        "n",
        "rqy",
        "rdy",
        "rqd",
        "det",
        F.when(ok, (1 - F.col("rdy") * F.col("rdy")) / F.col("det")).alias(
            "vif_quantity"
        ),
        F.when(ok, (1 - F.col("rqy") * F.col("rqy")) / F.col("det")).alias(
            "vif_discount"
        ),
        F.when(ok, (1 - F.col("rqd") * F.col("rqd")) / F.col("det")).alias(
            "vif_price"
        ),
    )


@register(
    "ml_delong_auc_se",
    tags=("ml", "eval", "window", "agg"),
    oracle="""
        WITH grp AS (
            SELECT l_quantity AS score,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(l_returnflag = 'R' AS INT)) AS BIGINT) AS pos
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT cnt, pos, cnt - pos AS neg,
                   CAST(COALESCE(SUM(cnt - pos) OVER
                        (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS BIGINT) AS cnb,
                   CAST(COALESCE(SUM(pos) OVER
                        (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS BIGINT) AS cpb
            FROM grp
        ),
        tot AS (
            SELECT CAST(SUM(pos) AS BIGINT) AS m,
                   CAST(SUM(cnt - pos) AS BIGINT) AS n
            FROM grp
        ),
        u AS (
            SELECT c.pos, c.neg,
                   2 * c.cnb + c.neg AS u10,
                   2 * (t.m - c.cpb - c.pos) + c.pos AS u01
            FROM cum c CROSS JOIN tot t
        ),
        s AS (
            SELECT CAST(CAST(SUM(CAST(pos AS DECIMAL(19,0)) * u10)
                        AS VARCHAR) AS DOUBLE) AS su10,
                   CAST(CAST(SUM(CAST(pos AS DECIMAL(19,0))
                                 * CAST(u10 AS DECIMAL(15,0)) * u10)
                        AS VARCHAR) AS DOUBLE) AS su10sq,
                   CAST(CAST(SUM(CAST(neg AS DECIMAL(19,0)) * u01)
                        AS VARCHAR) AS DOUBLE) AS su01,
                   CAST(CAST(SUM(CAST(neg AS DECIMAL(19,0))
                                 * CAST(u01 AS DECIMAL(15,0)) * u01)
                        AS VARCHAR) AS DOUBLE) AS su01sq
            FROM u
        )
        SELECT t.m AS n_pos, t.n AS n_neg,
               s.su10 / (2 * CAST(t.n AS DOUBLE) * CAST(t.m AS DOUBLE))
                   AS auc,
               CASE WHEN t.m > 1 AND t.n > 1 THEN
                 sqrt(
                   (s.su10sq / (4 * CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
                    - CAST(t.m AS DOUBLE)
                      * (s.su10 / (2 * CAST(t.n AS DOUBLE)
                                   * CAST(t.m AS DOUBLE)))
                      * (s.su10 / (2 * CAST(t.n AS DOUBLE)
                                   * CAST(t.m AS DOUBLE))))
                   / (CAST(t.m AS DOUBLE) - 1) / CAST(t.m AS DOUBLE)
                   + (s.su01sq / (4 * CAST(t.m AS DOUBLE)
                                  * CAST(t.m AS DOUBLE))
                      - CAST(t.n AS DOUBLE)
                        * (s.su01 / (2 * CAST(t.m AS DOUBLE)
                                     * CAST(t.n AS DOUBLE)))
                        * (s.su01 / (2 * CAST(t.m AS DOUBLE)
                                     * CAST(t.n AS DOUBLE))))
                     / (CAST(t.n AS DOUBLE) - 1) / CAST(t.n AS DOUBLE))
               END AS delong_se
        FROM s CROSS JOIN tot t
    """,
)
def ml_delong_auc_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong standard error of the ROC-AUC — the number that turns
    ml_roc_auc's point estimate into a confidence interval / model
    comparison, computed EXACTLY from the distinct-score relation: for
    every positive at score v the placement value V10 is identical, so
    its 2n-scaled integer u10 = 2*cum_neg_below + neg_at (and the
    mirrored u01 for negatives) collapses the per-observation DeLong
    structural components into per-score exact integer sums with
    width-pinned DECIMAL squares; AUC, S10, S01 and the SE assemble in
    one guarded double edge (m<=1 or n<=1 NULLs on both engines). Same
    50-value distinct-score window as ml_roc_auc (high-cardinality
    scores route through operators/ranks.py, the documented escape);
    never a |pos|x|neg| pair join. AUC here equals ml_roc_auc's
    midrank identity by construction — the reference test pins both
    to a direct numpy computation."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("score")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("pos"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.select(
        "cnt",
        "pos",
        (F.col("cnt") - F.col("pos")).alias("neg"),
        F.coalesce(F.sum(F.col("cnt") - F.col("pos")).over(w), F.lit(0))
        .cast("bigint")
        .alias("cnb"),
        F.coalesce(F.sum("pos").over(w), F.lit(0))
        .cast("bigint")
        .alias("cpb"),
    )
    tot = grp.agg(
        F.sum("pos").cast("bigint").alias("m"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n"),
    )
    u = cum.crossJoin(F.broadcast(tot)).select(
        "pos",
        "neg",
        "m",
        "n",
        (2 * F.col("cnb") + F.col("neg")).alias("u10"),
        (2 * (F.col("m") - F.col("cpb") - F.col("pos")) + F.col("pos")).alias(
            "u01"
        ),
    )
    s = u.groupBy("m", "n").agg(
        as_d(F.sum(F.col("pos").cast("decimal(19,0)") * F.col("u10"))).alias(
            "su10"
        ),
        as_d(
            F.sum(
                F.col("pos").cast("decimal(19,0)")
                * F.col("u10").cast("decimal(15,0)")
                * F.col("u10")
            )
        ).alias("su10sq"),
        as_d(F.sum(F.col("neg").cast("decimal(19,0)") * F.col("u01"))).alias(
            "su01"
        ),
        as_d(
            F.sum(
                F.col("neg").cast("decimal(19,0)")
                * F.col("u01").cast("decimal(15,0)")
                * F.col("u01")
            )
        ).alias("su01sq"),
    )
    m_d = F.col("m").cast("double")
    n_d = F.col("n").cast("double")
    auc = F.col("su10") / (2 * n_d * m_d)
    auc01 = F.col("su01") / (2 * m_d * n_d)
    s10 = (
        F.col("su10sq") / (4 * n_d * n_d) - m_d * auc * auc
    ) / (m_d - 1)
    s01 = (
        F.col("su01sq") / (4 * m_d * m_d) - n_d * auc01 * auc01
    ) / (n_d - 1)
    return s.select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        auc.alias("auc"),
        F.when(
            (F.col("m") > 1) & (F.col("n") > 1),
            F.sqrt(s10 / m_d + s01 / n_d),
        ).alias("delong_se"),
    )


@register(
    "ml_brier_decomposition",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH scored AS (
            SELECT LEAST(9, CAST(FLOOR((CAST(CAST(l_quantity AS VARCHAR)
                       AS DOUBLE) / 50.0) * 10.0) AS INT)) AS bin,
                   CAST(l_quantity AS DECIMAL(20,2)) AS q,
                   CAST(l_returnflag = 'R' AS INT) AS y
            FROM lineitem
        ),
        bins AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(y) AS BIGINT) AS yb,
                   CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) / 50.0 AS fq
            FROM scored GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(nb) AS BIGINT) AS n,
                   CAST(SUM(yb) AS BIGINT) AS y
            FROM bins
        ),
        terms AS (
            SELECT b.bin, b.nb,
                   CAST(b.nb AS DOUBLE)
                     * (b.fq / CAST(b.nb AS DOUBLE)
                        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))
                     * (b.fq / CAST(b.nb AS DOUBLE)
                        - CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE))
                       AS rel_t,
                   CAST(b.nb AS DOUBLE)
                     * (CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE)
                        - CAST(t.y AS DOUBLE) / CAST(t.n AS DOUBLE))
                     * (CAST(b.yb AS DOUBLE) / CAST(b.nb AS DOUBLE)
                        - CAST(t.y AS DOUBLE) / CAST(t.n AS DOUBLE))
                       AS res_t
            FROM bins b CROSS JOIN tot t
        )
        SELECT t.n,
               {o_ordered_fold_sum('terms.bin', 'terms.rel_t')} / CAST(t.n AS DOUBLE)
                   AS reliability,
               {o_ordered_fold_sum('terms.bin', 'terms.res_t')} / CAST(t.n AS DOUBLE)
                   AS resolution,
               (CAST(t.y AS DOUBLE) / CAST(t.n AS DOUBLE))
                 * (1 - CAST(t.y AS DOUBLE) / CAST(t.n AS DOUBLE))
                   AS uncertainty,
               {o_ordered_fold_sum('terms.bin', 'terms.rel_t')} / CAST(t.n AS DOUBLE)
                 - {o_ordered_fold_sum(
                     'terms.bin',
                     'terms.res_t',
                 )} / CAST(t.n AS DOUBLE)
                 + (CAST(t.y AS DOUBLE) / CAST(t.n AS DOUBLE))
                   * (1 - CAST(t.y AS DOUBLE) / CAST(t.n AS DOUBLE))
                   AS brier_binned
        FROM terms CROSS JOIN tot t
        GROUP BY t.n, t.y
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the (binned-forecast) Brier score —
    reliability (calibration error mass), resolution (how much the
    bins separate outcomes), uncertainty (base-rate entropy term),
    with brier_binned = REL - RES + UNC holding exactly because the
    forecast is the bin-mean by construction (the identity's
    condition; documented). Reuses ml_calibration_bins' 10-bin score
    map; per-bin terms are doubles over exact integer/decimal bin sums
    and the 10-term folds run in PINNED bin order on both engines
    (array_sort fold ≡ ordered list_reduce) — no unordered float
    reduction. Class-5: nb >= 1 per existing bin and n >= 1 by fixture
    contract; no other division."""
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("l_quantity").cast("string").cast("double") / F.lit(50.0))
                * F.lit(10.0)
            ).cast("int"),
        ).alias("bin"),
        F.col("l_quantity").cast("decimal(20,2)").alias("q"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("y").cast("bigint").alias("yb"),
        (F.sum("q").cast("string").cast("double") / F.lit(50.0)).alias("fq"),
    )
    tot = bins.agg(
        F.sum("nb").cast("bigint").alias("n"),
        F.sum("yb").cast("bigint").alias("y"),
    )
    nb_d = F.col("nb").cast("double")
    ob = F.col("yb").cast("double") / nb_d
    fb = F.col("fq") / nb_d
    obar = F.col("y").cast("double") / F.col("n").cast("double")
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "y",
        (nb_d * (fb - ob) * (fb - ob)).alias("rel_t"),
        (nb_d * (ob - obar) * (ob - obar)).alias("res_t"),
    )
    folded = terms.groupBy("n", "y").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", "rel_t"))),
            F.lit(0.0),
            lambda acc, s: acc + s["rel_t"],
        ).alias("rel_sum"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", "res_t"))),
            F.lit(0.0),
            lambda acc, s: acc + s["res_t"],
        ).alias("res_sum"),
    )
    n_d = F.col("n").cast("double")
    obar2 = F.col("y").cast("double") / n_d
    rel = F.col("rel_sum") / n_d
    res = F.col("res_sum") / n_d
    unc = obar2 * (1 - obar2)
    return folded.select(
        "n",
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        (rel - res + unc).alias("brier_binned"),
    )


@register(
    "ml_quantile_regression_grid",
    tags=("ml", "training", "agg"),
    oracle="""
        WITH grid AS (
            SELECT tau.t AS tau, 3000 + 50 * b.j AS b
            FROM (SELECT unnest([CAST(0.25 AS DECIMAL(3,2)),
                                 CAST(0.50 AS DECIMAL(3,2)),
                                 CAST(0.75 AS DECIMAL(3,2))]) AS t) tau
            CROSS JOIN (SELECT unnest(generate_series(0, 40)) AS j) b
        ),
        losses AS (
            SELECT g.tau, g.b,
                   CAST(SUM(CASE WHEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                      - g.b * CAST(l.l_quantity
                                                   AS DECIMAL(12,2)) >= 0
                        THEN g.tau * (CAST(l.l_extendedprice AS DECIMAL(18,2))
                                      - g.b * CAST(l.l_quantity
                                                   AS DECIMAL(12,2)))
                        ELSE (g.tau - 1)
                             * (CAST(l.l_extendedprice AS DECIMAL(18,2))
                                - g.b * CAST(l.l_quantity AS DECIMAL(12,2)))
                        END) AS DECIMAL(38,4)) AS loss
            FROM lineitem l CROSS JOIN grid g
            GROUP BY g.tau, g.b
        ),
        ranked AS (
            SELECT tau, b, loss,
                   ROW_NUMBER() OVER (PARTITION BY tau
                                      ORDER BY loss, b) AS rk
            FROM losses
        )
        SELECT CAST(CAST(tau AS VARCHAR) AS DOUBLE) AS tau,
               CAST(b AS BIGINT) AS best_b,
               CAST(CAST(loss AS VARCHAR) AS DOUBLE) AS check_loss
        FROM ranked WHERE rk = 1
        ORDER BY tau
    """,
)
def ml_quantile_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression through the origin (price ~ b*quantity) by
    EXACT check-loss grid search at tau = 0.25/0.5/0.75 over a fixed
    41-point literal slope grid — the distributed profile-likelihood
    pattern (fin_black_scholes_grid / ml_lr_grid_one_step family)
    applied to the pinball loss: every residual, every tau-weighted
    loss term, and every per-(tau,b) total is EXACT DECIMAL arithmetic
    (tau is a decimal literal, the grid is integer literals), so the
    argmin — the entire fitted model — hash-oracles with zero float
    anywhere. Scale: the corpus fans out against the slope grid and
    collapses map-side to per-slope partial sums; the argmin window
    runs on the grid-sized model relation with a deterministic
    (loss, b) tiebreak; the median (tau=0.5) column doubles as a
    robust-slope cross-check against ts_theil_sen's estimator family.

    Round-15 (optimization) reshape — this was the slowest query in
    the registry (63-90 s at sf0.1 Spark-side): the corpus crossJoined
    the full 123-row (tau, b) grid and every fanned-out row paid two
    BigDecimal multiplies inside a BroadcastNestedLoopJoin stage that
    an under-split layout ran as ONE task. Three fixes, loss decimals
    bit-identical (verified row-for-row and by the unchanged oracle):
    1. Factor tau out of the inner loop (guide §1.2 — algorithm
       first): loss(tau,b) = tau*S+(b) + (tau-1)*S-(b), with S+/S- the
       per-slope sums of non-negative/negative residuals — exact
       distributivity over exact decimals — so the corpus fans out
       x41, not x123, and the taus reconstruct on the 41-row model.
    2. Long-cents inner loop (the ml_ols_normal_equations recipe):
       residuals are pure long arithmetic; sums accumulate in
       DECIMAL(38,0) (compact fast path, overflow-safe at any SF); the
       exact scale restores at the 41-row edge via one exact division.
    3. The slope grid rides a 41-slot literal-array explode (Generate
       fuses into whole-stage codegen; the BNLJ did not: 3.92 s vs
       5.92 s min under identical load) over the adaptive parallel
       loader. End-to-end at sf0.1: 63.6 s → 3.9 s (noisy-host
       numbers; quiet floor lower)."""
    from pyspark.sql import Window

    from finance_etl_spark.io.readers import load_table_parallel

    li = load_table_parallel(spark, sf_dir, "lineitem")
    cents = lambda c: (F.col(c) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    rows = li.select(
        cents("l_extendedprice").alias("y_c"), cents("l_quantity").alias("x_c")
    )
    d38 = "decimal(38,0)"
    fan = rows.select(
        "y_c",
        "x_c",
        F.explode(
            F.array(*[F.lit(3000 + 50 * j).cast("long") for j in range(41)])
        ).alias("b"),
    )
    r_c = F.col("y_c") - F.col("b") * F.col("x_c")
    sums = fan.groupBy("b").agg(
        F.sum(F.greatest(r_c, F.lit(0)).cast(d38)).alias("sp"),
        F.sum(F.least(r_c, F.lit(0)).cast(d38)).alias("sm"),
    )
    taus = (
        spark.range(3)
        .select(
            F.when(F.col("id") == 0, F.lit("0.25"))
            .when(F.col("id") == 1, F.lit("0.50"))
            .otherwise(F.lit("0.75"))
            .cast("decimal(3,2)")
            .alias("tau")
        )
        .select("tau", (F.col("tau") * 100).cast("long").alias("t100"))
    )
    num = F.col("sp") * F.col("t100") + F.col("sm") * (F.col("t100") - 100)
    losses = sums.crossJoin(F.broadcast(taus)).select(
        "tau", "b", (num / F.lit(10000)).cast("decimal(38,4)").alias("loss")
    )
    w = Window.partitionBy("tau").orderBy("loss", "b")
    return (
        losses.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("tau").cast("string").cast("double").alias("tau"),
            F.col("b").cast("bigint").alias("best_b"),
            F.col("loss").cast("string").cast("double").alias("check_loss"),
        )
        .orderBy("tau")
    )


@register(
    "ml_nelson_aalen",
    tags=("ml", "eval", "survival"),
    oracle="""
        WITH span AS (
            SELECT o_custkey,
                   MIN(o_orderdate) AS f, MAX(o_orderdate) AS l
            FROM orders GROUP BY o_custkey
        ),
        g AS (SELECT MAX(o_orderdate) AS gm FROM orders),
        cust AS (
            SELECT c.c_mktsegment AS seg,
                   LEAST(7, CAST(FLOOR(CAST(date_diff('day', s.f, s.l) AS BIGINT) / 365.0)
                        AS BIGINT)) AS bkt,
                   CAST(CAST(date_diff('day', s.l, gm) AS BIGINT) > 180 AS INT) AS ev
            FROM span s
            JOIN customer c ON c.c_custkey = s.o_custkey
            CROSS JOIN g
        ),
        counts AS (
            SELECT seg, bkt,
                   CAST(COUNT(*) AS BIGINT) AS n_b,
                   CAST(SUM(ev) AS BIGINT) AS d
            FROM cust GROUP BY seg, bkt
        ),
        risk AS (
            SELECT seg, bkt, d,
                   CAST(SUM(n_b) OVER (PARTITION BY seg ORDER BY bkt DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
            FROM counts
        ),
        haz AS (
            SELECT a.seg, a.bkt,
                   list_reduce(
                       list(CAST(b.d AS DOUBLE) / CAST(b.n_risk AS DOUBLE)
                            ORDER BY b.bkt),
                       (acc, x) -> acc + x) AS h,
                   list_reduce(
                       list(CAST(b.d AS DOUBLE)
                            / (CAST(b.n_risk AS DOUBLE)
                               * CAST(b.n_risk AS DOUBLE)) ORDER BY b.bkt),
                       (acc, x) -> acc + x) AS v
            FROM risk a JOIN risk b ON b.seg = a.seg AND b.bkt <= a.bkt
            GROUP BY a.seg, a.bkt
        )
        SELECT r.seg AS c_mktsegment, r.bkt AS tenure_years,
               r.n_risk AS n_at_risk, r.d AS d_events,
               h.h AS cum_hazard, sqrt(h.v) AS hazard_se
        FROM risk r JOIN haz h ON h.seg = r.seg AND h.bkt = r.bkt
        ORDER BY c_mktsegment, tenure_years
    """,
)
def ml_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H_j = sum_{i<=j} d_i/n_i with
    its Poisson-type standard error sqrt(sum d_i/n_i^2) — the
    estimator-of-choice companion to ml_kaplan_meier on the identical
    censored tenure base (same per-customer span aggregate, same <=8
    bucket rows per segment, same descending at-risk cumulative):
    where KM multiplies survival ratios, NA sums hazard increments,
    and -ln(KM) ~ NA is the classic cross-check (pinned in tests).
    Both per-segment folds run in PINNED bucket order (array_sort +
    F.aggregate == list ORDER BY + list_reduce) so the <=8-term double
    reductions are identical cross-engine. Corpus work: one custkey
    agg + one AQE-sized customer join; n_risk >= d >= 0 and n_risk >= 1 on
    every existing bucket row, so no division degenerates (class-5
    documented)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    g = o.agg(F.max("o_orderdate").alias("gm"))
    cust = (
        span.join(c, span.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(g))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.least(
                F.lit(7),
                F.floor(
                    F.datediff(F.col("l"), F.col("f")).cast("bigint") / 365.0
                ).cast("bigint"),
            ).alias("bkt"),
            (F.datediff(F.col("gm"), F.col("l")).cast("bigint") > 180)
            .cast("int")
            .alias("ev"),
        )
    )
    counts = cust.groupBy("seg", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    wdesc = (
        Window.partitionBy("seg")
        .orderBy(F.col("bkt").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = counts.select(
        "seg",
        "bkt",
        "d",
        F.sum("n_b").over(wdesc).cast("bigint").alias("n_risk"),
    )
    a = risk.alias("a")
    b = risk.alias("b")
    haz = (
        a.join(
            b,
            (F.col("b.seg") == F.col("a.seg"))
            & (F.col("b.bkt") <= F.col("a.bkt")),
        )
        .groupBy(F.col("a.seg").alias("seg"), F.col("a.bkt").alias("bkt"))
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("b.bkt").alias("ob"),
                            (
                                F.col("b.d").cast("double")
                                / F.col("b.n_risk").cast("double")
                            ).alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["t"],
            ).alias("h"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("b.bkt").alias("ob"),
                            (
                                F.col("b.d").cast("double")
                                / (
                                    F.col("b.n_risk").cast("double")
                                    * F.col("b.n_risk").cast("double")
                                )
                            ).alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["t"],
            ).alias("v"),
        )
    )
    return (
        risk.join(haz, ["seg", "bkt"])
        .select(
            F.col("seg").alias("c_mktsegment"),
            F.col("bkt").alias("tenure_years"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("d_events"),
            F.col("h").alias("cum_hazard"),
            F.sqrt(F.col("v")).alias("hazard_se"),
        )
        .orderBy("c_mktsegment", "tenure_years")
    )


_SWEEP_CUM_SQL = """
        grp AS (
            SELECT l_quantity AS threshold,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(l_returnflag = 'R' AS INT)) AS BIGINT) AS pos
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT threshold,
                   CAST(SUM(pos) OVER w AS BIGINT) AS tp,
                   CAST(SUM(cnt - pos) OVER w AS BIGINT) AS fp,
                   CAST(SUM(pos) OVER () AS BIGINT) AS all_pos,
                   CAST(SUM(cnt - pos) OVER () AS BIGINT) AS all_neg
            FROM grp
            WINDOW w AS (ORDER BY threshold DESC
                         ROWS UNBOUNDED PRECEDING)
        )
"""


@register(
    "ml_youden_j",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH {_SWEEP_CUM_SQL},
        scored AS (
            SELECT threshold, tp, fp,
                   CAST(tp * all_neg - fp * all_pos AS BIGINT) AS j_num,
                   all_pos, all_neg
            FROM cum
        ),
        best AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY j_num DESC, threshold)
                       AS rk
            FROM scored
        )
        SELECT threshold AS best_threshold, tp, fp,
               CAST(tp AS DOUBLE) / CAST(all_pos AS DOUBLE) AS tpr,
               CAST(fp AS DOUBLE) / CAST(all_neg AS DOUBLE) AS fpr,
               CAST(j_num AS DOUBLE)
                 / (CAST(all_pos AS DOUBLE) * CAST(all_neg AS DOUBLE))
                   AS youden_j
        FROM best WHERE rk = 1
    """,
)
def ml_youden_j(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal operating point: the threshold maximizing
    J = TPR - FPR over the descending-cumulative confusion sweep —
    the canonical ROC corner picker (complementing
    ml_cost_optimal_threshold's asymmetric-cost argmin with the
    cost-neutral one). The argmax runs on the EXACT integer numerator
    tp*all_neg - fp*all_pos (common denominator factored out), so the
    selection is integer-exact with a deterministic threshold
    tiebreak; TPR/FPR/J divide once at the edge. |distinct scores|
    rows end-to-end (bounded at 50 here; the ranks.py escape applies
    at unbounded cardinality, as documented on ml_roc_auc). all_pos
    and all_neg are both nonzero in any fixture with both labels —
    documented, and the J numerator needs no division anyway."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("threshold")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("pos"),
    )
    wd = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = grp.select(
        "threshold",
        F.sum("pos").over(wd).cast("bigint").alias("tp"),
        F.sum(F.col("cnt") - F.col("pos")).over(wd).cast("bigint").alias("fp"),
        F.sum("pos").over(wall).cast("bigint").alias("all_pos"),
        F.sum(F.col("cnt") - F.col("pos"))
        .over(wall)
        .cast("bigint")
        .alias("all_neg"),
    )
    scored = cum.withColumn(
        "j_num",
        (F.col("tp") * F.col("all_neg") - F.col("fp") * F.col("all_pos"))
        .cast("bigint"),
    )
    wbest = Window.orderBy(F.col("j_num").desc(), F.col("threshold"))
    return (
        scored.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            F.col("threshold").alias("best_threshold"),
            "tp",
            "fp",
            (F.col("tp").cast("double") / F.col("all_pos").cast("double")).alias(
                "tpr"
            ),
            (F.col("fp").cast("double") / F.col("all_neg").cast("double")).alias(
                "fpr"
            ),
            (
                F.col("j_num").cast("double")
                / (
                    F.col("all_pos").cast("double")
                    * F.col("all_neg").cast("double")
                )
            ).alias("youden_j"),
        )
    )


@register(
    "ml_precision_at_recall",
    tags=("ml", "eval", "window"),
    oracle=f"""
        WITH {_SWEEP_CUM_SQL},
        feas AS (
            SELECT threshold, tp, fp, all_pos,
                   ROW_NUMBER() OVER (
                       ORDER BY CAST(tp AS DOUBLE) / (tp + fp) DESC,
                                threshold DESC) AS rk
            FROM cum
            WHERE tp * 10 >= all_pos * 8
        )
        SELECT threshold AS best_threshold, tp, fp,
               CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision_,
               CAST(tp AS DOUBLE) / CAST(all_pos AS DOUBLE) AS recall_
        FROM feas WHERE rk = 1
    """,
)
def ml_precision_at_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-precision operating point subject to recall >= 80% — the
    constrained threshold pick behind production alerting budgets
    ("catch at least 80% of returns, then minimize noise"). The
    feasibility test is the EXACT integer inequality tp*10 >=
    all_pos*8 (no float recall), the argmax orders by precision with
    a deterministic descending-threshold tiebreak, and tp+fp >= tp >=
    0.8*all_pos > 0 on every feasible row so the precision division
    cannot degenerate (class-5 documented; the feasible set is
    non-empty because the all-positive threshold has recall 1). Same
    |distinct scores| sweep relation as ml_youden_j /
    ml_threshold_sweep."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("threshold")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("pos"),
    )
    wd = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = grp.select(
        "threshold",
        F.sum("pos").over(wd).cast("bigint").alias("tp"),
        F.sum(F.col("cnt") - F.col("pos")).over(wd).cast("bigint").alias("fp"),
        F.sum("pos").over(wall).cast("bigint").alias("all_pos"),
    )
    feas = cum.filter(F.col("tp") * 10 >= F.col("all_pos") * 8)
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast(
        "double"
    )
    wbest = Window.orderBy(prec.desc(), F.col("threshold").desc())
    return (
        feas.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            F.col("threshold").alias("best_threshold"),
            "tp",
            "fp",
            prec.alias("precision_"),
            (F.col("tp").cast("double") / F.col("all_pos").cast("double")).alias(
                "recall_"
            ),
        )
    )


# ML-eval queries: score = l_quantity, label = l_returnflag 'R' (the
# family convention of ml_roc_auc / ml_threshold_sweep)


@register(
    "ml_score_ks",
    tags=("ml", "eval", "window"),
    oracle="""
        WITH grp AS (
            SELECT l_quantity AS score,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS pos,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R')
                        AS BIGINT) AS neg
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT score,
                   SUM(pos) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                       AS cpos,
                   SUM(neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                       AS cneg
            FROM grp
        ),
        tot AS (
            SELECT CAST(SUM(pos) AS BIGINT) AS npos,
                   CAST(SUM(neg) AS BIGINT) AS nneg
            FROM grp
        ),
        gaps AS (
            SELECT score,
                   CAST(ABS(cpos * tot.nneg - cneg * tot.npos) AS BIGINT)
                       AS gap
            FROM cum CROSS JOIN tot
        ),
        best AS (
            SELECT score, gap,
                   ROW_NUMBER() OVER (ORDER BY gap DESC, score) AS pk
            FROM gaps
        )
        SELECT tot.npos, tot.nneg,
               CAST(best.gap AS DOUBLE)
                 / (CAST(tot.npos AS DOUBLE) * tot.nneg) AS ks_stat,
               best.score AS ks_threshold
        FROM best CROSS JOIN tot WHERE best.pk = 1
    """,
)
def ml_score_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS separation of the model score between classes — credit
    scoring's favorite single number: D = max over thresholds of
    |F_pos(s) - F_neg(s)|, with the argmax threshold (the score cut a
    rule-based policy would deploy). The gap is the exact integer
    |cpos*nneg - cneg*npos| on the value-domain-bounded distinct-score
    relation (l_quantity has <= 50 distinct values at any SF, so the
    unpartitioned cumulative window rides a bounded relation — the
    bucket+carry exemption documented in session.py); division by
    npos*nneg happens once at the edge. Deterministic earliest-score
    argmax tiebreak. Class balance is a fixture invariant (both
    classes populated at every SF)."""
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("score")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
        .cast("bigint")
        .alias("neg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = grp.select(
        "score",
        F.sum("pos").over(w).alias("cpos"),
        F.sum("neg").over(w).alias("cneg"),
    )
    tot = grp.agg(
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum("neg").cast("bigint").alias("nneg"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "score",
        F.abs(F.col("cpos") * F.col("nneg") - F.col("cneg") * F.col("npos"))
        .cast("bigint")
        .alias("gap"),
        "npos",
        "nneg",
    )
    wbest = Window.orderBy(F.col("gap").desc(), "score")
    return (
        gaps.withColumn("pk", F.row_number().over(wbest))
        .filter(F.col("pk") == 1)
        .select(
            "npos",
            "nneg",
            (
                F.col("gap").cast("double")
                / (F.col("npos").cast("double") * F.col("nneg"))
            ).alias("ks_stat"),
            F.col("score").alias("ks_threshold"),
        )
    )


@register(
    "ml_somers_d",
    tags=("ml", "eval", "window"),
    oracle="""
        WITH grp AS (
            SELECT l_quantity AS score,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R')
                        AS BIGINT) AS pos,
                   CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R')
                        AS BIGINT) AS neg
            FROM lineitem GROUP BY l_quantity
        ),
        cum AS (
            SELECT score, pos, neg,
                   CAST(COALESCE(SUM(neg) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS neg_below,
                   CAST(COALESCE(SUM(pos) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS pos_below
            FROM grp
        ),
        tot AS (
            SELECT CAST(SUM(pos) AS BIGINT) AS npos,
                   CAST(SUM(neg) AS BIGINT) AS nneg
            FROM grp
        ),
        pairs AS (
            SELECT CAST(SUM(CAST(pos AS DECIMAL(38,0)) * neg_below)
                        AS DECIMAL(38,0)) AS concordant,
                   CAST(SUM(CAST(pos AS DECIMAL(38,0))
                            * (tot.nneg - neg_below - neg))
                        AS DECIMAL(38,0)) AS discordant,
                   CAST(SUM(CAST(pos AS DECIMAL(38,0)) * neg)
                        AS DECIMAL(38,0)) AS tied_score
            FROM cum CROSS JOIN tot
        )
        SELECT tot.npos, tot.nneg,
               CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                   AS n_concordant,
               CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE)
                   AS n_discordant,
               CAST(CAST(pairs.tied_score AS VARCHAR) AS DOUBLE) AS n_tied,
               (CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                - CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE))
                 / (CAST(tot.npos AS DOUBLE) * tot.nneg) AS somers_d,
               CASE WHEN CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                         + CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE)
                         > 0 THEN
                 (CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE))
                 / (CAST(CAST(pairs.concordant AS VARCHAR) AS DOUBLE)
                    + CAST(CAST(pairs.discordant AS VARCHAR) AS DOUBLE))
               END AS gk_gamma
        FROM pairs CROSS JOIN tot
    """,
)
def ml_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D (and Goodman-Kruskal gamma) of score vs binary label
    — the pair-concordance view of discrimination: D = (C - D') /
    (npos*nneg) = 2*AUC - 1, but reported WITH the raw concordant /
    discordant / score-tied pair censuses that model-risk reviews ask
    for (gamma excludes ties, D charges them). All three pair counts
    are exact DECIMAL(38,0) sums over the <= 50-value distinct-score
    relation (pos_v * negatives-below etc., cumulative window on a
    value-domain-bounded relation); npos*nneg ~ 1e11 at sf1 so counts
    are decimal38, VARCHAR-routed to double for presentation. gamma
    NULLs if every pair is score-tied (degenerate single-score
    fixture — impossible here, guarded anyway)."""
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy(F.col("l_quantity").alias("score")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
        .cast("bigint")
        .alias("neg"),
    )
    w_prev = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grp.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_prev), F.lit(0)).alias("neg_below"),
    )
    tot = grp.agg(
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum("neg").cast("bigint").alias("nneg"),
    )
    posD = F.col("pos").cast("decimal(38,0)")
    pairs = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(posD * F.col("neg_below")).cast("decimal(38,0)").alias(
            "concordant"
        ),
        F.sum(posD * (F.col("nneg") - F.col("neg_below") - F.col("neg")))
        .cast("decimal(38,0)")
        .alias("discordant"),
        F.sum(posD * F.col("neg")).cast("decimal(38,0)").alias("tied_score"),
    )
    c_d = as_d(F.col("concordant"))
    d_d = as_d(F.col("discordant"))
    t_d = as_d(F.col("tied_score"))
    return pairs.crossJoin(F.broadcast(tot)).select(
        "npos",
        "nneg",
        c_d.alias("n_concordant"),
        d_d.alias("n_discordant"),
        t_d.alias("n_tied"),
        ((c_d - d_d) / (F.col("npos").cast("double") * F.col("nneg"))).alias(
            "somers_d"
        ),
        F.when(c_d + d_d > 0, (c_d - d_d) / (c_d + d_d)).alias("gk_gamma"),
    )


@register(
    "ml_hosmer_lemeshow",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH scored AS (
            SELECT CAST(LEAST(9, FLOOR((l_quantity - 1) / 5)) AS BIGINT)
                       AS bin,
                   l_quantity / 51.0 AS p,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem
        ),
        bins AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(y) AS BIGINT) AS o1,
                   {o_fsum('p', 9)} AS e1
            FROM scored GROUP BY bin
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(n_g) AS BIGINT) AS n,
               {o_ordered_fold_sum(
                   'bin',
                   '(CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / (e1 * (1 -'
                   ' e1 / n_g))',
               )} AS hl_stat,
               CAST(COUNT(*) - 2 AS BIGINT) AS df
        FROM bins
    """,
)
def ml_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit for the family's deterministic
    probability model p = quantity/51 against the observed return
    flag, over 10 fixed score bins: HL = sum_g (O_g - E_g)^2 /
    (E_g (1 - E_g/n_g)) — the calibration CHI-SQUARE that complements
    ml_calibration_bins (per-bin table) and ml_calibration_ece
    (weighted gap) with an actual test statistic, df = bins - 2.
    Expected counts sum the per-row p through the floor-1e9 exact
    reduction (engine-order-free); observed counts are exact ints;
    the 10 bin terms fold in PINNED bin order. Fixed-width quantity
    bins (not quantile bins) keep the binning engine-exact. E_g in
    (0, n_g) by construction of p (quantity 1..50 over 51), so the
    denominator never degenerates."""
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.least(F.lit(9), F.floor((F.col("l_quantity") - 1) / 5))
        .cast("bigint")
        .alias("bin"),
        (F.col("l_quantity") / F.lit(51.0)).alias("p"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y").cast("bigint").alias("o1"),
        (
            as_d(
                F.sum(
                    F.floor(F.col("p") * F.lit(1e9)).cast("decimal(38,0)")
                ).cast("decimal(38,0)")
            )
            / F.lit(1e9)
        ).alias("e1"),
    )
    term = (F.col("o1").cast("double") - F.col("e1")) * (
        F.col("o1").cast("double") - F.col("e1")
    ) / (F.col("e1") * (1 - F.col("e1") / F.col("n_g")))
    return bins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n_g").cast("bigint").alias("n"),
        ordered_fold_sum(F.col("bin"), term).alias("hl_stat"),
        (F.count(F.lit(1)) - 2).cast("bigint").alias("df"),
    )


@register(
    "ml_mcc_multiclass",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH labeled AS (
            SELECT l_returnflag AS truth,
                   CASE WHEN l_quantity < 17 THEN 'A'
                        WHEN l_quantity < 34 THEN 'N'
                        ELSE 'R' END AS pred
            FROM lineitem
        ),
        cells AS (
            SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n
            FROM labeled GROUP BY truth, pred
        ),
        t AS (SELECT truth AS k, CAST(SUM(n) AS BIGINT) AS tk
              FROM cells GROUP BY truth),
        p AS (SELECT pred AS k, CAST(SUM(n) AS BIGINT) AS pk
              FROM cells GROUP BY pred),
        marg AS (
            SELECT COALESCE(t.k, p.k) AS k,
                   COALESCE(t.tk, 0) AS tk,
                   COALESCE(p.pk, 0) AS pk
            FROM t FULL OUTER JOIN p ON p.k = t.k
        ),
        m AS (
            SELECT CAST(SUM(CAST(tk AS DECIMAL(38,0)) * pk)
                        AS DECIMAL(38,0)) AS sum_tp,
                   CAST(SUM(CAST(tk AS DECIMAL(38,0)) * tk)
                        AS DECIMAL(38,0)) AS sum_t2,
                   CAST(SUM(CAST(pk AS DECIMAL(38,0)) * pk)
                        AS DECIMAL(38,0)) AS sum_p2
            FROM marg
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS s,
                   CAST(SUM(CASE WHEN truth = pred THEN n ELSE 0 END)
                        AS BIGINT) AS c
            FROM cells
        )
        SELECT tot.s AS n, tot.c AS n_correct,
               CAST(tot.c AS DOUBLE) / tot.s AS accuracy,
               CASE WHEN (CAST(tot.s AS DOUBLE) * tot.s
                          - CAST(CAST(m.sum_t2 AS VARCHAR) AS DOUBLE)) > 0
                         AND (CAST(tot.s AS DOUBLE) * tot.s
                              - CAST(CAST(m.sum_p2 AS VARCHAR) AS DOUBLE)) > 0
               THEN
                 (CAST(tot.c AS DOUBLE) * tot.s
                  - CAST(CAST(m.sum_tp AS VARCHAR) AS DOUBLE))
                 / sqrt((CAST(tot.s AS DOUBLE) * tot.s
                         - CAST(CAST(m.sum_t2 AS VARCHAR) AS DOUBLE))
                        * (CAST(tot.s AS DOUBLE) * tot.s
                           - CAST(CAST(m.sum_p2 AS VARCHAR) AS DOUBLE)))
               END AS mcc
        FROM tot CROSS JOIN m
    """,
)
def ml_mcc_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass Matthews correlation (Gorodkin's R_K) of a fixed
    quantity-threshold classifier against the 3-class return flag:
    R_K = (c*s - sum_k t_k p_k) / sqrt((s^2 - sum t_k^2)(s^2 - sum
    p_k^2)) — the chance-corrected accuracy that stays honest under
    class imbalance, generalizing ml_mcc_binary to the full confusion
    matrix. Marginals live on the <= 3-row class relation (full outer
    join of truth/pred counts so a class never predicted still enters
    p_k = 0); products accumulate in DECIMAL(38,0) (s^2 ~ 3.6e13 at
    sf1, safe past sf100) and convert once. The degenerate
    single-class edges (either marginal concentrated on one class)
    NULL R_K identically on both engines. One corpus hash agg on the
    9-cell confusion."""
    li = load_table(spark, sf_dir, "lineitem")
    labeled = li.select(
        F.col("l_returnflag").alias("truth"),
        F.when(F.col("l_quantity") < 17, "A")
        .when(F.col("l_quantity") < 34, "N")
        .otherwise("R")
        .alias("pred"),
    )
    cells = labeled.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = cells.groupBy(F.col("truth").alias("k")).agg(
        F.sum("n").cast("bigint").alias("tk")
    )
    p = cells.groupBy(F.col("pred").alias("k2")).agg(
        F.sum("n").cast("bigint").alias("pk")
    )
    marg = t.join(p, t.k == p.k2, "full").select(
        F.coalesce(F.col("tk"), F.lit(0)).alias("tk"),
        F.coalesce(F.col("pk"), F.lit(0)).alias("pk"),
    )
    m = marg.agg(
        F.sum(F.col("tk").cast("decimal(38,0)") * F.col("pk"))
        .cast("decimal(38,0)")
        .alias("sum_tp"),
        F.sum(F.col("tk").cast("decimal(38,0)") * F.col("tk"))
        .cast("decimal(38,0)")
        .alias("sum_t2"),
        F.sum(F.col("pk").cast("decimal(38,0)") * F.col("pk"))
        .cast("decimal(38,0)")
        .alias("sum_p2"),
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.when(F.col("truth") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    s_d = F.col("s").cast("double")
    den_t = s_d * F.col("s") - as_d(F.col("sum_t2"))
    den_p = s_d * F.col("s") - as_d(F.col("sum_p2"))
    return tot.crossJoin(F.broadcast(m)).select(
        F.col("s").alias("n"),
        F.col("c").alias("n_correct"),
        (F.col("c").cast("double") / F.col("s")).alias("accuracy"),
        F.when(
            (den_t > 0) & (den_p > 0),
            (F.col("c").cast("double") * F.col("s") - as_d(F.col("sum_tp")))
            / F.sqrt(den_t * den_p),
        ).alias("mcc"),
    )


@register(
    "ml_ips_offpolicy",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH logged AS (
            SELECT c.c_mktsegment AS ctx,
                   o.o_orderpriority AS action,
                   CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS r
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        ctx_tot AS (
            SELECT ctx, CAST(COUNT(*) AS BIGINT) AS n_ctx
            FROM logged GROUP BY ctx
        ),
        tgt AS (
            SELECT l.ctx,
                   CAST(COUNT(*) AS BIGINT) AS n_a,
                   CAST(SUM(r) AS BIGINT) AS r_a
            FROM logged l WHERE l.action = '2-HIGH'
            GROUP BY l.ctx
        ),
        n AS (SELECT CAST(SUM(n_ctx) AS BIGINT) AS n FROM ctx_tot),
        terms AS (
            SELECT ct.ctx,
                   CAST(ct.n_ctx AS DOUBLE) * tgt.r_a / tgt.n_a AS wr,
                   CAST(ct.n_ctx AS DOUBLE) AS w
            FROM ctx_tot ct JOIN tgt ON tgt.ctx = ct.ctx
        )
        SELECT n.n,
               {o_ordered_fold_sum('ctx', 'wr')} / n.n
                   AS ips_value,
               {o_ordered_fold_sum('ctx', 'wr')}
                 / {o_ordered_fold_sum('ctx', 'w')}
                   AS snips_value
        FROM terms CROSS JOIN n
        GROUP BY n.n
    """,
)
def ml_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring: what
    fulfillment rate WOULD the deterministic policy "always 2-HIGH"
    have achieved, estimated from logs where priorities were assigned
    by the historical process? Context = market segment; empirical
    propensity p(a|ctx) = n_a/n_ctx; IPS = (1/n) sum 1{a=target} r /
    p(a|ctx), which reduces EXACTLY to (1/n) sum_ctx n_ctx * r_a/n_a
    — group-level integer arithmetic, no per-row weights. SNIPS
    (self-normalized) divides by sum of weights instead of n, the
    variance-reduced estimator production OPE uses. The 5 context
    terms fold in pinned order. A context with no target-action logs
    drops out of BOTH estimators identically (inner join) — the
    standard undefined-propensity exclusion, documented."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    logged = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("ctx"),
        F.col("o_orderpriority").alias("action"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("r"),
    )
    ctx_tot = logged.groupBy("ctx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ctx")
    )
    tgt = (
        logged.filter(F.col("action") == "2-HIGH")
        .groupBy("ctx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_a"),
            F.sum("r").cast("bigint").alias("r_a"),
        )
    )
    n = ctx_tot.agg(F.sum("n_ctx").cast("bigint").alias("n"))
    terms = ctx_tot.join(tgt, "ctx").select(
        "ctx",
        (F.col("n_ctx").cast("double") * F.col("r_a") / F.col("n_a")).alias(
            "wr"
        ),
        F.col("n_ctx").cast("double").alias("w"),
    )
    agg = terms.agg(
        ordered_fold_sum(F.col("ctx"), F.col("wr")).alias("sum_wr"),
        ordered_fold_sum(F.col("ctx"), F.col("w")).alias("sum_w"),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "n",
        (F.col("sum_wr") / F.col("n")).alias("ips_value"),
        (F.col("sum_wr") / F.col("sum_w")).alias("snips_value"),
    )


@register(
    "ml_fbeta_grid",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH conf AS (
            SELECT CAST(COUNT(*) FILTER (WHERE l_quantity >= 25
                        AND l_returnflag = 'R') AS BIGINT) AS tp,
                   CAST(COUNT(*) FILTER (WHERE l_quantity >= 25
                        AND l_returnflag <> 'R') AS BIGINT) AS fp,
                   CAST(COUNT(*) FILTER (WHERE l_quantity < 25
                        AND l_returnflag = 'R') AS BIGINT) AS fn
            FROM lineitem
        )
        SELECT b.beta, conf.tp, conf.fp, conf.fn,
               CAST(conf.tp AS DOUBLE) / (conf.tp + conf.fp) AS precision_,
               CAST(conf.tp AS DOUBLE) / (conf.tp + conf.fn) AS recall_,
               CASE WHEN (1 + b.beta * b.beta) * conf.tp
                         + b.beta * b.beta * conf.fn + conf.fp > 0 THEN
                 (1 + b.beta * b.beta) * CAST(conf.tp AS DOUBLE)
                   / ((1 + b.beta * b.beta) * conf.tp
                      + b.beta * b.beta * conf.fn + conf.fp)
               END AS fbeta
        FROM conf
        CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                                   CAST(1.0 AS DOUBLE),
                                   CAST(2.0 AS DOUBLE)]) AS beta) b
        ORDER BY b.beta
    """,
)
def ml_fbeta_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-beta scores at beta in {0.5, 1, 2} for the fixed
    quantity >= 25 classifier against the return flag — the
    precision-weighted / balanced / recall-weighted triple every
    precision-recall tradeoff review wants side by side
    (ml_threshold_sweep sweeps thresholds at F1; this sweeps beta at
    one threshold). The smoothed form Fb = (1+b^2)tp / ((1+b^2)tp +
    b^2 fn + fp) avoids the P,R intermediate divisions; the confusion
    cells are exact integers from one agg, fanned over a broadcast
    3-row beta grid. Fb NULLs only when tp=fp=fn=0 (no positives
    anywhere — impossible on this fixture, guarded identically)."""
    li = load_table(spark, sf_dir, "lineitem")
    conf = li.agg(
        F.sum(
            F.when(
                (F.col("l_quantity") >= 25) & (F.col("l_returnflag") == "R"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.sum(
            F.when(
                (F.col("l_quantity") >= 25) & (F.col("l_returnflag") != "R"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 25) & (F.col("l_returnflag") == "R"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fn"),
    )
    betas = spark.createDataFrame([(0.5,), (1.0,), (2.0,)], "beta double")
    b2 = F.col("beta") * F.col("beta")
    denom = (1 + b2) * F.col("tp") + b2 * F.col("fn") + F.col("fp")
    return (
        conf.crossJoin(F.broadcast(betas))
        .select(
            "beta",
            "tp",
            "fp",
            "fn",
            (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
                "precision_"
            ),
            (F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias(
                "recall_"
            ),
            F.when(
                denom > 0,
                (1 + b2) * F.col("tp").cast("double") / denom,
            ).alias("fbeta"),
        )
        .orderBy("beta")
    )


# ---------------------------------------------------------------------------
# Integer-exact learning primitives on the embedding fixture: the
# first 4 dims quantized to micro-units (q = floor(e * 1e6), exact —
# float->double widening is lossless and floor is IEEE), label
# y = [q0 + q1 >= 0] — the linearly-separable _logreg_features recipe
# with every input integerized so training is rational end-to-end.


_ML_FEATS_SQL = """
        feats AS (
            SELECT vec_id,
                   CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)
                       AS q0,
                   CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT)
                       AS q1,
                   CAST(FLOOR(CAST(embedding[3] AS DOUBLE) * 1e6) AS BIGINT)
                       AS q2,
                   CAST(FLOOR(CAST(embedding[4] AS DOUBLE) * 1e6) AS BIGINT)
                       AS q3
            FROM embeddings
        ),
        lab AS (
            SELECT vec_id, q0, q1, q2, q3,
                   CASE WHEN q0 + q1 >= 0 THEN 1 ELSE -1 END AS y
            FROM feats
        )
"""


def _ml_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cols = [
        F.floor(F.col("embedding")[i].cast("double") * F.lit(1e6))
        .cast("bigint")
        .alias(f"q{i}")
        for i in range(4)
    ]
    feats = e.select("vec_id", *cols)
    return feats.withColumn(
        "y",
        F.when(F.col("q0") + F.col("q1") >= 0, 1).otherwise(-1),
    )


@register(
    "ml_perceptron_2round",
    tags=("ml", "iterative", "agg"),
    oracle=f"""
        WITH {_ML_FEATS_SQL},
        w1 AS (
            SELECT CAST(SUM(CAST(y AS DECIMAL(20,0)))      AS BIGINT) AS w0,
                   CAST(SUM(CAST(y AS DECIMAL(20,0)) * q0) AS BIGINT) AS wa,
                   CAST(SUM(CAST(y AS DECIMAL(20,0)) * q1) AS BIGINT) AS wb,
                   CAST(SUM(CAST(y AS DECIMAL(20,0)) * q2) AS BIGINT) AS wc,
                   CAST(SUM(CAST(y AS DECIMAL(20,0)) * q3) AS BIGINT) AS wd
            FROM lab
        ),
        m2 AS (
            SELECT l.*,
                   CAST(l.y AS DECIMAL(38,0))
                   * (CAST(w1.w0 AS DECIMAL(25,0))
                      + CAST(w1.wa AS DECIMAL(25,0)) * l.q0
                      + CAST(w1.wb AS DECIMAL(25,0)) * l.q1
                      + CAST(w1.wc AS DECIMAL(25,0)) * l.q2
                      + CAST(w1.wd AS DECIMAL(25,0)) * l.q3) AS margin
            FROM lab l CROSS JOIN w1
        ),
        w2 AS (
            SELECT CAST(MAX(w1.w0) + SUM(CASE WHEN m2.margin <= 0
                            THEN m2.y ELSE 0 END) AS BIGINT) AS w0,
                   CAST(MAX(w1.wa) + SUM(CASE WHEN m2.margin <= 0
                            THEN m2.y * m2.q0 ELSE 0 END) AS BIGINT) AS wa,
                   CAST(MAX(w1.wb) + SUM(CASE WHEN m2.margin <= 0
                            THEN m2.y * m2.q1 ELSE 0 END) AS BIGINT) AS wb,
                   CAST(MAX(w1.wc) + SUM(CASE WHEN m2.margin <= 0
                            THEN m2.y * m2.q2 ELSE 0 END) AS BIGINT) AS wc,
                   CAST(MAX(w1.wd) + SUM(CASE WHEN m2.margin <= 0
                            THEN m2.y * m2.q3 ELSE 0 END) AS BIGINT) AS wd,
                   CAST(SUM(CASE WHEN m2.margin <= 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_updates
            FROM m2 CROSS JOIN w1
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lab) AS n,
               w2.w0, w2.wa AS w_q0, w2.wb AS w_q1, w2.wc AS w_q2,
               w2.wd AS w_q3, w2.n_updates,
               (SELECT CAST(SUM(CASE WHEN
                    CAST(l.y AS DECIMAL(38,0))
                    * (CAST(w2.w0 AS DECIMAL(25,0))
                       + CAST(w2.wa AS DECIMAL(25,0)) * l.q0
                       + CAST(w2.wb AS DECIMAL(25,0)) * l.q1
                       + CAST(w2.wc AS DECIMAL(25,0)) * l.q2
                       + CAST(w2.wd AS DECIMAL(25,0)) * l.q3) <= 0
                    THEN 1 ELSE 0 END) AS BIGINT) FROM lab l) AS err_after
        FROM w2
    """,
)
def ml_perceptron_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round BATCH perceptron on the quantized embedding features
    (Rosenblatt update, learning rate 1): w0 = 0 makes round 1's
    update the exact class-difference sum w1 = sum y*x (every margin
    is 0, hence 'misclassified'); round 2 adds sum y*x over rows w1
    still gets wrong; err_after counts w2's mistakes — the fixed-round
    unrolled-iteration pattern (ml_gbdt/vec_kmeans_unrolled2
    precedent) applied to the classic mistake-driven learner.
    EVERYTHING is integer: micro-unit features, +-1 labels, weight
    sums in DECIMAL(20,0), per-row margins as exact DECIMAL products
    (|w|*|q| < 1e21 at sf1000 — inside DECIMAL(38,0) to ~sf1e12). No
    float exists anywhere in this query. Scale: each round is one
    map-side-combining aggregate + a 1-row broadcast — the textbook
    distributed batch-GD shape with per-round lineage cut by the
    1-row weight relations."""
    lab = _ml_feats(spark, sf_dir)
    y_d = F.col("y").cast("decimal(20,0)")
    w1 = lab.agg(
        F.sum(y_d).cast("bigint").alias("w0"),
        F.sum(y_d * F.col("q0")).cast("bigint").alias("wa"),
        F.sum(y_d * F.col("q1")).cast("bigint").alias("wb"),
        F.sum(y_d * F.col("q2")).cast("bigint").alias("wc"),
        F.sum(y_d * F.col("q3")).cast("bigint").alias("wd"),
    )

    def margin(wp: str):
        return F.col("y").cast("decimal(38,0)") * (
            F.col(f"{wp}w0").cast("decimal(25,0)")
            + F.col(f"{wp}wa").cast("decimal(25,0)") * F.col("q0")
            + F.col(f"{wp}wb").cast("decimal(25,0)") * F.col("q1")
            + F.col(f"{wp}wc").cast("decimal(25,0)") * F.col("q2")
            + F.col(f"{wp}wd").cast("decimal(25,0)") * F.col("q3")
        )

    m2 = lab.crossJoin(F.broadcast(w1)).withColumn("margin", margin(""))
    mis = F.col("margin") <= 0
    w2 = m2.agg(
        (F.max("w0") + F.sum(F.when(mis, F.col("y")).otherwise(0)))
        .cast("bigint").alias("v0"),
        (F.max("wa") + F.sum(F.when(mis, F.col("y") * F.col("q0")).otherwise(0)))
        .cast("bigint").alias("va"),
        (F.max("wb") + F.sum(F.when(mis, F.col("y") * F.col("q1")).otherwise(0)))
        .cast("bigint").alias("vb"),
        (F.max("wc") + F.sum(F.when(mis, F.col("y") * F.col("q2")).otherwise(0)))
        .cast("bigint").alias("vc"),
        (F.max("wd") + F.sum(F.when(mis, F.col("y") * F.col("q3")).otherwise(0)))
        .cast("bigint").alias("vd"),
        F.sum(F.when(mis, 1).otherwise(0)).cast("bigint").alias("n_updates"),
    )
    w2r = w2.select(
        F.col("v0").alias("w2w0"),
        F.col("va").alias("w2wa"),
        F.col("vb").alias("w2wb"),
        F.col("vc").alias("w2wc"),
        F.col("vd").alias("w2wd"),
        "n_updates",
    )
    scored = lab.crossJoin(F.broadcast(w2r)).withColumn("m", margin("w2"))
    out = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("w2w0").alias("w0"),
        F.max("w2wa").alias("w_q0"),
        F.max("w2wb").alias("w_q1"),
        F.max("w2wc").alias("w_q2"),
        F.max("w2wd").alias("w_q3"),
        F.max("n_updates").alias("n_updates"),
        F.sum(F.when(F.col("m") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("err_after"),
    )
    return out.select(
        "n", "w0", "w_q0", "w_q1", "w_q2", "w_q3", "n_updates", "err_after"
    )


# ---------------------------------------------------------------------------
# ml_gini_feature_split — CART-style split scoring, fully integer bins


@register(
    "ml_gini_feature_split",
    tags=("ml", "agg", "window"),
    oracle=f"""
        WITH {_ML_FEATS_SQL},
        long AS (
            SELECT 0 AS f, q0 AS q, CASE WHEN y = 1 THEN 1 ELSE 0 END AS pos
            FROM lab
            UNION ALL SELECT 1, q1, CASE WHEN y = 1 THEN 1 ELSE 0 END FROM lab
            UNION ALL SELECT 2, q2, CASE WHEN y = 1 THEN 1 ELSE 0 END FROM lab
            UNION ALL SELECT 3, q3, CASE WHEN y = 1 THEN 1 ELSE 0 END FROM lab
        ),
        rngs AS (
            SELECT f, MIN(q) AS qmin, MAX(q) AS qmax FROM long GROUP BY f
        ),
        binned AS (
            SELECT long.f,
                   CAST(((long.q - rngs.qmin) * 8)
                        // (rngs.qmax - rngs.qmin + 1) AS BIGINT) AS bin,
                   long.pos
            FROM long JOIN rngs ON rngs.f = long.f
        ),
        cells AS (
            SELECT f, bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS p
            FROM binned GROUP BY f, bin
        ),
        cum AS (
            SELECT f, bin,
                   CAST(SUM(n) OVER (PARTITION BY f ORDER BY bin) AS BIGINT)
                       AS nl,
                   CAST(SUM(p) OVER (PARTITION BY f ORDER BY bin) AS BIGINT)
                       AS pl,
                   CAST(SUM(n) OVER (PARTITION BY f) AS BIGINT) AS nt,
                   CAST(SUM(p) OVER (PARTITION BY f) AS BIGINT) AS pt
            FROM cells
        ),
        scored AS (
            SELECT f, bin, nl, nt - nl AS nr,
                   (CAST(nt AS DOUBLE)
                    - (CAST(pt * pt AS DOUBLE)
                       + CAST((nt - pt) * (nt - pt) AS DOUBLE))
                      / CAST(nt AS DOUBLE))
                   - ((CAST(nl AS DOUBLE)
                       - (CAST(pl * pl AS DOUBLE)
                          + CAST((nl - pl) * (nl - pl) AS DOUBLE))
                         / CAST(nl AS DOUBLE))
                      + (CAST(nt - nl AS DOUBLE)
                         - (CAST((pt - pl) * (pt - pl) AS DOUBLE)
                            + CAST(((nt - nl) - (pt - pl))
                                   * ((nt - nl) - (pt - pl)) AS DOUBLE))
                           / CAST(nt - nl AS DOUBLE))) AS dec_abs
            FROM cum WHERE nl > 0 AND nt - nl > 0
        ),
        best AS (
            SELECT f, bin, nl, nr, dec_abs,
                   ROW_NUMBER() OVER (PARTITION BY f
                       ORDER BY dec_abs DESC, bin) AS rk
            FROM scored
        )
        SELECT CAST(f AS INT) AS feature, CAST(bin AS INT) AS best_bin,
               nl AS n_left, nr AS n_right,
               dec_abs / CAST((SELECT MAX(nt) FROM cum) AS DOUBLE)
                   AS gini_decrease
        FROM best WHERE rk = 1 ORDER BY feature
    """,
)
def ml_gini_feature_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART split scoring: for each of the 4 quantized embedding
    features, the 8-bin threshold maximizing the Gini impurity
    decrease n*G(parent) - [nL*G(L) + nR*G(R)] (reported per-sample) —
    the feature-ranking half of decision-tree induction, complementing
    ml_chi2_feature_select with the impurity criterion trees actually
    split on. Bins are PURE INTEGER arithmetic ((q - min) * 8 //
    (max - min + 1) — BIGINT div, no float bin edges); count
    squares stay in BIGINT (ceiling ~sf4e3 on p^2*...; products cast
    to double ONCE each); the decrease is one fixed-parenthesization
    double expression and the per-feature argmax tie-breaks on bin.
    Degenerate single-side splits are excluded exactly (nl/nr > 0).
    Scale: one scan into a 4x8-cell agg; everything downstream is
    grid-sized."""
    lab = _ml_feats(spark, sf_dir)
    parts = []
    for f in range(4):
        parts.append(
            lab.select(
                F.lit(f).alias("f"),
                F.col(f"q{f}").alias("q"),
                F.when(F.col("y") == 1, 1).otherwise(0).alias("pos"),
            )
        )
    long = parts[0].unionByName(parts[1]).unionByName(parts[2]).unionByName(
        parts[3]
    )
    rngs = long.groupBy("f").agg(
        F.min("q").alias("qmin"), F.max("q").alias("qmax")
    )
    binned = long.join(F.broadcast(rngs), "f").select(
        "f",
        F.expr("CAST(((q - qmin) * 8) div (qmax - qmin + 1) AS BIGINT)")
        .alias("bin"),
        "pos",
    )
    cells = binned.groupBy("f", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    wcum = Window.partitionBy("f").orderBy("bin")
    wall = Window.partitionBy("f")
    cum = cells.select(
        "f",
        "bin",
        F.sum("n").over(wcum).cast("bigint").alias("nl"),
        F.sum("p").over(wcum).cast("bigint").alias("pl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("p").over(wall).cast("bigint").alias("pt"),
    )
    nl, pl = F.col("nl"), F.col("pl")
    nt, pt = F.col("nt"), F.col("pt")
    nr, pr = nt - nl, pt - pl

    def gini_term(nn, pp):
        return nn.cast("double") - (
            (pp * pp).cast("double") + ((nn - pp) * (nn - pp)).cast("double")
        ) / nn.cast("double")

    scored = cum.filter((nl > 0) & (nr > 0)).select(
        "f",
        "bin",
        "nl",
        nr.alias("nr"),
        "nt",
        (gini_term(nt, pt) - (gini_term(nl, pl) + gini_term(nr, pr))).alias(
            "dec_abs"
        ),
    )
    wbest = Window.partitionBy("f").orderBy(F.col("dec_abs").desc(), "bin")
    return (
        scored.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            F.col("f").cast("int").alias("feature"),
            F.col("bin").cast("int").alias("best_bin"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            (F.col("dec_abs") / F.col("nt").cast("double")).alias(
                "gini_decrease"
            ),
        )
        .orderBy("feature")
    )


# ---------------------------------------------------------------------------
# ml_macro_f1 — multiclass macro-averaged F1 of a bin-majority model


@register(
    "ml_macro_f1",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH rng AS (
            SELECT MIN(o_totalprice) AS pmin, MAX(o_totalprice) AS pmax
            FROM orders
        ),
        coded AS (
            SELECT o_orderpriority AS actual,
                   CASE WHEN pmax = pmin THEN 0
                        ELSE LEAST(7, CAST(FLOOR(
                       (CAST(o_totalprice AS DOUBLE)
                        - CAST(pmin AS DOUBLE))
                       / ((CAST(pmax AS DOUBLE) - CAST(pmin AS DOUBLE))
                          / CAST(8 AS DOUBLE))) AS INT)) END AS bin
            FROM orders CROSS JOIN rng
        ),
        binmaj AS (
            SELECT bin, MAX({{'cnt': cnt, 'cl': actual}}).cl AS pred
            FROM (SELECT bin, actual, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM coded GROUP BY bin, actual)
            GROUP BY bin
        ),
        conf AS (
            SELECT c.actual, b.pred, CAST(COUNT(*) AS BIGINT) AS n
            FROM coded c JOIN binmaj b ON b.bin = c.bin
            GROUP BY c.actual, b.pred
        ),
        cls AS (SELECT DISTINCT actual AS cl FROM coded),
        perclass AS (
            SELECT cls.cl,
                   CAST(COALESCE(SUM(CASE WHEN conf.actual = cls.cl
                                           AND conf.pred = cls.cl
                                     THEN conf.n END), 0) AS BIGINT) AS tp,
                   CAST(COALESCE(SUM(CASE WHEN conf.pred = cls.cl
                                           AND conf.actual <> cls.cl
                                     THEN conf.n END), 0) AS BIGINT) AS fp,
                   CAST(COALESCE(SUM(CASE WHEN conf.actual = cls.cl
                                           AND conf.pred <> cls.cl
                                     THEN conf.n END), 0) AS BIGINT) AS fn
            FROM cls LEFT JOIN conf ON TRUE
            GROUP BY cls.cl
        ),
        scored AS (
            SELECT cl, tp, fp, fn,
                   CASE WHEN 2 * tp + fp + fn > 0 THEN
                     CAST(2 * tp AS DOUBLE)
                       / CAST(2 * tp + fp + fn AS DOUBLE)
                   ELSE CAST(0 AS DOUBLE) END AS f1
            FROM perclass
        ),
        mac AS (
            SELECT {o_ordered_fold_sum('cl', 'f1')}
                     / CAST(COUNT(*) AS DOUBLE) AS macro_f1
            FROM scored
        )
        SELECT s.cl AS class, s.tp, s.fp, s.fn, s.f1, m.macro_f1
        FROM scored s CROSS JOIN mac m
        ORDER BY class
    """,
)
def ml_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged F1 of the bin-majority classifier that predicts
    order PRIORITY from the order-value octile (train = score =
    resubstitution, documented): per-class F1 = 2TP/(2TP+FP+FN) — the
    multiclass counterpart of ml_fbeta_grid's binary scores and the
    number reported by every imbalanced-multiclass eval. The majority
    label per bin is an exact integer argmax (max (count, class)
    struct — ties break to the lexicographically LARGEST class,
    identical in both engines' struct/ROW ordering); the confusion
    marginals are integer sums; each F1 is one guarded division
    (convention: no-support classes score 0, not NULL); the macro
    average is an ORDER-PINNED fold over the class list divided by the
    class count. Scale: two scans + grid-sized joins; the class
    relation is 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_totalprice").alias("pmin"), F.max("o_totalprice").alias("pmax")
    )
    coded = o.crossJoin(F.broadcast(rng)).select(
        F.col("o_orderpriority").alias("actual"),
        F.when(F.col("pmax") == F.col("pmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(7),
                F.floor(
                    (F.col("o_totalprice").cast("double")
                     - F.col("pmin").cast("double"))
                    / ((F.col("pmax").cast("double")
                        - F.col("pmin").cast("double")) / F.lit(8.0))
                ).cast("int"),
            )
        ).alias("bin"),
    )
    binmaj = (
        coded.groupBy("bin", "actual")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .groupBy("bin")
        .agg(F.max(F.struct("cnt", "actual")).alias("best"))
        .select("bin", F.col("best.actual").alias("pred"))
    )
    conf = (
        coded.join(F.broadcast(binmaj), "bin")
        .groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cls = coded.select(F.col("actual").alias("cl")).distinct()
    perclass = (
        cls.crossJoin(F.broadcast(conf))
        .groupBy("cl")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("actual") == F.col("cl"))
                        & (F.col("pred") == F.col("cl")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("pred") == F.col("cl"))
                        & (F.col("actual") != F.col("cl")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("fp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("actual") == F.col("cl"))
                        & (F.col("pred") != F.col("cl")),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("fn"),
        )
    )
    den = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    scored = perclass.select(
        "cl",
        "tp",
        "fp",
        "fn",
        F.when(den > 0, (2 * F.col("tp")).cast("double") / den.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )
    mac = scored.agg(
        (
            ordered_fold_sum(F.col("cl"), F.col("f1"))
            / F.count(F.lit(1)).cast("double")
        ).alias("macro_f1")
    )
    return (
        scored.crossJoin(F.broadcast(mac))
        .select(
            F.col("cl").alias("class"), "tp", "fp", "fn", "f1", "macro_f1"
        )
        .orderBy("class")
    )


# ---------------------------------------------------------------------------
# ml_average_precision_at_k — retrieval AP@10 on the cosine ranking


@register(
    "ml_average_precision_at_k",
    tags=("ml", "eval", "vector"),
    oracle=f"""
        WITH q AS (
            SELECT embedding AS qe, label AS ql FROM embeddings
            WHERE vec_id = 0
        ),
        scored AS (
            SELECT e.vec_id,
                   CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel,
                   list_sum(list_transform(list_zip(q.qe, e.embedding),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(q.qe,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                       AS cos_sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> 0
        ),
        ranked AS (
            SELECT rel,
                   ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rk,
                   SUM(rel) OVER (ORDER BY cos_sim DESC, vec_id) AS cum_rel
            FROM scored
        ),
        rtot AS (
            SELECT CAST(SUM(rel) AS BIGINT) AS n_relevant FROM scored
        ),
        ap AS (
            SELECT {o_ordered_fold_sum(
                'rk',
                'CAST(rel AS DOUBLE) * (CAST(cum_rel AS DOUBLE) / CAST(rk AS DOUBLE))',
            )} AS num
            FROM ranked WHERE rk <= 10
        )
        SELECT rtot.n_relevant,
               CASE WHEN LEAST(rtot.n_relevant, 10) > 0 THEN
                 ap.num / CAST(LEAST(rtot.n_relevant, 10) AS DOUBLE)
               END AS ap_at_10
        FROM rtot CROSS JOIN ap
    """,
)
def ml_average_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision at k=10 for the retrieval task 'find vectors
    sharing query 0's label' ranked by exact cosine: AP@10 =
    sum_{k<=10} rel_k * P@k / min(R, 10) — the single-query building
    block of MAP, the ranking-quality number IR evals report alongside
    recall (vec_recall_curve). The ranking reuses the proven exact
    cosine machinery (sequential-fold dot product, deterministic
    (sim, id) tie-break); rel and cum_rel are integers; the 10
    precision terms are single divisions folded in ORDER-PINNED rank
    order; the normalizer min(R, 10) is exact. R = 0 NULLs identically
    (cannot occur at shipped SFs — labels repeat; asserted by the
    reference test). Scale: one broadcast-query scan + a top-10
    window."""
    from finance_etl_spark.functions.vectors import cosine

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("label").alias("ql")
    )
    scored = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.when(F.col("label") == F.col("ql"), 1).otherwise(0).alias("rel"),
        cosine("qe", "embedding").alias("cos_sim"),
    )
    wrk = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    ranked = scored.select(
        "rel",
        F.row_number().over(wrk).alias("rk"),
        F.sum("rel").over(wrk).alias("cum_rel"),
    )
    rtot = scored.agg(F.sum("rel").cast("bigint").alias("n_relevant"))
    ap = ranked.filter(F.col("rk") <= 10).agg(
        ordered_fold_sum(
            F.col("rk"),
            F.col("rel").cast("double")
            * (F.col("cum_rel").cast("double") / F.col("rk").cast("double")),
        ).alias("num")
    )
    kk = F.least(F.col("n_relevant"), F.lit(10))
    return (
        rtot.crossJoin(F.broadcast(ap))
        .select(
            "n_relevant",
            F.when(kk > 0, F.col("num") / kk.cast("double")).alias("ap_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# ml_split_balance_audit — md5 train/test split stratification check


@register(
    "ml_split_balance_audit",
    tags=("ml", "dq", "agg"),
    oracle="""
        WITH gated AS (
            SELECT o_orderpriority AS class,
                   CASE WHEN CAST('0x' || SUBSTRING(
                            md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT)
                        < 52429 THEN 1 ELSE 0 END AS is_train
            FROM orders
        ),
        per AS (
            SELECT class,
                   CAST(SUM(is_train) AS BIGINT) AS n_train,
                   CAST(SUM(1 - is_train) AS BIGINT) AS n_test
            FROM gated GROUP BY class
        ),
        gtot AS (
            SELECT CAST(SUM(n_train) AS BIGINT) AS gt,
                   CAST(SUM(n_train + n_test) AS BIGINT) AS gn
            FROM per
        )
        SELECT class, n_train, n_test,
               CAST(n_train AS DOUBLE) / CAST(n_train + n_test AS DOUBLE)
                   AS train_frac,
               CAST(n_train AS DOUBLE) / CAST(n_train + n_test AS DOUBLE)
                 - CAST(gt AS DOUBLE) / CAST(gn AS DOUBLE) AS dev_from_global
        FROM per CROSS JOIN gtot
        ORDER BY class
    """,
)
def ml_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit of the deterministic md5 80/20 train/test
    split (16-bit gate < 52429 = floor(0.8*65536), the
    cur_stratified_sample recipe): per priority class, the realized
    train fraction and its deviation from the global split rate —
    the pre-training balance check every pipeline should run before
    trusting a hash split (a skewed class here means the key
    correlates with the hash, i.e. a broken ladder). Counts are
    conditional-sum integers; fractions are single divisions; the
    deviation subtracts two identically-computed doubles. Every class
    is non-empty by the fixture schema (priority is NOT NULL). One
    scan, one 5-row agg."""
    o = load_table(spark, sf_dir, "orders")
    gate = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    gated = o.select(
        F.col("o_orderpriority").alias("class"),
        F.when(gate < 52429, 1).otherwise(0).alias("is_train"),
    )
    per = gated.groupBy("class").agg(
        F.sum("is_train").cast("bigint").alias("n_train"),
        F.sum(1 - F.col("is_train")).cast("bigint").alias("n_test"),
    )
    glob = per.agg(
        F.sum("n_train").cast("bigint").alias("gt"),
        F.sum(F.col("n_train") + F.col("n_test")).cast("bigint").alias("gn"),
    )
    frac = F.col("n_train").cast("double") / (
        F.col("n_train") + F.col("n_test")
    ).cast("double")
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "class",
            "n_train",
            "n_test",
            frac.alias("train_frac"),
            (frac - F.col("gt").cast("double") / F.col("gn").cast("double"))
            .alias("dev_from_global"),
        )
        .orderBy("class")
    )


# ---------------------------------------------------------------------------
# ml_topk_accuracy — top-1 / top-2 accuracy of the bin-majority model


@register(
    "ml_topk_accuracy",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH rng AS (
            SELECT MIN(o_totalprice) AS pmin, MAX(o_totalprice) AS pmax
            FROM orders
        ),
        coded AS (
            SELECT o_orderpriority AS actual,
                   CASE WHEN pmax = pmin THEN 0
                        ELSE LEAST(7, CAST(FLOOR(
                       (CAST(o_totalprice AS DOUBLE)
                        - CAST(pmin AS DOUBLE))
                       / ((CAST(pmax AS DOUBLE) - CAST(pmin AS DOUBLE))
                          / CAST(8 AS DOUBLE))) AS INT)) END AS bin
            FROM orders CROSS JOIN rng
        ),
        ranked AS (
            SELECT bin, actual AS cl,
                   ROW_NUMBER() OVER (PARTITION BY bin
                       ORDER BY COUNT(*) DESC, actual) AS rk
            FROM coded GROUP BY bin, actual
        ),
        hits AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN r.rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS top1,
                   CAST(SUM(CASE WHEN r.rk <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS top2
            FROM coded c
            LEFT JOIN ranked r ON r.bin = c.bin AND r.cl = c.actual
        )
        SELECT n, top1 AS top1_correct, top2 AS top2_correct,
               CAST(top1 AS DOUBLE) / CAST(n AS DOUBLE) AS top1_acc,
               CAST(top2 AS DOUBLE) / CAST(n AS DOUBLE) AS top2_acc
        FROM hits
    """,
)
def ml_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 / top-2 accuracy of the bin-majority priority classifier
    (the ml_macro_f1 model viewed as a RANKING over classes per bin,
    count-desc with class-asc tie-break): a row scores at k if its
    actual class ranks within the bin's top k — the eval that matters
    when the consumer takes the model's top-k candidates rather than
    its argmax. Rankings are integer counts with a deterministic
    tie-break; hits are integer conditional sums (actual classes
    absent from a bin rank NULL and miss exactly — LEFT join keeps the
    row in n); accuracies are single divisions. One scan + one
    grid-sized window."""
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_totalprice").alias("pmin"), F.max("o_totalprice").alias("pmax")
    )
    coded = o.crossJoin(F.broadcast(rng)).select(
        F.col("o_orderpriority").alias("actual"),
        F.when(F.col("pmax") == F.col("pmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(7),
                F.floor(
                    (F.col("o_totalprice").cast("double")
                     - F.col("pmin").cast("double"))
                    / ((F.col("pmax").cast("double")
                        - F.col("pmin").cast("double")) / F.lit(8.0))
                ).cast("int"),
            )
        ).alias("bin"),
    )
    wrk = Window.partitionBy("bin").orderBy(
        F.col("cnt").desc(), F.col("cl")
    )
    ranked = (
        coded.groupBy("bin", F.col("actual").alias("cl"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(wrk))
        .select("bin", "cl", "rk")
    )
    hits = (
        coded.join(
            F.broadcast(ranked),
            (coded.bin == ranked.bin) & (coded.actual == ranked.cl),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("top1"),
            F.sum(F.when(F.col("rk") <= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("top2"),
        )
    )
    return hits.select(
        "n",
        F.col("top1").alias("top1_correct"),
        F.col("top2").alias("top2_correct"),
        (F.col("top1").cast("double") / F.col("n").cast("double")).alias(
            "top1_acc"
        ),
        (F.col("top2").cast("double") / F.col("n").cast("double")).alias(
            "top2_acc"
        ),
    )


# ---------------------------------------------------------------------------
# ml_psi_stability — population stability index between two periods


@register(
    "ml_psi_stability",
    tags=("ml", "eval", "agg"),
    oracle=f"""
        WITH base AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS cents,
                   CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT)
                       AS yr
            FROM orders
            WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) IN (1995, 1996)
        ),
        rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM base),
        binned AS (
            SELECT CASE WHEN r.hi = r.lo THEN 0
                        ELSE LEAST(9, ((b.cents - r.lo) * 10)
                                      // (r.hi - r.lo + 1)) END AS bin,
                   b.yr
            FROM base b CROSS JOIN rng r
        ),
        spine AS (SELECT UNNEST(range(10)) AS bin),
        cnts AS (
            SELECT s.bin,
                   CAST(COALESCE(SUM(CASE WHEN yr = 1995 THEN 1 END), 0)
                        AS BIGINT) AS c_ref,
                   CAST(COALESCE(SUM(CASE WHEN yr = 1996 THEN 1 END), 0)
                        AS BIGINT) AS c_cur
            FROM spine s LEFT JOIN binned b ON b.bin = s.bin
            GROUP BY s.bin
        ),
        tots AS (
            SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_cur) AS BIGINT) AS n_cur
            FROM cnts
        ),
        terms AS (
            SELECT c.bin,
                   (CAST(c.c_ref + 1 AS DOUBLE) / CAST(t.n_ref + 10 AS DOUBLE)
                    - CAST(c.c_cur + 1 AS DOUBLE)
                      / CAST(t.n_cur + 10 AS DOUBLE))
                   * CAST(ln((CAST(c.c_ref + 1 AS DOUBLE)
                              / CAST(t.n_ref + 10 AS DOUBLE))
                             / (CAST(c.c_cur + 1 AS DOUBLE)
                                / CAST(t.n_cur + 10 AS DOUBLE)))
                       AS DECIMAL(12,6)) AS term
            FROM cnts c CROSS JOIN tots t
        )
        SELECT t.n_ref, t.n_cur,
               {o_ordered_fold_sum('bin', 'CAST(term AS DOUBLE)')} AS psi,
               CASE WHEN {o_ordered_fold_sum('bin', 'CAST(term AS DOUBLE)')}
                         < CAST('0.1' AS DOUBLE) THEN 'stable'
                    WHEN {o_ordered_fold_sum('bin', 'CAST(term AS DOUBLE)')}
                         < CAST('0.25' AS DOUBLE) THEN 'moderate_shift'
                    ELSE 'major_shift' END AS verdict
        FROM terms, tots t
        GROUP BY t.n_ref, t.n_cur
    """,
)
def ml_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the 1995 and 1996 order-value
    distributions — THE model-monitoring drift metric (PSI < 0.1
    stable, 0.1-0.25 watch, > 0.25 retrain): PSI = sum over bins of
    (p - q) ln(p/q) with +1 Laplace smoothing so empty bins are
    defined. Engine-exact: bins are pure INTEGER arithmetic
    (((cents - lo) * 10) div (hi - lo + 1), degenerate-range guarded),
    the 10-bin spine guarantees every bin exists on both engines,
    shares are exact-integer rationals, ln(p/q) quantizes to
    DECIMAL(12,6) per bin, and the 10-term sum folds in PINNED bin
    order. One scan + a 10-row grid; the verdict thresholds are
    string-routed shared constants."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.year(F.col("o_orderdate").cast("date")).alias("yr"),
    ).filter(F.col("yr").isin(1995, 1996))
    rng = base.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = base.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(9),
                F.expr("((cents - lo) * 10) DIV (hi - lo + 1)"),
            )
        )
        .alias("bin"),
        "yr",
    )
    spine = spark.range(10).select(F.col("id").alias("bin"))
    cnts = (
        spine.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1995, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("c_ref"),
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1996, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("c_cur"),
        )
    )
    tots = cnts.agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
    )
    p = (F.col("c_ref") + 1).cast("double") / (F.col("n_ref") + 10).cast(
        "double"
    )
    q = (F.col("c_cur") + 1).cast("double") / (F.col("n_cur") + 10).cast(
        "double"
    )
    term = (p - q) * F.log(p / q).cast("decimal(12,6)").cast("double")
    terms = cnts.crossJoin(F.broadcast(tots)).select(
        "bin", "n_ref", "n_cur", term.alias("term")
    )
    agg = terms.groupBy("n_ref", "n_cur").agg(
        ordered_fold_sum(F.col("bin"), F.col("term")).alias("psi")
    )
    return agg.select(
        "n_ref",
        "n_cur",
        "psi",
        F.when(F.col("psi") < F.lit("0.1").cast("double"), "stable")
        .when(F.col("psi") < F.lit("0.25").cast("double"), "moderate_shift")
        .otherwise("major_shift")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# ml_weighted_kappa — linear-weighted Cohen kappa for ordinal raters


@register(
    "ml_weighted_kappa",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH rng AS (
            SELECT MIN(o_totalprice) AS pmin, MAX(o_totalprice) AS pmax
            FROM orders
        ),
        coded AS (
            SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS i,
                   CASE WHEN pmax = pmin THEN 1
                        ELSE LEAST(4, CAST(FLOOR(
                       (CAST(o_totalprice AS DOUBLE)
                        - CAST(pmin AS DOUBLE))
                       / ((CAST(pmax AS DOUBLE) - CAST(pmin AS DOUBLE))
                          / CAST(5 AS DOUBLE))) AS INT)) + 1 END AS j
            FROM orders CROSS JOIN rng
        ),
        cells AS (
            SELECT i, j, CAST(COUNT(*) AS BIGINT) AS o
            FROM coded GROUP BY i, j
        ),
        ri AS (SELECT i, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY i),
        cj AS (SELECT j, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY j),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        od AS (
            SELECT CAST(SUM(CAST(o AS DECIMAL(38,0)) * ABS(i - j))
                        AS DECIMAL(38,0)) AS sum_od
            FROM cells
        ),
        ed AS (
            SELECT CAST(SUM(CAST(ri.r AS DECIMAL(38,0)) * cj.c
                            * ABS(ri.i - cj.j)) AS DECIMAL(38,0)) AS sum_ed
            FROM ri CROSS JOIN cj
        )
        SELECT t.n,
               CAST(CAST(od.sum_od AS VARCHAR) AS BIGINT) AS obs_disagree,
               CAST(CAST(ed.sum_ed AS VARCHAR) AS DOUBLE) AS exp_disagree_xn,
               CASE WHEN ed.sum_ed > 0 THEN
                 1.0 - (CAST(t.n AS DOUBLE)
                        * CAST(CAST(od.sum_od AS VARCHAR) AS DOUBLE))
                       / CAST(CAST(ed.sum_ed AS VARCHAR) AS DOUBLE)
               END AS weighted_kappa
        FROM tot t, od, ed
    """,
)
def ml_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-weighted Cohen kappa between two ORDINAL raters —
    priority (1..5) vs order-value quintile (1..5): kappa_w = 1 -
    (n * sum O_ij |i-j|) / (sum r_i c_j |i-j|) — the ordinal
    agreement measure where near-misses cost less than far misses
    (Cohen 1968), completing the agreement family next to the binary
    ml_cohen_kappa. Everything is exact integer/decimal arithmetic
    (cell disagreement mass, marginal-product expectation) up to ONE
    guarded double division; the quintile bin reuses stat_gk_gamma's
    guarded arithmetic. One scan + a 25-cell grid."""
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_totalprice").alias("pmin"), F.max("o_totalprice").alias("pmax")
    )
    coded = o.crossJoin(F.broadcast(rng)).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("i"),
        (
            F.when(F.col("pmax") == F.col("pmin"), F.lit(1)).otherwise(
                F.least(
                    F.lit(4),
                    F.floor(
                        (F.col("o_totalprice").cast("double")
                         - F.col("pmin").cast("double"))
                        / ((F.col("pmax").cast("double")
                            - F.col("pmin").cast("double")) / F.lit(5.0))
                    ).cast("int"),
                )
                + 1
            )
        ).alias("j"),
    )
    cells = coded.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    ).persist()
    ri = cells.groupBy("i").agg(F.sum("o").cast("bigint").alias("r"))
    cj = cells.groupBy("j").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    od = cells.agg(
        F.sum(
            F.col("o").cast("decimal(38,0)") * F.abs(F.col("i") - F.col("j"))
        )
        .cast("decimal(38,0)")
        .alias("sum_od")
    )
    ed = ri.crossJoin(cj).agg(
        F.sum(
            F.col("r").cast("decimal(38,0)")
            * F.col("c")
            * F.abs(F.col("i") - F.col("j"))
        )
        .cast("decimal(38,0)")
        .alias("sum_ed")
    )
    return (
        tot.crossJoin(F.broadcast(od))
        .crossJoin(F.broadcast(ed))
        .select(
            "n",
            F.col("sum_od").cast("string").cast("bigint").alias("obs_disagree"),
            F.col("sum_ed").cast("string").cast("double").alias(
                "exp_disagree_xn"
            ),
            F.when(
                F.col("sum_ed") > 0,
                F.lit(1.0)
                - (
                    F.col("n").cast("double")
                    * F.col("sum_od").cast("string").cast("double")
                )
                / F.col("sum_ed").cast("string").cast("double"),
            ).alias("weighted_kappa"),
        )
    )


# ---------------------------------------------------------------------------
# ml_cluster_ari — adjusted Rand index between two labelings


@register(
    "ml_cluster_ari",
    tags=("ml", "eval"),
    oracle="""
        WITH cells AS MATERIALIZED (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nij
            FROM documents GROUP BY lang, source
        ),
        sij AS (
            SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sum_ij
            FROM cells
        ),
        sa AS (
            SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS sum_a
            FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai
                  FROM cells GROUP BY lang)
        ),
        sb AS (
            SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS sum_b
            FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj
                  FROM cells GROUP BY source)
        ),
        tot AS (
            SELECT CAST(SUM(nij) AS BIGINT) AS n,
                   CAST((SUM(nij) * (SUM(nij) - 1)) // 2 AS BIGINT) AS c2n
            FROM cells
        )
        SELECT n, sum_ij, sum_a, sum_b, c2n,
               CASE WHEN (CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE))
                         / CAST(2 AS DOUBLE)
                      <> CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
                         / CAST(c2n AS DOUBLE)
               THEN
                 (CAST(sum_ij AS DOUBLE)
                    - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
                      / CAST(c2n AS DOUBLE))
                 / ((CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE))
                      / CAST(2 AS DOUBLE)
                    - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
                      / CAST(c2n AS DOUBLE))
               END AS ari
        FROM sij CROSS JOIN sa CROSS JOIN sb CROSS JOIN tot
    """,
)
def ml_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand index between the language and source partitions
    of the document corpus — the chance-corrected pair-counting
    agreement number used to score a clustering (e.g. the semantic-
    dedup k-means) against any reference labeling: ARI = (sum_ij C2 -
    E) / ((sum_a + sum_b)/2 - E), E = sum_a*sum_b/C2(n). Exactness:
    every C(x,2) = x(x-1) DIV 2 is an exact BIGINT (the product is
    always even), so the three pair sums and C2(n) are exact integers;
    ARI is one double expression parenthesized identically on both
    engines, NULL-guarded on the degenerate both-trivial-partitions
    case with the IDENTICAL predicate. Distributed shape: one
    contingency hash agg (cells bounded by |langs| x |sources|), then
    scalar state."""
    d = load_table_parallel(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    ).persist()
    sij = cells.agg(
        F.sum(F.expr("CAST((nij * (nij - 1)) DIV 2 AS BIGINT)"))
        .cast("bigint")
        .alias("sum_ij")
    )
    sa = (
        cells.groupBy("lang")
        .agg(F.sum("nij").cast("bigint").alias("ai"))
        .agg(
            F.sum(F.expr("CAST((ai * (ai - 1)) DIV 2 AS BIGINT)"))
            .cast("bigint")
            .alias("sum_a")
        )
    )
    sb = (
        cells.groupBy("source")
        .agg(F.sum("nij").cast("bigint").alias("bj"))
        .agg(
            F.sum(F.expr("CAST((bj * (bj - 1)) DIV 2 AS BIGINT)"))
            .cast("bigint")
            .alias("sum_b")
        )
    )
    tot = cells.agg(
        F.sum("nij").cast("bigint").alias("n"),
        F.expr(
            "CAST((SUM(nij) * (SUM(nij) - 1)) DIV 2 AS BIGINT)"
        ).alias("c2n"),
    )
    two = F.lit(2).cast("double")
    e_term = (
        F.col("sum_a").cast("double")
        * F.col("sum_b").cast("double")
        / F.col("c2n").cast("double")
    )
    m_term = (
        F.col("sum_a").cast("double") + F.col("sum_b").cast("double")
    ) / two
    ari = F.when(
        m_term != e_term,
        (F.col("sum_ij").cast("double") - e_term) / (m_term - e_term),
    )
    return (
        sij.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(tot))
        .select("n", "sum_ij", "sum_a", "sum_b", "c2n", ari.alias("ari"))
    )


# ---------------------------------------------------------------------------
# ml_cluster_nmi — normalized mutual information between two labelings


@register(
    "ml_cluster_nmi",
    tags=("ml", "eval"),
    oracle="""
        WITH cells AS MATERIALIZED (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nij
            FROM documents GROUP BY lang, source
        ),
        ai AS (SELECT lang, CAST(SUM(nij) AS BIGINT) AS ai
               FROM cells GROUP BY lang),
        bj AS (SELECT source, CAST(SUM(nij) AS BIGINT) AS bj
               FROM cells GROUP BY source),
        tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cells),
        mi_sum AS (
            SELECT CAST(CAST(SUM(
                     c.nij * CAST(ln(
                       (CAST(c.nij AS DOUBLE) * CAST(t.n AS DOUBLE))
                       / (CAST(a.ai AS DOUBLE) * CAST(b.bj AS DOUBLE))
                     ) AS DECIMAL(12,6))
                   ) AS VARCHAR) AS DOUBLE) AS mi_n
            FROM cells c
            JOIN ai a ON a.lang = c.lang
            JOIN bj b ON b.source = c.source
            CROSS JOIN tot t
        ),
        hx_sum AS (
            SELECT -CAST(CAST(SUM(
                     a.ai * CAST(ln(CAST(a.ai AS DOUBLE)
                                    / CAST(t.n AS DOUBLE))
                             AS DECIMAL(12,6))
                   ) AS VARCHAR) AS DOUBLE) AS hx_n
            FROM ai a CROSS JOIN tot t
        ),
        hy_sum AS (
            SELECT -CAST(CAST(SUM(
                     b.bj * CAST(ln(CAST(b.bj AS DOUBLE)
                                    / CAST(t.n AS DOUBLE))
                             AS DECIMAL(12,6))
                   ) AS VARCHAR) AS DOUBLE) AS hy_n
            FROM bj b CROSS JOIN tot t
        )
        SELECT n,
               mi_n / CAST(n AS DOUBLE) AS mi,
               hx_n / CAST(n AS DOUBLE) AS hx,
               hy_n / CAST(n AS DOUBLE) AS hy,
               CASE WHEN hx_n / CAST(n AS DOUBLE)
                         + hy_n / CAST(n AS DOUBLE) > CAST(0 AS DOUBLE)
               THEN CAST(2 AS DOUBLE) * (mi_n / CAST(n AS DOUBLE))
                    / (hx_n / CAST(n AS DOUBLE) + hy_n / CAST(n AS DOUBLE))
               END AS nmi
        FROM mi_sum CROSS JOIN hx_sum CROSS JOIN hy_sum CROSS JOIN tot
    """,
)
def ml_cluster_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between the language and source
    labelings (the information-theoretic sibling of ml_cluster_ari):
    NMI = 2*I(X;Y) / (H(X)+H(Y)). Engine-exact via the quantized-log
    recipe (text_ngram_entropy precedent): each cell's
    ln(nij*N/(ai*bj)) and each margin's ln(p) quantize to
    DECIMAL(12,6), so I*N, Hx*N, Hy*N are exact integer-by-decimal
    dot products; the three presentation divisions and the final
    ratio are shared double expressions parenthesized identically.
    Distributed shape: one contingency hash agg, margins broadcast
    (|langs| and |sources| are content-bounded), scalar state after."""
    d = load_table_parallel(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    ).persist()
    ai = cells.groupBy("lang").agg(F.sum("nij").cast("bigint").alias("ai"))
    bj = cells.groupBy("source").agg(
        F.sum("nij").cast("bigint").alias("bj")
    )
    tot = cells.agg(F.sum("nij").cast("bigint").alias("n"))
    mi_ln = F.log(
        (F.col("nij").cast("double") * F.col("n").cast("double"))
        / (F.col("ai").cast("double") * F.col("bj").cast("double"))
    ).cast("decimal(12,6)")
    mi_sum = (
        cells.join(F.broadcast(ai), "lang")
        .join(F.broadcast(bj), "source")
        .crossJoin(F.broadcast(tot))
        .agg(as_d(F.sum(F.col("nij") * mi_ln)).alias("mi_n"))
    )
    hx_ln = F.log(
        F.col("ai").cast("double") / F.col("n").cast("double")
    ).cast("decimal(12,6)")
    hx_sum = (
        ai.crossJoin(F.broadcast(tot))
        .agg((-as_d(F.sum(F.col("ai") * hx_ln))).alias("hx_n"))
    )
    hy_ln = F.log(
        F.col("bj").cast("double") / F.col("n").cast("double")
    ).cast("decimal(12,6)")
    hy_sum = (
        bj.crossJoin(F.broadcast(tot))
        .agg((-as_d(F.sum(F.col("bj") * hy_ln))).alias("hy_n"))
    )
    nd = F.col("n").cast("double")
    mi = F.col("mi_n") / nd
    hx = F.col("hx_n") / nd
    hy = F.col("hy_n") / nd
    nmi = F.when(
        hx + hy > F.lit(0).cast("double"), F.lit(2).cast("double") * mi / (hx + hy)
    )
    return (
        mi_sum.crossJoin(F.broadcast(hx_sum))
        .crossJoin(F.broadcast(hy_sum))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            mi.alias("mi"),
            hx.alias("hx"),
            hy.alias("hy"),
            nmi.alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# ml_balanced_accuracy — fixed-rule confusion summary


@register(
    "ml_balanced_accuracy",
    tags=("ml", "eval", "agg"),
    oracle="""
        WITH conf AS (
            SELECT l_linestatus AS status,
                   CAST(SUM(CASE WHEN l_discount >= 0.05
                            AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN l_discount >= 0.05
                            AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN l_discount < 0.05
                            AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN l_discount < 0.05
                            AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS tn
            FROM lineitem GROUP BY l_linestatus
        )
        SELECT status, tp, fp, fn, tn,
               CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                   (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                    + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE))
                   / CAST(2 AS DOUBLE) END AS balanced_accuracy,
               CASE WHEN tp + fn > 0 THEN
                   CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
                   AS sensitivity,
               CASE WHEN tn + fp > 0 THEN
                   CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) END
                   AS specificity
        FROM conf ORDER BY status
    """,
)
def ml_balanced_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced accuracy of the fixed high-discount -> returned rule,
    per line status — the imbalance-robust headline number
    ((TPR + TNR) / 2) that plain accuracy fakes on skewed labels, and
    the fixed-threshold complement to ml_youden_j's threshold sweep.
    The 2x2 confusion cells are exact BIGINT conditional counts in
    ONE map-side-combining pass (no joins); balanced accuracy,
    sensitivity, and specificity are each one guarded double
    expression with identical degenerate-class predicates on both
    engines. Scale: one scan, k-status-row state."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = F.col("l_discount") >= 0.05
    pos = F.col("l_returnflag") == "R"
    conf = li.groupBy(F.col("l_linestatus").alias("status")).agg(
        F.sum((pred & pos).cast("int")).cast("bigint").alias("tp"),
        F.sum((pred & ~pos).cast("int")).cast("bigint").alias("fp"),
        F.sum((~pred & pos).cast("int")).cast("bigint").alias("fn"),
        F.sum((~pred & ~pos).cast("int")).cast("bigint").alias("tn"),
    )
    tpr = F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast(
        "double"
    )
    tnr = F.col("tn").cast("double") / (F.col("tn") + F.col("fp")).cast(
        "double"
    )
    has_pos = (F.col("tp") + F.col("fn")) > 0
    has_neg = (F.col("tn") + F.col("fp")) > 0
    return conf.select(
        "status",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(has_pos & has_neg, (tpr + tnr) / F.lit(2).cast("double"))
        .alias("balanced_accuracy"),
        F.when(has_pos, tpr).alias("sensitivity"),
        F.when(has_neg, tnr).alias("specificity"),
    ).orderBy("status")
