"""Vector similarity search over the ``embeddings`` table
(ArrayType(Float), 64-dim): brute-force cosine top-k as the exact
baseline, random-hyperplane LSH as the sublinear scale path, plus
centroid/norm analytics.

Scale contracts:
- brute-force top-k is linear in |vectors| x |queries| and is only the
  supported path when the query set is dimension-sized (broadcast);
- near-dup pair search is BLOCKED (here: by label) so the quadratic
  term is bounded per block;
- the LSH variant buckets by hyperplane signature bands — candidates,
  not |vectors|^2, drive the cost (rows-only + recall test).

DuckDB oracle note: both engines compute cosine as a sequential
left-fold of exact double products (see functions/vectors.py), which
is bit-identical — verified empirically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from finance_etl_spark.functions.money import (
    fsum,
    o_dsum,
    o_fsum,
    o_ordered_fold_sum,
    o_qsum,
    qsum,
)
from finance_etl_spark.functions.vectors import cosine, dot, l2_norm
from finance_etl_spark.io.readers import load_table
from finance_etl_spark.operators.iterate import iterate
from finance_etl_spark.plans.registry import register

# DuckDB equivalents of functions.vectors (sequential fold).
_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _cos(a: str, b: str) -> str:
    return f"{_DOT.format(a=a, b=b)} / ({_NORM.format(a=a)} * {_NORM.format(a=b)})"


def _topk_sql(score: str, name: str) -> str:
    """DuckDB exact top-5 neighbours by ``score`` for query vectors 0-4."""
    return f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {score} AS {name}
            FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, {name},
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY {name} DESC, neighbor_id) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, {name} FROM ranked WHERE rank <= 5
    """


@register(
    "vec_cosine_topk",
    headline=True,
    tags=("vector", "similarity"),
    oracle=_topk_sql(_cos("q.embedding", "e.embedding"), "cos_sim"),
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a small query set: queries
    broadcast against the vector table (one linear scan), per-query
    window keeps the top k. This is the exact baseline the ANN path
    (vec_ann_lsh_topk) is measured against."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("q_emb", "embedding").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


@register(
    "vec_cosine_near_dup_pairs",
    tags=("vector", "dedup"),
    oracle=f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
               {_cos('a.embedding', 'b.embedding')} AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_cos('a.embedding', 'b.embedding')} >= 0.4
    """,
)
def vec_cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, BLOCKED by label: the
    pairwise join shuffles on the block key so the quadratic term is
    per-block, never corpus-wide. (Unblocked near-dup at scale goes
    through LSH buckets instead — vec_ann_lsh_topk's machinery.)"""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("ea")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("eb"),
    )
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "label", cosine("ea", "eb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


@register(
    "vec_centroid_per_label",
    tags=("vector", "agg"),
    oracle="""
        WITH elems AS (
            SELECT label, vec_id,
                   generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding) AS val
            FROM embeddings
        )
        SELECT label, CAST(dim AS INT) AS dim,
               list_sum(list_transform(list(CAST(val AS DOUBLE) ORDER BY vec_id),
                        x -> x)) / COUNT(*) AS centroid,
               COUNT(*) AS n
        FROM elems GROUP BY label, dim
    """,
)
def vec_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, element-wise: posexplode to (label, dim,
    val), then a vec_id-ordered sequential double fold per cell —
    deterministic regardless of partitioning because the fold order is
    data-defined, not schedule-defined. (A decimal-cast sum is NOT
    cross-engine-stable for arbitrary float-origin doubles: DuckDB's
    double->decimal conversion rounds through a double multiply and
    can differ by 1e-10 from Spark's exact BigDecimal rounding.)
    Per-group state is the group's value list — bounded by vectors per
    (label, dim), fine for centroid-sized groups."""
    e = load_table(spark, sf_dir, "embeddings")
    elems = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("vec_id", "val")))
    fold = F.aggregate(
        F.transform(ordered, lambda s: s.getField("val")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return elems.groupBy("label", "dim").agg(
        (fold / F.count("val")).alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "vec_norm_stats",
    tags=("vector", "agg"),
    oracle=f"""
        WITH n AS (SELECT label, {_NORM.format(a='embedding')} AS nrm FROM embeddings)
        SELECT label, COUNT(*) AS n_vectors,
               {o_dsum('nrm')} AS sum_norm,
               MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
        FROM n GROUP BY label
    """,
)
def vec_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution per label (sanity stats for embedding
    pipelines); norms fold JVM-side, the agg is decimal-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.select("label", l2_norm("embedding").alias("nrm"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("nrm").cast("decimal(30,10)")).cast("double").alias("sum_norm"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# LSH ANN: random-hyperplane (Rademacher ±1) signatures, banded buckets.

N_PLANES = 16
# 4 bands x 4 bits: on near-isotropic corpora (this fixture) the top-5
# cosine is ~0.5 (p_agree ~ 2/3), so 8-bit bands match with p^8 ~ 4%
# per band and recall dies; 4-bit bands with Hamming-1 probes put
# per-band match near 0.6 and 4-band union recall above 0.9. Clustered
# real-world corpora support longer bands; the dial is documented here.
N_BANDS = 4
BITS_PER_BAND = N_PLANES // N_BANDS
DIM = 64


def _sign(p: int, j: int) -> int:
    """Deterministic pseudo-random ±1 per (plane, dim), md5-mixed.

    History note: the first formulation took the LOW bit of an
    odd-constant multiply — but multiplication by an odd number
    preserves parity, so the bit depended only on (p + j) mod 2 and
    all 16 "independent" hyperplanes collapsed to ONE (two buckets per
    band, half the corpus as candidates). A cryptographic digest has
    no such linear structure; tests/test_dedup_vectors.py now pins
    plane independence."""
    import hashlib

    d = hashlib.md5(f"plane:{p}:{j}".encode()).digest()
    return 1 if d[0] & 1 else -1


_PLANES = [[_sign(p, j) for j in range(DIM)] for p in range(N_PLANES)]


def _signature_bands(
    df: DataFrame, id_col: str, multiprobe: bool = False
) -> DataFrame:
    """(id, band_id, band_sig): hyperplane-sign signature split into
    bands. Everything is fold-over-array JVM expressions.

    ``multiprobe=True`` additionally emits nearby-bucket variants of
    each band signature (Hamming-1 always, Hamming-2 on bands of ≥6
    bits) — the standard multi-probe LSH trick: a vector whose
    projection hovered near a hyperplane lands a few bits away, so
    probing nearby buckets recovers it. Only the QUERY side pays the
    fan-out; the corpus side stores one row per band, so index size
    and shuffle volume are unchanged at any scale."""
    bits = []
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(float(s)) for s in _PLANES[p]])
        proj = F.aggregate(
            F.zip_with("embedding", plane, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)))
    band_sigs = []
    for b in range(N_BANDS):
        sig = None
        for i in range(BITS_PER_BAND):
            term = bits[b * BITS_PER_BAND + i] * F.lit(1 << i)
            sig = term if sig is None else sig + term
        band_sigs.append(sig)
    if not multiprobe:
        return df.select(
            F.col("vec_id").alias(id_col),
            F.posexplode(F.array(*band_sigs)).alias("band_id", "band_sig"),
        )
    probes = []
    for b, sig in enumerate(band_sigs):
        masks = [1 << i for i in range(BITS_PER_BAND)]
        if BITS_PER_BAND >= 6:  # H2 probes only pay off on longer bands
            masks += [
                (1 << i) | (1 << j)
                for i in range(BITS_PER_BAND)
                for j in range(i + 1, BITS_PER_BAND)
            ]
        variants = [sig] + [sig.bitwiseXOR(F.lit(m)) for m in masks]
        probes.extend(
            F.struct(F.lit(b).alias("band_id"), v.alias("band_sig"))
            for v in variants
        )
    exploded = df.select(
        F.col("vec_id").alias(id_col),
        F.explode(F.array(*probes)).alias("probe"),
    )
    return exploded.select(
        id_col, F.col("probe.band_id"), F.col("probe.band_sig")
    )


# ---------------------------------------------------------------------------
# IVF ANN: coarse quantizer (K centroids, one Lloyd refinement) +
# inverted lists; queries probe only the nearest N_PROBE lists.

N_CLUSTERS = 16
# The fixture embeddings are near-uniform random, so recall tracks the
# probed fraction of the corpus (~0.72 at 8/16 lists, measured at
# sf0.001). Real embedding corpora cluster, which is what lets
# production IVF run at much lower probe fractions.
N_PROBE = 8


def _assign_clusters(vectors: DataFrame, cents: DataFrame, n_keep: int) -> DataFrame:
    """(vec_id, cluster_id): each vector's ``n_keep`` nearest centroids
    by cosine. The centroid side is dimension-sized and broadcast; the
    vector side streams — cost is |vectors| x K, linear in the corpus."""
    scored = vectors.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cluster_id",
        cosine("embedding", "centroid").alias("sim"),
    )
    if n_keep == 1:
        # argmax via one hash agg (max of (sim, -cluster) struct) — no
        # per-vector window needed
        return (
            scored.groupBy("vec_id")
            .agg(F.max(F.struct("sim", F.col("cluster_id"))).alias("best"))
            .select("vec_id", F.col("best.cluster_id").alias("cluster_id"))
        )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cluster_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_keep)
        .select("vec_id", "cluster_id")
    )


def ivf_index(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build the IVF coarse index: deterministic seed centroids (the K
    vectors with smallest md5(vec_id) — a uniform pseudo-random draw
    without any RNG state), one Lloyd refinement pass (assign ->
    element-wise mean), then the final inverted lists.

    Round-12 change: the refined centroid means are FLOOR-QUANTIZED
    (sum of floor(val*1e9) in exact DECIMAL, one double division) —
    the floor-quantized-mean cure the round-11/12 rows-only ledger
    named. A plain F.avg(double) is partition-order-dependent, which
    made the whole IVF family engine-unreplayable; the quantized mean
    is exact, order-free, and within 1e-9 per coordinate of the float
    mean (recall tests unaffected), and it makes vec_ann_ivf_topk's
    candidate set twin-able in DuckDB.

    Returns (centroids, inverted_lists). Both passes are linear scans +
    hash aggs; the only pairwise term is |vectors| x K.
    """
    # TakeOrderedAndProject: scale-safe global top-K, never a full sort
    seeds = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(N_CLUSTERS)
        .select("vec_id", F.col("embedding").alias("centroid"))
    )
    # K-row relation: the global window is over centroid-count rows,
    # not data rows
    w = Window.orderBy("vec_id")
    cents0 = seeds.select(
        (F.row_number().over(w) - 1).alias("cluster_id"), "centroid"
    )
    assigned = _assign_clusters(e, cents0, n_keep=1).join(e, "vec_id")
    elems = assigned.select(
        "cluster_id", F.posexplode("embedding").alias("dim", "val")
    )
    means = elems.groupBy("cluster_id", "dim").agg(
        (
            F.sum(
                F.floor(F.col("val").cast("double") * F.lit(1e9)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("string")
            .cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
        ).alias("m")
    )
    cents1 = means.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s.getField("m"),
        ).alias("centroid")
    )
    lists = _assign_clusters(e, cents1, n_keep=1)
    return cents1, lists


# DuckDB floor-quantized mean of ``val`` per group (1e-9 grid)
_QMEAN_SQL = (
    "CAST(CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * CAST(1e9 AS DOUBLE))"
    " AS DECIMAL(38,0))) AS STRING) AS DOUBLE)"
    " / (CAST(COUNT(*) AS DOUBLE) * CAST(1e9 AS DOUBLE))"
)


_IVF_INDEX_SQL = f"""
        seed16 AS (
            SELECT vec_id, embedding FROM embeddings
            ORDER BY md5(CAST(vec_id AS STRING)), vec_id
            LIMIT {N_CLUSTERS}
        ),
        cents0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id,
                   embedding AS centroid
            FROM seed16
        ),
        a0 AS (
            SELECT e.vec_id,
                   MAX({{'s': {_cos('e.embedding', 'c.centroid')},
                        'c': c.cluster_id}}).c AS cluster_id
            FROM embeddings e CROSS JOIN cents0 c
            GROUP BY e.vec_id
        ),
        elems AS (
            SELECT a0.cluster_id,
                   generate_subscripts(e2.embedding, 1) AS dim,
                   unnest(e2.embedding) AS val
            FROM a0 JOIN embeddings e2 ON e2.vec_id = a0.vec_id
        ),
        mns AS (
            SELECT cluster_id, dim,
                   {_QMEAN_SQL} AS m
            FROM elems GROUP BY cluster_id, dim
        ),
        cents1 AS (
            SELECT cluster_id, list(m ORDER BY dim) AS centroid
            FROM mns GROUP BY cluster_id
        ),
        ivf_lists AS (
            SELECT e.vec_id AS cand_id,
                   MAX({{'s': {_cos('e.embedding', 'c.centroid')},
                        'c': c.cluster_id}}).c AS cluster_id
            FROM embeddings e CROSS JOIN cents1 c
            GROUP BY e.vec_id
        )
"""


@register(
    "vec_ann_ivf_topk",
    tags=("vector", "similarity", "ivf"),
    oracle=f"""
        WITH {_IVF_INDEX_SQL},
        probes AS (
            SELECT vec_id AS query_id, cluster_id FROM (
                SELECT e.vec_id, c.cluster_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {_cos('e.embedding', 'c.centroid')} DESC,
                                    c.cluster_id) AS rn
                FROM embeddings e CROSS JOIN cents1 c
                WHERE e.vec_id < 5
            ) WHERE rn <= {N_PROBE}
        ),
        cands AS (
            SELECT DISTINCT p.query_id, l.cand_id
            FROM probes p JOIN ivf_lists l ON l.cluster_id = p.cluster_id
            WHERE p.query_id <> l.cand_id
        ),
        scored AS (
            SELECT c.query_id, c.cand_id AS neighbor_id,
                   {_cos('qe.embedding', 'ce.embedding')} AS cos_sim
            FROM cands c
            JOIN embeddings qe ON qe.vec_id = c.query_id
            JOIN embeddings ce ON ce.vec_id = c.cand_id
        ),
        ivf_ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM ivf_ranked WHERE rank <= 5
    """,
)
def vec_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via an IVF index: vectors live in
    inverted lists under their nearest coarse centroid; each query
    probes only its N_PROBE nearest lists and ranks those candidates by
    exact cosine. Search cost is |queries| x (corpus / K x N_PROBE) in
    expectation — the list join shuffles on cluster_id, so a 1000-node
    cluster fans the probed lists out instead of scanning the corpus.
    PROMOTED rows-only -> full hash oracle in round 12: the round-11
    blocker was the order-dependent F.avg(double) Lloyd means; with
    ivf_index's means now floor-quantized (exact DECIMAL sums, one
    double division — the vec_kmeans_unrolled2 cure), every stage —
    md5 seed draw, both argmax assignments (max-struct tie semantics
    match positionally), the quantized refinement, probe ranking, and
    the exact-cosine re-rank — has a bit-exact DuckDB twin, so the
    candidate set is engine-replayable after all. Recall vs
    vec_cosine_topk is still asserted in tests/test_dedup_vectors.py
    and tracked in tools/ann_eval.py."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, lists = ivf_index(e)
    cents = cents.persist()
    cents.count()  # materialize: both probe sides reuse the centroids

    queries = e.filter(F.col("vec_id") < 5)
    probes = _assign_clusters(queries, cents, n_keep=N_PROBE).select(
        F.col("vec_id").alias("query_id"), "cluster_id"
    )
    cand_ids = (
        probes.join(
            lists.select(F.col("vec_id").alias("cand_id"), "cluster_id"),
            "cluster_id",
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    qe = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ce = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    scored = (
        cand_ids.join(F.broadcast(qe), "query_id")
        .join(ce, "cand_id")
        .select("query_id", "cand_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "cos_sim")
    )


def _lsh_ranked(spark: SparkSession, sf_dir: str, topk: int) -> DataFrame:
    """Shared LSH multiprobe candidate ranking (see vec_ann_lsh_topk
    for the algorithm); ``topk`` bounds the per-query output rank."""
    e = load_table(spark, sf_dir, "embeddings")
    buckets = _signature_bands(e, "cand_id")
    q_bands = _signature_bands(
        e.filter(F.col("vec_id") < 5), "query_id", multiprobe=True
    )
    cands = (
        q_bands.join(buckets, ["band_id", "band_sig"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    qe = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ce = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    scored = (
        cands.join(F.broadcast(qe), "query_id")
        .join(ce, "cand_id")
        .select("query_id", "cand_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "cos_sim")
    )


def _plane_list_sql(p: int) -> str:
    """DuckDB list literal for hyperplane ``p``'s ±1 signs. ±1.0 is
    exactly representable, so the bare literals are cross-engine-safe
    (the no-bare-decimal-literal rule targets inexact fractions)."""
    return "[" + ", ".join(f"{s:.1f}" for s in _PLANES[p]) + "]"


def _band_sig_sql(b: int, emb: str = "embedding") -> str:
    """DuckDB expression for band ``b``'s integer signature — the
    exact twin of _signature_bands: per-plane sequential-fold
    projection (list_sum matches Spark's F.aggregate fold order;
    products x * ±1.0 are IEEE-exact), sign bit, little-endian bit
    pack."""
    terms = []
    for i in range(BITS_PER_BAND):
        p = b * BITS_PER_BAND + i
        proj = _DOT.format(a=emb, b=_plane_list_sql(p))
        terms.append(f"(CASE WHEN {proj} > 0 THEN 1 ELSE 0 END) * {1 << i}")
    return "(" + " + ".join(terms) + ")"


def _lsh_sql(topk: int) -> str:
    """DuckDB twin of _lsh_ranked(topk): deterministic hyperplane
    signatures -> banded buckets -> Hamming-1 multiprobe on the query
    side -> exact-cosine ranking of the distinct candidates."""
    sig_cols = ", ".join(
        f"CAST({_band_sig_sql(b)} AS INT) AS s{b}" for b in range(N_BANDS)
    )
    corpus = " UNION ALL ".join(
        f"SELECT vec_id AS cand_id, {b} AS band_id, s{b} AS band_sig FROM sigs"
        for b in range(N_BANDS)
    )
    masks = ", ".join(f"({1 << i})" for i in range(BITS_PER_BAND))
    band_spine = ", ".join(f"({b})" for b in range(N_BANDS))
    band_pick = (
        "CASE b.band_id "
        + " ".join(f"WHEN {b} THEN s{b}" for b in range(N_BANDS))
        + " END"
    )
    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, {sig_cols} FROM embeddings
        ),
        corpus AS ({corpus}),
        qprobes AS (
            SELECT vec_id AS query_id, b.band_id,
                   xor({band_pick}, m.m) AS band_sig
            FROM sigs,
                 (VALUES {band_spine}) b(band_id),
                 (VALUES (0), {masks}) m(m)
            WHERE vec_id < 5
        ),
        cands AS (
            SELECT DISTINCT query_id, cand_id
            FROM qprobes JOIN corpus USING (band_id, band_sig)
            WHERE query_id <> cand_id
        ),
        scored AS (
            SELECT c.query_id, c.cand_id AS neighbor_id,
                   {_cos('qe.embedding', 'ce.embedding')} AS cos_sim
            FROM cands c
            JOIN embeddings qe ON qe.vec_id = c.query_id
            JOIN embeddings ce ON ce.vec_id = c.cand_id
        ),
        lsh_ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM lsh_ranked WHERE rank <= {topk}
    """


@register(
    "vec_ann_lsh_topk",
    tags=("vector", "similarity", "lsh"),
    oracle=_lsh_sql(5),
)
def vec_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane LSH with
    Hamming-1 MULTI-PROBE: vectors bucket by (band, signature); each
    query probes its own bucket plus every 1-bit-flip neighbor bucket
    (near-hyperplane projections land one bit away), then exact cosine
    ranks the candidates. The corpus index stays one row per band;
    only the bounded query set fans out 1+bits probes. The shuffle key
    is the bucket, so search cost scales with collisions rather than
    the corpus — the 100-TB path. Promoted from rows-only to a full
    hash oracle in round 12: the hyperplanes are deterministic ±1
    literals (md5-derived at import, interpolated into the SQL), the
    projection is a sequential fold both engines execute identically
    (list_sum twin of F.aggregate — the proven _cos machinery), and
    the bucket join / multiprobe XOR / ranking are plain SQL, so the
    candidate set is NOT engine-specific after all. Recall floor
    additionally pinned in tests/test_dedup_vectors.py; measured
    values in tools/ann_eval.py."""
    return _lsh_ranked(spark, sf_dir, 5)


def kmeans_centroids(e: DataFrame, k: int = N_CLUSTERS, iters: int = 3) -> DataFrame:
    """Iterative (spherical) k-means over the embedding column: the
    canonical iterative-algorithm shape on Spark. Per iteration: one
    linear assign scan (vectors x K, centroids broadcast) + one
    element-wise mean agg. Only the K-row centroid relation carries
    state between iterations — operators/iterate.py checkpoints it
    each round so iteration N+1's lineage starts from K rows instead of
    re-running all prior rounds (lineage would otherwise grow
    exponentially). Deterministic seeds as in ivf_index. Since round
    13 the per-iteration means are FLOOR-QUANTIZED at 1e-9 (exact
    DECIMAL sums, one double division — the ivf_index recipe), so
    every iteration's centroids are engine-replayable doubles and the
    whole loop unrolls into a hash oracle; the 1e-9 grid moves a
    centroid coordinate by < 1e-9, far below any assignment margin the
    corpus exhibits (cluster sizes and cohesion unchanged, pinned in
    tests/test_dedup_vectors.py)."""
    seeds = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select("vec_id", F.col("embedding").alias("centroid"))
    )
    w = Window.orderBy("vec_id")  # K-row relation only

    def lloyd(cents: DataFrame, _: int) -> DataFrame:
        assigned = _assign_clusters(e, cents, n_keep=1).join(e, "vec_id")
        elems = assigned.select(
            "cluster_id", F.posexplode("embedding").alias("dim", "val")
        )
        means = elems.groupBy("cluster_id", "dim").agg(
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * F.lit(1e9)).cast(
                        "decimal(38,0)"
                    )
                )
                .cast("string")
                .cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
            ).alias("m")
        )
        return means.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )

    init = seeds.select((F.row_number().over(w) - 1).alias("cluster_id"), "centroid")
    return iterate(init, lloyd, iters)


def _kmeans_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration: argmax-cosine assignment (max
    struct — tie semantics match Spark's F.max(struct) positionally),
    floor-quantized element-wise means, list re-pack."""
    return f"""
        a{i} AS (
            SELECT e.vec_id,
                   MAX({{'s': {_cos('e.embedding', 'c.centroid')},
                        'c': c.cluster_id}}).c AS cluster_id
            FROM embeddings e CROSS JOIN kcents{i-1} c
            GROUP BY e.vec_id
        ),
        el{i} AS (
            SELECT a.cluster_id,
                   generate_subscripts(e2.embedding, 1) AS dim,
                   unnest(e2.embedding) AS val
            FROM a{i} a JOIN embeddings e2 ON e2.vec_id = a.vec_id
        ),
        mn{i} AS (
            SELECT cluster_id, dim, {_QMEAN_SQL} AS m
            FROM el{i} GROUP BY cluster_id, dim
        ),
        kcents{i} AS (
            SELECT cluster_id, list(m ORDER BY dim) AS centroid
            FROM mn{i} GROUP BY cluster_id
        )"""


def _kmeans_clusters_sql(iters: int = 3) -> str:
    """DuckDB oracle for vec_kmeans_clusters: the full {iters}-round
    Lloyd loop unrolled (md5 seed draw, per-round argmax + quantized
    means), final assignment, and the q10-quantized cohesion census."""
    body = ",".join(_kmeans_iter_sql(i) for i in range(1, iters + 1))
    return f"""
        WITH seedk AS (
            SELECT vec_id, embedding FROM embeddings
            ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT {N_CLUSTERS}
        ),
        kcents0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id,
                   embedding AS centroid
            FROM seedk
        ),
        {body},
        af AS (
            SELECT e.vec_id,
                   MAX({{'s': {_cos('e.embedding', 'c.centroid')},
                        'c': c.cluster_id}}).c AS cluster_id
            FROM embeddings e CROSS JOIN kcents{iters} c
            GROUP BY e.vec_id
        ),
        coh AS (
            SELECT af.cluster_id,
                   {_cos('e.embedding', 'c.centroid')} AS c
            FROM af
            JOIN embeddings e ON e.vec_id = af.vec_id
            JOIN kcents{iters} c ON c.cluster_id = af.cluster_id
        )
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(CAST(SUM(CAST(FLOOR(c * CAST(1e10 AS DOUBLE))
                        AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * CAST(1e10 AS DOUBLE))
                   AS mean_cohesion
        FROM coh GROUP BY cluster_id
    """


@register(
    "vec_kmeans_clusters",
    tags=("vector", "clustering", "iterative"),
    oracle=_kmeans_clusters_sql(3),
)
def vec_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration k-means cluster summary: size and quantized-exact
    mean cohesion (cosine to own centroid) per cluster. PROMOTED
    rows-only -> full hash oracle in round 13: the round-12 blocker
    note ("order-dependent F.avg(double) means, 3 chained iterations
    compound any ulp flip") fell to the ivf_index cure applied to the
    WHOLE loop — kmeans_centroids' per-iteration means are now
    floor-quantized at 1e-9 (exact DECIMAL sums, one double division),
    so each iteration's centroids are engine-replayable and the oracle
    simply unrolls all 3 rounds as CTEs (seed draw, max-struct argmax
    with positional tie semantics, quantized means). The cohesion
    census crosses to double through the q10-floored exact-integer
    route. The fixed-round twin vec_kmeans_unrolled2 predates this and
    stays as the independent 2-round formulation; determinism and
    cohesion-improvement remain asserted in
    tests/test_dedup_vectors.py."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, iters=3)
    assigned = _assign_clusters(e, cents, n_keep=1)
    coh = (
        assigned.join(e, "vec_id")
        .join(F.broadcast(cents), "cluster_id")
        .select("cluster_id", cosine("embedding", "centroid").alias("c"))
    )
    return coh.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        (
            F.sum(F.floor(F.col("c") * F.lit(1e10)).cast("decimal(38,0)"))
            .cast("string")
            .cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e10))
        ).alias("mean_cohesion"),
    )


def _quantize_oracle() -> str:
    # Deterministic round: sign(x)*floor(abs(x)*scale + 0.5) — identical
    # IEEE expression tree in both engines (DuckDB round() is half-even,
    # Spark's is half-up; neither is used). The error sum is the same
    # sequential double fold as the cosine contract (module docstring).
    qv = "sign(x) * floor(abs(x) * (127.0 / max_abs) + 0.5)"
    deq = f"(({qv}) * max_abs) / 127.0"
    return f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
            FROM embeddings
        ), s AS (
            SELECT vec_id, ed,
                   list_max(list_transform(ed, x -> abs(x))) AS max_abs
            FROM v
        )
        SELECT vec_id,
               len(ed) AS n_dims,
               max_abs,
               CAST(list_max(list_transform(ed, x -> abs({qv}))) AS BIGINT) AS max_q,
               list_sum(list_transform(ed,
                   x -> (x - {deq}) * (x - {deq}))) AS sq_err
        FROM s WHERE max_abs > 0
    """


@register("vec_quantize_int8", tags=("vector", "quantize"), oracle=_quantize_oracle())
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    standard 4x memory compression applied before ANN serving — with
    per-vector reconstruction-error accounting. Entirely map-side array
    arithmetic (array_max for the scale, a sequential double fold for
    the error): ZERO shuffles, the whole plan fuses into the scan — at
    100 TB this costs exactly one pass over the vectors. The round is
    expressed as sign*floor(abs*scale+0.5) because Spark and DuckDB
    disagree on round()'s tie rule but agree bit-for-bit on
    floor/abs/sign; the error fold follows the cosine bit-equality
    contract (functions/vectors.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", ed.alias("ed")).withColumn(
        "max_abs", F.array_max(F.transform("ed", lambda x: F.abs(x)))
    ).filter(F.col("max_abs") > 0)

    def qv(x):
        return F.signum(x) * F.floor(
            F.abs(x) * (F.lit(127.0) / F.col("max_abs")) + F.lit(0.5)
        ).cast("double")

    def deq(x):
        return (qv(x) * F.col("max_abs")) / F.lit(127.0)

    return d.select(
        "vec_id",
        F.size("ed").cast("long").alias("n_dims"),
        "max_abs",
        F.array_max(F.transform("ed", lambda x: F.abs(qv(x)))).cast("long").alias(
            "max_q"
        ),
        F.aggregate(
            F.transform("ed", lambda x: (x - deq(x)) * (x - deq(x))),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("sq_err"),
    )


@register("vec_pca_project", tags=("vectors", "linalg", "iterative"))
def vec_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: project every embedding onto its top-8
    principal axes.

    Rows-only, with the precise promotion ledger (round-12 audit):
    the blocker is NOT the Gram matrix — its 64x65/2 upper-triangle
    sums could be decimal-routed exactly like any grouped sum — it is
    the eigensolve: numpy.linalg.eigh is LAPACK (driver-side, no SQL
    twin), and the alternative fixed-round unrolled power iteration
    with deflation for 8 components would inline ~8 components x 30
    rounds x 64-dim matrix-vector products, each a 64^2-term
    expression: an oracle measured in tens of megabytes of SQL.
    Impractical rather than impossible, so it stays rows-only with
    the independent pins below; the deterministic-candidate promotion
    pattern that DID apply to the LSH family landed on
    vec_ann_lsh_topk / vec_recall_curve this round.

    Scale shape (operators/pca.py): one mapInPandas pass emits
    per-PARTITION (n, sum, Gram) partials; an element-wise Spark
    combine reduces them to d^2+d numbers; the 64x64 eigensolve runs
    on the driver (the only serial step, O(d^3) independent of rows);
    the projection is a broadcast map-side matmul. Driver traffic is
    O(d^2), never O(rows) — the same narrow-waist contract as
    vec_kmeans_clusters. Orthonormality, variance ordering, and
    centering are pinned in tests/test_dedup_vectors.py.
    """
    from finance_etl_spark.functions.vectors import serialize_double_array
    from finance_etl_spark.operators.pca import fit_pca, project

    e = load_table(spark, sf_dir, "embeddings")
    mean, w, _ = fit_pca(e, k=8)
    return project(e, mean, w).select(
        "vec_id",
        "label",
        # serialized at the presentation edge: raw ARRAY output columns
        # crash the round driver's pandas canonicalizer (r6 lesson)
        serialize_double_array(F.col("pc")).alias("components"),
    )


@register(
    "vec_hard_negatives",
    tags=("vector", "similarity", "training"),
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding, label FROM embeddings
                   WHERE vec_id < 8),
        scored AS (
            SELECT q.vec_id AS query_id, q.label AS query_label,
                   e.vec_id AS negative_id, e.label AS negative_label,
                   {_cos('q.embedding', 'e.embedding')} AS cos_sim
            FROM q JOIN embeddings e ON e.label <> q.label
        ),
        ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, negative_id) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, query_label, negative_id, negative_label,
               rank, cos_sim
        FROM ranked WHERE rank <= 3
    """,
)
def vec_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor, the top-3 most-similar vectors with a DIFFERENT
    label — maximally confusable negatives, the ones that actually
    move a contrastive loss. Same broadcast-scan + per-query-window
    shape as vec_cosine_topk with the label-inequality predicate
    fused into the join; at corpus scale the anchor set is the
    (batch-sized) broadcast side and the negative pool streams
    through one linear scan — for full-corpus mining, route through
    the IVF/LSH candidate path instead (vec_ann_ivf_topk)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("query_label"),
    )
    scored = e.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cosine("q_emb", "embedding").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            "rank",
            "cos_sim",
        )
    )


@register(
    "vec_semantic_dedup",
    tags=("vector", "dedup", "clustering"),
    oracle=f"""
        WITH seedk AS (
            SELECT vec_id, embedding FROM embeddings
            ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT {N_CLUSTERS}
        ),
        kcents0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id,
                   embedding AS centroid
            FROM seedk
        ),
        {_kmeans_iter_sql(1).lstrip()},
        assigned AS (
            SELECT e.vec_id,
                   MAX({{'s': {_cos('e.embedding', 'c.centroid')},
                        'c': c.cluster_id}}).c AS cluster_id
            FROM embeddings e CROSS JOIN kcents1 c
            GROUP BY e.vec_id
        ),
        pairs AS (
            SELECT a.vec_id AS id_keep, b.vec_id AS id_drop,
                   {_cos('ea.embedding', 'eb.embedding')} AS cos
            FROM assigned a
            JOIN assigned b ON b.cluster_id = a.cluster_id
                           AND a.vec_id < b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
        ),
        hits AS (SELECT * FROM pairs WHERE cos >= CAST('0.4' AS DOUBLE))
        SELECT id_drop,
               CAST(MIN(id_keep) AS BIGINT) AS survivor,
               MAX(cos) AS max_cos,
               CAST(COUNT(*) AS BIGINT) AS n_partners
        FROM hits GROUP BY id_drop
    """,
)
def vec_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space (deterministic k-means, one refinement pass), then compare
    pairs ONLY within a cluster — cosine above the near-dup threshold
    marks the larger vec_id a duplicate of the smallest matching
    partner. (The synthetic fixture's vectors are near-orthogonal —
    max within-cluster cosine ≈0.51 — so the threshold is 0.4 here;
    a real embedding corpus would use ≈0.95+.)

    This is the scale path for embedding dedup on a 100 TB corpus: the
    pairwise term drops from |V|² to Σ|cluster|², clusters are
    hash-partitioned so each bucket's comparisons run where its rows
    already sit, and the candidate join shuffles on cluster_id, not on
    vectors. (Near-duplicates that land in different clusters are the
    documented recall trade-off — SemDeDup accepts it; raise K or probe
    2 nearest clusters to tighten.) PROMOTED rows-only -> full hash
    oracle in round 13, downstream of the kmeans_centroids quantized-
    mean change: the one refinement pass unrolls in SQL (same CTE
    machinery as vec_kmeans_clusters), the within-cluster pair scan is
    a plain self-join on cluster_id, and the cosines are the proven
    sequential-fold twins — so which duplicates this operator reports
    is now engine-replayable, not just deterministic. Planted-duplicate
    recall, survivor determinism, and repartition-invariance stay
    pinned in tests/test_dedup_vectors.py."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, iters=1)
    assigned = _assign_clusters(e, cents, n_keep=1).join(e, "vec_id")
    a = assigned.select(
        "cluster_id",
        F.col("vec_id").alias("id_keep"),
        F.col("embedding").alias("emb_a"),
    )
    b = assigned.select(
        "cluster_id",
        F.col("vec_id").alias("id_drop"),
        F.col("embedding").alias("emb_b"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_keep") < F.col("id_drop"))
        .select(
            "cluster_id",
            "id_keep",
            "id_drop",
            cosine("emb_a", "emb_b").alias("cos"),
        )
        .filter(F.col("cos") >= 0.4)
    )
    # each dropped vector points at its SMALLEST near-duplicate partner
    # (deterministic survivor under any partitioning)
    return (
        pairs.groupBy("id_drop")
        .agg(
            F.min("id_keep").alias("survivor"),
            F.max("cos").alias("max_cos"),
            F.count(F.lit(1)).alias("n_partners"),
        )
    )


_PQ_M, _PQ_DSUB, _PQ_K, _PQ_ITERS, _PQ_SHORT, _PQ_SAMPLE = 16, 4, 16, 5, 50, 256


def _pq_dist4(p: str, c: str) -> str:
    """Pinned-parenthesization 4-term squared L2 between pivoted
    subspace columns {p}1..{p}4 and {c}1..{c}4 — the SQL twin of the
    numpy fold in _pq_d4 (same association order, so the doubles are
    bit-identical)."""
    t = [f"(({p}{i} - {c}{i}) * ({p}{i} - {c}{i}))" for i in range(1, 5)]
    return f"((({t[0]} + {t[1]}) + {t[2]}) + {t[3]})"


def _pq_sql() -> str:
    """DuckDB oracle for vec_ann_pq_topk: replays the ENTIRE pipeline
    — pinned-fold L2 normalization, md5-ordered 256-row sample, the
    5 unrolled Lloyd iterations per subspace with floor-quantized
    (1e-9) centroid means and keep-on-empty clusters, full-corpus
    encoding, pinned-order ADC scoring, (adc, cand_id) shortlist of
    50, exact-cosine re-rank. Every double here is produced by the
    same IEEE operation sequence the Spark/numpy side executes, so
    the value hash matches bit-for-bit (verified at all three SFs)."""
    qm = (
        "CAST(CAST(SUM(CAST(FLOOR({col} * CAST(1e9 AS DOUBLE))"
        " AS DECIMAL(38,0))) AS STRING) AS DOUBLE)"
        " / (CAST(COUNT(*) AS DOUBLE) * CAST(1e9 AS DOUBLE))"
    )
    pivot = ",\n                   ".join(
        f"MAX(CASE WHEN (dim-1) % {_PQ_DSUB} = {r} THEN val / nrm END)"
        f" AS d{r+1}"
        for r in range(_PQ_DSUB)
    )
    iters = []
    for i in range(1, _PQ_ITERS + 1):
        prev = f"cents{i-1}"
        means = ", ".join(
            qm.format(col=f"s.d{r}") + f" AS m{r}" for r in range(1, 5)
        )
        coals = ", ".join(
            f"COALESCE(m.m{r}, c.c{r}) AS c{r}" for r in range(1, 5)
        )
        iters.append(f"""
        asg{i} AS (
            SELECT vec_id, j, k FROM (
                SELECT s.vec_id, s.j, c.k,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                           ORDER BY {_pq_dist4('s.d', 'c.c')} ASC,
                                    c.k ASC) AS rn
                FROM ssubs s JOIN {prev} c ON c.j = s.j
            ) WHERE rn = 1
        ),
        mean{i} AS (
            SELECT a.j, a.k, {means}
            FROM asg{i} a
            JOIN ssubs s ON s.vec_id = a.vec_id AND s.j = a.j
            GROUP BY a.j, a.k
        ),
        cents{i} AS (
            SELECT c.j, c.k, {coals}
            FROM {prev} c LEFT JOIN mean{i} m ON m.j = c.j AND m.k = c.k
        )""")
    return f"""
        WITH norms AS (
            SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        flat AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val, nrm
            FROM norms
        ),
        subs AS (
            SELECT vec_id, CAST((dim-1) // {_PQ_DSUB} AS INT) AS j,
                   {pivot}
            FROM flat GROUP BY vec_id, CAST((dim-1) // {_PQ_DSUB} AS INT)
        ),
        sord AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS STRING)),
                                      vec_id) AS rn
            FROM embeddings
        ),
        ssubs AS (
            SELECT s.* FROM subs s JOIN sord o USING (vec_id)
            WHERE o.rn <= {_PQ_SAMPLE}
        ),
        cents0 AS (
            SELECT s.j, CAST(o.rn - 1 AS INT) AS k,
                   s.d1 AS c1, s.d2 AS c2, s.d3 AS c3, s.d4 AS c4
            FROM subs s JOIN sord o USING (vec_id) WHERE o.rn <= {_PQ_K}
        ),
        {','.join(iters)},
        codes AS (
            SELECT vec_id, j, k FROM (
                SELECT s.vec_id, s.j, c.k,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                           ORDER BY {_pq_dist4('s.d', 'c.c')} ASC,
                                    c.k ASC) AS rn
                FROM subs s JOIN cents{_PQ_ITERS} c ON c.j = s.j
            ) WHERE rn = 1
        ),
        qsubs AS (SELECT * FROM subs WHERE vec_id < 5),
        terms AS (
            SELECT q.vec_id AS query_id, cd.vec_id AS cand_id, cd.j,
                   {_pq_dist4('q.d', 'c.c')} AS t
            FROM qsubs q
            JOIN codes cd ON cd.j = q.j AND cd.vec_id <> q.vec_id
            JOIN cents{_PQ_ITERS} c ON c.j = cd.j AND c.k = cd.k
        ),
        adc AS (
            SELECT query_id, cand_id,
                   {o_ordered_fold_sum('j', 't')} AS adc_d2
            FROM terms GROUP BY query_id, cand_id
        ),
        short AS (
            SELECT query_id, cand_id FROM (
                SELECT query_id, cand_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc_d2 ASC, cand_id ASC) AS rn
                FROM adc
            ) WHERE rn <= {_PQ_SHORT}
        ),
        scored AS (
            SELECT s.query_id, s.cand_id AS neighbor_id,
                   {_cos('qe.embedding', 'ce.embedding')} AS cos_sim
            FROM short s
            JOIN embeddings qe ON qe.vec_id = s.query_id
            JOIN embeddings ce ON ce.vec_id = s.cand_id
        ),
        pq_ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM pq_ranked WHERE rank <= 5
    """


@register(
    "vec_ann_pq_topk",
    tags=("vector", "similarity", "pq", "quantize"),
    oracle=_pq_sql(),
)
def vec_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via PRODUCT QUANTIZATION: the
    64-dim space splits into M=16 subspaces of 4 dims; each subspace
    gets a 16-centroid codebook, so a vector compresses to 16 nibbles
    (8 bytes — a 32× compression over float32). Queries score
    candidates with the ADC trick: one 16×16 lookup table of partial
    squared distances per query, then score = Σ_j LUT[j][code_j] — the
    bulk scan touches only codes. An exact-cosine re-rank of the
    ADC top-50 shortlist recovers the precision quantization loses
    (the standard PQ serving architecture: codes prune, floats are
    fetched for only queries × 50 of the corpus's rows).

    Scale shape: codebook training is a driver-side model fit over a
    deterministic md5-sampled subset (256 rows — same contract as the
    PCA eigensolve); encoding is one linear Arrow-batched pass
    (mapInPandas) over the corpus; search broadcasts the per-query
    LUTs (queries × 128 floats) and scans only CODES — at 100 TB the
    search input is the 4-byte-per-vector code table, not the 256-byte
    vectors. Vectors are L2-normalized first so squared-L2 ranking ==
    cosine ranking, making recall comparable to vec_cosine_topk
    (asserted in tests/test_dedup_vectors.py).

    PROMOTED rows-only -> full hash oracle in round 13. The round-12
    note claimed TWO blockers; both fell to the round-12 IVF cure
    applied end-to-end: (1) the codebook's Lloyd means are
    floor-quantized at 1e-9 (exact integer sums, ONE double division
    — centroids become engine-replayable doubles; empty clusters keep
    the previous centroid on both sides), and (2) every numpy
    reduction in the hot path is restated as a PINNED-ORDER fold with
    the same association the SQL twin uses — the row norm accumulates
    sequentially over dims (= list_sum), the 4-term subspace distance
    is one fixed parenthesization (((t1+t2)+t3)+t4), and the 16-term
    ADC sum accumulates sequentially over j (= list_reduce ORDER BY
    j). With identical IEEE operation sequences the ADC doubles are
    bit-identical across engines (verified: 0 mismatches on every
    (query, cand) score at all three SFs), so shortlist and final
    ranking replay exactly. numpy stays vectorized across ROWS — the
    pinned folds only fix the reduction ORDER, so the Arrow-batched
    encode/scan throughput shape is unchanged."""
    import numpy as np
    import pandas as pd

    M, DSUB, KCODE = _PQ_M, _PQ_DSUB, _PQ_K
    e = load_table(spark, sf_dir, "embeddings")

    def _norm_rows(V):
        # pinned sequential fold over dims — the list_sum twin
        acc = V[:, 0] * V[:, 0]
        for d in range(1, V.shape[1]):
            acc = acc + V[:, d] * V[:, d]
        return np.sqrt(acc)

    def _d4(a, b):
        # pinned 4-term squared L2 — the _pq_dist4 twin
        t = (a - b) ** 2
        return ((t[..., 0] + t[..., 1]) + t[..., 2]) + t[..., 3]

    # --- codebook fit (driver-side, deterministic sample) -----------
    sample = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_PQ_SAMPLE)
        .select("embedding")
        .collect()
    )
    X = np.array([r.embedding for r in sample], dtype=np.float64)
    X /= _norm_rows(X)[:, None]
    books = []
    for j in range(M):
        sub = X[:, j * DSUB : (j + 1) * DSUB]
        cents = sub[:KCODE].copy()  # deterministic seed: first K rows
        for _ in range(_PQ_ITERS):  # Lloyd iterations on the sample
            d2 = _d4(sub[:, None, :], cents[None, :, :])
            assign = d2.argmin(axis=1)
            new = cents.copy()
            for k in range(KCODE):
                pts = sub[assign == k]
                if len(pts):
                    # floor-quantized mean: exact integer sum (values
                    # <= 1e9 * 256 << 2^53, so order-free), ONE double
                    # division — replayable in SQL
                    for r in range(DSUB):
                        new[k, r] = np.floor(pts[:, r] * 1e9).sum() / (
                            len(pts) * 1e9
                        )
            cents = new
        books.append(cents)
    books_arr = np.stack(books)  # (M, KCODE, DSUB)
    bc_books = spark.sparkContext.broadcast(books_arr)

    # --- encode: one Arrow-batched linear pass ----------------------
    def encode(batches):
        B = bc_books.value
        for pdf in batches:
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            acc = V[:, 0] * V[:, 0]
            for d in range(1, V.shape[1]):
                acc = acc + V[:, d] * V[:, d]
            V /= np.sqrt(acc)[:, None]
            codes = np.empty((len(V), M), dtype=np.int32)
            for j in range(M):
                sub = V[:, j * DSUB : (j + 1) * DSUB]
                t = (sub[:, None, :] - B[j][None, :, :]) ** 2
                d2 = ((t[..., 0] + t[..., 1]) + t[..., 2]) + t[..., 3]
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "code": list(codes)}
            )

    codes = e.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, code array<int>"
    )

    # --- search: per-query LUT broadcast, scan codes only -----------
    q_rows = (
        e.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    )
    B = books_arr
    luts = {}
    for r in q_rows:
        q = np.array(r.embedding, dtype=np.float64)
        qa = q[0] * q[0]
        for d in range(1, len(q)):
            qa = qa + q[d] * q[d]
        q /= np.sqrt(qa)
        lut = np.empty((M, KCODE))
        for j in range(M):
            qs = q[j * DSUB : (j + 1) * DSUB]
            lut[j] = _d4(B[j], qs[None, :])
        luts[int(r.vec_id)] = lut
    bc_luts = spark.sparkContext.broadcast(luts)

    def adc_score(batches):
        L = bc_luts.value
        for pdf in batches:
            C = np.array(list(pdf["code"]), dtype=np.int64)  # (n, M)
            out_q, out_c, out_d = [], [], []
            for qid, lut in L.items():
                # pinned sequential gather over j — the list_reduce
                # (ORDER BY j) twin
                d = lut[0, C[:, 0]]
                for j in range(1, M):
                    d = d + lut[j, C[:, j]]
                out_q.extend([qid] * len(C))
                out_c.extend(pdf["vec_id"])
                out_d.extend(d)
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "adc_d2": out_d}
            )

    scored = codes.mapInPandas(
        adc_score, "query_id long, cand_id long, adc_d2 double"
    ).filter(F.col("query_id") != F.col("cand_id"))
    # shortlist on codes, then EXACT re-rank of the shortlist — the
    # standard PQ serving architecture: the bulk scan touches 4-byte
    # codes; float vectors are fetched for only queries × 20 rows
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), "cand_id")
    shortlist = (
        scored.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= 50)
        .select("query_id", "cand_id")
    )
    qe = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    )
    ce = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    exact = (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(ce, "cand_id")
        .select("query_id", "cand_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank", "cos_sim")
    )


@register("vec_matmul_topk", tags=("vector", "similarity", "python"))
def vec_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 on the BLAS path: the query matrix
    (bounded by contract — here 5 rows) ships to executors inside the
    mapInPandas closure, each Arrow batch becomes one numpy matrix,
    and a single dgemm scores batch×queries — the throughput shape for
    wide scans where per-element JVM expression overhead dominates.
    Each partition emits only its LOCAL top-5 per query (k×partitions
    rows total), and one partitioned window finalizes — the corpus
    itself never reshuffles. Rows-only registration: numpy's pairwise-
    summed matmul differs from the JVM/DuckDB sequential fold by ulps,
    so tests/test_dedup_vectors.py pins the top-5 id sets against
    vec_cosine_topk instead of a value hash."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q_rows = sorted(
        e.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Qn = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).T  # dim × q
    k = 5

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            sims = Mn @ Qn  # batch × q, one BLAS call
            for j in range(len(q_ids)):
                col = sims[:, j]
                mask = ids != q_ids[j]
                cand_ids, cand_sims = ids[mask], col[mask]
                # local top-k by (sim desc, id asc); lexsort's last key
                # is primary
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": q_ids[j],
                        "neighbor_id": cand_ids[order],
                        "cos_sim": cand_sims[order],
                    }
                )

    local = e.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


@register(
    "vec_ood_centroid_outliers",
    tags=("vector", "quality"),
    oracle="""
        WITH elems AS (
            SELECT label, vec_id,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        cent AS (
            SELECT label, dim,
                   list_sum(list_transform(list(val ORDER BY vec_id), x -> x))
                     / COUNT(*) AS c
            FROM elems GROUP BY label, dim
        ),
        dist AS (
            SELECT e.label, e.vec_id,
                   list_sum(list_transform(
                       list((e.val - cent.c) * (e.val - cent.c) ORDER BY e.dim),
                       x -> x)) AS dist2
            FROM elems e JOIN cent ON e.label = cent.label AND e.dim = cent.dim
            GROUP BY e.label, e.vec_id
        ),
        thr AS (
            SELECT label, quantile_cont(dist2, 0.99) AS p99 FROM dist GROUP BY label
        )
        SELECT dist.label, dist.vec_id, dist.dist2, thr.p99
        FROM dist JOIN thr ON dist.label = thr.label
        WHERE dist.dist2 > thr.p99
    """,
)
def vec_ood_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality control: vectors whose squared Euclidean
    distance to their label centroid exceeds the label's p99 — the
    out-of-distribution mining pass that surfaces mislabeled or
    corrupted embeddings before they poison contrastive training.
    Three keyed aggregations (centroid per (label,dim), distance per
    vector, exact p99 per label) and one broadcast-sized threshold
    join — each shuffle is keyed and linear; nothing is pairwise.
    Determinism: centroid and distance both ride data-ordered
    sequential double folds (the vec_centroid_per_label contract), and
    squared distance needs no sqrt, so every arithmetic step is
    IEEE-exact and engine-portable."""
    e = load_table(spark, sf_dir, "embeddings")
    elems = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("vec_id", "val")))
    fold = F.aggregate(
        F.transform(ordered, lambda s: s.getField("val")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cent = elems.groupBy("label", "dim").agg(
        (fold / F.count("val")).alias("c")
    )
    sq = (F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))
    by_dim = F.array_sort(F.collect_list(F.struct("dim", "sq")))
    dist_fold = F.aggregate(
        F.transform(by_dim, lambda s: s.getField("sq")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist = (
        elems.join(cent, ["label", "dim"])
        .withColumn("sq", sq)
        .groupBy("label", "vec_id")
        .agg(dist_fold.alias("dist2"))
    )
    thr = dist.groupBy("label").agg(F.percentile("dist2", 0.99).alias("p99"))
    return (
        dist.join(F.broadcast(thr), "label")
        .filter(F.col("dist2") > F.col("p99"))
        .select("label", "vec_id", "dist2", "p99")
    )


@register(
    "vec_mips_topk",
    tags=("vector", "similarity"),
    oracle=_topk_sql(_DOT.format(a="q.embedding", b="e.embedding"), "dot"),
)
def vec_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-5 (MIPS) — the recommender-scoring
    objective, distinct from cosine: magnitude matters, so a long
    vector can outrank a better-aligned short one. Same broadcast
    scan + partitioned-window plan as vec_cosine_topk; the unnormalized
    sequential dot fold is bit-identical across engines. (At scale
    MIPS reduces to cosine ANN via the augmented-dimension transform;
    the exact path here is the oracle for that reduction.)"""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot("q_emb", "embedding").alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


@register(
    "vec_dim_stats",
    tags=("vector", "agg", "stats"),
    oracle="""
        WITH flat AS (
            SELECT CAST(u.dim - 1 AS INT) AS dim,
                   CAST(u.val AS DOUBLE) AS v
            FROM embeddings,
                 LATERAL (SELECT generate_subscripts(embedding, 1) AS dim,
                                 unnest(embedding) AS val) u
        ),
        q AS (
            SELECT dim, v,
                   CAST(floor(v * 1000000000.0 + 0.5) AS BIGINT) AS vn
            FROM flat
        ),
        s AS (
            SELECT dim, COUNT(*) AS n,
                   CAST(SUM(vn) AS DOUBLE) AS s1n,
                   CAST(CAST(SUM(CAST(vn AS DECIMAL(19,0))
                                 * CAST(vn AS DECIMAL(19,0)))
                        AS STRING) AS DOUBLE) AS s2n,
                   MIN(v) AS min_v, MAX(v) AS max_v
            FROM q GROUP BY dim
        )
        SELECT dim, CAST(n AS BIGINT) AS n,
               (s1n / 1000000000.0) / n AS mean_v,
               (s2n / 1000000000000000000.0
                - (s1n / 1000000000.0) * (s1n / 1000000000.0) / n) / n
                   AS var_pop,
               min_v, max_v
        FROM s ORDER BY dim
    """,
)
def vec_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics over the embedding column —
    the profiling pass behind feature standardization, dead-dimension
    detection, and quantization range calibration. posexplode flattens
    (vector, dim) map-side; ONE hash agg on the dim key (64 groups)
    carries decimal-exact power sums, and variance assembles in IEEE
    doubles from identical inputs on both engines. Shuffle volume is
    |dims| x partials, never the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select("dim", F.col("val").cast("double").alias("v"))
    # Quantize to integer NANO-units with IEEE ops only
    # (floor(v*1e9+0.5)): multiply and floor round identically in both
    # engines, so the int is bit-identical — unlike CAST(double AS
    # DECIMAL), where Java rounds the double's shortest decimal string
    # but DuckDB rounds its binary expansion (divergence observed at
    # sf0.1). Sums are then exact integers; squares ride DECIMAL(19,0)
    # products (38-digit headroom); variance assembles in doubles from
    # identical inputs. Stats are over the nano-quantized values —
    # documented contract, well below any embedding model's noise.
    vn = F.floor(F.col("v") * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    vnd = vn.cast("decimal(19,0)")
    s = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vn).cast("double").alias("s1n"),
        F.sum(vnd * vnd).cast("double").alias("s2n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    n = F.col("n").cast("double")
    mean = (F.col("s1n") / F.lit(1e9)) / n
    var = (
        F.col("s2n") / F.lit(1e18)
        - (F.col("s1n") / F.lit(1e9)) * (F.col("s1n") / F.lit(1e9)) / n
    ) / n
    return s.select(
        "dim",
        "n",
        mean.alias("mean_v"),
        var.alias("var_pop"),
        "min_v",
        "max_v",
    ).orderBy("dim")


@register(
    "vec_retrieval_eval",
    tags=("vector", "similarity", "eval"),
    oracle=f"""
        WITH q AS (
            SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 20
        ),
        scored AS (
            SELECT q.vec_id AS query_id, q.label AS q_label,
                   e.vec_id AS neighbor_id,
                   (e.label = q.label) AS is_rel,
                   {_cos('q.embedding', 'e.embedding')} AS cos_sim
            FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
            FROM scored
        )
        SELECT query_id,
               ANY_VALUE(q_label) AS label,
               CAST(COUNT(*) FILTER (WHERE is_rel) AS BIGINT) AS n_relevant,
               CAST(MIN(CASE WHEN is_rel THEN rank END) AS INT)
                   AS first_rel_rank,
               COALESCE(CAST(1 AS DOUBLE)
                   / MIN(CASE WHEN is_rel THEN rank END), 0.0)
                   AS reciprocal_rank,
               CAST(COUNT(*) FILTER (WHERE is_rel AND rank <= 10) AS BIGINT)
                   AS hits_at_10,
               CAST(COUNT(*) FILTER (WHERE is_rel AND rank <= 10) AS DOUBLE)
                   / LEAST(10, COUNT(*) FILTER (WHERE is_rel))
                   AS recall_at_10
        FROM ranked
        GROUP BY query_id
        ORDER BY query_id
    """,
)
def vec_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness (the metric pass behind
    every embedding-model comparison): label-relevance ranking metrics
    — first-relevant rank, reciprocal rank (MRR per query), hits@10,
    recall@10 — computed from the exact-fold cosine ranking. Queries
    broadcast against one linear scan of the vector table; metrics are
    one hash agg per query over integer counts, so every output is
    cross-engine exact (the only division is ints-cast-to-double)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "q_label",
        F.col("vec_id").alias("neighbor_id"),
        (F.col("label") == F.col("q_label")).alias("is_rel"),
        cosine("q_emb", "embedding").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    rel_rank = F.min(F.when(F.col("is_rel"), F.col("rank")))
    hits10 = F.count_if(F.col("is_rel") & (F.col("rank") <= 10))
    n_rel = F.count_if(F.col("is_rel"))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.any_value("q_label").alias("label"),
            n_rel.alias("n_relevant"),
            rel_rank.cast("int").alias("first_rel_rank"),
            F.coalesce(
                F.lit(1).cast("double") / rel_rank, F.lit(0.0)
            ).alias("reciprocal_rank"),
            hits10.alias("hits_at_10"),
            (hits10.cast("double") / F.least(F.lit(10), n_rel)).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Binary quantization + Hamming search


def _pack_sign_bits(col: str, lo_bit: int, hi_bit: int):
    """BIGINT packing dims [lo_bit, hi_bit) as sign bits — a fold over
    the dim range; bit i set iff embedding[i] > 0. Split into two
    32-bit words so no engine ever shifts into the BIGINT sign bit."""
    return F.expr(
        f"aggregate(sequence({lo_bit}, {hi_bit - 1}), 0L, (acc, i) -> "
        f"acc + IF(element_at({col}, i + 1) > 0, shiftleft(1L, i - {lo_bit}), 0L))"
    )


def _duck_pack(lo: int, hi: int) -> str:
    return (
        "list_sum(list_transform(range(%d, %d), i -> CASE WHEN embedding[i + 1] > 0 "
        "THEN (CAST(1 AS BIGINT) << (i - %d)) ELSE CAST(0 AS BIGINT) END))" % (lo, hi, lo)
    )


_BQ_QUERIES = (1, 100, 250)


@register(
    "vec_binary_hamming_topk",
    tags=("vector", "ann", "quantize"),
    oracle=f"""
        WITH codes AS (
            SELECT vec_id,
                   {_duck_pack(0, 32)} AS lo,
                   {_duck_pack(32, 64)} AS hi
            FROM embeddings
        ),
        q AS (SELECT * FROM codes WHERE vec_id IN (1, 100, 250)),
        d AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
                       AS hamming
            FROM q JOIN codes c ON c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, hamming FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY hamming, neighbor_id) AS rn
            FROM d
        ) WHERE rn <= 5
    """,
)
def vec_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: each 64-dim float vector compresses to 64
    SIGN BITS (two 32-bit words — 32x smaller than float32), and
    similarity search becomes popcount(XOR) — pure integer ALU work,
    fully deterministic, hence (unusually for ANN) oracle-checkable
    bit-for-bit. Top-5 neighbors per probe with (hamming, id)
    tiebreak.

    Scale: this is the modern binary-embedding retrieval shape — the
    packed table is 1/32 the corpus bytes, the probe side broadcasts,
    and the scan is one narrow-column pass with a per-group top-k
    (no global sort). Compose with IVF bucketing (vec_ann_ivf_topk)
    to cut the scan itself; exact float re-rank of the bit-level
    top-100 recovers cosine precision (vec_ann_pq_topk shows the
    re-rank stage).

    Quality caveat (measured, ANN_EVAL.md): against FLOAT-cosine truth
    on this near-isotropic synthetic fixture, raw Hamming recall@5 is
    ~0.04 — 1 bit/dim erases nearly all signal when embeddings have no
    dominant directions; the two-stage shortlist(100)+re-rank recovers
    0.6 scanning floats for 5% of the corpus. Real text embeddings are
    anisotropic and fare far better; the query itself stays
    oracle-exact in the quantized space either way."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id",
        _pack_sign_bits("embedding", 0, 32).alias("lo"),
        _pack_sign_bits("embedding", 32, 64).alias("hi"),
    )
    q = codes.filter(F.col("vec_id").isin(*_BQ_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    d = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("q_lo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("hi")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "hamming")
    )


@register(
    "vec_mmr_rerank",
    tags=("vector", "retrieval", "udf"),
)
def vec_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each probe's cosine top-20 candidate pool, greedily
    pick 5 results maximizing λ·rel(q,d) − (1−λ)·max_sel sim(d,s) —
    the diversity-aware selection every RAG retriever bolts onto raw
    ANN top-k (near-duplicate passages waste context tokens).

    Shape: stage 1 is the existing distributed brute-force cosine
    (exact fold, one scan); stage 2 is applyInPandas PER QUERY GROUP —
    the greedy loop is inherently sequential but touches only the
    20-candidate pool, so the expensive part stays distributed and the
    sequential part is O(k·pool) numpy per query. Rows-only for the
    driver: the greedy loop runs in numpy (pairwise-summed dot
    products, ulp-off any SQL fold) — the fixed-k unrolled-CTE twin
    that IS hash-oracled lives at vec_mmr_unrolled, which re-derives
    the same greedy selection with fold-exact arithmetic; this
    registration keeps the applyInPandas production shape.
    Determinism and the diversity property are pytest-asserted
    (tests/test_finance.py::test_mmr_*)."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    probes = (1, 100, 250)
    q = emb.filter(F.col("vec_id").isin(*probes)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "embedding",
            "q_emb",
            cosine(F.col("embedding"), F.col("q_emb")).alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id")
    )
    pool = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 20
    )

    LAM, K = 0.7, 5

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["rel", "vec_id"], ascending=[False, True])
        V = np.stack(pdf["embedding"].map(np.asarray).to_numpy())
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        rel = pdf["rel"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        chosen: list[int] = []
        for rank in range(K):
            if not chosen:
                score = LAM * rel
            else:
                red = (V @ V[chosen].T).max(axis=1)
                score = LAM * rel - (1.0 - LAM) * red
            score[chosen] = -np.inf
            # deterministic: best score, ties to smaller vec_id (the
            # frame is pre-sorted by (rel desc, vec_id), argmax takes
            # the first maximal element)
            chosen.append(int(np.argmax(score)))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "sel_rank": range(1, K + 1),
                "vec_id": ids[chosen],
                "rel": rel[chosen],
            }
        )

    return pool.groupBy("query_id").applyInPandas(
        mmr, "query_id long, sel_rank int, vec_id long, rel double"
    )


@register(
    "vec_knn_classify",
    tags=("vector", "similarity", "ml"),
    oracle=f"""
        WITH q AS (
            SELECT vec_id, embedding, label FROM embeddings
            ORDER BY md5(CAST(vec_id AS STRING)), vec_id
            LIMIT 40
        ),
        scored AS (
            SELECT q.vec_id AS query_id, q.label AS true_label,
                   e.vec_id AS neighbor_id, e.label AS n_label,
                   {_cos('q.embedding', 'e.embedding')} AS cos_sim
            FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
        ),
        topk AS (
            SELECT * FROM (
                SELECT query_id, true_label, n_label,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rk
                FROM scored
            ) WHERE rk <= 10
        ),
        votes AS (
            SELECT query_id, true_label, n_label,
                   CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM topk GROUP BY 1, 2, 3
        ),
        best AS (
            SELECT query_id, true_label, n_label AS pred_label, n_votes,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY n_votes DESC, n_label) AS vr
            FROM votes
        )
        SELECT query_id, true_label, pred_label, n_votes,
               (pred_label = true_label) AS correct
        FROM best WHERE vr = 1
        ORDER BY query_id
    """,
)
def vec_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label prediction (k=10, majority vote,
    deterministic smallest-label tie-break) for a held-out query set —
    the evaluation loop behind every embedding-space classifier and
    the 'is my embedding space any good' sanity check. Queries
    broadcast against one linear scan of the vector table (the exact
    brute-force baseline, same shape as vec_cosine_topk); the top-k
    window, vote count, and argmax are all per-query and tiny. The
    whole chain is hash-checked against DuckDB including the float
    similarity values feeding the ranks. SCALE CONTRACT, expressed in
    the plan itself: the probe set is deterministically CAPPED at 40
    by the md5-lottery orderBy.limit (the cur_sample_exact_n
    machinery — plans as TakeOrderedAndProject, each partition
    surrenders <=40 local winners), so the broadcast side is bounded
    at ANY corpus size and the probe choice is a pure function of the
    data, not the layout. Brute force against the full table remains
    EVAL duty — production candidate generation swaps to the LSH/IVF
    index paths, exactly as ANN_EVAL.md prescribes."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("true_label"),
            F.md5(F.col("vec_id").cast("string")).alias("__lot"),
        )
        .orderBy("__lot", "query_id")
        .limit(40)
        .drop("__lot")
    )
    scored = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "true_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        cosine("q_emb", "embedding").alias("cos_sim"),
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rk", F.row_number().over(w_k)).filter(
        F.col("rk") <= 10
    )
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_v = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w_v))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            "n_votes",
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


@register(
    "vec_recall_curve",
    tags=("vector", "similarity", "eval"),
    oracle=f"""
        WITH approx_full AS ({_lsh_sql(10)}),
        exact_scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {_cos('q.embedding', 'e.embedding')} AS cos_sim
            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
            WHERE q.vec_id < 5
        ),
        exact_ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM exact_scored
        ),
        ks AS (SELECT UNNEST([1, 5, 10]) AS k),
        truth AS (
            SELECT ks.k, query_id, neighbor_id
            FROM exact_ranked JOIN ks ON exact_ranked.rank <= ks.k
        ),
        approx AS (
            SELECT ks.k AS ka, query_id, neighbor_id
            FROM approx_full JOIN ks ON approx_full.rank <= ks.k
        ),
        hits AS (
            SELECT t.k, CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM truth t
            WHERE EXISTS (
                SELECT 1 FROM approx a
                WHERE a.ka = t.k AND a.query_id = t.query_id
                  AND a.neighbor_id = t.neighbor_id)
            GROUP BY t.k
        )
        SELECT CAST(t.k AS INT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               COALESCE(ANY_VALUE(h.n_hit), 0) AS n_hit,
               CAST(COALESCE(ANY_VALUE(h.n_hit), 0) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM truth t LEFT JOIN hits h ON h.k = t.k
        GROUP BY t.k
        ORDER BY k
    """,
)
def vec_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k curve (k = 1, 5, 10) of the LSH-bucketed ANN path
    against the exact brute-force ranking, computed AS A QUERY — the
    evaluation every ANN deployment runs continuously to catch index
    drift, here distributed: both rankings come from the same scored
    join machinery, truth ∩ approx per (query, k) is a join on
    (query, neighbor), and the curve is a 3-row aggregate. k fans out
    via a broadcast literal range so all cutoffs share one ranking
    pass per side. Promoted from rows-only to a full hash oracle in
    round 12 alongside vec_ann_lsh_topk: the LSH candidate set is
    deterministic (literal ±1 hyperplanes + sequential-fold
    projections), so the whole curve — truth, approx, intersection —
    has an exact DuckDB twin. tests/test_dedup_vectors.py pins the
    curve's monotone sanity + recall@5 floor and tools/ann_eval.py
    tracks the measured values."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # exact ranking (brute force, same shape as vec_cosine_topk)
    exact_scored = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("q_emb", "embedding").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact_ranked = exact_scored.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= 10)
    # approximate ranking from the LSH multiprobe path, ranked to 10
    # so recall@10 is not artificially capped by the top-5 query shape
    approx_ranked = _lsh_ranked(spark, sf_dir, 10)
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k")).filter(
        F.col("k").isin(1, 5, 10)
    )
    truth = exact_ranked.join(
        F.broadcast(ks), F.col("rank") <= F.col("k")
    ).select("k", "query_id", "neighbor_id")
    approx = approx_ranked.join(
        F.broadcast(ks.withColumnRenamed("k", "ka")),
        F.col("rank") <= F.col("ka"),
    ).select(F.col("ka"), "query_id", "neighbor_id")
    hits = truth.join(
        approx,
        on=[
            truth.k == approx.ka,
            truth.query_id == approx.query_id,
            truth.neighbor_id == approx.neighbor_id,
        ],
        how="left_semi",
    )
    return (
        truth.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_truth"))
        .join(
            hits.groupBy("k").agg(F.count(F.lit(1)).alias("n_hit")),
            "k",
            "left",
        )
        .select(
            "k",
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )
        .orderBy("k")
    )


def _logreg_features(spark: SparkSession, sf_dir: str, dim: int = 4):
    """(vec_id, x array, y): first `dim` embedding dims + intercept,
    linearly separable label y = [e0+e1 > 0]."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        F.col("vec_id"),
        F.array(
            *[F.col("embedding")[i].cast("double") for i in range(dim)],
            F.lit(1.0),
        ).alias("x"),
        (
            (F.col("embedding")[0] + F.col("embedding")[1] > 0).cast("double")
        ).alias("y"),
    )


def _sigmoid_p(w: list) -> "F.Column":
    """σ(wᵀx) as a JVM expression for the broadcast weight list."""
    wcol = F.array(*[F.lit(float(v)) for v in w])
    z = F.aggregate(
        F.zip_with("x", wcol, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _logreg_z_sql(dim: int) -> str:
    """Pinned dot-product parenthesization matching _sigmoid_p's
    sequential fold (0.0 + t0 == t0 bitwise)."""
    z = "(x0 * w.w0)"
    for j in range(1, dim + 1):
        z = f"({z} + (x{j} * w.w{j}))"
    return z


def _logreg_ctes(dim: int = 4, iters: int = 12) -> str:
    """Shared WITH-body for the ml_logreg_gd and
    cur_active_learning_batch oracles: the 12-round quantized GD loop
    unrolled — per round, a row CTE computes the q6-floored sigmoid
    from the previous weights (pinned dot-product parenthesization
    matching _sigmoid_p's sequential fold), a sum CTE reduces the
    floor-quantized gradient/loss integers, and a weight CTE applies
    the pinned update expression. Every cross-row reduction is exact
    integer arithmetic; the weight chain is the same IEEE expression
    tree the Spark driver evaluates."""
    d1 = dim + 1
    xs = ", ".join(
        f"CAST(embedding[{j+1}] AS DOUBLE) AS x{j}" for j in range(dim)
    )
    w0 = ", ".join(f"0.0 AS w{j}" for j in range(d1))
    rows = []
    for i in range(1, iters + 1):
        z = _logreg_z_sql(dim)
        gsums = ", ".join(
            f"SUM(CAST(FLOOR(x{j} * (CAST(pq AS DOUBLE) - y * 1000000.0))"
            f" AS BIGINT)) AS g{j}"
            for j in range(d1)
        )
        wupd = ", ".join(
            f"w.w{j} - 4.0 * (CAST(s.g{j} AS DOUBLE) / 1000000.0) / nr.n_d"
            f" AS w{j}"
            for j in range(d1)
        )
        rows.append(f"""
        r{i} AS MATERIALIZED (
            SELECT f.*, CAST(FLOOR((1.0 / (1.0 + exp(-{z})))
                                   * 1000000.0) AS BIGINT) AS pq
            FROM feats f CROSS JOIN wt{i-1} w
        ),
        s{i} AS MATERIALIZED (
            SELECT {gsums},
                   SUM(CAST(FLOOR(-(y * ln(GREATEST(
                             CAST(pq AS DOUBLE) / 1000000.0, 1e-12))
                        + (1.0 - y) * ln(GREATEST(
                             1.0 - CAST(pq AS DOUBLE) / 1000000.0, 1e-12)))
                        * 1000000.0) AS BIGINT)) AS loss_q,
                   SUM(CASE WHEN (CASE WHEN pq > 500000 THEN 1.0
                                       ELSE 0.0 END) = y
                            THEN 1 ELSE 0 END) AS n_correct
            FROM r{i}
        ),
        wt{i} AS MATERIALIZED (
            SELECT {wupd}
            FROM wt{i-1} w, s{i} s, nrow nr
        )""")
    return f"""feats AS (
            SELECT vec_id, {xs}, 1.0 AS x{dim},
                   CASE WHEN embedding[1] + embedding[2] > 0
                        THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS y
            FROM embeddings
        ),
        nrow AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_d FROM feats),
        wt0 AS (SELECT {w0}),
        {','.join(rows)}"""


def _logreg_sql(dim: int = 4, iters: int = 12) -> str:
    """ml_logreg_gd oracle: the shared CTE chain + the per-iteration
    history rows (avg_loss / accuracy from each round's exact sums)."""
    hist = [
        f"SELECT CAST({i-1} AS INT) AS iteration,"
        f" CAST(s.loss_q AS DOUBLE) / (nr.n_d * 1000000.0) AS avg_loss,"
        f" CAST(s.n_correct AS DOUBLE) / nr.n_d AS accuracy"
        f" FROM s{i} s, nrow nr"
        for i in range(1, iters + 1)
    ]
    return f"""
        WITH {_logreg_ctes(dim, iters)}
        {' UNION ALL '.join(hist)}
    """


@register(
    "ml_logreg_gd",
    tags=("ml", "vector", "iterative"),
    oracle=_logreg_sql(),
)
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training by full-batch gradient
    descent — the canonical data-parallel training loop on Spark: per
    iteration, the weight vector broadcasts into a JVM-side expression
    (sigmoid via F.exp inside codegen, no Python), the per-row
    gradient contribution g = x·(σ(wᵀx) - y) reduces with one
    element-wise aggregation (same mergeable partial-agg topology as
    any sum), and only the d+1 coefficients return to the driver
    between rounds. The label is constructed linearly separable
    (y = [e₀+e₁ > 0]) so convergence is a testable CONTRACT, not luck:
    tests/test_dedup_vectors.py asserts strictly decreasing loss and
    >0.9 final accuracy. PROMOTED rows-only -> full hash oracle in
    round 13: the per-row sigmoid floor-quantizes at 1e-6 and every
    gradient/loss contribution floor-quantizes BEFORE its sum (see
    _train_logreg), so the reductions are exact integers and the
    12-round weight chain replays as unrolled CTEs — the "iterative,
    float loss uses exp/log" blocker was curable with the same
    quantize-the-model-state move as kmeans/PQ. At 100 TB this is
    exactly k linear scans + k tiny broadcasts; nothing driver-side
    scales with rows."""
    w, history = _train_logreg(spark, sf_dir)
    return spark.createDataFrame(
        [(i, l, a) for i, l, a in history],
        "iteration int, avg_loss double, accuracy double",
    )


def _train_logreg(spark: SparkSession, sf_dir: str, dim: int = 4,
                  lr: float = 4.0, iters: int = 12):
    """Full-batch GD loop shared by ml_logreg_gd (reports history) and
    cur_active_learning_batch (uses the trained weights). Returns
    (weights, [(iteration, avg_loss, accuracy)]).

    Since round 13 the loop is ENGINE-REPLAYABLE: the per-row sigmoid
    is floor-quantized at 1e-6 into a BIGINT, and every per-row
    gradient/loss contribution floor-quantizes BEFORE its sum — so all
    cross-row reductions are exact integer arithmetic (order-free
    under any partitioning OR engine), and the weight update is one
    pinned double expression of those integers. The only residual
    engine sensitivity is a libm 1-ulp exp/ln difference landing
    exactly ON a quantization boundary (probability ~1e-10 per row
    per term — the same accepted tail as every quantized-ln query).
    The 1e-6 grid perturbs each gradient coordinate by < n/1e6, far
    inside GD's own step noise; loss decrease and accuracy contracts
    are unchanged (tests/test_dedup_vectors.py)."""
    feats = _logreg_features(spark, sf_dir, dim).persist()
    n = feats.count()
    nd = float(n)
    w = [0.0] * (dim + 1)
    history = []
    for it in range(iters):
        pq = F.floor(_sigmoid_p(w) * F.lit(1e6)).cast("bigint")
        pqd = pq.cast("double")
        resid_s = pqd - F.col("y") * F.lit(1e6)  # 1e6-scaled residual
        p_q = pqd / F.lit(1e6)
        loss_term = -(
            F.col("y") * F.log(F.greatest(p_q, F.lit(1e-12)))
            + (F.lit(1.0) - F.col("y"))
            * F.log(F.greatest(F.lit(1.0) - p_q, F.lit(1e-12)))
        )
        lq = F.floor(loss_term * F.lit(1e6)).cast("bigint")
        correct = (
            (pq > F.lit(500000)).cast("double") == F.col("y")
        ).cast("long")
        # gradient reduce = d+1 ordinary integer column sums (map-side
        # partial aggregation, mergeable) — never a collect_list of
        # row vectors
        row = feats.select(
            *[
                F.floor(F.col("x")[i] * resid_s).cast("bigint").alias(f"gq{i}")
                for i in range(dim + 1)
            ],
            lq.alias("lq"),
            correct.alias("c"),
        ).agg(
            *[F.sum(f"gq{i}").alias(f"g{i}") for i in range(dim + 1)],
            F.sum("lq").alias("loss_q"),
            F.sum("c").alias("n_correct"),
        ).first()
        grad = [int(row[f"g{i}"]) for i in range(dim + 1)]
        history.append(
            (
                it,
                float(row["loss_q"]) / (nd * 1e6),
                int(row["n_correct"]) / n,
            )
        )
        w = [wv - lr * (gv / 1e6) / nd for wv, gv in zip(w, grad)]
    feats.unpersist()
    return w, history


@register(
    "cur_active_learning_batch",
    tags=("curation", "ml", "sample"),
    oracle=f"""
        WITH {_logreg_ctes(4, 12)},
        scored AS MATERIALIZED (
            SELECT f.vec_id, f.y,
                   CAST(FLOOR((1.0 / (1.0 + exp(-{_logreg_z_sql(4)})))
                              * 1000000.0) AS BIGINT) AS pq
            FROM feats f CROSS JOIN wt12 w
        )
        SELECT vec_id,
               CAST(pq AS DOUBLE) / 1000000.0 AS p_pos,
               CAST(ABS(pq - 500000) AS DOUBLE) / 1000000.0 AS margin,
               y AS true_label
        FROM scored
        ORDER BY ABS(pq - 500000) ASC, vec_id ASC
        LIMIT 20
    """,
)
def cur_active_learning_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty-based active-learning batch selection — the
    labeling-budget allocator of every human-in-the-loop data
    pipeline: train the classifier (the ml_logreg_gd loop, weights
    deterministic for a fixed fixture), score the WHOLE pool with one
    JVM-side sigmoid scan, and pick the 20 most uncertain points
    (|p - 0.5| smallest; margin ties break on vec_id). Selection is a
    TakeOrdered over the scored pool — no global sort, no collect of
    scores. PROMOTED rows-only -> full hash oracle in round 13,
    downstream of the _train_logreg quantization: the trained weights
    replay in SQL (the ml_logreg_gd oracle's wt12 relation verbatim),
    and the pool scores/margins floor-quantize at 1e-6 so the
    selection ORDER is an exact-integer comparison on both engines
    (raw exp-derived doubles would flip on libm ulps at the cut).
    tests/test_dedup_vectors.py pins the contract: selected margins
    are the pool minimum, and every selected point is less certain
    than every non-selected one."""
    w, _ = _train_logreg(spark, sf_dir)
    feats = _logreg_features(spark, sf_dir)
    pq = F.floor(_sigmoid_p(w) * F.lit(1e6)).cast("bigint")
    mq = F.abs(pq - F.lit(500000))
    scored = feats.select(
        "vec_id",
        "y",
        (pq.cast("double") / F.lit(1e6)).alias("p_pos"),
        (mq.cast("double") / F.lit(1e6)).alias("margin"),
        mq.alias("__mq"),
    )
    return (
        scored.orderBy(F.col("__mq").asc(), F.col("vec_id").asc())
        .limit(20)
        .select("vec_id", "p_pos", "margin", F.col("y").alias("true_label"))
    )


_MRL_DIMS = (8, 16, 32, 64)
_MRL_K = 10
_MRL_NQ = 8


def _mrl_tops(dim: int) -> str:
    return f"""
            SELECT {dim} AS dim, q.vec_id AS query_id,
                   e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       {_cos(f'q.embedding[1:{dim}]', f'e.embedding[1:{dim}]')}
                       DESC, e.vec_id) AS rn
            FROM mrl_q q JOIN embeddings e ON e.vec_id <> q.vec_id"""


@register(
    "vec_matryoshka_eval",
    tags=("vector", "similarity", "eval"),
    oracle=f"""
        WITH mrl_q AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {_MRL_NQ}
        ),
        tops AS MATERIALIZED (
            SELECT dim, query_id, neighbor_id FROM (
                {" UNION ALL ".join(_mrl_tops(d) for d in _MRL_DIMS)}
            ) WHERE rn <= {_MRL_K}
        ),
        full_tops AS (
            SELECT query_id, neighbor_id FROM tops WHERE dim = {max(_MRL_DIMS)}
        )
        SELECT t.dim,
               CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(f.neighbor_id) AS BIGINT) AS overlap,
               CAST(COUNT(f.neighbor_id) AS DOUBLE)
                 / CAST({_MRL_K} * COUNT(DISTINCT t.query_id) AS DOUBLE)
                 AS recall_at_{_MRL_K}
        FROM tops t
        LEFT JOIN full_tops f
          ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY t.dim
        ORDER BY t.dim
    """,
)
def vec_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation evaluation: recall@10 of TRUNCATED
    embeddings (first 8/16/32/64 dims) against the full-dimension
    exact top-10 — the measurement that decides how short you can cut
    stored vectors before ANN quality collapses (storage ∝ dim at
    100 TB, so this is a direct cost dial). Exact everywhere: the
    sequential-fold cosine is bit-identical cross-engine on any slice
    (functions/vectors.py contract), ranks break ties by neighbor id,
    recall is integer overlap / constant. Shape: one broadcast of the
    probe set, one corpus scan computing all 4 slice-cosines (the
    slices reuse the same row — no extra scans), per-(query, dim)
    top-k windows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    sims = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dim"),
                        cosine(
                            F.slice(F.col("embedding"), 1, d),
                            F.slice(F.col("q_emb"), 1, d),
                        ).alias("sim"),
                    )
                    for d in _MRL_DIMS
                ]
            )
        ).alias("ds"),
    ).select("query_id", "neighbor_id", "ds.dim", "ds.sim")
    w = Window.partitionBy("query_id", "dim").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    tops = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MRL_K)
        .select("dim", "query_id", "neighbor_id")
        .persist()
    )
    full_tops = tops.filter(F.col("dim") == max(_MRL_DIMS)).select(
        F.col("query_id").alias("f_query"),
        F.col("neighbor_id").alias("f_neighbor"),
    )
    return (
        tops.join(
            full_tops,
            (tops.query_id == full_tops.f_query)
            & (tops.neighbor_id == full_tops.f_neighbor),
            "left",
        )
        .groupBy("dim")
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count("f_neighbor").cast("bigint").alias("overlap"),
            (
                F.count("f_neighbor").cast("double")
                / (F.lit(_MRL_K) * F.countDistinct("query_id")).cast("double")
            ).alias(f"recall_at_{_MRL_K}"),
        )
        .orderBy("dim")
    )


_FPI_K = 8
# squared L2 as the same sequential fold as _DOT/_NORM (bit-exact
# cross-engine): fold over per-dimension squared differences
_SQDIST = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)


def _fpi_oracle(k: int = _FPI_K) -> str:
    """Unrolled farthest-point traversal: round r joins the corpus to
    the r selected centroids, takes the per-vector MIN of bit-exact
    fold distances (no float accumulation across rows — MIN only),
    and picks the argmax by (min_d2 DESC, vec_id). Chained CTEs, one
    per round, every state MATERIALIZED."""
    ctes = []
    sel_prev = "s1"
    for r in range(2, k + 1):
        ctes.append(f"""
        p{r} AS MATERIALIZED (
            SELECT e.vec_id, e.embedding,
                   MIN({_SQDIST.format(a='e.embedding', b='s.embedding')})
                       AS min_d2
            FROM embeddings e JOIN {sel_prev} s ON TRUE
            WHERE e.vec_id NOT IN (SELECT vec_id FROM {sel_prev})
            GROUP BY e.vec_id, e.embedding
        ),
        s{r} AS MATERIALIZED (
            SELECT * FROM {sel_prev}
            UNION ALL
            SELECT {r} AS init_rank, vec_id, embedding, min_d2
            FROM (SELECT vec_id, embedding, min_d2,
                         ROW_NUMBER() OVER (ORDER BY min_d2 DESC, vec_id)
                             AS rn
                  FROM p{r}) WHERE rn = 1
        )""")
        sel_prev = f"s{r}"
    return f"""
        WITH s1 AS MATERIALIZED (
            SELECT 1 AS init_rank, vec_id, embedding,
                   CAST(0.0 AS DOUBLE) AS min_d2
            FROM embeddings
            WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
        ),
        {','.join(ctes)}
        SELECT init_rank, vec_id, min_d2 AS d2_at_pick
        FROM {sel_prev}
        ORDER BY init_rank
    """


@register(
    "vec_farthest_point_init",
    tags=("vector", "iterative", "init"),
    oracle=_fpi_oracle(),
)
def vec_farthest_point_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means++-style seeding by farthest-point
    traversal: start from the smallest vec_id, then repeatedly pick
    the vector MAXIMIZING its distance to the nearest already-selected
    centroid — the RNG-free variant of k-means++ (maximal instead of
    d²-proportional sampling), and the init that fixes first-k
    seeding's clumping in ml_kmeans_lloyd. Engine-exact because every
    distance is the repo's sequential fold (bit-identical) and rounds
    reduce via MIN/argmax only — no float accumulation across rows;
    hash-oracled through per-round CTE unrolling. Scale shape: round r
    is one scan with an r-row broadcast; total k scans — the standard
    distributed seeding cost. The selected ids feed kmeans_fit as
    init at 100 TB (k·d floats of driver state)."""
    from pyspark.sql import Window as _W

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = e.persist()
    first = (
        e.orderBy("vec_id")
        .limit(1)
        .select("vec_id", "embedding")
        .collect()[0]
    )
    selected = [(1, first["vec_id"], first["embedding"], 0.0)]
    for r in range(2, _FPI_K + 1):
        sel_df = spark.createDataFrame(
            [(vid, emb) for _, vid, emb, _ in selected],
            e.select("vec_id", "embedding").schema,
        ).select(
            F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_emb")
        )
        d2 = F.aggregate(
            F.zip_with(
                "embedding",
                "s_emb",
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        chosen_ids = [vid for _, vid, _, _ in selected]
        pick = (
            e.filter(~F.col("vec_id").isin(chosen_ids))
            .crossJoin(F.broadcast(sel_df))
            .groupBy("vec_id")
            .agg(
                F.min(d2).alias("min_d2"),
                F.first("embedding").alias("embedding"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    _W.orderBy(F.col("min_d2").desc(), "vec_id")
                ),
            )
            .filter(F.col("rn") == 1)
            .collect()[0]
        )
        selected.append((r, pick["vec_id"], pick["embedding"], pick["min_d2"]))
    e.unpersist()
    return spark.createDataFrame(
        [(r, vid, d) for r, vid, _, d in selected],
        "init_rank int, vec_id bigint, d2_at_pick double",
    )


@register(
    "vec_silhouette_simplified",
    tags=("vector", "eval", "agg"),
    oracle=f"""
        WITH elems AS (
            SELECT label, vec_id,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        cents AS (
            SELECT label AS clabel, dim,
                   list_sum(list_transform(
                       list(val ORDER BY vec_id), x -> x)) / COUNT(*) AS c
            FROM elems GROUP BY label, dim
        ),
        d2 AS (
            SELECT e.vec_id, e.label, c.clabel,
                   {o_qsum('(e.val - c.c) * (e.val - c.c)', 12)} AS dq
            FROM elems e JOIN cents c ON c.dim = e.dim
            GROUP BY e.vec_id, e.label, c.clabel
        ),
        ab AS (
            SELECT vec_id, label,
                   CAST(MIN(CASE WHEN clabel = label THEN dq END)
                        AS BIGINT) AS a,
                   CAST(MIN(CASE WHEN clabel <> label THEN dq END)
                        AS BIGINT) AS b
            FROM d2 GROUP BY vec_id, label
        ),
        s AS (
            SELECT label,
                   CAST(b - a AS DOUBLE)
                     / CAST(GREATEST(a, b) AS DOUBLE) AS sil
            FROM ab
        )
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
               {o_fsum('sil')}
                 / CAST(COUNT(*) AS DOUBLE) AS mean_silhouette
        FROM s GROUP BY label
        ORDER BY label
    """,
)
def vec_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label — THE
    clustering-quality score, in the linear-time variant every
    at-scale evaluation uses: a = squared distance to the own-label
    centroid, b = min over other centroids, s = (b−a)/max(a,b). The
    full-pairwise silhouette is O(n²); this is O(n·k·dims) with k
    labels, the join every vector makes against the broadcast
    centroid relation. Determinism: centroids come from the vec_id-
    ordered sequential fold (the vec_centroid_per_label recipe — a
    decimal-cast sum is NOT cross-engine-stable for float-origin
    doubles); each squared-distance term is a deterministic double
    floor-scaled at 1e-12 and integer-summed (order-free); the
    silhouette edge is one division of exact BIGINTs; per-label means
    ride the 1e-6 fsum. Negative means flag label overlap — the OOD
    twin of vec_ood_centroid_outliers."""
    e = load_table(spark, sf_dir, "embeddings")
    elems = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("vec_id", "val")))
    fold = F.aggregate(
        F.transform(ordered, lambda s: s.getField("val")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cents = elems.groupBy(
        F.col("label").alias("clabel"), "dim"
    ).agg((fold / F.count("val")).alias("c"))
    d2 = (
        elems.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            qsum(
                (F.col("val") - F.col("c")) * (F.col("val") - F.col("c")), 12
            ).alias("dq")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("dq")))
        .cast("bigint")
        .alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dq")))
        .cast("bigint")
        .alias("b"),
    )
    sil = (F.col("b") - F.col("a")).cast("double") / F.greatest(
        F.col("a"), F.col("b")
    ).cast("double")

    return (
        ab.select("label", sil.alias("sil"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            (fsum(F.col("sil")) / F.count(F.lit(1)).cast("double")).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


@register(
    "vec_kmeans_unrolled2",
    tags=("vector", "cluster", "agg"),
    oracle=f"""
        WITH elems AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        seeds AS (
            SELECT vec_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                       AS cluster_id
            FROM (SELECT DISTINCT vec_id FROM embeddings
                  ORDER BY vec_id LIMIT 8)
        ),
        c0 AS (
            SELECT s.cluster_id, e.dim, e.val AS c
            FROM seeds s JOIN elems e ON e.vec_id = s.vec_id
        ),
        d1 AS (
            SELECT e.vec_id, c.cluster_id,
                   {o_qsum('(e.val - c.c) * (e.val - c.c)', 12)} AS dq
            FROM elems e JOIN c0 c ON c.dim = e.dim
            GROUP BY e.vec_id, c.cluster_id
        ),
        a1 AS (
            SELECT vec_id, cluster_id FROM (
                SELECT vec_id, cluster_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY dq, cluster_id) AS rn
                FROM d1
            ) WHERE rn = 1
        ),
        c1 AS (
            SELECT a.cluster_id, e.dim,
                   list_sum(list_transform(
                       list(e.val ORDER BY e.vec_id), x -> x))
                     / COUNT(*) AS c
            FROM a1 a JOIN elems e ON e.vec_id = a.vec_id
            GROUP BY a.cluster_id, e.dim
        ),
        d2 AS (
            SELECT e.vec_id, c.cluster_id,
                   {o_qsum('(e.val - c.c) * (e.val - c.c)', 12)} AS dq
            FROM elems e JOIN c1 c ON c.dim = e.dim
            GROUP BY e.vec_id, c.cluster_id
        ),
        a2 AS (
            SELECT vec_id, cluster_id, dq FROM (
                SELECT vec_id, cluster_id, dq,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY dq, cluster_id) AS rn
                FROM d2
            ) WHERE rn = 1
        )
        SELECT a2.cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(CAST(SUM(CAST(a2.dq AS DECIMAL(38,0)))
                    AS STRING) AS DOUBLE) / 1e12 AS inertia,
               CAST(SUM(CASE WHEN a1.cluster_id <> a2.cluster_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
        FROM a2 JOIN a1 ON a1.vec_id = a2.vec_id
        GROUP BY a2.cluster_id
        ORDER BY a2.cluster_id
    """,
)
def vec_kmeans_unrolled2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-oracled k-means, two unrolled Lloyd rounds (k=8, seeds =
    the 8 smallest vec_ids) — the oracle-promotion twin of the rows-
    only vec_kmeans_clusters, built entirely from cross-engine-stable
    pieces: squared-distance terms floor-scaled at 1e-12 and integer-
    summed (order-free, the silhouette recipe), argmin assignment with
    the (distance, cluster_id) tiebreak, and round-2 centroids from
    the vec_id-ORDERED sequential fold (a plain SUM of float-origin
    doubles is not cross-engine-stable; the pinned fold is). Inertia
    and the migration census are exact integers. At 100 TB each round
    is one broadcast-centroid join + two hash aggs — the same
    data-parallel shape as the production ml_kmeans_lloyd, here
    unrolled to stay ANSI-expressible."""
    e = load_table(spark, sf_dir, "embeddings")
    elems = (
        e.select("vec_id", F.posexplode("embedding").alias("dim0", "val"))
        .select(
            "vec_id",
            (F.col("dim0") + 1).alias("dim"),
            F.col("val").cast("double").alias("val"),
        )
    )
    seeds = (
        e.select("vec_id")
        .orderBy("vec_id")
        .limit(8)
        .select(
            "vec_id",
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).cast("bigint").alias("cluster_id"),
        )
    )
    c0 = seeds.join(
        elems.select(F.col("vec_id").alias("svid"), "dim", "val"),
        F.col("vec_id") == F.col("svid"),
    ).select("cluster_id", "dim", F.col("val").alias("c"))

    def dists(cents):
        return (
            elems.join(F.broadcast(cents), "dim")
            .groupBy("vec_id", "cluster_id")
            .agg(
                qsum(
                    (F.col("val") - F.col("c")) * (F.col("val") - F.col("c")), 12
                ).alias("dq")
            )
        )

    def assign(d):
        w = Window.partitionBy("vec_id").orderBy("dq", "cluster_id")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster_id", "dq")
        )

    a1 = assign(dists(c0)).select("vec_id", F.col("cluster_id").alias("c1id"))
    ordered = F.array_sort(F.collect_list(F.struct("vec_id", "val")))
    fold = F.aggregate(
        F.transform(ordered, lambda s: s.getField("val")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    c1 = (
        a1.join(elems, "vec_id")
        .groupBy(F.col("c1id").alias("cluster_id"), "dim")
        .agg((fold / F.count("val")).alias("c"))
    )
    a2 = assign(dists(c1))
    return (
        a2.join(a1, "vec_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            (
                F.sum(F.col("dq").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .cast("double")
                / F.lit(1e12)
            ).alias("inertia"),
            F.sum(F.when(F.col("c1id") != F.col("cluster_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_moved_in"),
        )
        .orderBy("cluster_id")
    )


@register(
    "vec_mmr_unrolled",
    tags=("vector", "rerank", "agg"),
    oracle=f"""
        WITH el AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        probes AS (
            SELECT vec_id AS query_id, dim, val AS qval
            FROM el WHERE vec_id IN (1, 100, 250)
        ),
        rel AS MATERIALIZED (
            SELECT p.query_id, e.vec_id,
                   {o_qsum('e.val * p.qval', 12)} AS relq
            FROM el e JOIN probes p ON p.dim = e.dim
            WHERE e.vec_id <> p.query_id
            GROUP BY p.query_id, e.vec_id
        ),
        pool AS MATERIALIZED (
            SELECT query_id, vec_id, relq FROM (
                SELECT query_id, vec_id, relq,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY relq DESC, vec_id) AS rk
                FROM rel
            ) WHERE rk <= 8
        ),
        sim AS MATERIALIZED (
            SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
                   {o_qsum('ea.val * eb.val', 12)} AS simq
            FROM pool a
            JOIN pool b ON b.query_id = a.query_id AND b.vec_id <> a.vec_id
            JOIN el ea ON ea.vec_id = a.vec_id
            JOIN el eb ON eb.vec_id = b.vec_id AND eb.dim = ea.dim
            GROUP BY a.query_id, a.vec_id, b.vec_id
        ),
        s1 AS (
            SELECT query_id, vec_id, relq FROM (
                SELECT query_id, vec_id, relq,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY relq DESC, vec_id) AS pk
                FROM pool
            ) WHERE pk = 1
        ),
        c2 AS (
            SELECT p.query_id, p.vec_id, p.relq,
                   7 * p.relq - 3 * MAX(s.simq) AS score
            FROM pool p
            JOIN s1 ON s1.query_id = p.query_id AND p.vec_id <> s1.vec_id
            JOIN sim s ON s.query_id = p.query_id AND s.va = p.vec_id
                      AND s.vb = s1.vec_id
            GROUP BY p.query_id, p.vec_id, p.relq
        ),
        s2 AS (
            SELECT query_id, vec_id, relq FROM (
                SELECT query_id, vec_id, relq,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id) AS pk
                FROM c2
            ) WHERE pk = 1
        ),
        sel2 AS (
            SELECT query_id, vec_id FROM s1
            UNION ALL SELECT query_id, vec_id FROM s2
        ),
        c3 AS (
            SELECT p.query_id, p.vec_id, p.relq,
                   7 * p.relq - 3 * MAX(s.simq) AS score
            FROM pool p
            JOIN sim s ON s.query_id = p.query_id AND s.va = p.vec_id
            JOIN sel2 ON sel2.query_id = s.query_id
                     AND sel2.vec_id = s.vb
            WHERE p.vec_id NOT IN (SELECT vec_id FROM sel2
                                   WHERE sel2.query_id = p.query_id)
            GROUP BY p.query_id, p.vec_id, p.relq
        ),
        s3 AS (
            SELECT query_id, vec_id, relq FROM (
                SELECT query_id, vec_id, relq,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id) AS pk
                FROM c3
            ) WHERE pk = 1
        ),
        sel3 AS (
            SELECT query_id, vec_id FROM sel2
            UNION ALL SELECT query_id, vec_id FROM s3
        ),
        c4 AS (
            SELECT p.query_id, p.vec_id, p.relq,
                   7 * p.relq - 3 * MAX(s.simq) AS score
            FROM pool p
            JOIN sim s ON s.query_id = p.query_id AND s.va = p.vec_id
            JOIN sel3 ON sel3.query_id = s.query_id
                     AND sel3.vec_id = s.vb
            WHERE p.vec_id NOT IN (SELECT vec_id FROM sel3
                                   WHERE sel3.query_id = p.query_id)
            GROUP BY p.query_id, p.vec_id, p.relq
        ),
        s4 AS (
            SELECT query_id, vec_id, relq FROM (
                SELECT query_id, vec_id, relq,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id) AS pk
                FROM c4
            ) WHERE pk = 1
        ),
        final AS (
            SELECT query_id, 1 AS pick, vec_id, relq FROM s1
            UNION ALL SELECT query_id, 2, vec_id, relq FROM s2
            UNION ALL SELECT query_id, 3, vec_id, relq FROM s3
            UNION ALL SELECT query_id, 4, vec_id, relq FROM s4
        )
        SELECT query_id, CAST(pick AS INT) AS pick, vec_id, relq
        FROM final ORDER BY query_id, pick
    """,
)
def vec_mmr_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-oracled MMR re-ranking (lambda=0.7, 4 picks from a MIPS
    top-8 pool per probe) — the oracle-promotion twin of the rows-only
    vec_mmr_rerank, made integer-decidable by quantization at birth:
    relevance and pairwise similarity are sums of per-dimension
    FLOOR(product * 1e12) terms (order-free exact integers from
    bit-identical doubles), so the greedy selection 7*rel - 3*max_sim
    is pure BIGINT arithmetic with a (score, vec_id) tiebreak, and the
    oracle unrolls the picks as chained CTEs. Spark runs the same
    rounds over a persisted 24-row pool and ~170 similarity rows; the only
    corpus-scale work is the relevance scan against three broadcast
    probes."""
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "vec_id", (F.col("dim0") + 1).alias("dim"), F.col("val").cast("double").alias("val")
    )
    probes = el.filter(F.col("vec_id").isin(1, 100, 250)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("val").alias("qval")
    )
    rel = (
        el.join(F.broadcast(probes), "dim")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            qsum(F.col("val") * F.col("qval"), 12).alias("relq")
        )
    )
    wpool = Window.partitionBy("query_id").orderBy(F.col("relq").desc(), "vec_id")
    pool = (
        rel.withColumn("rk", F.row_number().over(wpool))
        .filter(F.col("rk") <= 8)
        .select("query_id", "vec_id", "relq")
        .persist()
    )
    pa = pool.select("query_id", F.col("vec_id").alias("va"))
    pb = pool.select(F.col("query_id").alias("qb"), F.col("vec_id").alias("vb"))
    ea = el.select(F.col("vec_id").alias("va"), "dim", F.col("val").alias("va_val"))
    eb = el.select(
        F.col("vec_id").alias("vbx"),
        F.col("dim").alias("dim_b"),
        F.col("val").alias("vb_val"),
    )
    sim = (
        pa.join(pb, (F.col("query_id") == F.col("qb")) & (F.col("va") != F.col("vb")))
        .join(ea, "va")
        .join(eb, (F.col("vb") == F.col("vbx")) & (F.col("dim") == F.col("dim_b")))
        .groupBy("query_id", "va", "vb")
        .agg(
            qsum(F.col("va_val") * F.col("vb_val"), 12).alias("simq")
        )
    )
    wpick = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "vec_id")
    # The state is the picks so far (3 rows per round, one per probe).
    # Round k reads it TWICE (anti-membership + the max-sim join), so an
    # uncut lineage doubles the plan per round; checkpointing each round
    # measured 11 s -> ~1 s exec at sf0.01 (values unchanged).

    def best(scored: DataFrame, pick: int) -> DataFrame:
        return (
            scored.withColumn("pk", F.row_number().over(wpick))
            .filter(F.col("pk") == 1)
            .select("query_id", F.lit(pick).cast("int").alias("pick"), "vec_id", "relq")
        )

    def step(picks: DataFrame, i: int) -> DataFrame:
        selected = picks.select("query_id", F.col("vec_id").alias("sel_vid"))
        cand = (
            pool.join(selected, ["query_id"], "inner")
            .filter(F.col("vec_id") != F.col("sel_vid"))
            .groupBy("query_id", "vec_id", "relq")
            .agg(F.count(F.lit(1)).alias("n_ok"))
            .join(
                selected.groupBy("query_id").agg(
                    F.count(F.lit(1)).alias("n_sel")
                ),
                "query_id",
            )
            .filter(F.col("n_ok") == F.col("n_sel"))  # not yet selected
            .select("query_id", "vec_id", "relq")
        )
        scored = (
            cand.join(
                sim.withColumnRenamed("va", "vec_id"),
                ["query_id", "vec_id"],
            )
            .join(
                selected.withColumnRenamed("sel_vid", "vb"),
                ["query_id", "vb"],
            )
            .groupBy("query_id", "vec_id", "relq")
            .agg(F.max("simq").alias("max_sim"))
            .withColumn("score", 7 * F.col("relq") - 3 * F.col("max_sim"))
        )
        return picks.unionAll(best(scored, i + 2))

    first = best(pool.withColumn("score", F.col("relq")), 1)
    return iterate(first, step, 3).orderBy("query_id", "pick")


@register(
    "vec_cosine_histogram",
    tags=("vector", "similarity", "agg"),
    oracle=f"""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS i, (a.vec_id * 7 + 13) % n.n AS j
            FROM embeddings a CROSS JOIN n
            WHERE (a.vec_id * 7 + 13) % n.n <> a.vec_id
        ),
        scored AS (
            SELECT {_cos('a.embedding', 'b.embedding')} AS cos_sim
            FROM pairs
            JOIN embeddings a ON a.vec_id = pairs.i
            JOIN embeddings b ON b.vec_id = pairs.j
        )
        , binned AS (
            SELECT CAST(LEAST(19, FLOOR((cos_sim + 1) * 10)) AS BIGINT)
                       AS bin
            FROM scored
        )
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(bin AS DOUBLE) / 10 - 1 AS bin_lo
        FROM binned GROUP BY bin ORDER BY bin
    """,
)
def vec_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity histogram over a deterministic linear pairing
    of the embedding space (j = (7i+13) mod N, self-pairs dropped) —
    the anisotropy diagnostic of an embedding table: a healthy space
    piles mass near 0; a collapsed one (anisotropic, post-bad-
    finetune) piles near 1 and ruins every cosine threshold
    downstream. One cosine per vector (LINEAR — the pairing replaces
    any quadratic sample), computed as the sequential-fold exact
    double cosine both engines share bit-identically (vectors.py
    contract); binning floors into 20 fixed buckets of width 0.1.
    Scale shape: one self-join on the derived key, no shuffle beyond
    the id join."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs = (
        e.crossJoin(F.broadcast(n))
        .select(
            F.col("vec_id").alias("i"),
            ((F.col("vec_id") * 7 + 13) % F.col("n")).alias("j"),
        )
        .filter(F.col("j") != F.col("i"))
    )
    a = e.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    scored = (
        pairs.join(a, "i")
        .join(b, "j")
        .select(cosine("ea", "eb").alias("cos_sim"))
    )
    bin_ = F.least(F.lit(19), F.floor((F.col("cos_sim") + 1) * 10)).cast(
        "bigint"
    )
    return (
        scored.groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "bin",
            "n_pairs",
            (F.col("bin").cast("double") / 10 - 1).alias("bin_lo"),
        )
        .orderBy("bin")
    )


@register(
    "vec_rrf_fusion",
    tags=("vector", "similarity", "eval"),
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 5),
        scored AS MATERIALIZED (
            SELECT q.query_id, e.vec_id AS cand_id,
                   {_DOT.format(a='q.q_emb', b='e.embedding')}
                     / ({_NORM.format(a='q.q_emb')}
                        * {_NORM.format(a='e.embedding')}) AS cos_sim,
                   {_SQDIST.format(a='q.q_emb', b='e.embedding')} AS dist_sq
            FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        ),
        ra AS (
            SELECT query_id, cand_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, cand_id) AS INT) AS rank_cos
            FROM scored QUALIFY rank_cos <= 20
        ),
        rb AS (
            SELECT query_id, cand_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY dist_sq, cand_id) AS INT) AS rank_l2
            FROM scored QUALIFY rank_l2 <= 20
        ),
        fused AS (
            SELECT query_id, cand_id, rank_cos, rank_l2,
                   COALESCE(CAST(1 AS DOUBLE)
                            / CAST(60 + rank_cos AS DOUBLE),
                            CAST(0 AS DOUBLE))
                   + COALESCE(CAST(1 AS DOUBLE)
                              / CAST(60 + rank_l2 AS DOUBLE),
                              CAST(0 AS DOUBLE)) AS rrf_score
            FROM ra FULL JOIN rb USING (query_id, cand_id)
        )
        SELECT query_id, cand_id, rank_cos, rank_l2, rrf_score,
               fused_rank
        FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY rrf_score DESC, cand_id) AS INT)
                            AS fused_rank
              FROM fused)
        WHERE fused_rank <= 10
    """,
)
def vec_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al. 2009) of two
    retrieval rankings — cosine similarity and L2 distance — for 5
    query vectors: score = sum over lists of 1/(60+rank), the
    standard way hybrid search merges dense + sparse (or two dense)
    rankers without score calibration. Exactness: both base scores
    are the house pinned element-order folds (dot/norm and the
    squared-difference fold twin list_sum's sequential semantics);
    ranks are integers with deterministic id tiebreaks; each RRF term
    is one exact IEEE division of integers and the two terms add in
    fixed written order, so the fused ranking twins bit-for-bit.
    Distributed shape: 5-query broadcast against one corpus scan (the
    documented brute-force eval baseline — production candidate
    generation swaps in the LSH/IVF index paths); top-20 per ranking
    via per-query windows; the fusion join carries <=40 rows per
    query."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    diff_sq = F.aggregate(
        F.zip_with(
            F.col("q_emb"),
            F.col("embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            cosine("q_emb", "embedding").alias("cos_sim"),
            diff_sq.alias("dist_sq"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "cand_id"
    )
    wb = Window.partitionBy("query_id").orderBy("dist_sq", "cand_id")
    ra = (
        scored.select(
            "query_id",
            "cand_id",
            F.row_number().over(wa).cast("int").alias("rank_cos"),
        )
        .filter(F.col("rank_cos") <= 20)
    )
    rb = (
        scored.select(
            "query_id",
            "cand_id",
            F.row_number().over(wb).cast("int").alias("rank_l2"),
        )
        .filter(F.col("rank_l2") <= 20)
    )
    zero = F.lit(0).cast("double")
    one = F.lit(1).cast("double")
    rrf = F.coalesce(
        one / (F.lit(60) + F.col("rank_cos")).cast("double"), zero
    ) + F.coalesce(one / (F.lit(60) + F.col("rank_l2")).cast("double"), zero)
    fused = ra.join(rb, ["query_id", "cand_id"], "full_outer").select(
        "query_id", "cand_id", "rank_cos", "rank_l2", rrf.alias("rrf_score")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "cand_id"
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(wf).cast("int")
        )
        .filter(F.col("fused_rank") <= 10)
    )
