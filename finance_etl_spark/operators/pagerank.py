"""Weighted PageRank as iterative DataFrame rounds.

Each round is one co-partitioned join + one hash aggregation composed
LAZILY (dangling mass folds in as a 1-row broadcast aggregate, no
per-round driver collect); operators/iterate.py materializes the rank
vector every ``_CHECKPOINT_EVERY`` rounds, which keeps lineage bounded
while halving the per-round job/replan overhead, and releases each
superseded rank vector. Edges are normalized, partitioned by src, and
cached ONCE — at 100 TB the edge shuffle happens once, not per
iteration, and each round moves only rank-vector-sized data.

Iteration shuffles are rank-vector-sized. The partition count is scoped
per-DataFrame (explicit ``repartition`` on the cached edge relation;
AQE coalesces the tiny aggregate shuffles) rather than by mutating the
session-global ``spark.sql.shuffle.partitions``, so concurrent queries
on the same SparkSession are unaffected. On a billion-node graph raise
``_ITER_PARTITIONS``.

Per-round mass sums are integer-exact: each contribution is scaled by
1e18 and floored to a BIGINT before summing (sum < 1e18 ≤ 2^63 because
total rank mass is 1), so ranks are bit-identical under any
partitioning or relayout — pinned in tests/test_curation.py — AND
bit-identical cross-engine: floor(x·1e18), BIGINT sum, and BIGINT→
double are all engine-agnostic operations, unlike double→DECIMAL
quantization, whose rounding path differs measurably between Spark
(shortest-repr HALF_UP), DuckDB's direct cast (exact binary
expansion), and DuckDB's VARCHAR route (17-sig-digit formatting) —
the three-way divergence that made this operator rows-only until r7.

Dangling mass (nodes with no out-edges) is redistributed uniformly,
keeping the rank vector a proper probability distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finance_etl_spark.operators.iterate import iterate

_SCALE = 1e18  # exactly representable power of ten; mass·1e18 < 2^63
_ITER_PARTITIONS = 4
_CHECKPOINT_EVERY = 2


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    damping: float = 0.85,
    n_iter: int = 12,
) -> DataFrame:
    """Returns (node, rank). Edges may carry arbitrary positive weights;
    transition probabilities are the out-weight-normalized weights."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .cache()
    )
    out_w = edges.groupBy(src).agg(F.sum(weight).alias("__out_w"))
    norm = (
        edges.join(out_w, src)
        .select(
            F.col(src).alias("e_src"),
            F.col(dst).alias("e_dst"),
            (F.col(weight) / F.col("__out_w")).alias("p"),
        )
        .repartition(_ITER_PARTITIONS, "e_src")
        .cache()
    )
    sources = norm.select(F.col("e_src").alias("node")).distinct()
    dangling = nodes.join(sources, "node", "left_anti").cache()

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contrib = (
            norm.join(ranks, norm.e_src == ranks.node)
            .groupBy("e_dst")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("p") * F.col("rank") * F.lit(_SCALE))
                    ).cast("double")
                    / F.lit(_SCALE)
                ).alias("in_mass")
            )
        )
        new_ranks = nodes.join(
            contrib, nodes.node == contrib.e_dst, "left"
        ).select("node", F.coalesce(F.col("in_mass"), F.lit(0.0)).alias("in_mass"))
        if has_dangling:
            d_mass = (
                ranks.join(dangling, "node")
                .agg(
                    (
                        F.coalesce(
                            F.sum(
                                F.floor(F.col("rank") * F.lit(_SCALE))
                            ),
                            F.lit(0),
                        ).cast("double")
                        / F.lit(_SCALE)
                    ).alias("d_mass")
                )
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(d_mass))
        else:
            new_ranks = new_ranks.withColumn("d_mass", F.lit(0.0))
        return new_ranks.select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + damping * (F.col("in_mass") + F.col("d_mass") / n)
            ).alias("rank"),
        )

    # the returned rank vector is a checkpoint, so the cached helper
    # relations are released on every exit path
    try:
        n = nodes.count()
        has_dangling = not dangling.isEmpty()
        return iterate(
            nodes.select("node", F.lit(1.0 / n).alias("rank")),
            step,
            n_iter,
            checkpoint_every=_CHECKPOINT_EVERY,
        )
    finally:
        for df in (nodes, norm, dangling):
            df.unpersist()
