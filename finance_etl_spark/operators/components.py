"""Connected components over an undirected edge list — the clustering
step of near-duplicate dedup (LSH/Jaccard pairs → duplicate *groups* →
keep one survivor per group).

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round every node takes the minimum label among
itself and its neighbors; converged when no label changes. Rounds
needed = graph diameter, which for near-dup graphs is small (duplicate
clusters are dense cliques-of-chains, not long paths). Only the
(node, label) relation — one row per distinct node, far smaller than
the input corpus — carries state between rounds; operators/iterate.py
checkpoints it every round, so each round's plan is one round deep.

Scale notes (100 TB): the per-round cost is one shuffle join of the
edge list against the label relation plus one min-aggregation — both
hash-partitioned on node id, no driver-side state, no collect. For
adversarial graphs with large diameter, swap the propagation step for
the large-star/small-star rewriting of Kiveris et al. (CC in MapReduce),
which converges in O(log^2 n) rounds with the same join+agg shape; the
near-dup workload does not need it.

Convergence is detected with a decimal sum of labels: labels only ever
decrease, so the sum is strictly monotone until the fixed point —
equality of consecutive sums IS convergence (no row-wise diff join
needed). The sum is observed on each round's checkpoint job, so the
test launches no job of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finance_etl_spark.operators.iterate import iterate


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) for both orientations of every edge."""
    return edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )


def _own_labels(sym: DataFrame) -> DataFrame:
    """(node, label): every node labeled with its own id."""
    return sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """(node, component_id) for every node appearing in ``edges``;
    component_id = min node id in the component. Raises if not
    converged within ``max_rounds`` (see module docstring for the
    log-round alternative)."""
    sym = _symmetric(edges, src, dst).distinct().persist()

    def step(labels: DataFrame, _: int) -> DataFrame:
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return labels.join(nbr_min, "node", "left").select(
            "node", F.least("label", "nbr_label").alias("label")
        )

    # the cached edge relation is released on every exit path, the
    # non-convergence raise included
    try:
        labels = iterate(
            _own_labels(sym),
            step,
            max_rounds,
            until=F.sum(F.col("label").cast("decimal(38,0)")),
        )
    finally:
        sym.unpersist()
    return labels.select("node", F.col("label").alias("component_id"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 5,
) -> DataFrame:
    """(node, community_id) by synchronous label propagation with a
    DETERMINISTIC update: each round every node adopts its
    neighborhood's most frequent label, ties broken by the SMALLEST
    label (plain max-frequency propagation is run-order-dependent —
    this variant is reproducible under any partitioning). A fixed
    round budget keeps the operator deterministic even on graphs where
    propagation oscillates (bipartite-ish structures never converge
    under synchronous updates).

    Per round: one edge⋈label join, one (node, label) count agg, one
    min_by pick — all hash-partitioned on node id, state is the
    (node, label) relation, checkpointed per round exactly as in
    connected_components above."""
    sym = _symmetric(edges, src, dst).distinct().persist()

    def step(labels: DataFrame, _: int) -> DataFrame:
        nbr = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        # most frequent neighbor label, smallest label on ties:
        # min_by over the (-votes, label) lexicographic struct
        pick = nbr.groupBy(F.col("n2").alias("node")).agg(
            F.min_by(
                "label", F.struct((-F.col("votes")).alias("nv"), "label")
            ).alias("new_label")
        )
        return labels.join(pick, "node", "left").select(
            "node", F.coalesce("new_label", "label").alias("label")
        )

    try:
        labels = iterate(_own_labels(sym), step, n_rounds)
    finally:
        sym.unpersist()
    return labels.select("node", F.col("label").alias("community_id"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """(node, component_id) by alternating LARGE-STAR / SMALL-STAR
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log^2 n)-round formulation that stays
    viable on ADVERSARIAL graphs (long paths, huge diameter) where
    plain min-label propagation (connected_components above) needs
    diameter-many rounds.

    Each round is two join-free groupBy passes over the edge relation:

    - large-star: every node u computes m = min(neighbors ∪ {u}) and
      rewires each STRICTLY LARGER neighbor v > u to m;
    - small-star: on the to-smaller orientation, u rewires all its
      ≤-neighbors (and itself) to m.

    Both emit (v, m) pairs from a groupBy(u) + min-agg + posexploded
    neighbor list — hash-partitioned on node id, no driver state; the
    edge relation is checkpointed per round (same lineage-reset
    reasoning as the propagation loop). Converged when
    the edge multiset stabilizes (decimal sum + count fingerprint —
    edges only ever move toward smaller minima, so the fingerprint is
    monotone until fixed point). At the fixed point the relation is a
    star forest: every node points at its component minimum."""

    def star(df: DataFrame, large: bool) -> DataFrame:
        # neighbor lists per u (plus self), component-min per u
        grouped = df.groupBy("a").agg(
            F.collect_list("b").alias("nbrs"),
            F.least(F.min("b"), F.col("a")).alias("m"),
        )
        if large:
            # rewire strictly-larger neighbors to m
            out = grouped.select(
                F.explode("nbrs").alias("v"), "a", "m"
            ).filter(F.col("v") > F.col("a"))
        else:
            # to-smaller orientation: keep neighbors <= a, rewire them
            # AND a itself to m
            out = grouped.select(
                F.explode(
                    F.array_append(
                        F.filter("nbrs", lambda v: v <= F.col("a")), F.col("a")
                    )
                ).alias("v"),
                "a",
                "m",
            )
        return (
            out.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def step(e_sym: DataFrame, _: int) -> DataFrame:
        # star passes need BOTH directions for neighborhoods: the
        # relation is kept symmetric between rounds
        e = star(e_sym, large=True)
        e = star(_symmetric(e, "a", "b"), large=False)
        return _symmetric(e, "a", "b").distinct()

    # symmetric, no self-loops
    e_sym = iterate(
        _symmetric(edges, src, dst).filter(F.col("a") != F.col("b")).distinct(),
        step,
        max_rounds,
        until=(
            F.count(F.lit(1)),
            F.sum((F.col("a") + F.col("b")).cast("decimal(38,0)")),
        ),
    )
    # fixed point: star forest. Each node's label = min neighbor (or
    # itself for the center). Both rewrites keep every node of the
    # input on some edge, so every node is an ``a`` here.
    return e_sym.groupBy(F.col("a").alias("node")).agg(
        F.least(F.min("b"), F.col("node")).alias("component_id")
    )
