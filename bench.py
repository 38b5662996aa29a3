"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query executes end-to-end via the noop sink (full computation, no
driver-side collect). A small warm-up query runs first so JVM/codegen
startup does not pollute the first measurement, and each query is
timed $SPARK_GRAFT_BENCH_RUNS times (default 5) reporting the MINIMUM —
steady-state cost, robust to host-level noise on shared VMs. Default
raised 3 -> 5 in round 12: C2 JIT of the biggest generated classes
(ml_bagging_oob's 16-ladder codegen) measurably persists through 3
runs (~4.1 s min-of-3 vs 3.1 s once warm, measured quiet; rerun with
`tools/probe.py time ml_bagging_oob --runs 5`), so 3 runs report
warm-up, not plan cost — the same reason JMH separates warm-up from
measurement iterations.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from finance_etl_spark import plans  # noqa: E402
from finance_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    df = plans.get(name).build(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    elapsed = time.time() - t0
    # queries that persist intermediates (LSH) must not hand their
    # cache to the next run — each timing is a full cold computation
    spark.catalog.clearCache()
    return elapsed


def main() -> int:
    spark = get_spark("bench")
    names = sorted(plans.headline_queries())
    # warm-up: tiny query end-to-end (JVM + codegen + parquet footer IO)
    run_query(spark, "q1_pricing_summary", "/root/testdata/sf0.001")

    load_start = os.getloadavg()[0]
    timings: dict[str, float] = {}
    for name in names:
        timings[name] = round(
            min(run_query(spark, name, SF_DIR) for _ in range(N_RUNS)), 3
        )
    total = round(sum(timings.values()), 3)
    # The driver captures only the last ~2000 bytes of stdout and parses
    # the final JSON line. Rounds 6-8 embedded the quiet-machine rerun
    # and headline_set inline, pushing the line past that window, and the
    # driver recorded parsed=null three rounds running. Keep stdout to
    # the compact required shape; the full context (headline_set,
    # quiet-machine reference, host-noise notes) goes to
    # BENCH_DETAIL.json next to this script instead.
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "runs_per_query": N_RUNS,
        "loadavg_1m": [round(load_start, 2), round(os.getloadavg()[0], 2)],
        "headline_count": len(names),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    detail = dict(out)
    # Host-noise context: this machine is a shared VM and wall times
    # swing ±30% with background load (BENCH_r04 recorded 14.4 s under
    # load vs 11.3 s quiet, identical plans). The loadavg captured
    # around the run plus the committed quiet-machine reference
    # (BENCH_LOCAL.json, produced by the same harness on an idle host)
    # let a reader compare rounds without re-running.
    detail["headline_set"] = names
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json")) as f:
            detail["quiet_rerun"] = json.load(f)
    except FileNotFoundError:
        detail["quiet_rerun"] = None
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    line = json.dumps(out)
    if len(line) >= 1800:  # never exceed the driver's tail window
        slim = dict(out)
        slim.pop("queries", None)
        slim["queries_in"] = "BENCH_DETAIL.json"
        line = json.dumps(slim)
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
