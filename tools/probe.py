"""One measurement harness for the registered queries.

    python tools/probe.py time  NAME... [--sf DIR] [--runs N]
    python tools/probe.py ab    A B     [--sf DIR] [--runs N]
    python tools/probe.py scale NAME... --copies K [--sf DIR] [--runs N] [--out DIR]
    python tools/probe.py plans NAME... --out DIR [--sf DIR]

A NAME is a registered query, ``@headline`` (the bench set), ``@tpch`` (the
22 TPC-H shapes) or ``path/to/file.py:fn`` for a ``(spark, sf_dir) ->
DataFrame`` kept outside the repo, so experimental variants need no edit
here. ``--sf`` defaults to the bench's SF (``bench.SF_DIR``). Every mode
prints one JSON line per result.

time   Warms each query once, then runs it N times (default 3): build (the
       Python/py4j plan build, eager jobs included), then a noop sink, each
       inside a ``perfbench/spans.py`` Tracer span, measuring the bytes the
       query left cached and clearing the cache after every run. Reports the
       best run (least build+sink): build/sink seconds, eager vs sink jobs,
       stages, tasks, executor run/CPU/GC time, input, shuffle and spill
       bytes, cached bytes left before ``clearCache()``, the persistent
       RDDs (count and bytes) the run still left after it, and every
       run's total. ``build_py4j_calls`` is the build's py4j round trips
       but proxy frees (``build_py4j_frees``), which land whenever Python
       drops an older proxy; each run counts after a ``gc.collect()``, and
       the report keeps the least over the runs.

ab     Warms both arms and keeps their rows, then runs N reps (default 6),
       alternating which arm goes first. Before each rep it waits, up to
       GATE_TIMEOUT_S, until the CPU share that processes outside this
       probe used over the last GATE_WINDOW_S falls below GATE_LOAD:
       shared-host noise comes in multi-second bursts. (The 1-minute
       loadavg would not do: it lags the probe's own previous rep.)
       Reports per-rep times, the shares seen, medians and B's wins. Rows
       are compared as multisets canonicalised by tools/check.py; the exit
       code is 1 when they differ.

scale  Derives a corpus of K copies of --sf under --out (default .scratch/),
       once. Fact tables (lineitem, orders, events) are key-shifted into
       disjoint ranges and events move by whole days per copy. Documents are
       key-shifted and each copy gets its own seeded permutation of [a-z0-9],
       so near-duplicate structure repeats within a copy and never across
       copies (a rotation is not enough: it only shifts pHash's bigram
       classes). Dimension tables are copied unchanged, as TPC-H grows facts
       against slow dims. Then times each NAME on both corpora (as ``time``,
       default 2 runs) and reports the ratio: a linear operator shows at most
       K x, a quadratic one about K^2 x.

plans  Writes ``explain("formatted")`` of each NAME built at --sf to
       DIR/NAME.txt. Only the build's eager jobs run.
"""

from __future__ import annotations

import argparse
import functools
import gc
import importlib.util
import json
import os
import random
import re
import shutil
import statistics
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
for _p in (TOOLS, REPO):
    if _p not in sys.path:
        sys.path.insert(0, _p)
sys.path.append(os.path.join(REPO, "perfbench"))  # for spans, without shadowing

from pyspark.sql import functions as F  # noqa: E402

from bench import SF_DIR as BENCH_SF_DIR  # noqa: E402
from check import rows_to_multiset  # noqa: E402
from finance_etl_spark import plans  # noqa: E402
from finance_etl_spark.io.readers import TABLES, load_table  # noqa: E402
from finance_etl_spark.session import count_py4j_calls, get_spark  # noqa: E402
from host import HostStamp  # noqa: E402
from spans import STAGE_FIELDS, Tracer  # noqa: E402

RUNS = {"time": 3, "ab": 6, "scale": 2}
# Past spark.ui.retainedStages (default 1000) Spark evicts skipped stages
# first, and the Tracer looks up every stage of a span's jobs, so a long
# probe would fail on a stage its last job skipped. Set on import, so it
# reaches any JVM this process launches later, whoever calls get_spark.
RETAINED_STAGES = 100_000
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS",
    f"--conf spark.ui.retainedStages={RETAINED_STAGES} pyspark-shell",
)
# ab's gate: the share of all CPUs that other processes may use
GATE_LOAD = 0.25
GATE_WINDOW_S = 0.5
GATE_TIMEOUT_S = 240.0
# scale: the columns each copy shifts, and the files a derived table is cut into
SHIFTED = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
}
ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
DERIVED_FILES = 32


def expand(names: list[str]) -> list[str]:
    groups = {
        "@headline": sorted(plans.headline_queries()),
        "@tpch": sorted(
            (n for n in plans.all_queries() if re.match(r"q\d+_", n)),
            key=lambda n: int(n[1 : n.index("_")]),
        ),
    }
    return [m for n in names for m in groups.get(n, [n])]


def resolve(name: str):
    """A registered query's builder, or ``fn`` from ``file.py:fn``."""
    if ":" not in name:
        return plans.get(name).build
    path, fn = name.rsplit(":", 1)
    spec = importlib.util.spec_from_file_location(f"_probe_arm_{fn}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return getattr(mod, fn)


@functools.cache
def tracer(spark) -> Tracer:
    # One per session: span ids name the Spark job groups, so a second
    # tracer would read back the first one's jobs under the same ids.
    return Tracer(spark, enabled=True)


def persistent_rdds(spark) -> dict[int, int]:
    """Storage bytes (memory + disk) of each RDD still registered as
    persistent, by id: ``clearCache()`` drops DataFrame caches but not
    localCheckpoint blocks."""
    jsc = spark.sparkContext._jsc
    size = {i.id(): i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()}
    return {int(k): size.get(int(k), 0) for k in jsc.getPersistentRDDs().keySet()}


def run_once(spark, name: str, build, sf_dir: str) -> dict:
    """Build and noop-sink one query under two spans, then clear the cache
    it left behind."""
    tr = tracer(spark)
    cached_before = tr.cached_bytes()
    rdds_before = persistent_rdds(spark)
    gc.collect()  # free the garbage of earlier runs outside the window
    with tr.span("build", op=name) as b:
        with count_py4j_calls() as calls:
            df = build(spark, sf_dir)
    with tr.span("sink", op=name) as s:
        df.write.mode("overwrite").format("noop").save()
    build_s, sink_s = b["end"] - b["start"], s["end"] - s["start"]
    rec = {
        "build_s": build_s,
        "sink_s": sink_s,
        "total_s": build_s + sink_s,
        "build_py4j_calls": calls[0] - calls[1],
        "build_py4j_frees": calls[1],
        "eager_jobs": b["jobs"],
        "sink_jobs": s["jobs"],
        **{k: b[k] + s[k] for k in ("stages", "tasks", *STAGE_FIELDS)},
        "cached_bytes_left": tr.cached_bytes() - cached_before,
    }
    spark.catalog.clearCache()
    left = {k: v for k, v in persistent_rdds(spark).items() if k not in rdds_before}
    rec["rdds_left_after_clear"] = len(left)
    rec["bytes_left_after_clear"] = sum(left.values())
    return {
        k: int(v) if k.endswith("_bytes") else round(v, 3) if isinstance(v, float) else v
        for k, v in rec.items()
    }


def time_query(spark, name: str, sf_dir: str, runs: int) -> dict:
    build = resolve(name)
    run_once(spark, name, build, sf_dir)  # warm-up: JIT, codegen, file listing
    recs = [run_once(spark, name, build, sf_dir) for _ in range(runs)]
    best = min(recs, key=lambda r: r["total_s"])
    return {
        "query": name,
        "sf_dir": sf_dir,
        **best,
        "build_py4j_calls": min(r["build_py4j_calls"] for r in recs),
        "runs_total_s": [r["total_s"] for r in recs],
        "runs_build_py4j_calls": [r["build_py4j_calls"] for r in recs],
        "load1": round(os.getloadavg()[0], 2),
    }


def other_cpu_share() -> float:
    """The share of all CPUs that processes outside this probe's tree
    (its JVM and Python workers included) used over GATE_WINDOW_S."""
    stamp = HostStamp(0)
    time.sleep(GATE_WINDOW_S)
    return stamp.finish()["other_cpu_share"]


def wait_quiet() -> float:
    t0 = time.monotonic()
    share = other_cpu_share()
    while share >= GATE_LOAD and time.monotonic() - t0 < GATE_TIMEOUT_S:
        share = other_cpu_share()
    return share


def ab(spark, a: str, b: str, sf_dir: str, runs: int) -> dict:
    arms = [(a, resolve(a)), (b, resolve(b))]
    rows = []
    for _, build in arms:  # the warm-up run also yields the rows
        df = build(spark, sf_dir)
        cols = [c.lower() for c in df.columns]
        rows.append(rows_to_multiset(cols, [tuple(r) for r in df.collect()]))
        spark.catalog.clearCache()
    times: list[list[float]] = [[], []]
    shares = []
    for rep in range(runs):
        shares.append(wait_quiet())
        for i in (0, 1) if rep % 2 == 0 else (1, 0):
            name, build = arms[i]
            times[i].append(run_once(spark, name, build, sf_dir)["total_s"])
    return {
        "a": a,
        "b": b,
        "sf_dir": sf_dir,
        "gate_load": GATE_LOAD,
        "rep_other_cpu_shares": shares,
        "a_s": times[0],
        "b_s": times[1],
        "a_median_s": round(statistics.median(times[0]), 3),
        "b_median_s": round(statistics.median(times[1]), 3),
        "b_wins": sum(tb < ta for ta, tb in zip(*times)),
        "rows": [len(rows[0]), len(rows[1])],
        "rows_equal": rows[0] == rows[1],
    }


def derive(spark, src: str, dst: str, copies: int) -> None:
    """Write the K-copy corpus of ``src`` to ``dst`` unless it is there."""
    done = os.path.join(dst, ".complete")
    if os.path.exists(done):
        return
    os.makedirs(dst, exist_ok=True)
    for name in TABLES:
        out = os.path.join(dst, f"{name}.parquet")
        if name not in SHIFTED:
            shutil.copyfile(os.path.join(src, f"{name}.parquet"), out)
            continue
        df = load_table(spark, src, name)
        # shift by the next power of ten above the column's max: disjoint ranges
        top = df.agg(*[F.max(c) for c in SHIFTED[name]]).first()
        shifts = {c: 10 ** len(str(top[i])) for i, c in enumerate(SHIFTED[name])}
        big = None
        for k in range(copies):
            part = df
            for c, s in shifts.items():
                part = part.withColumn(c, F.col(c) + F.lit(k * s))
            if k and name == "events":
                part = part.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {k} DAY"))
            if k and name == "documents":
                perm = list(ALPHABET)
                random.Random(k).shuffle(perm)
                part = part.withColumn("text", F.translate("text", ALPHABET, "".join(perm)))
            big = part if big is None else big.unionByName(part)
        big.repartition(DERIVED_FILES).write.mode("overwrite").parquet(out)
    open(done, "w").close()


def scale(spark, names: list[str], sf_dir: str, copies: int, runs: int, out: str):
    dst = os.path.join(out, f"{os.path.basename(sf_dir.rstrip('/'))}x{copies}")
    derive(spark, sf_dir, dst, copies)
    for name in names:
        base = time_query(spark, name, sf_dir, runs)
        big = time_query(spark, name, dst, runs)
        yield {
            "query": name,
            "copies": copies,
            "derived_dir": dst,
            "base_s": base["total_s"],
            "derived_s": big["total_s"],
            "ratio": round(big["total_s"] / base["total_s"], 2),
            "base": base,
            "derived": big,
        }


def dump_plans(spark, names: list[str], sf_dir: str, out: str):
    os.makedirs(out, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = resolve(name)(spark, sf_dir)
        path = os.path.join(out, f"{name.rsplit(':', 1)[-1]}.txt")
        with open(path, "w") as f:
            f.write(df._jdf.queryExecution().explainString(mode))
        spark.catalog.clearCache()
        yield {"query": name, "sf_dir": sf_dir, "plan": path}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog=__doc__.split("\n\n", 1)[1],
    )
    p.add_argument("mode", choices=("time", "ab", "scale", "plans"))
    p.add_argument("names", nargs="+", metavar="NAME")
    p.add_argument("--sf", default=BENCH_SF_DIR, help="input tables (default: the bench's)")
    p.add_argument("--runs", type=int, help="timed runs or reps (default: time 3, ab 6, scale 2)")
    p.add_argument("--copies", type=int, help="scale: copies in the derived corpus")
    p.add_argument("--out", help="plans: dump directory; scale: corpus root (default .scratch/)")
    args = p.parse_args(argv)
    names = expand(args.names)
    if args.mode == "ab" and len(names) != 2:
        p.error("ab takes exactly two arms")
    if args.mode == "scale" and not args.copies:
        p.error("scale needs --copies")
    if args.mode == "plans" and not args.out:
        p.error("plans needs --out")
    runs = args.runs or RUNS.get(args.mode, 1)
    spark = get_spark("probe")

    if args.mode == "time":
        results = (time_query(spark, n, args.sf, runs) for n in names)
    elif args.mode == "ab":
        results = [ab(spark, *names, args.sf, runs)]
    elif args.mode == "scale":
        out = args.out or os.path.join(REPO, ".scratch")
        results = scale(spark, names, args.sf, args.copies, runs, out)
    else:
        results = dump_plans(spark, names, args.sf, args.out)
    ok = True
    for r in results:
        print(json.dumps(r), flush=True)
        ok = ok and r.get("rows_equal", True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
