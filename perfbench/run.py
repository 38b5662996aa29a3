"""Benchmark of the engine, driven from outside through its public calls.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one Spark session at local[nproc], one closed-loop client
(each op starts when the previous one has returned). The seed generates
every input; the engine only sees the generated files. Outputs are checked
after the timed passes: query results against their registered DuckDB
oracles, ETL row counts against the generator's manifest.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records spans
around every engine call, writes them to ``perfbench/out/`` and reports
the per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import Tracer, self_time_by_name, self_times  # noqa: E402

ANALYTICS_SF = 0.01
# Each SECONDS_PER_PASS of --seconds buys one timed pass. Work per run is
# derived from --seconds, never from the clock, so a parent and a change
# measured with the same settings do the same work.
SECONDS_PER_PASS = 20.0
ETL_BATCHES = 6
ETL_FILES_PER_GROUP = 2
ETL_ROWS_PER_FILE = 2000
ETL_WARMUP_BATCHES = 2
END_TO_END = ("setup_s", "pass_wall_s", "pass_cpu_s", "peak_rss_mb")
UNITS = {"_s": "s", "_mb": "MiB", "_bytes": "B", "_frac": "ratio", "_ratio": "ratio"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


# --- session -------------------------------------------------------------------

def start_engine(t_process: float, cores: int) -> tuple[object, dict]:
    """plans import, get_spark, first job: the set-up every user pays."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import finance_etl_spark.plans  # noqa: F401
    from finance_etl_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    t2 = time.perf_counter()
    spark.range(0, 100000, numPartitions=cores).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": time.time() - t_process,
        "plans.import_s": t1 - t0,
        "session.start_s": t2 - t1,
        "session.first_job_s": t3 - t2,
    }


def stop_engine(spark) -> None:
    """Stop the session and the JVM it launched, wait for the JVM, then for
    every other process the run started (Python workers the JVM forked)."""
    children = [p for p in host.process_tree() if p != os.getpid()]
    gateway = type(spark.sparkContext)._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while alive := [p for p in children if host.running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            break
        time.sleep(0.1)


def isolate_to(work: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the launcher JVM spark-submit runs first
    # The driver heap is committed and touched at its maximum from the
    # start, so how far G1 grows it, which varies from run to run, does not
    # show in peak_rss_mb.
    driver_opts = shlex.quote(f"{java_opts} -Xms{heap} -XX:+AlwaysPreTouch")
    warehouse = shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {driver_opts} --conf {warehouse} pyspark-shell"
    )


# --- traced calls ----------------------------------------------------------

@contextlib.contextmanager
def traced_calls(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Swap module attributes for span-recording wrappers, then restore.

    ``targets`` holds (module, attribute, span name). Only traced runs
    patch; untraced runs call the engine untouched."""
    if not tracer.enabled:
        yield
        return
    saved = []
    for mod, attr, span_name in targets:
        fn = getattr(mod, attr)

        def wrapped(*a, _fn=fn, _name=span_name, **kw):
            with tracer.span(_name):
                return _fn(*a, **kw)

        saved.append((mod, attr, fn))
        setattr(mod, attr, wrapped)
    try:
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def reader_targets() -> list[tuple[object, str, str]]:
    """Every name under which plan builders reach the table readers: the
    readers module itself and each name a plans module imported from it."""
    from finance_etl_spark.io import readers

    fns = {readers.load_table: "io.readers.load_table",
           readers.load_table_parallel: "io.readers.load_table_parallel"}
    out = [(readers, "load_table", fns[readers.load_table]),
           (readers, "load_table_parallel", fns[readers.load_table_parallel])]
    for name, mod in sorted(sys.modules.items()):
        if name.startswith("finance_etl_spark.plans.") and mod is not None:
            for attr, val in sorted(vars(mod).items()):
                if callable(val) and val in fns:
                    out.append((mod, attr, fns[val]))
    return out


# --- workloads -------------------------------------------------------------

class Run:
    """State of one benchmark run, shared by the workload functions."""

    def __init__(self, spark, args, work: str, tracer: Tracer):
        self.spark, self.args, self.work, self.tracer = spark, args, work, tracer
        self.rng = random.Random(args.seed)
        self.latencies: list[float] = []
        self.op_latency: dict[str, float] = {}  # last timed sample per op name
        self.pass_walls: list[float] = []
        self.pass_cpus: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.extra: dict = {}
        self.cached_bytes = 0
        self.phases: dict[str, float] = {}  # wall seconds per untimed/timed phase

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(time.perf_counter() - t0, 2)


def analytics(run: Run) -> None:
    """The 20 headline queries over generated sf0.01 tables, each built and
    collected; the seed shuffles the order in every timed pass. An untimed
    concurrent warm-up pass keeps JIT and codegen out of the timed pass."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    import duckdb

    import datagen
    from finance_etl_spark import plans
    from finance_etl_spark.io.readers import TABLES

    sf_dir = os.path.join(run.work, "tables")
    with run.phase("datagen"):
        datagen.write_tables(sf_dir, run.args.seed, ANALYTICS_SF * run.args.scale)
    spark, tracer = run.spark, run.tracer
    names = sorted(plans.headline_queries())
    passes = max(1, round(run.args.seconds / SECONDS_PER_PASS))
    results: dict[str, tuple[list, list]] = {}

    def one_pass(p: int) -> None:
        order = names[:]
        run.rng.shuffle(order)
        t_pass, cpu_pass = time.perf_counter(), host.tree_cpu_s()
        for name in order:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"query.{name}", op=f"{p}:{name}"):
                    with tracer.span("plans.build"):
                        df = plans.get(name).build(spark, sf_dir)
                    with tracer.span("catalyst.plan"):
                        if tracer.enabled:
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec.sink"):
                        rows = [tuple(r) for r in df.collect()]
                    run.cached_bytes += tracer.cached_bytes()
                    spark.catalog.clearCache()
            except Exception as e:  # an op that fails counts, the run goes on
                run.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                spark.catalog.clearCache()
                rows = None
            run.attempted += 1
            run.latencies.append(time.perf_counter() - t0)
            run.op_latency[name] = run.latencies[-1]
            if rows is not None:
                results[name] = (df.columns, rows)
        run.pass_walls.append(time.perf_counter() - t_pass)
        run.pass_cpus.append(host.tree_cpu_s() - cpu_pass)

    with run.phase("warm_up"):
        warm_up(spark, [lambda n=n: plans.get(n).build(spark, sf_dir).collect() for n in names])
    with run.phase("passes"), traced_calls(tracer, reader_targets()):
        for p in range(passes):
            one_pass(p)

    with run.phase("check"):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        oracles = plans.all_oracles()
        for name, (cols, rows) in sorted(results.items()):
            problem = check_rows(check, con, oracles.get(name), cols, rows)
            if problem:
                run.failures.append(f"{name}: {problem}")
    run.extra["queries_checked"] = len(results)


def warm_up(spark, ops) -> None:
    """Run ``ops`` once, untimed, from one client thread per core, so JIT,
    codegen and Python-worker start-up are paid before timing starts.
    An op that fails here runs again, and counts, in the timed pass."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=spark.sparkContext.defaultParallelism) as pool:
        futures = [pool.submit(op) for op in ops]
        for f in futures:
            try:
                f.result()
            except Exception as e:
                print(f"# warm-up op failed: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
    spark.catalog.clearCache()


def check_rows(check, con, oracle_sql: str | None, cols, rows) -> str | None:
    """None when a query result matches its DuckDB oracle (multiset of
    canonical values plus the driver-style pandas canonicalisation), or,
    for a query without an oracle, when it is non-empty."""
    if not rows:
        return "empty result"
    if oracle_sql is None:
        return None
    tbl = con.execute(oracle_sql).fetch_arrow_table()
    d_cols = list(tbl.column_names)
    d_rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []
    if len(rows) != len(d_rows):
        return f"rowcount {len(rows)} vs oracle {len(d_rows)}"
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in d_cols):
        return f"columns {sorted(cols)} vs oracle {sorted(d_cols)}"
    lower = [c.lower() for c in cols]
    if check.rows_to_multiset(lower, rows) != check.rows_to_multiset(
        [c.lower() for c in d_cols], d_rows
    ):
        return "values differ from oracle"
    return check.driver_canon_diff(cols, rows, d_cols, d_rows)


def etl_incremental(run: Run) -> None:
    """The reference pipeline: each drop-zone batch goes through
    ``run_ingest`` and then ``append_new_records`` into one parquet sink
    per mapping type. The sink starts empty in every pass and grows. The
    first batches run once untimed into a scratch sink to warm the JIT."""
    import datagen
    from finance_etl_spark.ingest import load_config, run_ingest
    from finance_etl_spark.io import sinks
    from pyspark.sql import functions as F

    cfg = load_config(os.path.join(ROOT, "fixtures", "ingest_config.yaml"))
    with run.phase("datagen"):
        manifest = datagen.write_etl_corpus(
            os.path.join(run.work, "dropzone"), run.args.seed, ETL_BATCHES,
            ETL_FILES_PER_GROUP, max(1, round(ETL_ROWS_PER_FILE * run.args.scale)),
        )
    spark, tracer = run.spark, run.tracer
    passes = max(1, round(run.args.seconds / SECONDS_PER_PASS))
    rows_new = rows_offered = 0
    key_scan_bytes = 0

    def one_pass(p: int, timed: bool, batches: list[dict]) -> str:
        nonlocal rows_new, rows_offered, key_scan_bytes
        sink = os.path.join(run.work, f"sink_{p}")
        t_pass, cpu_pass = time.perf_counter(), host.tree_cpu_s()
        for i, batch in enumerate(batches):
            t0 = time.perf_counter()
            written = {}
            try:
                with tracer.span(f"batch.{i}", op=f"{p}:{i}"):
                    with tracer.span("ingest.run_ingest"):
                        dfs = run_ingest(spark, batch["dir"], cfg)
                    with tracer.span("catalyst.plan"):
                        if tracer.enabled:
                            for df in dfs.values():
                                df._jdf.queryExecution().executedPlan()
                    for mtype in sorted(dfs):
                        path = os.path.join(sink, mtype)
                        if tracer.enabled:
                            key_scan_bytes += key_column_bytes(path)
                        with tracer.span("io.sinks.append_new_records"):
                            written[mtype] = sinks.append_new_records(dfs[mtype], path)
            except Exception as e:
                written = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            if not timed:
                continue
            run.attempted += 1
            run.latencies.append(time.perf_counter() - t0)
            run.op_latency[f"batch.{i}"] = run.latencies[-1]
            if written != batch["new"]:
                run.failures.append(f"pass {p} batch {i}: wrote {written}, expected {batch['new']}")
            else:
                rows_new += sum(written.values())
            rows_offered += batch["offered"]
        if timed:
            run.pass_walls.append(time.perf_counter() - t_pass)
            run.pass_cpus.append(host.tree_cpu_s() - cpu_pass)
        return sink

    tracer_on = tracer.enabled
    tracer.enabled = False
    with run.phase("warm_up"):
        one_pass(-1, timed=False, batches=manifest[:ETL_WARMUP_BATCHES])
    tracer.enabled = tracer_on
    with run.phase("passes"), traced_calls(
        tracer, [(sinks, "read_existing_keys", "io.sinks.read_existing_keys")]
    ):
        sinks_written = [one_pass(p, timed=True, batches=manifest) for p in range(passes)]

    expected = {"stm": 0, "sec": 0}
    for batch in manifest:
        for k, v in batch["new"].items():
            expected[k] += v
    for mtype, n in expected.items():
        df = spark.read.parquet(os.path.join(sinks_written[-1], mtype))
        got = df.agg(F.count(F.lit(1)), F.countDistinct("surrogate_key")).first()
        if tuple(got) != (n, n):
            run.failures.append(f"sink {mtype}: rows/distinct keys {tuple(got)}, expected {n}")
    run.extra.update(rows_new=rows_new, rows_offered=rows_offered, key_scan_bytes=key_scan_bytes,
                     rows_per_s=rows_new / sum(run.latencies))


def key_column_bytes(path: str) -> int:
    """Compressed bytes of the key column in a parquet sink: what the
    projected key scan of the next append reads."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    n = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    if rg.column(c).path_in_schema == "surrogate_key":
                        n += rg.column(c).total_compressed_size
    return n


WORKLOADS = {"analytics_sf0.01": analytics, "etl_incremental": etl_incremental}


# --- metrics -----------------------------------------------------------------

def end_to_end(run: Run, setup: dict, rss_mb: float) -> dict:
    return {
        "setup_s": setup["setup_s"],
        "pass_wall_s": statistics.median(run.pass_walls),
        "pass_cpu_s": statistics.median(run.pass_cpus),
        "peak_rss_mb": rss_mb,
    }


def per_layer(run: Run, setup: dict, cores: int) -> dict:
    spans = [s for s in run.tracer.spans if "end" in s]
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    passes = max(1, len(run.pass_walls))
    m: dict[str, float] = {k: v for k, v in setup.items() if k != "setup_s"}

    def total(names, key=None, inclusive=False):
        x = 0.0
        for s in spans:
            if s["name"] in names:
                x += (s["end"] - s["start"] if inclusive else own[s["id"]]) if key is None else s.get(key, 0)
        return x / passes

    def descendants_jobs(names):
        return sum(s.get("jobs", 0) for s in spans if _within(s, names, by_id)) / passes

    build = ("plans.build", "ingest.run_ingest")
    reads = ("io.readers.load_table", "io.readers.load_table_parallel", "io.sinks.read_existing_keys")
    sink = ("exec.sink", "io.sinks.append_new_records")
    roots = [s["name"] for s in spans if s["parent"] is None]
    m["build.self_s"] = total(build)
    m["build.eager_jobs"] = descendants_jobs(build)
    m["read.calls"] = sum(
        1 for s in spans if s["name"] in reads and by_id.get(s["parent"], {}).get("name") not in reads
    ) / passes
    m["read.self_s"] = total(reads)
    m["read.jobs"] = descendants_jobs(reads)
    m["catalyst.plan_s"] = total(("catalyst.plan",))
    m["exec.sink_s"] = total(sink, inclusive=True)
    for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "input_bytes"):
        m[f"exec.{key}"] = total(sink, key=key)
    m["exec.core_busy_frac"] = m["exec.run_s"] / max(1e-9, m["exec.sink_s"] * cores)
    m["op.self_s"] = total(set(roots))
    m["cache.left_bytes"] = run.cached_bytes / passes
    offered = run.extra.get("rows_offered", 0) / passes
    m["io.sinks.rows_offered"] = offered
    m["io.sinks.rows_written"] = run.extra.get("rows_new", 0) / passes
    m["io.sinks.new_row_ratio"] = m["io.sinks.rows_written"] / offered if offered else 0.0
    m["io.sinks.key_scan_bytes"] = run.extra.get("key_scan_bytes", 0) / passes
    m["trace.pass_wall_s"] = statistics.median(run.pass_walls)
    m["trace.overhead_s"] = run.tracer.overhead_s / passes
    m["trace.spans"] = len(spans) / passes
    return m


def op_summary(spans: list[dict]) -> dict:
    """Per op name (query or batch): build, plan and sink time and jobs."""
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        row = out.setdefault(root["name"], {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0,
                                            "eager_jobs": 0, "jobs": 0})
        row["jobs"] += s.get("jobs", 0)
        if s["name"] in ("plans.build", "ingest.run_ingest"):
            row["build_s"] += s["end"] - s["start"]
        elif s["name"] == "catalyst.plan":
            row["plan_s"] += own[s["id"]]
        elif s["name"] in ("exec.sink", "io.sinks.append_new_records"):
            row["exec_s"] += s["end"] - s["start"]
        if _within(s, ("plans.build", "ingest.run_ingest"), by_id):
            row["eager_jobs"] += s.get("jobs", 0)
    return out


def _within(span: dict, names, by_id: dict) -> bool:
    """Whether ``span`` or one of its ancestors is named in ``names``."""
    while span is not None and span["name"] not in names:
        span = by_id.get(span["parent"])
    return span is not None


# --- main --------------------------------------------------------------------

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (smoke tests use a small one)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    t_process = host.process_start_epoch()
    args = parse_args(argv)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".work"))
    isolate_to(work)
    stamp = host.HostStamp(cores)
    spark = None
    try:
        spark, setup = start_engine(t_process, cores)
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, args, work, tracer)
        WORKLOADS[args.workload](run)
        rss_by_command = host.peak_rss_by_command(host.process_tree())
        rss = host.peak_rss_mb(host.process_and_children())
        stamp_rec = stamp.finish()
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = len(run.failures)
    if args.trace:
        metrics = per_layer(run, setup, cores)
        spans = [s for s in tracer.spans if "end" in s]
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "host": stamp_rec,
                       "metrics": metrics, "self_s_by_span": self_time_by_name(spans),
                       "ops": op_summary(spans), "spans": spans}, f, indent=1)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = end_to_end(run, setup, rss)
    print("# host " + json.dumps(stamp_rec))
    print("# run " + json.dumps({"workload": args.workload, "seed": args.seed,
                                 "pass_walls_s": run.pass_walls, "ops": run.attempted,
                                 "error_rate": failed / max(1, run.attempted),
                                 "op_p50_s": statistics.median(run.latencies), **run.extra,
                                 "phases_s": run.phases,
                                 "peak_rss_mb_by_command": {k: round(v) for k, v in rss_by_command.items()}}))
    print("# ops " + json.dumps({k: round(v, 4) for k, v in run.op_latency.items()}))
    for f in run.failures:
        print(f"# FAIL {f}")
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {unit_of(k)}")
    if not all(math.isfinite(v) for v in metrics.values()):
        raise SystemExit("a metric is not a finite number; no result printed")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
