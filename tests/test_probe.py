"""tools/probe.py: each of its four modes, run once at sf0.001 through the
command line, prints the fields its callers read and exits as documented.

Each call is its own process: the probe needs a session whose stage
history it started (see probe.RETAINED_STAGES), not the suite's."""

import json
import os
import pathlib
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"
# a test must not wait for a quiet host
MAIN = "import sys, probe; probe.GATE_TIMEOUT_S = 0.0; raise SystemExit(probe.main(sys.argv[1:]))"


@pytest.fixture
def run(sf_dir):
    def go(*argv, runs=1):
        out = subprocess.run(
            [sys.executable, "-c", MAIN, *argv, "--sf", sf_dir, "--runs", str(runs)],
            cwd=TOOLS,
            capture_output=True,
            text=True,
            timeout=600,
        )
        recs = [json.loads(x) for x in out.stdout.splitlines() if x.startswith("{")]
        assert recs, out.stderr[-2000:]
        return out.returncode, recs

    return go


def test_time_reports_build_sink_split_and_jobs(run):
    code, [rec, loop] = run("time", "q1_pricing_summary", "graph_kcore_peel")
    assert code == 0
    assert rec["query"] == "q1_pricing_summary"
    assert rec["build_s"] > 0 and rec["sink_s"] > 0
    assert rec["total_s"] == pytest.approx(rec["build_s"] + rec["sink_s"], abs=2e-3)
    assert rec["build_py4j_calls"] > 0
    assert rec["eager_jobs"] >= 0 and rec["sink_jobs"] >= 1
    assert rec["stages"] >= rec["sink_jobs"]
    assert rec["cached_bytes_left"] == 0
    assert rec["rdds_left_after_clear"] == rec["bytes_left_after_clear"] == 0
    assert len(rec["runs_total_s"]) == 1
    # an iterative query keeps only its final checkpointed state, which
    # clearCache() does not drop
    assert loop["query"] == "graph_kcore_peel"
    assert loop["rdds_left_after_clear"] == 1 and loop["bytes_left_after_clear"] > 0


def test_time_reports_a_stable_py4j_count(run):
    """A build's own round trips, proxy frees left out, are the same on
    every warm run; the report keeps the least of them."""
    code, [rec] = run("time", "q1_pricing_summary", runs=3)
    assert code == 0
    counts = rec["runs_build_py4j_calls"]
    assert len(counts) == 3 and min(counts) > 0
    assert rec["build_py4j_calls"] == min(counts)
    assert len(set(counts)) == 1, counts
    assert rec["build_py4j_frees"] >= 0


def test_ab_same_rows_exits_zero(run):
    code, [rec] = run("ab", "q1_pricing_summary", "q1_pricing_summary")
    assert code == 0
    assert rec["rows_equal"] and rec["rows"][0] > 0
    assert len(rec["a_s"]) == len(rec["b_s"]) == 1


def test_ab_different_rows_exits_nonzero(run, tmp_path):
    arm = tmp_path / "arm.py"  # an arm kept outside the repo
    arm.write_text(
        "from finance_etl_spark import plans\n"
        "def q3(spark, sf_dir):\n"
        "    return plans.get('q3_shipping_priority').build(spark, sf_dir)\n"
    )
    code, [rec] = run("ab", "q1_pricing_summary", f"{arm}:q3")
    assert code == 1
    assert not rec["rows_equal"]


def test_import_raises_retained_stages_for_any_session():
    """A batch script that imports probe and builds its own get_spark()
    session, as a batch of A/Bs does, keeps the stage history that
    run_once needs past Spark's default of 1,000 stages."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    code = (
        "import probe\n"
        "from finance_etl_spark.session import get_spark\n"
        "conf = get_spark('batch').sparkContext.getConf()\n"
        "print(conf.get('spark.ui.retainedStages'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=TOOLS,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.stdout.split()[-1:] == ["100000"], out.stderr[-2000:]


def test_ab_gate_ignores_loadavg_on_an_idle_host(monkeypatch):
    """The gate reads the CPU share other processes used, not the
    1-minute loadavg, which still carries the probe's own previous rep."""
    monkeypatch.setattr(sys, "path", [str(TOOLS), *sys.path])
    import probe

    monkeypatch.setattr(probe.os, "getloadavg", lambda: (64.0, 64.0, 64.0))
    monkeypatch.setattr(probe, "other_cpu_share", lambda: 0.0)
    t0 = time.monotonic()
    assert probe.wait_quiet() == 0.0
    assert time.monotonic() - t0 < 0.5
    # a busy host is waited out, one sample at a time
    shares = iter([0.9, 0.6, 0.0])
    monkeypatch.setattr(probe, "other_cpu_share", lambda: next(shares))
    assert probe.wait_quiet() == 0.0
    assert next(shares, None) is None


def test_scale_derives_key_shifted_copies(run, spark, sf_dir, tmp_path):
    code, [rec] = run("scale", "q1_pricing_summary", "--copies", "2", "--out", str(tmp_path))
    assert code == 0
    assert rec["copies"] == 2 and rec["ratio"] > 0
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    big = spark.read.parquet(os.path.join(rec["derived_dir"], "lineitem.parquet"))
    assert big.count() == 2 * src.count()
    # each copy holds the source's orderkeys, so disjoint copies double the distinct count
    n_keys = src.agg(F.countDistinct("l_orderkey")).first()[0]
    assert big.agg(F.countDistinct("l_orderkey")).first()[0] == 2 * n_keys


def test_plans_writes_one_explain_file(run, tmp_path):
    out = tmp_path / "plans"
    code, [rec] = run("plans", "q1_pricing_summary", "--out", str(out))
    assert code == 0
    assert os.listdir(out) == ["q1_pricing_summary.txt"]
    assert "== Physical Plan ==" in (out / "q1_pricing_summary.txt").read_text()
