"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute each); the rest are pure
Python.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
from spans import self_time_by_name, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_etl_corpus_is_a_function_of_the_seed(tmp_path):
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.write_etl_corpus(str(tmp_path / sub), seed, 3, 2, 50)
    a, b, c = (_tree_bytes(str(tmp_path / s)) for s in "abc")
    assert len(a) == 3 * 6 + 2 * 3 and a == b
    assert a != c


def test_etl_manifest_counts_new_and_redelivered_rows(tmp_path):
    manifest = datagen.write_etl_corpus(str(tmp_path), 3, 4, 2, 10)
    assert manifest[0]["redelivered"] == []
    for batch in manifest:
        assert batch["new"] == {"stm": 40, "sec": 20}
        assert batch["offered"] == 60 + 10 * len(batch["redelivered"])
    for batch in manifest[1:]:
        assert len(batch["redelivered"]) == 3
        files = set(os.listdir(batch["dir"]))
        assert set(batch["redelivered"]) <= files


def test_tables_are_a_function_of_the_seed(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), 5, 0.001)
    datagen.write_tables(str(tmp_path / "b"), 5, 0.001)
    datagen.write_tables(str(tmp_path / "c"), 6, 0.001)
    a, b, c = (_tree_bytes(str(tmp_path / s)) for s in "abc")
    assert len(a) == 10 and a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_tables_match_the_engine_schema():
    sys.path.insert(0, ROOT)
    from finance_etl_spark.io.readers import TABLES

    t = datagen.make_tables(1, 0.001)
    rows = {name: table.num_rows for name, table in t.items()}
    assert rows == {"region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
                    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
                    "embeddings": 500}
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert set(t) == set(TABLES)


def _span(i, name, parent, start, end, op="o"):
    return {"id": i, "name": name, "parent": parent, "op": op, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "query", None, 0.0, 10.0),
        _span(1, "build", 0, 1.0, 4.0),
        _span(2, "read", 1, 1.5, 2.5),
        _span(3, "read", 1, 2.0, 3.0),  # overlaps its sibling: union is 1.5..3.0
        _span(4, "sink", 0, 5.0, 9.0),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert own[1] == pytest.approx(3.0 - 1.5)
    assert own[2] == pytest.approx(1.0) and own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(4.0)
    by_name = self_time_by_name(spans)
    assert by_name["read"] == pytest.approx(2.0)
    assert sum(own.values()) == pytest.approx(10.0 + 0.5)  # overlap counted in both reads


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, "op", None, 0.0, 2.0), _span(1, "child", 0, 1.5, 3.0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


def test_metric_names_and_units_follow_the_spec():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME_RE.fullmatch(m["name"]), m["name"]
        assert run.unit_of(m["name"]) == m["unit"], m["name"]
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)


def test_per_layer_reports_exactly_the_spec_names():
    fake = SimpleNamespace(
        tracer=SimpleNamespace(spans=[], overhead_s=0.0),
        pass_walls=[1.0], cached_bytes=0, extra={},
    )
    setup = {"setup_s": 1.0, "plans.import_s": 0.1, "session.start_s": 0.2,
             "session.first_job_s": 0.3}
    got = run.per_layer(fake, setup, 4)
    assert list(got) == [m["name"] for m in SPEC["per_layer"]]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", trace, "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
