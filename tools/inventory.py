"""Registry inventory report: every registered query with its family,
oracle status, headline flag, builder kind (``sql`` when the builder is
its oracle text run by ``plans/registry.py::run_sql``, ``df`` otherwise)
and one-line contract (first docstring sentence). Regenerates
INVENTORY.md — the audit map from query name to what it claims.

Usage: python tools/inventory.py
"""

from __future__ import annotations

import ast
import glob
import os
import sys
from collections import OrderedDict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finance_etl_spark import plans  # noqa: E402
from finance_etl_spark.plans.registry import _REGISTRY  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAMILIES = OrderedDict(
    [
        ("q", "TPC-H suite"),
        ("ingest", "reference-parity ingest"),
        ("jdbc", "JDBC source/sink"),
        ("ddl", "DDL / catalog"),
        ("filter", "filters"),
        ("join", "joins"),
        ("agg", "aggregation"),
        ("window", "window functions"),
        ("sort", "sort/limit"),
        ("set", "set operations"),
        ("subquery", "subqueries"),
        ("scalar", "scalar functions"),
        ("array", "array/map"),
        ("json", "JSON"),
        ("sql", "SQL surface"),
        ("null", "null handling"),
        ("math", "math"),
        ("distinct", "distinct"),
        ("source", "custom sources"),
        ("sink", "sinks / table format"),
        ("stream", "streaming"),
        ("ts", "time series"),
        ("fin", "finance domain"),
        ("text", "text / LLM corpus"),
        ("vec", "vectors / ANN"),
        ("cur", "curation / ML data"),
        ("dq", "data quality / governance"),
        ("graph", "graph"),
        ("mm", "multimodal"),
        ("udf", "UDF surface"),
        ("ml", "distributed ML training"),
        ("stat", "statistical inference"),
        ("obs", "observability"),
    ]
)


def family(name: str) -> str:
    head = name.split("_")[0]
    if head.startswith("q") and head[1:].isdigit():
        return "q"
    return head


def first_sentence(doc: str) -> str:
    d = " ".join((doc or "").split())
    for stop in (". ", ".\n"):
        i = d.find(stop)
        if i != -1:
            return d[: i + 1]
    return d[:160]


def sql_builders() -> set[str]:
    """Queries whose registered builder calls ``run_sql``."""
    out = set()
    for path in glob.glob(os.path.join(REPO, "finance_etl_spark", "plans", "*.py")):
        for node in ast.parse(open(path).read()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            calls = {getattr(x.func, "id", "") for x in ast.walk(node) if isinstance(x, ast.Call)}
            for deco in node.decorator_list:
                if (
                    isinstance(deco, ast.Call)
                    and getattr(deco.func, "id", "") == "register"
                    and "run_sql" in calls
                ):
                    out.add(deco.args[0].value)
    return out


def driver_results() -> dict[str, str]:
    """Map query -> 'driver r{N}' / 'driver r{N} FAIL' from the
    CORRECTNESS_r*.json samples the round driver leaves in the repo.
    Distinguishes driver-verified queries from local-gate-only ones —
    the driver samples ~50/round, so most queries are local-only."""
    import json

    out: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(path)[len("CORRECTNESS_r"):].split(".")[0]
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for q, res in data.items():
            if res.get("err") == "no_oracle":
                out[q] = f"driver r{int(rnd)} rows-only"
            elif res.get("hash_match"):
                out[q] = f"driver r{int(rnd)}"
            else:
                out[q] = f"driver r{int(rnd)} FAIL"
    return out


def main() -> int:
    groups: dict[str, list] = {}
    for name, spec in sorted(_REGISTRY.items()):
        groups.setdefault(family(name), []).append(spec)
    n_total = len(_REGISTRY)
    n_oracle = sum(1 for s in _REGISTRY.values() if s.oracle)
    driver = driver_results()
    n_driver = sum(1 for n in _REGISTRY if n in driver)
    sql = sql_builders()
    lines = [
        "# INVENTORY — every registered query",
        "",
        f"Generated by `python tools/inventory.py`. {n_total} queries, "
        f"{n_oracle} with full DuckDB value-hash oracles, "
        f"{n_total - n_oracle} rows-only (each with a dedicated pytest "
        "pinning its semantics). `headline` queries form the bench set.",
        "",
        f"`builder`: **sql** = written once, the builder runs the oracle "
        f"text on Spark (`plans/registry.py::run_sql`; {len(sql)}/{n_total} "
        "queries); **df** = a DataFrame builder.",
        "",
        f"`verified` distinguishes evidence strength: **driver r{{N}}** = "
        f"hash-verified by the round driver's independent sample "
        f"({n_driver}/{n_total} so far; the driver samples ~50/round), "
        "**local** = green under `tools/check.py`'s Arrow-faithful "
        "DuckDB differential gate at sf0.001/0.01/0.1 but not yet "
        "driver-sampled.",
        "",
    ]
    for fam, title in FAMILIES.items():
        specs = groups.pop(fam, [])
        if not specs:
            continue
        lines += [f"## {title} ({len(specs)})", ""]
        lines += [
            "| query | oracle | builder | verified | contract |",
            "|---|---|---|---|---|",
        ]
        for s in specs:
            mark = "hash" if s.oracle else "rows-only"
            star = " **headline**" if s.headline else ""
            kind = "sql" if s.name in sql else "df"
            ver = driver.get(s.name, "local")
            lines.append(
                f"| `{s.name}`{star} | {mark} | {kind} | {ver} | {first_sentence(s.doc)} |"
            )
        lines.append("")
    for fam, specs in sorted(groups.items()):  # anything uncategorized
        lines += [f"## {fam} ({len(specs)})", ""]
        lines += [
            "| query | oracle | builder | verified | contract |",
            "|---|---|---|---|---|",
        ]
        for s in specs:
            mark = "hash" if s.oracle else "rows-only"
            kind = "sql" if s.name in sql else "df"
            ver = driver.get(s.name, "local")
            lines.append(
                f"| `{s.name}` | {mark} | {kind} | {ver} | {first_sentence(s.doc)} |"
            )
        lines.append("")
    with open(os.path.join(REPO, "INVENTORY.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"INVENTORY.md: {n_total} queries, {n_oracle} oracle-checked")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
