"""Local differential-correctness harness (mimics the driver's gate).

For every query in the registry with an oracle: run the Spark build and
the DuckDB oracle at sf0.01, then compare row count, a loose schema
kind per column, and an order-insensitive canonicalized value multiset.
Queries without an oracle get a rows-only check (must run, rows >= 0).

Usage: python tools/check.py [query ...]   (default: all)

Driver fidelity note: oracle results are fetched via Arrow
(`fetch_arrow_table().to_pylist()`), NOT `fetchall()`. DuckDB widens
integer SUM / window-SUM / COUNT-DISTINCT-adjacent expressions to
HUGEINT, which Arrow renders as decimal128(38,0) -> Python Decimal;
`fetchall()` flattens that back to int and masks the divergence the
driver's hash-based gate sees (round-3 lesson: two driver hash fails
passed locally for exactly this reason). With Arrow fetch, a bare
integer SUM in an oracle's final SELECT shows up locally as a kind/
value mismatch, same as on the driver. Oracle rule: CAST output sums
to BIGINT.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from finance_etl_spark import plans
from finance_etl_spark.io.readers import TABLES
from finance_etl_spark.session import get_spark

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    try:  # decimal → trimmed float repr
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    return str(v)


def kind(v) -> str:
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, dt.datetime):
        return "timestamp"
    if isinstance(v, dt.date):
        return "date"
    if isinstance(v, (list, tuple)):
        return "list"
    if isinstance(v, bytes):
        return "binary"
    return "str"


def driver_canon_diff(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """Reproduce the ROUND DRIVER's canonicalization (round-6 lesson:
    our multiset canon serializes lists, so a raw ARRAY output column
    passed locally but crashed the driver): pandas DataFrame, columns
    sorted by name, sort_values over all columns, then an exact
    repr-level value comparison. Crashes on unhashable cell types
    (numpy arrays / dicts) exactly like the driver's hash; repr-level
    compare is scale-sensitive for Decimal where float(v) is not.
    Returns None on match, else a short diagnostic."""
    import pandas as pd

    def norm(v):
        if isinstance(v, dt.datetime):
            return v.replace(tzinfo=None)
        return v

    s_rows = [tuple(norm(v) for v in r) for r in s_rows]
    d_rows = [tuple(norm(v) for v in r) for r in d_rows]
    try:
        sdf = pd.DataFrame(s_rows, columns=list(s_cols))
        ddf = pd.DataFrame(d_rows, columns=list(d_cols))
        sdf = sdf.reindex(sorted(sdf.columns, key=str.lower), axis=1)
        ddf = ddf.reindex(sorted(ddf.columns, key=str.lower), axis=1)
        if len(sdf):
            sdf = sdf.sort_values(by=list(sdf.columns)).reset_index(drop=True)
        if len(ddf):
            ddf = ddf.sort_values(by=list(ddf.columns)).reset_index(drop=True)
    except TypeError as e:
        return f"driver-canon crash (unsortable cell type): {e}"
    sv = [tuple(repr(v) for v in row) for row in sdf.itertuples(index=False)]
    dv = [tuple(repr(v) for v in row) for row in ddf.itertuples(index=False)]
    if sv != dv:
        bad = [(a, b) for a, b in zip(sv, dv) if a != b][:2]
        return f"driver-canon repr mismatch: {bad}"
    return None


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def col_kinds(cols, rows):
    kinds = {}
    for i, c in enumerate(cols):
        k = None
        for r in rows:
            if r[i] is not None:
                k = kind(r[i])
                break
        kinds[c] = k or "null"
    return kinds


def main(argv: list[str]) -> int:
    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = plans.all_queries()
    oracles = plans.all_oracles()
    names = argv or sorted(qs)
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        # fleet-wide ban: raw ARRAY/MAP output columns crash the round
        # driver's pandas canonicalizer (round-6 `array_map_ops` ERR) —
        # serialize at the presentation edge (functions/vectors.py::
        # serialize_double_array) instead
        from pyspark.sql.types import ArrayType, DecimalType, MapType

        bad_cols = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        ]
        if bad_cols:
            print(f"FAIL {name}: raw ARRAY/MAP output columns {bad_cols}")
            n_fail += 1
            continue
        # fleet-wide ban #2: raw DECIMAL output columns are flattened
        # differently by the round driver's two fetch paths (Arrow ->
        # Decimal('12.050') vs pandas fetchdf -> float64 12.05), so
        # they hash-fail with byte-identical raw values (r6+r7
        # `ingest_fixed_width` driver lesson). Present money as
        # STRING-routed DOUBLE (.cast('string').cast('double') /
        # CAST(CAST(x AS STRING) AS DOUBLE)) at the edge.
        dec_cols = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, DecimalType)
        ]
        if dec_cols:
            print(f"FAIL {name}: raw DECIMAL output columns {dec_cols}")
            n_fail += 1
            continue
        # fleet-wide ban #3: an EMPTY result is the one output the
        # twin-sided differential gate is structurally blind to — a
        # Spark bug and an oracle bug that both produce 0 rows "match"
        # (round-10 fin_var_exception_backtest shipped with a cut date
        # outside the orders span and passed with 0 rows until the
        # independent reference test caught it). Every registered
        # query must return rows at every SF; genuinely-empty
        # semantics need an explicit allowlist entry here.
        # q7's nation pair is pinned by the TPC-H spec (FRANCE <->
        # GERMANY, 1995-1996); at sf0.001 the 6k-lineitem fixture has
        # no trade on that pair, so BOTH engines return 0 rows by the
        # data, not by a bug — allowed at that SF only (non-empty at
        # sf0.01+, where the driver gate runs).
        # q11 spec semantics (FRACTION = 0.0001/SF, inferred from
        # |part|/200000) are provably empty on this near-uniform
        # synthetic corpus at EVERY shipped SF (measured max per-part
        # share is 3-6x under threshold; numbers in the q11
        # docstring); the non-degenerate variant of the same plan
        # shape is gated separately as agg_stock_mean_multiple, and
        # the independent numpy reference test pins q11's emptiness
        # AND that a 20x-lower fraction is non-empty, so an
        # all-zeros-by-bug regression cannot hide behind this entry.
        # The q11 allowance is scoped to the SHIPPED SF dirs (where
        # the emptiness was actually measured) — at any other SF an
        # empty q11 fails loudly instead of hiding behind the entry.
        _shipped_sf = SF_DIR.rstrip("/").endswith(
            ("sf0.001", "sf0.01", "sf0.1")
        )
        empty_ok = (
            name == "join_left_anti"
            or (name == "q11_important_stock" and _shipped_sf)
            or (
                name == "q7_volume_shipping"
                and SF_DIR.rstrip("/").endswith("sf0.001")
            )
        )
        if not s_rows and not empty_ok:
            print(f"FAIL {name}: empty result (0 rows) — twin-oracle blind spot")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"PASS {name} (rows-only: {len(s_rows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            d_cols = list(tbl.column_names)
            cols_py = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            d_rows = list(zip(*cols_py)) if tbl.num_rows else []
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        # oracle-side DECIMAL ban, same class as above: a decimal128
        # Arrow column (HUGEINT sum or an uncast DECIMAL expression)
        # reaches the driver's pandas fetch as float64 while the Arrow
        # fetch yields Decimal — the two-path divergence. CAST sums to
        # BIGINT, route money through STRING->DOUBLE.
        import pyarrow as _pa

        d_dec = [
            f.name for f in tbl.schema if _pa.types.is_decimal(f.type)
        ]
        if d_dec:
            print(f"FAIL {name}: oracle DECIMAL output columns {d_dec}")
            n_fail += 1
            continue

        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
            problems.append(f"columns {sorted(s_cols)} vs {sorted(d_cols)}")
        else:
            sk = {k.lower(): v for k, v in col_kinds(s_cols, s_rows).items()}
            dk = {k.lower(): v for k, v in col_kinds(d_cols, d_rows).items()}
            mism = {
                c: (sk[c], dk[c])
                for c in sk
                if sk[c] != dk[c] and "null" not in (sk[c], dk[c])
            }
            if mism:
                problems.append(f"kinds {mism}")
            if not problems:
                sm = rows_to_multiset([c.lower() for c in s_cols], s_rows)
                dm = rows_to_multiset([c.lower() for c in d_cols], d_rows)
                if sm != dm:
                    diff_s = [r for r in sm if r not in set(dm)][:3]
                    diff_d = [r for r in dm if r not in set(sm)][:3]
                    problems.append(f"values: spark-only={diff_s} duck-only={diff_d}")
            if not problems:
                dcd = driver_canon_diff(s_cols, s_rows, d_cols, d_rows)
                if dcd:
                    problems.append(dcd)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
