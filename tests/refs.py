"""Independent reference helpers shared by the query tests.

Each helper re-derives its input from the raw parquet with DuckDB,
numpy or plain Python and never calls the plans or recipes under test,
so a formula bug shared between a Spark build and its DuckDB oracle
cannot hide behind a shared fragment. A test module whose helper of the
same name computes something different keeps its own local definition.
"""

from collections import Counter

import duckdb
import numpy as np
from conftest import SF_DIR as SF


def _fetch(sql: str):
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _midranks(values) -> np.ndarray:
    """Average ranks (1-based) with ties — rankdata('average')."""
    values = np.asarray(values)
    order = np.argsort(values, kind="mergesort")
    ranks = np.empty(len(values), dtype=np.float64)
    sv = values[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2 + 1
        i = j + 1
    return ranks


def _seg_daily_py():
    """[(segment, date, Decimal revenue)] — the shared daily base."""
    return _fetch(
        "SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE),"
        " SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))"
        f" FROM read_parquet('{SF}/orders.parquet') o"
        f" JOIN read_parquet('{SF}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey GROUP BY 1, 2"
    )


def _docs():
    return _fetch(
        "SELECT doc_id, text, lang, source"
        f" FROM read_parquet('{SF}/documents.parquet')"
    )


def _trade_graph_py():
    """Rebuild the 60th-percentile strong-trade edge set in python."""
    li = _fetch(
        "SELECT l_orderkey, l_suppkey"
        f" FROM read_parquet('{SF}/lineitem.parquet')"
    )
    orders = dict(
        _fetch(
            "SELECT o_orderkey, o_custkey"
            f" FROM read_parquet('{SF}/orders.parquet')"
        )
    )
    cust = dict(
        _fetch(
            "SELECT c_custkey, c_nationkey"
            f" FROM read_parquet('{SF}/customer.parquet')"
        )
    )
    supp = dict(
        _fetch(
            "SELECT s_suppkey, s_nationkey"
            f" FROM read_parquet('{SF}/supplier.parquet')"
        )
    )
    w = Counter()
    for ok, sk in li:
        src = supp[sk]
        dst = cust[orders[ok]]
        if src != dst:
            w[(min(src, dst), max(src, dst))] += 1
    thr = float(np.percentile(sorted(w.values()), 60))
    return {e for e, c in w.items() if c >= thr}
