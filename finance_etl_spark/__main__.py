"""CLI: run any registered query against a data directory.

    python -m finance_etl_spark <query_name> [sf_dir] [--limit N] [--explain]
    python -m finance_etl_spark --list [prefix]

Examples:
    python -m finance_etl_spark q1_pricing_summary /root/testdata/sf0.01
    python -m finance_etl_spark fin_trial_balance --limit 50
    python -m finance_etl_spark --list text

This is the operational face of the engine: the same registry the
driver and bench consume, runnable ad hoc (the reference's equivalent
is `python main.py`, main.py:1-32 — one hardwired pipeline; here every
operator is addressable).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

TESTDATA = Path(__file__).resolve().parents[2] / "testdata"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="finance_etl_spark")
    ap.add_argument("query", nargs="?", help="registered query name")
    ap.add_argument(
        "sf_dir", nargs="?", default=str(TESTDATA / "sf0.01"),
        help="data directory with the parquet tables (default: testdata/sf0.01 "
        "next to the repository)",
    )
    ap.add_argument("--limit", type=int, default=20, help="rows to show")
    ap.add_argument(
        "--explain", action="store_true", help="print the formatted plan"
    )
    ap.add_argument(
        "--list", dest="list_prefix", nargs="?", const="", default=None,
        metavar="PREFIX", help="list registered queries (optional prefix)",
    )
    args = ap.parse_args(argv)

    from finance_etl_spark import plans

    if args.list_prefix is not None:
        from finance_etl_spark.plans.registry import _REGISTRY

        for name, spec in sorted(_REGISTRY.items()):
            if name.startswith(args.list_prefix):
                mark = "hash" if spec.oracle else "rows-only"
                print(f"{name}\t{mark}")
        return 0

    if not args.query:
        ap.error("query name required (or --list)")

    from finance_etl_spark.session import get_spark

    spark = get_spark("cli")
    df = plans.get(args.query).build(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
