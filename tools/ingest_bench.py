"""Head-to-head ingest throughput: the reference's single-process
pandas formulation vs this engine's distributed ingest, on the SAME
generated CSV corpus and the SAME semantics (rename, literals, strftime
date parse, decimal-comma normalize + safe cast, D/C sign flip,
null-safe '#'-key + md5 surrogate, accumulate-union).

The pandas side re-implements the DOCUMENTED reference behavior
(SURVEY.md §2.A; reference utils/data_manager.py:34-141 semantics — no
code copied): per-file loop, row-wise transforms, repeated
``pd.concat`` accumulation. The Spark side is
finance_etl_spark.ingest.run_ingest: one distributed read per group.

Usage: python tools/ingest_bench.py [--files N] [--rows M] [--md INGEST_BENCH.md]
Prints one JSON line {"pandas_s":…, "spark_s":…, "rows":…, "speedup":…}.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

N_FILES = 20
ROWS_PER_FILE = 50_000


def gen_corpus(root: str, n_files: int, rows: int) -> None:
    """alpha-bank stm files matching fixtures/ingest_config.yaml."""
    for f in range(n_files):
        path = os.path.join(root, f"alpha_current_stm_202501{f:02d}.csv")
        with open(path, "w") as out:
            out.write("Account;Date;Amount;D/C;Payee\n")
            for i in range(rows):
                k = f * rows + i
                day = k % 28 + 1
                amt = f"{(k * 37) % 9000 + 1},{k % 100:02d}"
                dc = "D" if k % 3 else "C"
                payee = f"Payee {k % 500}" if k % 11 else ""
                out.write(
                    f"EE12345678901234567{k % 10};{day:02d}.01.2025;"
                    f"{amt};{dc};{payee}\n"
                )


def pandas_ingest(root: str) -> pd.DataFrame:
    """The reference's documented algorithm: sequential per-file loop,
    pandas transforms, pd.concat accumulation, final key dedup."""
    acc = None
    rename = {
        "Account": "acc_number", "Date": "dt", "Amount": "sum",
        "D/C": "dc", "Payee": "payee",
    }
    accounts = {"EE123456789012345678": "Main account"}
    mult = {"D": -1, "C": 1}
    key_cols = ["acc_number", "dt", "sum", "dc", "payee"]
    for name in sorted(os.listdir(root)):
        if not name.endswith(".csv"):
            continue
        df = pd.read_csv(os.path.join(root, name), sep=";", dtype=str)
        df = df.rename(columns=rename)
        raw = df[key_cols].astype(str)
        concat = raw.apply(lambda r: "#".join(r), axis=1)
        df["surrogate_key"] = concat.map(
            lambda s: hashlib.md5(s.encode()).hexdigest()
        )
        df["acc_name"] = df["acc_number"].map(accounts)
        parsed = pd.to_datetime(df["dt"], format="%d.%m.%Y")
        df["year"] = parsed.dt.year
        df["ym"] = parsed.dt.strftime("%Y-%m")
        df["dt"] = parsed
        amt = pd.to_numeric(
            df["sum"].str.replace(",", ".", regex=False), errors="coerce"
        )
        df["sum"] = amt * df["dc"].map(mult)
        df["bank_name"] = "alpha"
        df["acc_type"] = "current"
        df["file_name"] = name
        acc = df if acc is None else pd.concat([acc, df], ignore_index=True)
    return acc.drop_duplicates(subset=["surrogate_key"])


def spark_ingest(root: str) -> int:
    from finance_etl_spark.ingest import load_config, run_ingest
    from finance_etl_spark.session import get_spark

    spark = get_spark("ingest-bench")
    cfg = load_config(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "fixtures", "ingest_config.yaml")
    )
    out = run_ingest(spark, root, cfg)
    return out["stm"].dropDuplicates(["surrogate_key"]).count()


def main() -> int:
    n_files = int(sys.argv[sys.argv.index("--files") + 1]) if "--files" in sys.argv else N_FILES
    rows = int(sys.argv[sys.argv.index("--rows") + 1]) if "--rows" in sys.argv else ROWS_PER_FILE
    root = tempfile.mkdtemp(prefix="ingest_bench_")
    gen_corpus(root, n_files, rows)
    total = n_files * rows

    # warm the Spark session OUTSIDE the timed region (the comparison
    # is steady-state throughput, not JVM cold start)
    from finance_etl_spark.session import get_spark

    get_spark("ingest-bench").range(1).count()

    t0 = time.time()
    pdf = pandas_ingest(root)
    pandas_s = time.time() - t0
    n_pandas = len(pdf)

    t0 = time.time()
    n_spark = spark_ingest(root)
    spark_s = time.time() - t0

    assert n_pandas == n_spark, (n_pandas, n_spark)
    result = {
        "rows": total,
        "rows_out": n_spark,
        "pandas_s": round(pandas_s, 2),
        "spark_s": round(spark_s, 2),
        "pandas_rows_per_s": int(total / pandas_s),
        "spark_rows_per_s": int(total / spark_s),
        "speedup": round(pandas_s / spark_s, 2),
    }
    print(json.dumps(result))
    if "--md" in sys.argv:
        md = sys.argv[sys.argv.index("--md") + 1]
        with open(md, "w") as f:
            f.write(
                "# INGEST BENCH — reference-style pandas loop vs distributed ingest\n\n"
                "Same corpus, same semantics (rename, literals, strftime parse,\n"
                "decimal-comma + safe cast, D/C flip, md5 surrogate key, dedup).\n"
                "Pandas side = the reference's documented per-file concat loop\n"
                "(single process); Spark side = `ingest.run_ingest` (one\n"
                "distributed read per group) on local[32]. Spark session warm-up\n"
                "excluded from both timings; identical output row counts asserted.\n\n"
                f"| metric | pandas (reference-style) | spark (this engine) |\n"
                f"|---|---|---|\n"
                f"| wall seconds | {result['pandas_s']} | {result['spark_s']} |\n"
                f"| rows/second | {result['pandas_rows_per_s']:,} | {result['spark_rows_per_s']:,} |\n\n"
                f"**Corpus:** {n_files} files × {rows:,} rows = {total:,} rows. "
                f"**Speedup: {result['speedup']}×.**\n\n"
                "At 100 TB the pandas formulation is not merely slower — the\n"
                "accumulate-concat is quadratic in file count and the dataset\n"
                "must fit driver memory; the distributed formulation's cost is\n"
                "one parallel scan + one shuffle for the key dedup.\n"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
