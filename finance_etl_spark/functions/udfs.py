"""The four UDF surfaces (SURVEY.md §2.B "UDF surface"), each with its
place in the performance hierarchy:

1. built-in expressions  — always first choice (whole-stage codegen)
2. pandas UDF            — Arrow-batched, vectorized; ~10-100x faster
                           than row-at-a-time Python
3. applyInPandas (UDAF)  — grouped custom aggregation in pandas
4. Python UDTF           — table function emitting rows per input row
5. row-at-a-time @udf    — LAST resort; kept here only to demonstrate
                           the API (and tested to agree with the
                           pandas form)

Nothing in the engine's hot query paths uses 4 or 5.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.types import IntegerType, StringType


@pandas_udf(StringType())
def normalize_text_pandas(s: pd.Series) -> pd.Series:
    """Vectorized text normalization: lowercase, trim, collapse
    internal whitespace runs (the canonical pre-dedup cleanup)."""
    return s.str.lower().str.strip().str.replace(r"\s+", " ", regex=True)


@udf(IntegerType(), useArrow=False)
def token_count_rowwise(s: str) -> int:
    """Row-at-a-time scalar UDF (API demo only — the engine's real
    token counting is F.size(F.split(...)), JVM-side)."""
    if s is None:
        return None
    return len([t for t in s.split(" ") if t])


def median_per_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas aggregator body: per-group median (np.median's
    even-count midpoint is (a+b)/2 — bit-identical to DuckDB's
    median interpolation, so this is oracle-checkable)."""
    import numpy as np

    return pd.DataFrame(
        {
            "o_custkey": [pdf["o_custkey"].iloc[0]],
            "median_price": [float(np.median(pdf["o_totalprice"].to_numpy()))],
            "n_orders": [len(pdf)],
        }
    )


class SplitWords:
    """Python UDTF: one output row per token with its position —
    the UDTF form of explode(split(...)). Registered in tests via
    spark.udtf.register (API demo; the engine's hot path uses the
    built-in explode)."""

    def eval(self, doc_id: int, text: str):  # noqa: D401
        if text is None:
            return
        pos = 0
        for tok in text.split(" "):
            if tok:
                yield doc_id, pos, tok
                pos += 1
