"""Surrogate-key derivation (reference parity).

The reference derives an MD5 surrogate key from a '#'-joined string of
key columns, where pandas ``astype(str)`` renders nulls as the literal
``'nan'`` (reference: utils/data_manager.py:62-63). Spark's
``concat_ws`` *skips* nulls, which would silently merge distinct keys,
so the engine fixes one canonical encoding: every key column is cast to
string and null-coalesced to ``'nan'`` before joining. Hash equality is
the dedup contract, so this encoding is part of the public semantics.

It comes in two forms built from the same two constants: ``surrogate_key``
over Columns and ``surrogate_key_sql`` as SQL text over column names.
The text is valid in Spark SQL and, with double-quoted names, in DuckDB,
and the three hash alike wherever the engines render the key parts alike
(strings, integers, dates, timestamps; not doubles: Spark casts 1e20 to
``1.0E20``, DuckDB to ``1e+20``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from finance_etl_spark.functions.sqltext import ident, string

NULL_TOKEN = "nan"
KEY_SEPARATOR = "#"


def null_safe_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit(NULL_TOKEN))


def surrogate_key(cols: Sequence[Column | str], sep: str = KEY_SEPARATOR) -> Column:
    """md5(join(sep, null_safe_str(c) for c in cols)) — the reference's key."""
    parts = [null_safe_str(c) for c in cols]
    return F.md5(F.concat_ws(sep, *parts))


def surrogate_key_sql(cols: Sequence[str], quote: Callable[[str], str] = ident) -> str:
    """``surrogate_key`` over the named columns as SQL text. ``quote``
    renders a column name: Spark's backticks by default; DuckDB takes
    double quotes. Both engines read ``string`` as their string type."""
    parts = ", ".join(
        f"coalesce(cast({quote(c)} AS string), {string(NULL_TOKEN)})" for c in cols
    )
    return f"md5(concat_ws({string(KEY_SEPARATOR)}, {parts}))"
