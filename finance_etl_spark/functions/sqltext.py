"""Spark SQL text for names and values known on the driver.

A builder that ships one SQL string (``selectExpr``, ``filter``,
``spark.sql``) instead of a chain of ``F.*`` calls pays one JVM round
trip for it instead of several per column; Catalyst builds the same plan
from either form. These helpers render config-driven names and values
into that text.

Spark's parser reads string literals with backslash escapes
(``spark.sql.parser.escapedStringLiterals`` is off by default), so
``string`` escapes backslashes and quotes: a regex in a literal means
what it says.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """A column name as a backquoted identifier, inner backquotes doubled."""
    return "`" + name.replace("`", "``") + "`"


def string(s: str) -> str:
    """A string literal whose value is ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def literal(v: str | bool | int | float | None) -> str:
    """The literal ``F.lit(v)`` builds, with the same type: a Python int
    is INT within 32 bits and BIGINT beyond (as the parser types an
    integer literal), a finite float is DOUBLE (a bare ``1.5`` would
    parse as DECIMAL). SQL has no non-null literal for NaN or infinity,
    so those raise like other unsupported values."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float) and math.isfinite(v):
        return f"{v!r}D"
    if isinstance(v, str):
        return string(v)
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def map_literal(d: dict) -> str:
    """A small dict as a literal MAP, looked up with ``m[key]``: a
    missing key gives null, like pandas ``.map``. Constant folding turns
    it into one map literal, which generated code takes by reference.
    A dict too large to inline (beyond about 1k entries) is better
    served by a broadcast join."""
    return "map(" + ", ".join(f"{literal(k)}, {literal(v)}" for k, v in d.items()) + ")"
