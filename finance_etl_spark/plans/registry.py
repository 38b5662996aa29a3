"""Registry of named queries with optional DuckDB oracles.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are ANSI-SQL-expressible, an equivalent DuckDB SQL string used
as a differential-testing oracle (row count + schema + order-insensitive
value hash at sf0.01).

Cross-engine float determinism contract (pinned per recipe by
tests/test_recipes.py::test_spark_half_matches_duckdb_twin, e.g. its
``dsum`` case):
- Order-dependent reductions over doubles (sum/avg) are computed in
  DECIMAL(30,10) — exact, order- and partition-independent — and cast
  to double for presentation. On the DuckDB side the final cast routes
  through VARCHAR because DuckDB's int128→double conversion differs
  from a correctly-rounded decimal→double by 1 ulp. Spark half:
  functions/money.py::dsum; DuckDB twin: money.py::o_dsum. Where even
  the double→DECIMAL cast differs between engines, use money.py::fsum
  (floor-scaled integer sum) with its twin money.py::o_fsum.
- Per-row arithmetic (+,-,*,/, round, abs, sqrt) is IEEE-deterministic
  and needs no special handling. Transcendental functions (ln, exp,
  pow) are libm-dependent and are kept out of oracle-checked outputs.

Divergence classes found by the cross-SF sweeps (sf0.001/0.01/0.1) and
their fixes — check new queries against all three:
1. WINDOW sums over doubles (`SUM(dbl) OVER ...`) are order-dependent
   like any float reduction — route through DECIMAL exactly like
   grouped sums (window_pct_of_total).
2. Re-quantizing a COMPUTED double back into decimal
   (`CAST(double_result AS DECIMAL)`) can differ 1e-10 between
   engines: Java casts via the double's shortest decimal string,
   DuckDB rounds the binary expansion. Keep money DECIMAL end-to-end;
   cast to double ONCE at the presentation edge (cur_rfm_deciles).
3. round() on a float PRODUCT can land exactly on a .005 boundary
   where the engines' rounding of the binary value disagrees — round
   an exact DECIMAL product instead (scalar_math_funcs).
4. Integer SUM widens to HUGEINT in DuckDB (grouped AND window forms;
   Arrow renders it decimal128(38,0)), while Spark's sum(int/bigint)
   stays bigint — the driver's type-aware value hash then mismatches
   even though every value is identical. Rule: ANY integer SUM that
   reaches an oracle's final SELECT must be `CAST(... AS BIGINT)`
   (round-3 driver fails text_vocab_coverage / text_bpe_pair_counts).
   COUNT(*) / COUNT(DISTINCT) are plain BIGINT in DuckDB and are safe
   uncast. tools/check.py fetches oracle results via Arrow so this
   class now fails locally too.
5. DEGENERATE-DIVISION EDGES (round-9 advisor found three in one PR:
   kappa pe=1, NDCG idcg=0, PSI zero-bin): any statistic with a
   denominator that a lawful-but-extreme input drives to 0 (or a
   log/ratio whose argument can hit 0) must NULL-guard the edge ON
   BOTH ENGINES with the same NULLIF/CASE — Spark returns NULL for
   x/0 while DuckDB raises or returns inf depending on types, so an
   unguarded edge is a latent driver red even when the test fixture
   never trips it. Checklist for every new query: enumerate each
   division/log/sqrt, name the input that degenerates it, and either
   prove the fixture+schema can't produce it (say so in the docstring)
   or guard it identically in builder and oracle.

New-query checklist, first item: write the query once. When Spark and
DuckDB both parse the oracle text and return the same rows, names and
types, the builder is ``return run_sql(spark, sf_dir, "<name>")`` and
there is no DataFrame twin (tests/test_recipes.py::
test_parseable_oracles_are_written_once fails on a builder whose oracle
parses on Spark and that is not on its keep-list; the rule holds for
the headline set too). Keep a DataFrame builder only where it exercises
a Spark-only path (operators, UDFs, streams, sinks), where a plan-shape
pin fails on the text, or where the text is slower at sf0.1 or scales
worse (a ``NOT IN`` subquery inside an aggregate plans as a null-aware
nested-loop join; a pairwise ``a.x > b.x`` join is quadratic; a running
sum over one unpartitioned window runs in one task, ts_max_concurrency;
a median by row_number over a handful of partitions sorts every row,
text_dataset_card; an
oracle's decimal sums lose the builder's long-cents fast path in
q1_pricing_summary and ml_ols_normal_equations).

Spellings both engines parse, for DuckDB-only ones:
- ``CAST(x AS STRING)`` for ``CAST(x AS VARCHAR)`` (DuckDB reads STRING
  as VARCHAR; Spark has no bare VARCHAR)
- ``percentile_cont(q) WITHIN GROUP (ORDER BY x)`` for
  ``quantile_cont(x, q)``
- ``max_by``/``min_by`` for ``arg_max``/``arg_min``; ``instr`` for
  ``strpos``
- ``CAST(CAST(b AS DATE) - CAST(a AS DATE) AS BIGINT)`` for
  ``date_diff('day', a, b)``
- ``CAST(FLOOR(a / b) AS BIGINT)`` for ``a // b``, only where ``a``
  cannot be negative and stays below 2**53 (``/`` divides in DOUBLE on
  both engines)
- ``SELECT k FROM (VALUES (x), (y)) AS t(k)`` for
  ``SELECT unnest([x, y]) AS k``, and ``SELECT k FROM range(a, b + 1) AS
  t(k)`` for ``SELECT unnest(generate_series(a, b)) AS k``
- ``WITH x AS MATERIALIZED (...)`` stays: run_sql drops the hint before
  Spark parses the text, and DuckDB can need it (graph_triangle_count:
  0.042 s at sf0.01 with it, 1.58 s without, out of memory at sf0.1)
- ``filter(l, x -> ...)`` for ``list_filter`` (DuckDB's alias), and
  ``array_length(l)`` for a list's ``len(l)``; ``len`` of a string stays
  ``len`` (both engines' string length)
- ``regexp_extract_all(s, p, 0)``: Spark's defaults to group 1 and
  DuckDB's to group 0, so a pattern without a group raises
  INVALID_PARAMETER_VALUE.REGEX_GROUP_INDEX on Spark

DuckDB functions Spark lacks are ``SQL_FUNCTIONS``: Spark SQL functions
under DuckDB's names, which run_sql creates for the text that calls them
(a text that calls none pays nothing). The optimizer inlines each call,
so ``list_sum(array(id, id))`` plans as a bare ``aggregate(...)``.

- list_sum: ``aggregate`` skipping NULLs, NULL for an empty list
- array_length: ``array_size``
- isodow: ``weekday(d) + 1`` (Monday 1 .. Sunday 7)
- sha256: ``sha2(b, 256)``
- string_split: ``split`` on the separator with each regex
  metacharacter escaped, so a one-character separator keeps Java's
  no-regex split (``\\Q..\\E`` quoting cost 45 % more on a 3M-row split)
- regexp_split_to_array: ``split``
- array_to_string: ``array_join``, NULL when no element is non-NULL
- list_sort: ``array_sort`` (NULLs last)
- json_extract_string: ``get_json_object``
- strftime: ``date_format``, for ``%Y %m %d %H %M %S`` only
- to_minutes: ``make_dt_interval(0, 0, n)``
- epoch_us: ``unix_micros``

tests/test_recipes.py::test_sql_function_matches_duckdb_builtin runs each
against DuckDB's built-in over NULLs, empty lists and strings, regex
metacharacters as separators and every strftime pattern an oracle uses.
Traps of the typed parameters:
- A parameter casts its argument: ``list_sum`` returns DOUBLE for an
  integer list, where DuckDB returns HUGEINT; ``list_sort`` takes
  ARRAY<DOUBLE>, so a list of strings fails the cast (CAST_INVALID_INPUT)
  instead of sorting; ``array_length`` and ``array_to_string`` cast the
  list to ARRAY<STRING> (a double renders in Java's spelling).
- ``len`` is Spark's string length, and a temporary function cannot
  shadow a built-in (ROUTINE_ALREADY_EXISTS), hence ``array_length``.
- DuckDB's ``string_split`` with a NULL separator returns the whole
  string as one element; the function returns NULL. Every oracle's
  separator is a literal.

Dialect traps, each measured on this registry:
- ``dayofweek`` is 0-based (Sunday) in DuckDB and 1-based in Spark
  (ts_seasonal_baseline's oracle parses on Spark and returns other rows).
- DuckDB's ``//`` truncates toward zero and keeps INTEGER; FLOOR rounds
  a negative quotient down (fin_cornish_fisher_var's DuckDB rows change
  under FLOOR).
- ``CAST(double AS BIGINT)`` rounds in DuckDB and truncates in Spark.
- ``split(s, ' ')[i]`` is 1-based in DuckDB and 0-based in Spark; use
  ``split_part``.
- Without the ``'g'`` option DuckDB's ``regexp_replace`` replaces only
  the first match; Spark's replaces all.
- DuckDB casts a ``'0x...'`` string to BIGINT; Spark refuses it
  (cur_epoch_sample, ml_uplift_qini).
- DuckDB's ``regexp_replace(s, p, r, 'g')`` option is Spark's position
  argument (CAST_INVALID_INPUT for 'g'; cur_pii_redact).
- A backslash in a Spark SQL string literal starts an escape: ``'\\s'``
  reads as ``'s'`` (DuckDB keeps the backslash), so a regex ``\\s``,
  ``\\d`` or ``\\w`` means another thing on Spark; list the characters
  instead (text_token_count's ``[^a-zA-Z0-9_\\s]`` returns other rows).
- ``IGNORE NULLS`` goes inside the call in DuckDB
  (``last_value(x IGNORE NULLS)``) and after it in Spark
  (``last_value(x) IGNORE NULLS``); each parser refuses the other's
  (ts_gap_fill_locf).
- An oracle that unrolls an iteration is no candidate:
  graph_pagerank_trade's text did not get through Spark analysis in
  240 s at sf0.001, while its builder collects in 21 s.

New-query checklist, last item: use the recipe modules; never inline a
twin. Column-level recipes (dsum/fsum/as_d/ordered_fold_sum and their
o_-prefixed SQL twins) live in functions/money.py; table-level
fragments shared by more than one plans module (daily series, return
series, shared CTEs) live in plans/recipes.py, each Spark half next to
its SQL half. A plans module never imports an _-prefixed name from
another plans module (tests/test_recipes.py enforces both).
"""

from __future__ import annotations

import atexit
import functools
import os
import re
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from finance_etl_spark.io.readers import TABLES, register_views
from finance_etl_spark.session import configure


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    headline: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}
_MATERIALIZED = re.compile(r"\bAS\s+MATERIALIZED\s*\(", re.IGNORECASE)


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
):
    """Decorator registering a query builder under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            build=wrapped,
            oracle=oracle,
            headline=headline,
            tags=tuple(tags),
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def spark_text(oracle: str) -> str:
    """An oracle text as Spark parses it: DuckDB's ``AS MATERIALIZED``
    CTE hint dropped. Spark has no such syntax, and no oracle calls
    ``random()`` or ``uuid()``, so evaluating a CTE once or at each
    reference gives the same rows."""
    return _MATERIALIZED.sub("AS (", oracle)


# DuckDB functions Spark lacks, as Spark SQL functions under DuckDB's
# names: name -> "(params) RETURNS type RETURN expr". The optimizer
# inlines each call into the plain expression.
SQL_FUNCTIONS = {
    "list_sum": "(a ARRAY<DOUBLE>) RETURNS DOUBLE RETURN aggregate(a,"
    " CAST(NULL AS DOUBLE),"
    " (s, x) -> CASE WHEN x IS NULL THEN s ELSE coalesce(s, 0D) + x END)",
    "array_length": "(a ARRAY<STRING>) RETURNS BIGINT RETURN array_size(a)",
    "isodow": "(d DATE) RETURNS BIGINT RETURN weekday(d) + 1",
    "sha256": "(b BINARY) RETURNS STRING RETURN sha2(b, 256)",
    # each regex metacharacter of the separator behind a backslash: a
    # one-character separator then takes Java's no-regex split path
    "string_split": "(s STRING, sep STRING) RETURNS ARRAY<STRING> RETURN split(s,"
    r" regexp_replace(sep, '([\\\\^$.|?*+()\\[\\]{}])', '\\\\$1'))",
    "regexp_split_to_array": "(s STRING, p STRING) RETURNS ARRAY<STRING>"
    " RETURN split(s, p)",
    # DuckDB gives NULL for a list with no non-NULL element
    "array_to_string": "(a ARRAY<STRING>, sep STRING) RETURNS STRING"
    " RETURN CASE WHEN exists(a, x -> x IS NOT NULL) THEN array_join(a, sep) END",
    "list_sort": "(a ARRAY<DOUBLE>) RETURNS ARRAY<DOUBLE> RETURN array_sort(a)",
    "json_extract_string": "(j STRING, path STRING) RETURNS STRING"
    " RETURN get_json_object(j, path)",
    "strftime": "(ts TIMESTAMP, fmt STRING) RETURNS STRING RETURN date_format(ts,"
    " replace(replace(replace(replace(replace(replace(fmt,"
    " '%Y', 'yyyy'), '%m', 'MM'), '%d', 'dd'), '%H', 'HH'), '%M', 'mm'),"
    " '%S', 'ss'))",
    "to_minutes": "(n BIGINT) RETURNS INTERVAL DAY TO SECOND"
    " RETURN make_dt_interval(0, 0, n)",
    "epoch_us": "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_micros(ts)",
}
_CALLS = {f: re.compile(rf"\b{f}\s*\(", re.IGNORECASE) for f in SQL_FUNCTIONS}


def register_functions(spark: SparkSession, text: str) -> None:
    """Create the ``SQL_FUNCTIONS`` that ``text`` calls as temporary
    functions of this session (replaced per call, like the views)."""
    for name, body in SQL_FUNCTIONS.items():
        if _CALLS[name].search(text):
            spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")


def run_sql(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Build query ``name`` from its registered oracle text: the one
    string both engines parse runs on Spark over ``load_table`` views of
    the tables it names and the ``SQL_FUNCTIONS`` it calls (temp views
    and functions of this session, replaced per call)."""
    text = spark_text(_REGISTRY[name].oracle)
    named = tuple(t for t in TABLES if re.search(rf"\b{t}\b", text))
    register_views(spark, sf_dir, named)
    register_functions(spark, text)
    return spark.sql(text)


def _remove_scratch(root: str, owner: int) -> None:
    if os.getpid() == owner:  # a forked child inherits the exit handler
        shutil.rmtree(root, ignore_errors=True)


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="graft_scratch_")
    atexit.register(_remove_scratch, root, os.getpid())
    return root


def scratch_dir(prefix: str, parent: str | None = None) -> str:
    """A new directory for a build's sinks, checkpoints or databases.
    Every one lives under one per-process root that is removed at
    interpreter exit, not when the query ends: a streaming sink must
    outlive the build until its own sink runs."""
    return tempfile.mkdtemp(prefix=prefix, dir=parent or _scratch_root())


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.build for name, spec in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _REGISTRY.items() if spec.oracle}


def headline_queries() -> dict[str, QuerySpec]:
    return {name: spec for name, spec in _REGISTRY.items() if spec.headline}


def front_queries(names: list[str]) -> None:
    """Reorder the registry so ``names`` come first (in the given
    order), everything else keeping its registration order. The round
    driver's per-round correctness sample checks the first ~50
    registered queries, so plans/__init__.py fronts the queries whose
    driver evidence this round should produce. Unknown names raise —
    a stale rotation list should fail loudly at import."""
    missing = [n for n in names if n not in _REGISTRY]
    if missing:
        raise KeyError(f"front_queries: unknown queries {missing}")
    fronted = {n: _REGISTRY[n] for n in names}
    rest = {n: s for n, s in _REGISTRY.items() if n not in fronted}
    _REGISTRY.clear()
    _REGISTRY.update(fronted)
    _REGISTRY.update(rest)
