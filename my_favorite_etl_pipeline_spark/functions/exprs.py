"""Expression-level utilities.

``let(value, body)`` — bind a column expression to a lambda variable so the
body references ONE evaluation of it. Catalyst does not common-subexpression
-eliminate through higher-order-function lambdas, so an expression used k
times is otherwise evaluated k times (and the duplicated tree can blow up
codegen superlinearly — a 32-hash MinHash signature referenced by 16 band
hashes re-inlines the whole signature 32×). Implemented as
``transform(array(value), x -> body(x))[0]``: the array wraps the value,
the lambda binds it, element 1 unwraps the result.

The second re-evaluation trap is a pre-filter Catalyst infers: exploding a
projected ATTRIBUTE with ``explode``/``posexplode`` makes
``InferFiltersFromGenerate`` add ``size(attr) > 0 AND isnotnull(attr)``,
and filter pushdown then replaces ``attr`` with its definition below the
projection — so a per-row text kernel (a SimHash fold, a shingle array)
runs twice per row, once in that filter (below any fan-out, on the scan's
tasks) and once in the projection. The ``_outer`` generators infer no
filter: use them where the array is never empty, or where the extra
NULL-element row is dropped downstream (an equi-join on it).
:func:`lambda_prefilters` finds the trap in an executed plan.

``spark_md5_32`` / ``duck_md5_32`` — one portable 32-bit hash as a Spark
column and as the DuckDB SQL fragment that computes the same value (md5
halves are bit-identical in every engine; xxhash/murmur are not).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once; make it available to ``body`` as a variable."""
    return F.element_at(F.transform(F.array(value), body), 1)


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for SQL text (dots, keywords, backticks)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """A SQL string literal for ``value`` under the default parser
    (``spark.sql.parser.escapedStringLiterals=false``: backslash escapes)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lambda_prefilters(df: DataFrame) -> list[str]:
    """The conditions of every ``Filter`` and scan ``DataFilters`` entry in
    ``df``'s executed plan, cached plans included, that hold a lambda
    function: each is a higher-order-function kernel inlined into a filter,
    evaluated there on top of its projection."""
    found: list[str] = []

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "FilterExec":
            conds = [node.condition().toString()]
        elif name == "FileSourceScanExec":
            conds = [c.toString() for c in seq(node.dataFilters())]
        else:
            conds = []
        found.extend(c for c in conds if "lambdafunction" in c)
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif name == "InMemoryTableScanExec":
            kids = [node.relation().cachedPlan()]
        else:  # a ReusedExchangeExec is a leaf: its plan is walked where it is defined
            kids = seq(node.children())
        for kid in kids:
            walk(kid)

    walk(df._jdf.queryExecution().executedPlan())
    return found


def surrogate_key(*cols: Column | str, sep: str = "\x1f") -> Column:
    """Deterministic surrogate key from business-key columns.

    md5 of the separator-joined key parts — stable across runs, partitions,
    and engines (unlike ``monotonically_increasing_id``, which encodes the
    partition layout, or row_number over a global window, which serializes
    on one task). NULL parts hash as the empty string; the unit separator
    keeps ("a","bc") distinct from ("ab","c").
    """
    parts = [F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit("")) for c in cols]
    return F.md5(F.concat_ws(sep, *parts))


def spark_md5_32(col: Column) -> Column:
    """The first 8 hex chars of ``md5(col)`` as a long in [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def duck_md5_32(expr: str) -> str:
    """DuckDB twin of :func:`spark_md5_32` over the SQL expression ``expr``.

    DuckDB has no CONV: the hex digits are summed via strpos arithmetic.
    The lambda variable is named so that ``expr`` may reference a caller's
    lambda or column ``i`` without being captured by it.
    """
    # The outer CAST is load-bearing: DuckDB silently promotes
    # LIST_SUM(BIGINT[]) to HUGEINT, and the HUGEINT type then infects every
    # arithmetic expression and UNION ALL branch downstream — invisible to a
    # value-level comparison but rendered differently by a type-aware
    # harness. Values always fit: the md5 half is < 2^32.
    return (
        "CAST(LIST_SUM(LIST_TRANSFORM(range(8), __md5_nib -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), __md5_nib + 1, 1)) - 1 "
        "AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (7 - __md5_nib))))) AS BIGINT)"
    )
