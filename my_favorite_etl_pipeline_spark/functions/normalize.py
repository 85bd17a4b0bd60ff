"""Reference-parity transform chain (SURVEY.md §2.3/§2.4).

Each rule of the reference's transform task is written ONCE, as SQL text
over a Python-side column model (:class:`Col`: name, SQL over the input
frame, type). A rule maps one model to the next without touching the JVM,
so a chain of rules reads the schema once and sends ONE ``selectExpr``:
one projection, analyzed once, however many rules and columns it holds.
The DataFrame→DataFrame combinators below are each one rule applied to
the frame's own model. None of them uses a Python row UDF — everything
stays inside Catalyst/codegen.

Reference citations are into /root/reference/dag_mgo_pg_schedule_etl_qc.py
(abbreviated ``dag:NNN``).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exprs import quote_ident, sql_string

_NESTED = (T.StructType, T.ArrayType, T.MapType)
_TIMESTAMPS = (T.TimestampType, T.TimestampNTZType)


class Col(NamedTuple):
    """One output column of a projection being composed: its name, its SQL
    text over the INPUT frame's columns, and its type."""

    name: str
    sql: str
    dtype: T.DataType


def columns_of(df: DataFrame) -> list[Col]:
    """The identity model of ``df`` — its one schema read."""
    return [Col(f.name, quote_ident(f.name), f.dataType) for f in df.schema.fields]


def project(df: DataFrame, cols: list[Col]) -> DataFrame:
    """Send a composed model to the JVM as one ``selectExpr``."""
    return df.selectExpr(*[
        c.sql if c.sql == quote_ident(c.name) else f"{c.sql} AS {quote_ident(c.name)}"
        for c in cols
    ])


def _find(cols: list[Col], name: str) -> Col | None:
    return next((c for c in cols if c.name == name), None)


def _with(cols: list[Col], new: dict[str, tuple[str, T.DataType]]) -> list[Col]:
    """``withColumns`` over the model: a column whose name matches (case
    -insensitively, as Spark resolves it) is replaced in place, the rest
    are appended in order."""
    by_key = {n.lower(): Col(n, *v) for n, v in new.items()}
    present = {c.name.lower() for c in cols}
    return [by_key.get(c.name.lower(), c) for c in cols] + [
        c for k, c in by_key.items() if k not in present
    ]


def normalize_name(name: str) -> str:
    """P2 — ``strip → lower → spaces to underscores`` (dag:62-69)."""
    return name.strip().lower().replace(" ", "_")


def rename_rule(cols: list[Col]) -> list[Col]:
    """P2 — every column renamed via :func:`normalize_name` (dag:62-69, 166)."""
    return [c._replace(name=normalize_name(c.name)) for c in cols]


def lineage_rule(cols: list[Col], run_id: str, col_name: str = "batch_run_id") -> list[Col]:
    """P3 — literal lineage column, the ``airflow_run_id`` analogue (dag:184)."""
    return _with(cols, {col_name: (sql_string(run_id), T.StringType())})


def id_rule(cols: list[Col], col: str = "_id") -> list[Col]:
    """P4 — ObjectId→string cast (dag:165)."""
    src = _find(cols, col)
    ref = src.sql if src is not None else quote_ident(col)  # absent: Spark names it
    return _with(cols, {col: (f"CAST({ref} AS STRING)", T.StringType())})


def timestamp_rule(cols: list[Col], names: list[str]) -> list[Col]:
    """J3 — lossy-tolerant datetime coercion (dag:176-180).

    ``pd.to_datetime(errors="coerce")`` parity: unparseable → NULL, never an
    error. ``try_to_timestamp`` keeps this true even under ANSI mode; absent
    columns (F3 presence guard, dag:178-179) and already-typed timestamp
    columns pass through untouched.
    """
    found = [_find(cols, n) for n in names]
    return _with(cols, {
        c.name: (f"try_to_timestamp(CAST({c.sql} AS STRING))", T.TimestampType())
        for c in found
        if c is not None and not isinstance(c.dtype, _TIMESTAMPS)
    })


def flatten_rule(
    cols: list[Col], col: str, keys: list[str], prefix: str | None = None
) -> list[Col]:
    """J2 — one struct/JSON column flattened into ``{prefix}_{key}`` scalars.

    The reference does this *inside PostgreSQL* with 12 ``->> 'key'``
    extractions (dag:296-307); here it's part of the same Catalyst plan.
    A typed struct column stays columnar (a missing field reads NULL); a
    JSON string column falls back to ``get_json_object``; an absent column
    emits typed NULLs, preserving the sink contract (F3).
    """
    prefix = prefix if prefix is not None else col
    src = _find(cols, col)
    exprs: dict[str, tuple[str, T.DataType]] = {}
    for k in keys:
        if src is None:
            expr = "CAST(NULL AS STRING)"
        elif isinstance(src.dtype, T.StructType):
            field = f"({src.sql}).{quote_ident(k)}" if k in src.dtype.names else "NULL"
            expr = f"CAST({field} AS STRING)"
        else:
            expr = f"get_json_object({src.sql}, {sql_string(f'$.{k}')})"
        exprs[f"{prefix}_{k}"] = (expr, T.StringType())
    return _with(cols, exprs)


def json_rule(cols: list[Col], names: list[str] | None = None) -> list[Col]:
    """J1 — struct/array/map columns (or ``names``) serialized to JSON text
    (dag:71-74).

    The reference's ``clean_value`` (``json.dumps(x, default=str)``) becomes
    native ``to_json`` — null-safe, codegen'd, and it serializes nested
    timestamps the way ``default=str`` does. Absent names are skipped (F3
    presence guard, dag:171-172).
    """
    targets = names or [c.name for c in cols if isinstance(c.dtype, _NESTED)]
    found = [_find(cols, n) for n in targets]
    return _with(cols, {
        c.name: (f"to_json({c.sql})", T.StringType()) for c in found if c is not None
    })


def normalize_columns(df: DataFrame) -> DataFrame:
    """P2 over ``df`` (:func:`rename_rule`). Pure metadata rewrite: no
    shuffle, no job; Catalyst sees it as Project."""
    return project(df, rename_rule(columns_of(df)))


def with_lineage(df: DataFrame, run_id: str, col_name: str = "batch_run_id") -> DataFrame:
    """P3 over ``df`` (:func:`lineage_rule`)."""
    return project(df, lineage_rule(columns_of(df), run_id, col_name))


def stringify_id(df: DataFrame, col: str = "_id") -> DataFrame:
    """P4 over ``df`` (:func:`id_rule`)."""
    return project(df, id_rule(columns_of(df), col))


def structs_to_json(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """J1 over ``df`` (:func:`json_rule`)."""
    return project(df, json_rule(columns_of(df), cols))


def flatten_struct(df: DataFrame, col: str, keys: list[str], prefix: str | None = None) -> DataFrame:
    """J2 over ``df`` (:func:`flatten_rule`)."""
    return project(df, flatten_rule(columns_of(df), col, keys, prefix))


def coerce_timestamps(df: DataFrame, cols: list[str]) -> DataFrame:
    """J3 over ``df`` (:func:`timestamp_rule`)."""
    return project(df, timestamp_rule(columns_of(df), cols))


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """F3/§1.3 — dynamic→fixed schema funnel.

    Reorders to the declared column order, adds missing columns as typed
    NULLs, casts present ones; drops extras. This is the Spark analogue of
    the reference's defensive ``if col in df.columns`` (dag:171-179) plus the
    column-order-sensitive INSERT (dag:275). One Project node — no shuffle.
    """
    present = set(df.columns)
    cols = []
    for field in target.fields:
        if field.name in present:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
