"""Reference-parity transform chain (SURVEY.md §2.3/§2.4).

Each function is one operator from the reference's transform task, re-expressed
as a pure DataFrame→DataFrame combinator. None of them uses a Python row UDF —
everything stays inside Catalyst/codegen. Each adds ONE projection (a single
``withColumns``), so a chain is re-analyzed once per step, not once per column.

Reference citations are into /root/reference/dag_mgo_pg_schedule_etl_qc.py
(abbreviated ``dag:NNN``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_name(name: str) -> str:
    """P2 — ``strip → lower → spaces to underscores`` (dag:62-69)."""
    return name.strip().lower().replace(" ", "_")


def normalize_columns(df: DataFrame) -> DataFrame:
    """P2 — rename every column via :func:`normalize_name` (dag:62-69, 166).

    Pure metadata rewrite: no shuffle, no job; Catalyst sees it as Project.
    """
    return df.toDF(*[normalize_name(c) for c in df.columns])


def with_lineage(df: DataFrame, run_id: str, col_name: str = "batch_run_id") -> DataFrame:
    """P3 — literal lineage column, the ``airflow_run_id`` analogue (dag:184)."""
    return df.withColumn(col_name, F.lit(run_id))


def stringify_id(df: DataFrame, col: str = "_id") -> DataFrame:
    """P4 — ObjectId→string cast (dag:165)."""
    return df.withColumn(col, F.col(col).cast("string"))


def structs_to_json(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """J1 — serialize struct/array/map columns to JSON strings (dag:71-74).

    The reference's ``clean_value`` (``json.dumps(x, default=str)``) becomes
    native ``to_json`` — null-safe, codegen'd, and it serializes nested
    timestamps the way ``default=str`` does.
    """
    targets = cols or [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
    ]
    present = [c for c in targets if c in df.columns]  # F3 presence guard (dag:171-172)
    return df.withColumns({c: F.to_json(F.col(c)) for c in present})


def flatten_struct(df: DataFrame, col: str, keys: list[str], prefix: str | None = None) -> DataFrame:
    """J2 — flatten one struct/JSON column into ``{prefix}_{key}`` scalars.

    The reference does this *inside PostgreSQL* with 12 ``->> 'key'``
    extractions (dag:296-307); here it's part of the same Catalyst plan.
    Works on either a typed struct column (preferred — stays columnar) or a
    JSON string column (falls back to ``get_json_object``).
    """
    prefix = prefix if prefix is not None else col
    if col not in df.columns:
        # absent at source: emit typed NULLs, preserving the sink contract (F3)
        return df.withColumns({f"{prefix}_{k}": F.lit(None).cast("string") for k in keys})
    dtype = df.schema[col].dataType
    exprs: dict[str, Column] = {}
    for k in keys:
        if isinstance(dtype, T.StructType):
            src = F.col(f"{col}.{k}") if k in dtype.names else F.lit(None)
            exprs[f"{prefix}_{k}"] = src.cast("string")
        else:
            exprs[f"{prefix}_{k}"] = F.get_json_object(F.col(col), f"$.{k}")
    return df.withColumns(exprs)


def coerce_timestamps(df: DataFrame, cols: list[str]) -> DataFrame:
    """J3 — lossy-tolerant datetime coercion (dag:176-180).

    ``pd.to_datetime(errors="coerce")`` parity: unparseable → NULL, never an
    error. ``try_to_timestamp`` keeps this true even under ANSI mode; already
    -typed timestamp columns pass through untouched.
    """
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    return df.withColumns({
        c: F.try_to_timestamp(F.col(c).cast("string"))
        for c in cols
        if c in dtypes  # F3 presence guard (dag:178-179)
        and not isinstance(dtypes[c], (T.TimestampType, T.TimestampNTZType))
    })


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """F3/§1.3 — dynamic→fixed schema funnel.

    Reorders to the declared column order, adds missing columns as typed
    NULLs, casts present ones; drops extras. This is the Spark analogue of
    the reference's defensive ``if col in df.columns`` (dag:171-179) plus the
    column-order-sensitive INSERT (dag:275). One Project node — no shuffle.
    """
    cols = []
    for field in target.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
