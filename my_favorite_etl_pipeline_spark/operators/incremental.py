"""Incremental windowed extraction (SURVEY.md §2.2 F1/F2/F4).

The reference ships a half-open ``$gte/$lt`` window over ``createdAt`` OR'd
with the same window over ``updatedAt`` into MongoDB
(dag_mgo_pg_schedule_etl_qc.py:124-129) — "rows created or modified in this
batch window". Here it's a Catalyst filter that pushes into the parquet scan;
at 100 TB the same predicate prunes partitions when the table is laid out by
date, which is the layout ``write_partitioned_by_day`` below produces.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exprs import quote_ident, sql_string

TimestampLike = str | dt.datetime


def _timestamp_sql(value: TimestampLike) -> str:
    """A window bound as SQL text: a string casts like ``lit(s).cast(
    "timestamp")``; a datetime is its exact instant (``lit(d)``'s micros)."""
    if isinstance(value, dt.datetime):
        return f"timestamp_micros({T.TimestampType().toInternal(value)})"
    return f"CAST({sql_string(value)} AS TIMESTAMP)"


def window_sql(col: str, start: TimestampLike, end: TimestampLike) -> str:
    """F1 as SQL text: ``col >= start AND col < end``."""
    q = quote_ident(col)
    return f"({q} >= {_timestamp_sql(start)} AND {q} < {_timestamp_sql(end)})"


def in_window(col: str, start: TimestampLike, end: TimestampLike) -> Column:
    """F1 — half-open window predicate: ``col >= start AND col < end``.

    Boundary semantics match the reference exactly: start inclusive
    (``$gte``), end exclusive (``$lt``) — dag:126-127.
    """
    return F.expr(window_sql(col, start, end))


def incremental_extract(
    df: DataFrame,
    ts_cols: list[str],
    start: TimestampLike,
    end: TimestampLike,
) -> DataFrame:
    """F2 — disjunctive change capture: any of ``ts_cols`` in the window.

    ``incremental_extract(df, ["createdat", "updatedat"], s, e)`` reproduces
    the reference's ``$or`` predicate (dag:124-129, 394-399). The OR of
    range predicates still pushes down to parquet row-group pruning. It is
    sent as one SQL text.
    """
    if not ts_cols:
        raise ValueError("ts_cols must be non-empty")
    return df.filter(" OR ".join(window_sql(c, start, end) for c in ts_cols))


def write_partitioned_by_day(
    df: DataFrame,
    path: str,
    ts_col: str,
    mode: str = "append",
    day_col: str = "event_date",
) -> None:
    """Lay the table out by event day so window predicates prune partitions.

    The derived date column is appended (the original timestamp column is
    kept — partition values are directory names, lossy for sub-day
    precision). After this layout, F1/F2's range predicate on ``ts_col``
    prunes whole day directories at 100 TB instead of scanning them:
    Catalyst derives the ``day_col`` bounds from the timestamp bounds when
    filtering on the partition column; callers filtering heavy history
    should AND ``in_window(day_col, ...)`` explicitly for guaranteed
    directory-level pruning.
    """
    (
        df.withColumn(day_col, F.col(ts_col).cast("date"))
        .write.mode(mode)
        .partitionBy(day_col)
        .parquet(path)
    )


def is_empty(df: DataFrame) -> bool:
    """F4 — empty-batch short-circuit gate (dag:136-143).

    ``df.isEmpty()`` runs a ``limit(1)`` job — O(first non-empty partition),
    not a full count. Callers skip the write side when True.
    """
    return df.isEmpty()
