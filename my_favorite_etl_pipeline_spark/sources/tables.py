"""Parquet table sources (SURVEY.md §2.1 S1).

The reference ships a 17-field projection and an ``$or`` window predicate
into MongoDB's ``find()`` (reference dag_mgo_pg_schedule_etl_qc.py:94-133) so
the server filters before transfer. Here the same property is free: these
loaders return lazy DataFrames and Catalyst pushes ``.select``/``.filter``
into the parquet scan (check ``PushedFilters``/``ReadSchema`` in
``.explain``). Never materialize at read time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import artifacts

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — one footer read.

    Spark (4.x) rejects nanosecond parquet timestamps outright
    ([PARQUET_TYPE_ILLEGAL]); we detect them driver-side from the footer and
    repair after scan. Metadata-only: never touches row data.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return tuple(
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        )
    except Exception:
        return ()


def parquet_schema(spark: SparkSession, path: str) -> tuple[T.StructType, tuple[str, ...]]:
    """The Spark read schema of a parquet file or directory, and its
    TIMESTAMP(NANOS) columns, inferred once per file identity in a process:
    ``(path, mtime_ns, size)`` of the file, or of each part file under the
    directory, so a rewrite at the same path is inferred again. Reading
    with an explicit schema skips Spark's per-read inference job."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names
        if not f.startswith((".", "_"))
    )
    identity = tuple((f, os.stat(f).st_mtime_ns, os.stat(f).st_size) for f in files)
    return artifacts.memoized(
        spark, "parquet_schema", path, identity,
        build=lambda: (spark.read.parquet(path).schema, _nanos_timestamp_cols(path)),
    )


def normalize_event_time(df: DataFrame, ns_cols: tuple[str, ...] = ()) -> DataFrame:
    """One canonical timestamp repair for batch AND streaming readers.

    The fixture generator has shipped event time three ways across rounds:
    TIMESTAMP(NANOS) (Spark rejects outright → read as int64 and rebuild),
    TIMESTAMP(MICROS) with UTC adjustment (plain TIMESTAMP, nothing to do),
    and TIMESTAMP(MICROS) *without* UTC adjustment, which Spark reads as
    TIMESTAMP_NTZ. NTZ breaks ``withWatermark`` ([EVENT_TIME_IS_NOT_ON_
    TIMESTAMP_TYPE]) and epoch casts; the session TZ is pinned UTC in
    session.py, so casting NTZ→TIMESTAMP preserves wall-clock exactly and
    keeps DuckDB oracle hashes unchanged. Funneling every reader through
    this helper makes the next fixture dtype flip a one-line fix.
    """
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS BIGINT))"))
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one fixture table. Columns/filters prune at the scan.

    Nanosecond-timestamp columns are read as raw int64 (legacy conf) and
    rebuilt as microsecond timestamps via integer division — the same
    ns→µs truncation DuckDB applies, so oracle comparisons stay exact.
    NTZ columns are normalized to TIMESTAMP (see normalize_event_time).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    schema, ns_cols = parquet_schema(spark, path)
    # nanosAsLong is set session-wide at build/tune time (session.py) —
    # a loader must NOT mutate shared session conf mid-query. If the
    # session somehow lacks it AND the fixture is ns this round, the scan
    # throws PARQUET_TYPE_ILLEGAL loudly rather than silently diverging.
    return normalize_event_time(spark.read.schema(schema).parquet(path), ns_cols)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the fixture tables to ``spark.sql`` by their bare names."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
