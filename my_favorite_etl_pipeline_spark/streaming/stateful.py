"""Custom stateful streaming operators ([EXT] X6, SURVEY.md §2.9).

Three surfaces beyond plain windowed aggregation:

- ``applyInPandasWithState`` — arbitrary per-key state machines (the escape
  hatch when built-in windows can't express the semantics). Demonstrated
  with a per-user event accumulator; the state API (GroupState, timeouts)
  is the real deliverable, the aggregation is deliberately simple enough to
  oracle-check against SQL.
- ``dropDuplicatesWithinWatermark`` — streaming dedup with bounded state:
  duplicate keys arriving within the watermark horizon are dropped, state
  older than the horizon is evicted (the 100 TB answer to "dedup an
  unbounded stream").
- ``foreachBatch`` bridging a stream into the batch merge (operators.merge
  .merge_upsert) — the reference's cron loop (dag:440) as a continuously
  running idempotent upsert; see tests/test_streaming_extras.py.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import read_events_stream, run_to_memory

USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("v", T.DoubleType())]
)


def _user_stats_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user accumulator: count + value sum carried in GroupState.

    Emits the running totals each time the key appears in a micro-batch —
    a changelog stream. Real pipelines put session models / fraud scores /
    dedup fingerprints here; the state plumbing is identical.
    """
    n, v = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        v += float(pdf["value"].sum())
    state.update((n, v))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(v, 4)]})


def user_stats_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the per-user state machine over the events stream, availableNow.

    With a single input batch the changelog collapses to one row per user —
    which makes the whole stateful pipeline oracle-checkable against
    ``GROUP BY user_id`` SQL, proving state correctness, not just shape.
    """
    stream = read_events_stream(spark, sf_dir)
    out = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(out, "user_stats_stateful")


class _UserStatsProcessor:
    """Spark 4 ``StatefulProcessor`` twin of :func:`_user_stats_fn`.

    ``transformWithStateInPandas`` is the successor to
    ``applyInPandasWithState``: named state variables (Value/List/Map) with
    per-state TTL, timers, and initial-state bootstrap, all backed by the
    RocksDB state store. Same per-user count+sum accumulator so the two
    APIs are oracle-checked against the SAME SQL — proving the migration
    path, not just the legacy API. Declared as a plain class and registered
    lazily (see :func:`user_stats_stateful_tws`) because StatefulProcessor
    subclassing is resolved at run time.
    """

    def init(self, handle: Any) -> None:  # StatefulProcessorHandle
        self._agg = handle.getValueState("agg", _STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple[Any, ...], rows: Iterator[pd.DataFrame], timer_values: Any
    ) -> Iterator[pd.DataFrame]:
        n, v = (self._agg.get() if self._agg.exists() else (0, 0.0))
        for pdf in rows:
            n += len(pdf)
            v += float(pdf["value"].sum())
        self._agg.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(v, 4)]}
        )

    def close(self) -> None:
        pass


def build_tws_processor_class() -> type:
    """Subclass :class:`StatefulProcessor` with ``_UserStatsProcessor``'s
    methods. The namespace copy must EXCLUDE the ``__dict__``/``__weakref__``
    getset descriptors: copying them onto the new class breaks
    ``vars(instance)`` (TypeError: descriptor does not apply) and with it
    default pickling on Python <3.11 — PySpark pickles the processor to ship
    it to the Python worker. Factored out of the protobuf-gated runner so the
    class shape is testable without protobuf installed."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    ns = {
        k: v
        for k, v in _UserStatsProcessor.__dict__.items()
        if k not in ("__dict__", "__weakref__")
    }
    return type("UserStatsTWS", (StatefulProcessor,), ns)


def user_stats_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-user accumulator on the ``transformWithStateInPandas`` API.

    The operator requires the RocksDB state store provider; the conf is set
    for the duration of the bounded availableNow run and restored after, so
    a shared session's other streams keep their configured provider (same
    no-mid-query-session-mutation rule as ``nanosAsLong``, r4 verdict).

    DEPENDENCY GATE: transformWithState's Python↔state-server protocol is
    protobuf-based; ``google.protobuf`` is not installed in this container
    (no-install policy), so this raises a clear capability error instead of
    crashing the streaming runner mid-query. The operator is therefore NOT
    in the driver registry; tests/test_streaming_extras.py skips it when
    protobuf is absent and verifies it against the applyInPandasWithState
    twin when present.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package "
            "(pyspark's transform_with_state driver worker imports "
            "google.protobuf); not installed in this environment"
        ) from exc
    proc = build_tws_processor_class()()
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        stream = read_events_stream(spark, sf_dir)
        out = (
            stream.select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=proc,
                outputStructType=USER_STATS_SCHEMA,
                outputMode="Append",
                timeMode="None",
            )
        )
        return run_to_memory(out, "user_stats_tws")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on the event key with watermark-bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key's fingerprint only
    until the watermark passes it — state size is bounded by the horizon's
    key cardinality, not the stream's lifetime.
    """
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return run_to_memory(deduped, "stream_dedup")


def stream_stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views matched to same-user purchases within
    the following hour.

    Both sides carry a watermark and the join condition bounds event-time
    distance — the two requirements that let Spark evict join state (a view
    older than max(event time) − 1h − delay can never match again). Without
    them stream-stream state grows forever; with them it's bounded by one
    horizon of each side. The classic attribution-join shape at 100 TB.
    """
    base = read_events_stream(spark, sf_dir)
    views = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("micros_to_purchase"),
    )
    return run_to_memory(joined, "stream_stream_join")
