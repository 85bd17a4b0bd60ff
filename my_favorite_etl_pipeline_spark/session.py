"""SparkSession factory tuned for the engine's workload.

Design notes (100 TB posture):
- AQE is on: runtime re-planning (join-strategy demotion, skew split,
  partition coalescing) is the single highest-leverage knob at scale.
- ``spark.sql.ansi.enabled=false``: the reference pipeline's semantics are
  "coerce, don't throw" (pandas ``errors="coerce"``,
  reference dag_mgo_pg_schedule_etl_qc.py:176-183); we additionally use the
  ``try_*`` function family explicitly wherever coercion is load-bearing.
- ``spark.sql.session.timeZone=UTC``: the fixture parquet stores naive
  timestamps; pinning UTC makes Spark's reading byte-identical to DuckDB's.
- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``
  (``false`` by default on Spark 4.1): cached plans run full AQE, so a
  persisted post-shuffle frame is stored coalesced (see caching.py).
- the local master uses ``SPARK_GRAFT_CPUS`` threads, or every core the
  machine reports when it is unset; shuffle partitions start at 32 and AQE
  coalesces them (on a real cluster both are overridden).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
CACHED_PLAN_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def get_spark(app_name: str = "my-favorite-etl-pipeline-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config(CACHED_PLAN_AQE, "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Allow shuffled-hash join where its size conditions hold instead of
        # always sorting both sides: equal-width equi-joins on small-per-
        # partition sides skip two sorts (−20% on the merge/cluster joins).
        # The plan-time pick bounds the AVERAGE per-partition build size over
        # estimated stats, and SHJ's build-side hash map does not spill; the
        # AQE local-map threshold is the stronger runtime bound (every actual
        # post-shuffle partition ≤ 64 MB). AQE skew splitting backs up the
        # static pick (tests/test_shj_skew.py); a single giant key is the
        # residual risk at 100 TB — salt it (operators/skew.py).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # runtime row-level filtering: build a bloom filter from the small
        # (filtered) join side and push it into the big side's scan — at
        # 100 TB this skips row groups the join would discard anyway
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # NOTE: runtimeFilter.semiJoinReduction deadlocks trivial jobs on
        # this build (hangs even range().count()) — verified by bisection;
        # bloom-filter runtime filtering alone is the safe, useful half
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # fixture parquet has shipped TIMESTAMP(NANOS) columns (see
        # sources/tables.py:normalize_event_time); Spark 4 rejects them
        # unless read as raw int64. Set ONCE here — session-wide, declared,
        # and documented — instead of mutating conf inside load(), which
        # silently changed how other readers in a shared session saw ns
        # parquet. Effect when no ns columns exist: none.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def shuffle_partitions_tag(spark: SparkSession) -> str:
    """The session's shuffle-partition setting as a memo-key string.

    NOT ``spark.conf.get(key, "")``: Spark 4.1 validates the DEFAULT
    against the conf's declared type when the key is unset in the session
    conf map, so a string default on this int conf throws
    INVALID_CONF_VALUE on a vanilla (driver-created) session — exactly
    the session the driver harness runs queries with (caught r16 by the
    driver-simulation smoke on the newly seated graph entries; the tuned
    ``get_spark`` sessions always set the key, which is why local sweeps
    never saw it). ``get(key)`` without a default returns the session
    default ("200") unvalidated.
    """
    try:
        return spark.conf.get("spark.sql.shuffle.partitions") or ""
    except Exception:
        return ""


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-provided session.

    The driver harness creates its own SparkSession and passes it in; the
    confs that matter for correctness parity (timezone, ANSI) are settable
    at runtime — apply them defensively.
    """
    for key, val in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.adaptive.enabled", "true"),
        (CACHED_PLAN_AQE, "true"),
        # ns-parquet compatibility — session-wide by design (see get_spark);
        # normalize_event_time rebuilds the affected columns after scan
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # shuffled-hash joins as in get_spark: size-bounded, same results
        ("spark.sql.join.preferSortMergeJoin", "false"),
        (
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        ),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # conf may be static on some builds; try_* funcs still cover us
    return spark
