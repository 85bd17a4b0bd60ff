"""Event-stream analytics over the ``events`` fixture — funnel conversion
and retention cohorts, the two canonical product-analytics queries.

Both are one-shuffle shapes (partition by user) that scale to arbitrary
event volume: the per-user state is a window, never a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load


@register(
    "funnel_view_to_purchase",
    oracle="""
    WITH vp AS (
      SELECT user_id, ts, event_type,
             LAG(event_type) OVER w AS prev_type,
             LAG(ts) OVER w AS prev_ts
      FROM events
      WHERE event_type IN ('view', 'purchase')
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' AND prev_type = 'view'
                          AND ts - prev_ts <= INTERVAL 1 HOUR
                    THEN 1 ELSE 0 END) AS BIGINT) AS conversions,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views
    FROM vp GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
    """,
)
def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: purchases directly preceded by a view within 1h,
    per user. LAG over (user, time) — sessionization's little sibling; one
    shuffle on user_id, deterministic tie-break on event_id."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    converted = (
        (F.col("event_type") == "purchase")
        & (F.col("prev_type") == "view")
        & (F.col("ts").cast("long") - F.col("prev_ts").cast("long") <= 3600)
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum(converted.cast("int")).alias("conversions"),
            F.sum((F.col("event_type") == "view").cast("int")).alias("views"),
        )
        .filter(F.col("views") > 0)
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, ts,
             CAST(MIN(ts) OVER (PARTITION BY user_id) AS DATE) AS cohort_day
      FROM events
    )
    SELECT cohort_day,
           CAST(DATEDIFF('day', cohort_day, CAST(ts AS DATE)) AS INT) AS day_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
    FROM firsts
    WHERE DATEDIFF('day', cohort_day, CAST(ts AS DATE)) <= 7
    GROUP BY cohort_day, DATEDIFF('day', cohort_day, CAST(ts AS DATE))
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D0-D7 retention: users grouped by first-seen day, distinct actives
    per (cohort, day offset). The window MIN replaces a first-events
    self-join — one shuffle on user_id, then the count-distinct agg."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    firsts = ev.select(
        "user_id",
        "ts",
        F.min("ts").over(w).cast("date").alias("cohort_day"),
    )
    offset = F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
    return (
        firsts.withColumn("day_offset", offset)
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "continuous_aggregate_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           (CAST(ROUND(ROUND(SUM(value), 4) * 10000) AS BIGINT) // COUNT(*))
             / 10000.0 AS avg_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def continuous_aggregate_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: history answered from an
    hourly pre-aggregated rollup, the last day re-aggregated from raw, the
    two merged by re-summing decomposable partials (operators.rollup).

    The oracle is the direct aggregation over ALL raw data — the merge is
    correct iff rollup+tail is indistinguishable from a full scan. At
    100 TB the history side reads the (tiny) rollup table instead of raw.
    """
    from ..operators.rollup import hourly_rollup, rollup_with_tail

    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-12 00:00:00"
    history = ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
    tail = ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
    # in production `hourly_rollup(history)` is a materialized table,
    # appended per batch window; computing it inline keeps the harness
    # hermetic while exercising the identical merge math
    merged = rollup_with_tail(hourly_rollup(history), tail)
    # avg is FIXED-POINT: scale the (cross-engine-identical) rounded sum to
    # an exact integer and integer-divide by the count. A float division
    # here is not reproducible — rounded_sum/count lands on exact decimal
    # halves (x.xx125 for counts like 24), where Spark rounds the shortest
    # decimal representation (BigDecimal HALF_UP) and DuckDB rounds the raw
    # binary double, and they disagree. Integer math is bit-identical at
    # any scale factor; the contract truncates toward zero at 1e-4.
    return merged.select(
        "bucket_start",
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        (
            F.expr(
                "CAST(ROUND(ROUND(sum_value, 4) * 10000) AS BIGINT) DIV n_events"
            )
            / F.lit(10000.0)
        ).alias("avg_value"),
    )


@register("hll_sketch_merge")  # rows-only: sketch bytes are engine-specific
def hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Datasketches HLL): build one
    sketch per event_type, then hll_union them to estimate overall distinct
    users WITHOUT rescanning — the decomposable-sketch pattern that powers
    rollup-level COUNT(DISTINCT) at 100 TB. Exact twin: distinct_users_by_type."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    per_type_est = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_distinct"),
        "exact_distinct",
    )
    overall = per_type.agg(F.hll_union_agg("sk").alias("u")).select(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate("u").alias("approx_distinct"),
        F.lit(None).cast("long").alias("exact_distinct"),
    )
    return per_type_est.unionByName(overall)


@register(
    "rolling_1h_user_stats",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           ROUND(SUM(value) OVER w, 4) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def rolling_1h_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling aggregate: per event, count+sum of the SAME user's
    events in the trailing hour — the per-entity rate/velocity feature
    (fraud counters, rate limits) that tumbling windows can't express.

    Spark's rangeBetween needs a numeric sort key, so ts is cast to epoch
    seconds (double, microsecond-exact at this magnitude) and the frame is
    [-3600, 0] — the same inclusive-bound semantics as SQL's RANGE INTERVAL
    PRECEDING. One shuffle on user_id; frames never cross keys, so the op
    scales with per-user history, not total volume.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    ).orderBy("event_id")


@register(
    "gapfill_locf_hourly",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h, ROUND(SUM(value), 4) AS v
      FROM events WHERE user_id <= 20 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.user_id, g.h AS bucket,
           ROUND(LAST_VALUE(hy.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h), 4) AS v_filled,
           CAST(hy.v IS NULL AS BOOLEAN) AS was_gap
    FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
    ORDER BY g.user_id, bucket
    """,
)
def gapfill_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: densify each user's hourly series to a
    complete grid (sequence + explode — generated on the executor that owns
    the key, not the driver), then LOCF forward-fill the holes with
    last(v, ignorenulls) over the per-user time order.

    All per-key: the grid explode, the left join (same (user_id, h) layout
    both sides), and the fill window ride one hash partitioning on user_id.
    Grid size is bounded by (span / bucket) per key, independent of raw
    event volume — safe at 100 TB as long as key spans are sane.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    bounds = hourly.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"),
    )
    w = Window.partitionBy("user_id").orderBy("h")
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("bucket"),
            F.round(F.last("v", ignorenulls=True).over(w), 4).alias("v_filled"),
            F.col("v").isNull().alias("was_gap"),
        )
        .orderBy("user_id", "bucket")
    )


@register(
    "skew_zipf_top_users",
    oracle="""
    WITH skewed AS (
      SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS hot_key,
             value
      FROM events
    ), dim AS (
      SELECT DISTINCT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS hot_key
      FROM events
    )
    SELECT s.hot_key,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(s.value), 4) AS total_value
    FROM skewed s JOIN dim d ON s.hot_key = d.hot_key
    GROUP BY s.hot_key
    ORDER BY s.hot_key
    """,
)
def skew_zipf_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-evidence query — a zipf-shaped hot key (~90% of events collapse
    onto key 0) joined against its key dimension via ``salted_join``.

    This is the case AQE's skew-split can't fully fix: ONE key dominates,
    so splitting oversized partitions still leaves every key-0 row pairing
    through a single build-side entry. The salt spreads key 0 across 8
    tasks; the dim side is replicated ×8 (tiny). The oracle is a plain
    unsalted join — proving salting changes placement, never results.
    tests/test_plans_and_skew.py compares this plan against the unsalted
    AQE plan on the same fixture.
    """
    from ..operators.skew import salted_join

    events = load(spark, sf_dir, "events")
    hot = F.when(F.col("user_id") % 10 < 9, F.lit(0)).otherwise(F.col("user_id"))
    skewed = events.select(hot.cast("long").alias("hot_key"), "value")
    dim = skewed.select("hot_key").distinct()
    from ..caching import presentation_sort

    return presentation_sort(
        salted_join(skewed, dim, on="hot_key", how="inner", salt=8)
        .groupBy("hot_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        ),
        "hot_key",
    )


@register(
    "sessionize_events_gap30m",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    f AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                  OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM o
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM f
    )
    SELECT user_id, CAST(session_seq AS INT) AS session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def sessionize_events_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gap-based (30 min inactivity) variant of
    the streaming ``session_window_30m``: LAG to flag session starts,
    running SUM to number sessions, then per-session aggregates. The
    canonical islands-and-gaps shape every product-analytics engine ships.

    ONE shuffle on user_id serves both windows AND the final group-by
    (same partitioning key) — Catalyst reuses the exchange; per-user state
    is a sort, never a collect, so skew equals the busiest user, not the
    table. Deterministic (ts, event_id) tie-break on both engines.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            # interval compare, not an epoch cast: works for TIMESTAMP_NTZ
            # and counts micros toward the gap exactly as DuckDB's
            # `ts - prev_ts > INTERVAL 30 MINUTE` does (1800.5 s > 30 min)
            | (
                F.col("ts") - F.lag("ts").over(w)
                > F.expr("INTERVAL '30' MINUTE")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "session_seq"
        ),
    )
    return (
        numbered.groupBy("user_id", F.col("session_seq").cast("int").alias("session_seq"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------------------------
# gapfill_interpolate_hourly — linear interpolation between observations

_GI_S = 10_000_000_000  # shift making every interp numerator nonnegative


@register(
    "gapfill_interpolate_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(ROUND(SUM(value) * 100) AS BIGINT) AS vc
      FROM events WHERE user_id <= 20 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ), j AS (
      SELECT g.user_id, g.h, hy.vc, CAST(epoch(g.h) AS BIGINT) AS t
      FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
    ), f AS (
      SELECT user_id, h, vc, t,
        LAST_VALUE(vc IGNORE NULLS) OVER w_p AS pv,
        LAST_VALUE(CASE WHEN vc IS NOT NULL THEN t END IGNORE NULLS)
          OVER w_p AS pt,
        FIRST_VALUE(vc IGNORE NULLS) OVER w_n AS nv,
        FIRST_VALUE(CASE WHEN vc IS NOT NULL THEN t END IGNORE NULLS)
          OVER w_n AS nt
      FROM j
      WINDOW
        w_p AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_n AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, h AS bucket,
           CASE WHEN vc IS NOT NULL THEN vc
                ELSE pv + ((nv - pv) * (t - pt) + {_GI_S} * (nt - pt))
                     // (nt - pt) - {_GI_S}
           END AS v_interp_cents,
           vc IS NULL AS was_gap
    FROM f
    ORDER BY user_id, bucket
    """,
)
def gapfill_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill, INTERPOLATION flavor (the `locf` query's
    twin — TimescaleDB ships exactly this pair: `locf()` and
    `interpolate()`): densify each user's hourly series to a complete
    grid, then fill every hole with the LINEAR interpolation between the
    nearest observed neighbors in time.

    Engine-portable arithmetic: hourly sums become exact integer CENTS
    (ROUND before CAST — the PSI precedent; the true sum is a 2dp
    multiple, float dust is ~1e-10, so the round is engine-identical),
    timestamps become exact epoch-second BIGINTs, and the interpolation
    `pv + (nv-pv)·(t-pt)/(nt-pt)` is ONE integer floor-division made
    portable by the shift identity `(N + S·D) div D − S` (nonnegative
    numerator ⇒ Spark's truncating DIV equals DuckDB's flooring `//` —
    the quality_classifier_train_gd precedent; S·D ≤ 1e10·4e3 ≪ 2^63).

    Grid-edge guarantee: bounds come FROM the observed hours, so the
    first/last grid row of every key is observed — interior gaps always
    have both neighbors, and the leading/trailing-gap branch is
    structurally dead (no COALESCE fallback to hide a bug in).

    Plan at 100 TB: identical to the locf twin — grid explode, left
    join, and both fill windows all ride ONE hash partitioning on
    user_id; per-key grid size is span/bucket, independent of raw event
    volume. The two IGNORE-NULLS windows are the standard prev/next
    scan; no self-join, no range join.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.expr("CAST(ROUND(SUM(value) * 100) AS BIGINT)").alias("vc"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left").withColumn(
        "t", F.unix_timestamp("h")
    )
    w_p = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("vc").isNotNull(), F.col("t"))
    f = j.select(
        "user_id",
        "h",
        "vc",
        "t",
        F.last("vc", ignorenulls=True).over(w_p).alias("pv"),
        F.last(obs_t, ignorenulls=True).over(w_p).alias("pt"),
        F.first("vc", ignorenulls=True).over(w_n).alias("nv"),
        F.first(obs_t, ignorenulls=True).over(w_n).alias("nt"),
    )
    interp = F.expr(
        f"pv + ((nv - pv) * (t - pt) + {_GI_S} * (nt - pt)) DIV (nt - pt)"
        f" - {_GI_S}"
    )
    return f.select(
        "user_id",
        F.col("h").alias("bucket"),
        F.when(F.col("vc").isNotNull(), F.col("vc"))
        .otherwise(interp)
        .alias("v_interp_cents"),
        F.col("vc").isNull().alias("was_gap"),
    ).orderBy("user_id", "bucket")


@register(
    "zorder_events_morton",
    oracle="""
    WITH b AS (
      SELECT MIN(user_id) AS lo_u, MAX(user_id) AS hi_u,
             MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo_t,
             MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi_t
      FROM events
    ),
    r AS (
      SELECT event_id,
             CASE WHEN hi_u > lo_u THEN CAST(floor(
               (user_id - lo_u) / CAST(hi_u - lo_u AS DOUBLE) * 65535
             ) AS BIGINT) ELSE 0 END AS ru,
             CASE WHEN hi_t > lo_t THEN CAST(floor(
               (CAST(floor(epoch(ts)) AS BIGINT) - lo_t)
               / CAST(hi_t - lo_t AS DOUBLE) * 65535
             ) AS BIGINT) ELSE 0 END AS rt
      FROM events CROSS JOIN b
    )
    SELECT event_id,
           CAST(list_sum(list_transform(range(16), bb ->
             (((ru >> bb) & 1) << (bb * 2)) + (((rt >> bb) & 1) << (bb * 2 + 1))
           )) AS BIGINT) AS zval
    FROM r ORDER BY event_id
    """,
)
def q_zorder_events_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout — Morton (Z-order) codes over (user_id, event time): the
    clustering key behind multi-dimensional data skipping (`OPTIMIZE
    ZORDER BY` in lakehouse formats, re-expressed as plain columns).
    ``operators/layout.py:write_zordered`` sorts by this value so every
    parquet file's min/max footers form a tight box in BOTH dimensions;
    the pruning win is proven in tests/test_curation_filters.py by
    counting row groups a 2-D box predicate can skip vs a linear layout.

    Plan: one scalar aggregate for the bounds (broadcast 1-row cross
    join), then a pure per-row HOF bit-interleave — map-only, codegen'd.
    The oracle recomputes the identical float-then-floor arithmetic, so
    scaling or interleaving drift is a hash mismatch.
    """
    from ..operators.layout import zorder_value

    ev = load(spark, sf_dir, "events")
    b = ev.agg(
        F.min("user_id").alias("lo_u"),
        F.max("user_id").alias("hi_u"),
        F.min(F.unix_timestamp("ts")).alias("lo_t"),
        F.max(F.unix_timestamp("ts")).alias("hi_t"),
    )
    joined = ev.crossJoin(F.broadcast(b))
    z = zorder_value(
        [F.col("user_id").cast("long"), F.unix_timestamp("ts")],
        [
            (F.col("lo_u").cast("long"), F.col("hi_u").cast("long")),
            (F.col("lo_t"), F.col("hi_t")),
        ],
        bits=16,
    )
    return joined.select("event_id", z.alias("zval")).orderBy("event_id")
