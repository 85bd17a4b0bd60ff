"""Streaming + event-time window queries ([EXT] X6, SURVEY.md §2.9).

``stream_tumbling_hourly`` runs through the real Structured Streaming engine
(readStream → window agg → availableNow → memory sink) and is still oracle-
checked: with all data available, the final state equals the batch window
aggregation, which DuckDB expresses with time_bucket. Sliding and session
windows run as batch event-time queries with exact SQL oracles (shifted
buckets / gaps-and-islands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import DUCK_SHINGLES, duck_held_out
from ..registry import register
from ..sources.tables import load
from ..streaming.stateful import (
    stream_dedup,
    stream_stream_view_purchase_join,
    user_stats_stateful,
)
from ..streaming.windows import session_window_counts, tumbling_hourly_counts


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — tumbling 1h event-time windows via Structured Streaming.

    The full stream is processed under an availableNow trigger, so the
    complete-mode result must equal the batch aggregation — making the
    streaming engine itself oracle-checkable. State is bounded by
    (#windows × #types); at 100 TB the production twin adds a watermark to
    expire state and append-mode emission into the merge sink.
    """
    return tumbling_hourly_counts(spark, sf_dir)


@register(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — custom stateful operator via applyInPandasWithState.

    Per-user GroupState accumulator over the events stream; with the whole
    stream in one availableNow batch the changelog collapses to one row per
    user, so the state machine's end result is oracle-checked against plain
    GROUP BY — the state transition logic, Arrow state serialization, and
    output-mode plumbing all sit on the verified path.
    """
    return user_stats_stateful(spark, sf_dir)


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — streaming exact dedup with watermark-bounded state.

    event_id is unique in the fixture, so the deduped stream must equal the
    full table (the oracle); duplicate-drop behavior itself is unit-tested
    with an injected-dup stream in tests/test_streaming_extras.py.
    """
    return stream_dedup(spark, sf_dir)


@register(
    "stream_stream_attribution_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS micros_to_purchase
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — stream-stream attribution join (views × purchases ≤ 1h later,
    same user) through the streaming engine with watermark-bounded join
    state; with all data in one availableNow pass the result equals the
    batch interval join, so even this is oracle-checked."""
    return stream_stream_view_purchase_join(spark, sf_dir)


@register(
    "stream_session_window_30m",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    numbered AS (
      -- ORDER BY must match the LAG total order exactly (ts, event_id):
      -- with ts alone, duplicate (user_id, ts) rows at a session start can
      -- nondeterministically order the marker after a peer row and split
      -- one session in two
      SELECT user_id, ts, value,
             SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — session windows through the STREAMING engine: the stateful
    session-merge operator runs inside Structured Streaming (state store +
    per-trigger session merge), not as a batch gaps-and-islands window.
    With the whole fixture in one availableNow micro-batch the update-mode
    final state equals the batch session aggregation, so the streaming
    session operator itself is oracle-checked — the gap-sessionization
    shape that, at 100 TB, adds a watermark to bound state and emits via
    foreachBatch into the merge sink (streaming/sink.py).
    """
    return session_window_counts(spark, sf_dir)


@register(
    "sliding_window_3h_1h",
    oracle="""
    WITH shifted AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL (s.o) HOUR AS window_start,
             value
      FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS o) s
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM shifted
    GROUP BY window_start
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — sliding windows (3h size, 1h slide): each event lands in 3
    windows. Spark's window() expands rows ×3 then partial-aggregates them
    away map-side; the oracle mirrors it with 3 shifted hour-buckets."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "3 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "session_window_30m",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    numbered AS (
      -- ORDER BY must match the LAG total order exactly (ts, event_id):
      -- with ts alone, duplicate (user_id, ts) rows at a session start can
      -- nondeterministically order the marker after a peer row and split
      -- one session in two
      SELECT user_id, ts, value,
             SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — session windows (30-minute gap) per user.

    Spark's native session_window merges events whose gaps are < 30 min;
    the oracle reproduces it with the gaps-and-islands window idiom. One
    shuffle on user_id either way — the at-scale sessionization shape.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_decontaminate_flags",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bgr AS (
      SELECT DISTINCT array_to_string(t[pos + 1:pos + 13], ' ') AS gram
      FROM (SELECT t, UNNEST(range(len(t) - 12)) AS pos
            FROM toks
            WHERE len(t) >= 13
              AND {duck_held_out()})
    ),
    tg AS (
      SELECT doc_id, array_to_string(t[pos + 1:pos + 13], ' ') AS gram
      FROM (SELECT doc_id, t, UNNEST(range(len(t) - 12)) AS pos
            FROM toks
            WHERE len(t) >= 13
              AND NOT ({duck_held_out()}))
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_grams
    FROM tg WHERE gram IN (SELECT gram FROM bgr)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × X4 (r7) — streaming benchmark decontamination: the documents
    table arrives through the streaming engine (file source), its 13-grams
    stream-static join a fixed benchmark gram set (stateless join — the
    static side is eval-suite-sized and broadcasts), and a stateful
    per-doc count emits how many grams collided. availableNow + complete
    mode makes the final state equal the batch join, so the DuckDB oracle
    hash-checks a query that genuinely executed inside Structured
    Streaming (the ``stream_tumbling_hourly`` precedent). Extends the X6
    family beyond events analytics onto the LLM-data surface: continuous
    crawl ingest with inline decontamination flagging.
    """
    from ..streaming.windows import stream_contamination_counts

    return stream_contamination_counts(spark, sf_dir)


@register(
    "stream_ingest_dedup_ssjoin",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(t) >= 3
                    THEN list_transform(range(len(t) - 2),
                           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                    ELSE [] END) AS s
           FROM toks),
    a AS (SELECT doc_id, s, LEN(s) AS na FROM sh WHERE doc_id % 2 = 1),
    b AS (SELECT doc_id AS ref_id, s AS sb, LEN(s) AS nb
          FROM sh WHERE doc_id % 2 = 0),
    ea AS (SELECT doc_id, na, UNNEST(s) AS g FROM a),
    eb AS (SELECT ref_id, nb, UNNEST(sb) AS g FROM b),
    i AS (SELECT doc_id, ref_id, na, nb, COUNT(*) AS c
          FROM ea JOIN eb USING (g) GROUP BY 1, 2, 3, 4)
    SELECT doc_id, ref_id,
           ROUND(CAST(c AS DOUBLE) / (na + nb - c), 4) AS jaccard
    FROM i WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.9
    ORDER BY doc_id, ref_id
    """,
)
def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × X2 (r7) — streaming ingest dedup: the odd-doc_id half of the
    corpus arrives through the streaming engine and is screened for
    >= 0.9-Jaccard near-duplicates against the even half's STATIC shingle
    inverted index (stream-static stateless join + one stateful pair
    aggregate — exact candidates, no LSH probability, so the all-pairs
    DuckDB oracle matches by construction; hence the ssjoin name, after
    its exact batch cousin ssjoin_prefix_filter). The continuous-crawl
    "skip what the lake already holds" operator; the production
    refinement indexes only prefix-filter shingles (see docstring of
    streaming.windows.stream_ingest_dedup_pairs).
    """
    from ..streaming.windows import stream_ingest_dedup_pairs

    return stream_ingest_dedup_pairs(spark, sf_dir)


from .curation import PSI_ORACLE_SQL as _PSI_ORACLE_SQL  # noqa: E402


@register(
    "stream_psi_drift_monitor",
    # two algorithms, one answer: the streaming monitor hash-checks
    # against the exact SQL of its batch twin (Bloom precedent)
    oracle=_PSI_ORACLE_SQL,
)
def q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × DQ (late r9) — the PSI drift monitor with its CURRENT-window
    histogram computed inside Structured Streaming: the live event stream
    (ts >= the snapshot cut) aggregates into a stateful (event_type,
    bucket) count — the standing state a production monitor keeps — while
    the reference histogram is a static batch frame of the training
    snapshot; PSI assembles from the model-sized union exactly as in the
    batch twin ``psi_drift_by_window``. availableNow + complete mode makes
    the final streaming state equal the batch histogram, so this registers
    the SAME oracle as the batch query: two algorithms — a streaming
    stateful aggregation and a batch aggregation — one answer (the
    Bloom-decontamination precedent).

    Plan at 100 TB: streaming state is bounded at |types|×buckets rows per
    state store; each micro-batch shuffles only its own (type, bucket)
    partials (map-side combined); the reference histogram is computed once
    from the snapshot (in production: a saved model-sized table, not a
    rescan) and every PSI-assembly join broadcasts.
    """
    from .curation import _PSI_SPLIT, psi_assemble, psi_value_bucket
    from ..streaming.windows import stream_current_window_histogram

    cur = stream_current_window_histogram(
        spark, sf_dir, _PSI_SPLIT, psi_value_bucket()
    ).withColumn("wnd", F.lit(1))
    ref = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"))
        .select("event_type", psi_value_bucket().alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("wnd", F.lit(0))
    )
    sc = ref.unionByName(cur.select("event_type", "b", "c", "wnd"))
    return psi_assemble(spark, sc)



def _psi_windowed_oracle() -> str:
    from .curation import _PSI_B, _PSI_SPLIT

    bucket = (
        f"LEAST(GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0) // 5000, "
        f"{_PSI_B - 1})"
    )
    return f"""
    WITH wm AS (
      SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events
      WHERE ts >= TIMESTAMP '{_PSI_SPLIT}'
    ),
    cur AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             {bucket} AS b, COUNT(*) AS c
      FROM events, wm
      WHERE ts >= TIMESTAMP '{_PSI_SPLIT}'
        AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
      GROUP BY 1, 2, 3
    ),
    ref AS (
      SELECT event_type, {bucket} AS b, COUNT(*) AS c
      FROM events WHERE ts < TIMESTAMP '{_PSI_SPLIT}' GROUP BY 1, 2
    ),
    wins AS (SELECT DISTINCT window_start FROM cur),
    types AS (
      SELECT DISTINCT event_type FROM ref
      UNION SELECT DISTINCT event_type FROM cur
    ),
    grid AS (
      SELECT w.window_start, t.event_type, g.b
      FROM wins w CROSS JOIN types t
      CROSS JOIN (SELECT UNNEST(range({_PSI_B})) AS b) g
    ),
    nr AS (SELECT event_type, SUM(c) AS n FROM ref GROUP BY 1),
    nc AS (SELECT window_start, event_type, SUM(c) AS n FROM cur GROUP BY 1, 2),
    pq AS (
      SELECT g.window_start, g.event_type,
             COALESCE(nr.n, 0) AS n_ref, COALESCE(nc.n, 0) AS n_cur,
             (COALESCE(r.c, 0) + 1.0) / (COALESCE(nr.n, 0) + {_PSI_B}.0) AS q,
             (COALESCE(cu.c, 0) + 1.0) / (COALESCE(nc.n, 0) + {_PSI_B}.0) AS p
      FROM grid g
      LEFT JOIN ref r ON r.event_type = g.event_type AND r.b = g.b
      LEFT JOIN cur cu ON cu.window_start = g.window_start
                      AND cu.event_type = g.event_type AND cu.b = g.b
      LEFT JOIN nr ON nr.event_type = g.event_type
      LEFT JOIN nc ON nc.window_start = g.window_start
                  AND nc.event_type = g.event_type
    )
    SELECT window_start, event_type,
           CAST(MAX(n_ref) AS BIGINT) AS n_ref,
           CAST(MAX(n_cur) AS BIGINT) AS n_cur,
           ROUND(SUM((p - q) * LN(p / q)), 4) AS psi
    FROM pq GROUP BY 1, 2 ORDER BY 1, 2
    """


@register("stream_psi_windowed_append", oracle=_psi_windowed_oracle())
def q_stream_psi_windowed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × DQ (r10) — the PSI drift monitor in its PRODUCTION trigger
    mode: per-window PSI emitted as WATERMARKS CLOSE windows (append mode),
    not one complete-mode snapshot. The live stream aggregates (window,
    event_type, bucket) histograms under ``withWatermark("ts", "1 hour")``;
    a tumbling 1-hour window's histogram emits exactly once when the
    watermark passes its end, stragglers are dropped, and STILL-OPEN
    windows are never scored (closes the r9 gap: the complete-mode
    ``stream_psi_drift_monitor`` stays as the bounded-run parity check,
    this is the shape a deployed monitor runs). Each closed window's
    distribution is scored against the static reference snapshot
    (ts < split) with the same Laplace-smoothed 10-bucket PSI as the batch
    twin; output is one row per (closed window, event type).

    Plan at 100 TB: streaming state is |open windows|×|types|×buckets rows
    and watermark eviction bounds |open windows| by the lateness budget —
    state can never grow with stream length (the complete-mode twin's
    documented weakness). Emission is append-only into the model-sized PSI
    assembly: reference totals broadcast, every join key is (window, type,
    bucket) — nothing corpus-sized moves after the first aggregate. The
    oracle replays the watermark policy in SQL: a window participates iff
    its end ≤ max event time − the watermark delay, and NULL-ts rows are
    excluded on both arms (event-time windowing requires a timestamp).
    """
    from .curation import _PSI_B, _PSI_SPLIT, psi_value_bucket
    from ..streaming.windows import stream_windowed_histograms

    # localCheckpoint: the histogram is referenced FOUR times below (wins,
    # types, per-cell counts, per-window totals) and the memory-sink
    # relation does not self-join cleanly when derived frames meet
    # (conflicting-reference resolution error); checkpointing to a leaf
    # makes every reference a fresh instance. Bounded: |closed windows| ×
    # |types| × buckets rows — model-sized, never corpus-sized.
    cur = stream_windowed_histograms(
        spark, sf_dir, _PSI_SPLIT, psi_value_bucket()
    ).localCheckpoint(eager=True)
    ref = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"))
        .select("event_type", psi_value_bucket().alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wins = cur.select("window_start").distinct()
    types = (
        ref.select("event_type").union(cur.select("event_type")).distinct()
    )
    grid = (
        wins.crossJoin(F.broadcast(types))
        .crossJoin(
            F.broadcast(spark.range(_PSI_B).select(F.col("id").alias("b")))
        )
    )
    nr = ref.groupBy("event_type").agg(F.sum("c").alias("nrn"))
    nc = cur.groupBy("window_start", "event_type").agg(F.sum("c").alias("nun"))
    bb = float(_PSI_B)
    pq = (
        grid.join(F.broadcast(ref.withColumnRenamed("c", "cr")), ["event_type", "b"], "left")
        .join(
            F.broadcast(cur.withColumnRenamed("c", "cc_")),
            ["window_start", "event_type", "b"],
            "left",
        )
        .join(F.broadcast(nr), "event_type", "left")
        .join(F.broadcast(nc), ["window_start", "event_type"], "left")
        .select(
            "window_start",
            "event_type",
            F.coalesce(F.col("nrn"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("nun"), F.lit(0)).alias("n_cur"),
            ((F.coalesce(F.col("cr"), F.lit(0)) + 1.0)
             / (F.coalesce(F.col("nrn"), F.lit(0)) + bb)).alias("q"),
            ((F.coalesce(F.col("cc_"), F.lit(0)) + 1.0)
             / (F.coalesce(F.col("nun"), F.lit(0)) + bb)).alias("p"),
        )
    )
    return (
        pq.groupBy("window_start", "event_type")
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 4
            ).alias("psi"),
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# stream_merge_into_mart — the production streaming SINK on the driver path
# (VERDICT r11 item 7: pytest-covered since r8, never had a driver row)

_SMM_ORDER_COLS = (
    "o_orderkey o_custkey o_orderstatus o_totalprice o_orderdate o_orderpriority"
).split()


def _smm_oracle() -> str:
    # merge_upsert semantics replayed in SQL over the same seed/update split:
    # matched keys take the batch's update_cols and keep mart values
    # elsewhere; batch-only keys insert whole; mart-only rows pass through.
    upd_cols = {"o_orderstatus": "'U'", "o_orderpriority": "'0-STREAMED'"}
    sel = []
    for c in _SMM_ORDER_COLS:
        if c == "o_orderkey":
            sel.append("COALESCE(m.o_orderkey, u.o_orderkey) AS o_orderkey")
        elif c in upd_cols:
            sel.append(
                f"CASE WHEN u.o_orderkey IS NOT NULL THEN u.{c} ELSE m.{c} END AS {c}"
            )
        else:
            sel.append(f"COALESCE(m.{c}, u.{c}) AS {c}")
    cols = ",\n           ".join(sel)
    return f"""
    WITH mart AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
             o_orderdate, '0-STREAMED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT {cols}
    FROM mart m FULL OUTER JOIN upd u ON m.o_orderkey = u.o_orderkey
    ORDER BY o_orderkey
    """


@register("stream_merge_into_mart", oracle=_smm_oracle())
def q_stream_merge_into_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — the PRODUCTION streaming sink end-to-end on the oracle-checked
    path: seed a :class:`VersionedMart` with half the orders table
    (o_orderkey % 2 = 0), stream a disjointly-partitioned update batch
    (o_orderkey % 3 = 0, o_orderstatus→'U', o_orderpriority→'0-STREAMED')
    through a real file-source Structured Streaming query with
    ``maxFilesPerTrigger=1`` — four micro-batches, each running
    foreachBatch → ``merge_upsert`` → atomic mart commit
    (``streaming.sink.stream_merge_into_mart``) — then read the final
    committed snapshot back. The update files are hash-partitioned BY KEY
    (``repartition(4, o_orderkey)``), so every key lands in exactly one
    micro-batch and the final mart is independent of batch arrival order:
    deterministic, and expressible as ONE SQL full-outer merge for the
    oracle even though four sequential commits produced it.

    Replay idempotency and checkpoint-recovery semantics are pinned in
    tests/test_streaming_extras.py; what THIS entry adds is driver-side
    visibility of the full sink path (stream → merge → manifest-swap
    commit → time-travel-readable mart) against the DuckDB oracle.

    Plan at 100 TB: each micro-batch's merge is one key-shuffle join of
    batch-sized against mart-sized (AQE broadcasts the batch in the common
    incremental case); the mart commit is an atomic manifest rename, cost
    independent of data size; streaming state is the file-source log only
    — the sink itself is stateless (state lives in the mart + checkpoint).
    """
    import shutil
    import tempfile

    from ..sources.mart import VersionedMart
    from ..streaming.sink import stream_merge_into_mart

    orders = load(spark, sf_dir, "orders").select(*_SMM_ORDER_COLS)
    root = tempfile.mkdtemp(prefix="mfe_smm_")
    try:
        mart_path = f"{root}/mart"
        vm = VersionedMart(mart_path)
        vm.commit(orders.filter(F.col("o_orderkey") % 2 == 0), "seed")
        upd = orders.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            "o_totalprice",
            "o_orderdate",
            F.lit("0-STREAMED").alias("o_orderpriority"),
        )
        upd.repartition(4, "o_orderkey").write.parquet(f"{root}/in")
        stream = (
            spark.readStream.schema(upd.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/in")
        )
        q = stream_merge_into_mart(
            stream,
            mart_path,
            "o_orderkey",
            ["o_orderstatus", "o_orderpriority"],
            checkpoint_dir=f"{root}/ckpt",
        )
        q.awaitTermination()
        # the final snapshot must leave the temp root before cleanup —
        # localCheckpoint pins it executor-side (bounded: mart-sized here
        # because the harness collects; production READS the mart in place)
        return vm.read(spark).orderBy("o_orderkey").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# stream_shard_manifest — the release manifest maintained AT INGEST TIME

from .assembly import MANIFEST_ORACLE as _MANIFEST_ORACLE  # noqa: E402


@register("stream_shard_manifest", oracle=_MANIFEST_ORACLE)
def q_stream_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × X4+ (r12) — the shard RELEASE MANIFEST maintained incrementally
    by the streaming engine: the documents corpus arrives as FOUR
    key-disjoint micro-batches (``maxFilesPerTrigger=1`` over a 4-way
    hash-partitioned copy) and the per-shard digests accumulate in
    streaming aggregation state across batches. Every manifest aggregate
    is COMMUTATIVE (count / sum / min / max / digest-sum), so the final
    complete-mode state must equal the batch manifest bit-for-bit no
    matter how arrival split the corpus — that arrival-order freedom is
    the design property ``shard_manifest_checksums`` claims, here PROVEN
    through the real engine (shared ``manifest_shard_agg`` body, shared
    oracle text — one SQL, two execution engines).

    Carries the IDENTICAL oracle text as the batch twin, so the driver
    value-hashes the streaming engine's accumulated state directly
    against DuckDB's one-shot aggregation.

    Plan at 100 TB-rate ingest: per-micro-batch cost is map-only hashing
    + a partial agg into |shards| state rows — state is manifest-sized
    FOREVER (8 rows here), the streaming-state ideal; a restart resumes
    from the checkpoint and re-derives identical digests (hash of
    content, not of arrival).
    """
    import shutil
    import tempfile

    from ..streaming.windows import run_to_memory
    from .assembly import manifest_shard_agg

    docs = load(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="mfe_manifest_")
    try:
        docs.repartition(4, "doc_id").write.parquet(f"{root}/in")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/in")
        )
        agg = manifest_shard_agg(stream)
        # the memory-sink table lives in driver memory, but materialize
        # before the input directory disappears (lazy reads re-plan)
        return (
            run_to_memory(agg, "stream_manifest", "complete")
            .orderBy("shard")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# stream_fuzzy_decontaminate — the GPT-3 fuzzy rule applied AT INGEST


def _fuzzy_pairs_oracle() -> str:
    """The SHARED pair CTE of the batch twin (curation._fuzz_pair_ctes —
    one exact train×bench Jaccard definition, two consumers), emitted at
    pair grain instead of rolled up per doc."""
    from .curation import _fuzz_pair_ctes

    return f"""
    WITH {_fuzz_pair_ctes()}
    SELECT tid AS doc_id, bid AS bench_id, jaccard
    FROM p
    ORDER BY doc_id, bench_id
    """


@register("stream_fuzzy_decontaminate", oracle=_fuzzy_pairs_oracle())
def q_stream_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × X4 (late r14) — fuzzy decontamination at INGEST TIME: documents
    arriving on the stream are screened for >= 0.5 3-gram-Jaccard
    near-duplicates of the static benchmark slice, emitting the evidence
    pairs (doc_id, bench_id, jaccard) — the GPT-3 appendix-C rule as a
    continuous-crawl gate, completing the streaming decontamination
    ladder (exact 13-gram ``stream_decontaminate_flags`` → fuzzy, this).

    Two candidate strategies, one exact answer: the batch twin
    (``fuzzy_decontaminate_minhash``) generates candidates by MinHash
    banding (right when both join sides grow); this arm hash-joins each
    micro-batch against the eval suite's FULL shingle posting list (right
    when the static side is eval-suite-sized — fixed at any corpus
    scale). Both arms compute the EXACT Jaccard — the batch twin via
    array_intersect, this arm by counting posting collisions (shingle
    sets are distinct, so the collision count is the intersection size)
    — so both hash-check against the SAME exact all-pairs pair table
    (shared CTE text). availableNow + complete mode makes the final
    streaming state equal the batch join; streaming state is one small
    (c, na, nb) row per CANDIDATE pair (>= 1 shared shingle).
    """
    from ..streaming.windows import stream_fuzzy_decon_pairs

    return stream_fuzzy_decon_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# stream_containment_screen — the quote/containment direction at ingest


def _containment_screen_oracle() -> str:
    """Exact cross-corpus containment over the even(lake)/odd(arriving)
    split via the inverted-index equi-join; the uq uniqueness guard rides
    the always-built ref side (the _fuzz_pair_ctes pattern)."""
    return f"""
    WITH {DUCK_SHINGLES},
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    uq AS (
      SELECT CASE WHEN COUNT(*) <> COUNT(DISTINCT doc_id)
                  THEN CAST(error('duplicate doc_id in documents: the containment screen requires unique ids') AS BIGINT)
                  ELSE 1 END AS ok
      FROM documents
    ),
    ref AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 2 = 0 AND (SELECT ok FROM uq) = 1
    ),
    inter AS (
      SELECT a.doc_id AS ida, b.doc_id AS refid, CAST(COUNT(*) AS BIGINT) AS c
      FROM ex a JOIN ex b ON a.shingle = b.shingle
      WHERE a.doc_id % 2 = 1 AND b.doc_id IN (SELECT doc_id FROM ref)
      GROUP BY 1, 2
    )
    SELECT ida AS doc_id, refid AS ref_id,
           CAST(sa.n AS BIGINT) AS n_shingles, c AS n_shared,
           CAST(c * 10000 // sa.n AS BIGINT) AS containment_bp
    FROM inter JOIN sizes sa ON sa.doc_id = ida
    WHERE c * 5 >= sa.n * 4
    ORDER BY doc_id, ref_id
    """


@register("stream_containment_screen", oracle=_containment_screen_oracle())
def q_stream_containment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × X2 (r15) — the CONTAINMENT direction of the ingest gate:
    arriving documents (odd ids) screened for C(A, B) >= 4/5 against the
    static lake half (even ids) — "is this arrival already contained in
    what we hold?", the quote/boilerplate case the resemblance gate
    (``stream_ingest_dedup_ssjoin``) is blind to. Emits (doc_id, ref_id,
    n_shingles, n_shared, containment_bp).

    The count-agg streaming shape proven on ``stream_fuzzy_decontaminate``
    (mid-r15): narrow exploded rows, memoized reference posting list,
    ONE stateful aggregate that is simultaneously candidate collapse and
    exact verify, integer threshold after it. availableNow + complete
    makes the final state equal the batch join, which is what the exact
    all-pairs oracle checks.
    """
    from ..streaming.windows import stream_containment_screen

    return stream_containment_screen(spark, sf_dir)
