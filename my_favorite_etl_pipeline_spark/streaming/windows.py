"""Structured Streaming flavor of the incremental pipeline ([EXT] X6).

The reference's 30-minute cron (dag_mgo_pg_schedule_etl_qc.py:440) is a
coarse micro-batch trigger; here the same windowed-aggregation semantics run
through the real streaming engine: ``readStream`` over the events table,
event-time tumbling windows, ``availableNow`` trigger (process everything,
then stop — the batch-parity mode), memory sink for the harness.

Watermarking note: with ``availableNow`` + complete mode no watermark is
needed (all windows close at end-of-input). The production shape adds
``withWatermark("ts", "1 hour")`` + append mode + a ``foreachBatch`` that
reuses operators.merge.merge_upsert — the reference's cron loop becomes a
continuously-running idempotent merge.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..functions.text import spark_held_out
from ..operators.dq import assert_unique_doc_ids
from ..sources.tables import normalize_event_time, parquet_schema


@contextmanager
def stream_shuffle_scope(spark: SparkSession, n: int = 4):
    """Scope ``spark.sql.shuffle.partitions`` down for a BOUNDED streaming
    run. A streaming aggregation creates one state-store instance per
    shuffle partition and re-commits every one of them each micro-batch;
    the fixture streams carry a few thousand rows, so the session's batch
    default (core count) spends more time opening/committing empty stores
    than aggregating. The conf is captured at ``start()`` by the query and
    restored right after ``awaitTermination`` — the same scoped-conf
    pattern as the RocksDB provider scope in ``user_stats_stateful_tws``
    (a conf around a WHOLE self-contained run, never mutated mid-query).
    On a real cluster the state-store partition count is a capacity knob:
    size it to keyspace/executor count, not to this harness value.

    NON-CONCURRENCY ASSUMPTION (ADVICE r6): the conf is session-global for
    the duration of the scope, so any UNRELATED query started concurrently
    on the same session inherits the scoped-down partition count. Fine for
    the sequential harness/runner this repo drives; a server-style caller
    multiplexing one session should give streaming runs their own
    ``spark.newSession()`` (per-session conf view) instead.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def run_to_memory(
    df: DataFrame, prefix: str, mode: str = "append", partitions: int = 4
) -> DataFrame:
    """Run the bounded stream ``df`` to completion (``availableNow``) into a
    fresh memory-sink table ``{prefix}_<ms>`` in output ``mode``
    (``append`` or ``complete``) with ``partitions`` state-store
    partitions (:func:`stream_shuffle_scope`), and return that table.

    HARNESS-ONLY sink: it funnels the whole stream into driver memory so
    the oracle can compare final state. That is a deliberate driver
    bottleneck — NEVER route a production path here. The production sink
    is ``foreachBatch`` → :func:`~..operators.merge.merge_upsert`
    (distributed, idempotent; tested in tests/test_streaming_extras.py).
    The guard below enforces the boundary: only bounded streaming runs
    may use the memory sink.
    """
    assert df.isStreaming, "run_to_memory is for bounded availableNow harness runs"
    spark = df.sparkSession
    name = f"{prefix}_{int(time.time() * 1000) % 10_000_000}"
    with stream_shuffle_scope(spark, partitions):
        (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events parquet with the ns-timestamp repair.

    Streaming sources need an explicit schema; we take it from the raw batch
    reader (post nanosAsLong), then normalize event time exactly like the
    batch path (normalize_event_time) so stream and batch agree to the
    microsecond — including the NTZ→TIMESTAMP cast that ``withWatermark``
    requires ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE] on TIMESTAMP_NTZ).
    """
    path = f"{sf_dir}/events.parquet"
    # nanosAsLong is session-wide, set at build/tune time (session.py) —
    # readers never mutate shared conf mid-query.
    schema, ns_cols = parquet_schema(spark, path)
    # FileStreamSource requires a directory basePath; point it at sf_dir and
    # glob-filter down to the one table file.
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_time(df, ns_cols)


def watermarked_hourly_counts(
    spark: SparkSession,
    input_dir: str,
    schema,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling agg in APPEND mode, one file per micro-batch.

    The production emission mode: a window is emitted exactly once, when the
    watermark (max event time − delay) passes its end; events arriving after
    the watermark are DROPPED (late-data policy, X6). ``maxFilesPerTrigger=1``
    makes each input file a micro-batch so watermark advancement between
    batches is observable — the unit test feeds an on-time file then a late
    file and asserts the late row didn't reach the closed window.
    """
    stream = normalize_event_time(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return run_to_memory(agg, "watermark_sink", "append")


def tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type, via the streaming
    engine end-to-end, returned as a batch DataFrame from the memory sink."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("total_value"),
        )
    )
    return run_to_memory(agg, "tumbling_sink", "complete")


def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user THROUGH the streaming engine.

    The stateful session-merge operator itself runs inside Structured
    Streaming (state store, session merge on trigger), not as a batch
    window — with the whole fixture in one availableNow micro-batch the
    complete-mode final state equals the batch ``session_window``
    aggregation, so even the streaming session operator is
    oracle-checkable. (Update mode is unsupported for streaming session
    windows; the production shape is watermark + append + foreachBatch.)
    """
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(agg, "session_sink", "complete")


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents parquet (same glob trick as
    :func:`read_events_stream`; plain types, no timestamp repair needed)."""
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_contamination_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × X4 — STREAMING benchmark decontamination: flag documents
    arriving on a stream whose 13-grams collide with a static benchmark
    gram set. The continuous-ingest shape of ``contamination_13gram``: a
    crawler feeds documents as they land; the eval-suite side is a fixed
    reference joined STREAM-STATIC (stateless — no watermark, no state
    store for the join itself), then one stateful per-doc count aggregate.

    At 100 TB-rate ingest the static side is eval-suite-sized (broadcast);
    per-micro-batch cost is the gram explode + hash join — identical to
    the batch plan, amortized over arrival. With availableNow + complete
    mode the final state equals the batch join, which is what the oracle
    checks (the "oracle via engine" class, like ``stream_tumbling_hourly``).
    """
    from ..sources.tables import load

    bench = spark_held_out()
    toks = F.split(F.col("text"), " ")
    grams13 = F.when(
        F.size(toks) >= 13,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 13),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 13)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bench_grams = (
        load(spark, sf_dir, "documents")
        .filter(bench)
        .select(F.explode(grams13).alias("gram"))
        .distinct()
    )
    stream = read_documents_stream(spark, sf_dir).filter(~bench)
    flagged = (
        stream.select("doc_id", F.explode(grams13).alias("gram"))
        .join(bench_grams, "gram")  # stream-static inner, stateless
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_flagged_grams"))
    )
    return run_to_memory(flagged, "decon_sink", "complete").orderBy("doc_id")


def stream_fuzzy_decon_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """X6 × X4 — STREAMING fuzzy decontamination: documents arriving on a
    stream are checked for >= ``threshold`` 3-gram-Jaccard NEAR-duplicates
    of the static benchmark slice — the GPT-3 appendix-C fuzzy rule
    applied at ingest, emitting the evidence pairs (doc_id, bench_id,
    jaccard). The arrival-time twin of ``fuzzy_decontaminate_minhash``.

    Plan note — why the static side is a FULL shingle inverted index here
    while the batch twin generates candidates by MinHash banding: the
    static side of decontamination is the EVAL SUITE, fixed-size at any
    corpus scale, so its complete shingle posting list is small enough to
    hash-join every micro-batch against (banding pays when BOTH sides
    grow — the near-dup self-join — not here). Because shingle sets are
    DISTINCT, the number of posting collisions per (doc, bench) pair IS
    the exact intersection size, so the ONE stateful aggregate the arm
    keeps (count + na + nb per candidate pair) is simultaneously the
    candidate collapse AND the exact-Jaccard verify — no shingle array
    ever crosses the join, only (doc_id, na, sh) rows. State is one
    small row per candidate pair (pairs sharing >= 1 shingle).
    """
    from ..functions.text import shingles

    from ..sources.tables import load

    bench_pred = spark_held_out()
    # int64-hashed shingles (r16-opt, the stream_ingest contract): the
    # posting join shuffles/broadcasts 8-byte keys instead of ~25-byte
    # 3-gram strings; collision counts are exact absent an in-pair
    # xxhash64 collision (P ≈ 3e-16 per compared pair)
    sh = F.transform(shingles(F.col("text")), lambda x: F.xxhash64(x))
    # the at-ingest arm's id contract, asserted on the batch view of the
    # same input BEFORE the stream starts (an ingest gate validates ids
    # upstream; mirrors the batch twin's probe + the oracle's uq guard)
    assert_unique_doc_ids(
        load(spark, sf_dir, "documents"), "stream_fuzzy_decontaminate"
    )
    bench = (
        load(spark, sf_dir, "documents")
        .filter(bench_pred)
        .select(F.col("doc_id").alias("bench_id"), sh.alias("s_b"))
        .select("bench_id", "s_b", F.size("s_b").alias("nb"))
    )
    # Commit the static side ONCE (artifacts) — a stream-static join
    # re-evaluates the static plan EVERY micro-batch, so the lazy form
    # re-ran the bench slice's corpus scan + shingle regex per trigger
    # (measured 5.0× sf0.01→sf0.1 growth vs the batch twin's 1.0×;
    # mid-r15). Production precomputes the eval-suite index offline and
    # serves many streams from it.
    bench_idx = _fuzzy_bench_index(spark, sf_dir, bench)
    stream = read_documents_stream(spark, sf_dir).filter(~bench_pred)
    # Shingles are DISTINCT sets (functions.text.shingles wraps
    # array_distinct), so |s_a ∩ s_b| IS the posting-collision count:
    # count rows per (doc, bench) pair instead of carrying each doc's
    # full shingle array through the join and re-verifying with
    # array_intersect once per shared shingle (the lazy wide form read
    # 5.7× sf0.01→sf0.1 in the mid-r15 sweep; this narrow form keeps
    # only (doc_id, na, sh) int/short-string rows in flight and folds
    # the verify INTO the one stateful aggregate the arm already had)
    # TWO projections, not one: inlining size(sh)/explode(sh) as sibling
    # expressions makes Catalyst re-derive na AFTER the Generate — the
    # full shingle pipeline (split + transform + array_distinct) re-ran
    # once per EXPLODED row, not per document (measured 10.9 s → 1.4 s
    # at sf0.1). Projecting the array first leaves na a per-doc compute;
    # CollapseProject keeps the split because s_a is referenced twice.
    s0 = stream.select("doc_id", sh.alias("s_a"))
    s = s0.select("doc_id", F.size("s_a").alias("na"), F.explode("s_a").alias("sh"))
    hits = s.join(bench_idx, "sh")  # stream-static equi, stateless
    agg = (
        hits.groupBy("doc_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("na").alias("na"),  # constant within a (doc, bench) group
            F.max("nb").alias("nb"),
        )
    )
    c = F.col("c").cast("double")
    jac = c / (F.col("na") + F.col("nb") - c)
    pairs = (
        # UNROUNDED threshold compare — the shared p CTE's boundary rule
        # (plans/curation.py _fuzz_pair_ctes); rounding is display-only. Filter
        # and projection AFTER the aggregation are stateless row ops,
        # legal in complete mode.
        agg.filter(jac >= threshold).select(
            "doc_id", "bench_id", F.round(jac, 4).alias("jaccard")
        )
    )
    return run_to_memory(pairs, "fuzzy_decon_sink", "complete", 16).orderBy("doc_id", "bench_id")


def _fuzzy_bench_index(
    spark: SparkSession, sf_dir: str, bench: DataFrame
) -> DataFrame:
    """The committed (sh, bench_id, nb) posting list of the fuzzy
    decontamination bench, built from ``bench`` once (rules:
    :mod:`..artifacts`). The fuzzy gate joins the FULL posting list (no
    prefix cut — the static side is eval-suite-sized), so the index is
    threshold-independent; nb rides each posting row so the collision
    count folds straight into the Jaccard without a second static join."""
    return artifacts.memoized_commit(
        spark, "fuzzy_bench_index", sf_dir,
        build=lambda commit: commit(
            "postings", bench.select("bench_id", "nb", F.explode("s_b").alias("sh"))
        ),
    )["postings"].read(spark)


def _static_dedup_index(
    spark: SparkSession, sf_dir: str, threshold: float, static: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Return ``(prefix_idx, static_tbl)`` — the narrow (sh, ref_id)
    prefix-posting table and the (ref_id, s_b, nb) full-shingle table —
    committed once per threshold (rules: :mod:`..artifacts`). Both derive
    ONLY from the static reference corpus (VERDICT r7 item 6), so
    rebuilding the explode → df-count → rarest-first window chain and the
    regex shingle pipeline on every streaming run is pure waste —
    production precomputes both offline as tables."""
    from pyspark.sql import Window

    from ..operators.dedup import ceil_frac

    def build(commit) -> None:
        static_tbl = commit("static", static)
        ex_b = static_tbl.select("ref_id", "nb", F.explode("s_b").alias("sh"))
        freq = ex_b.groupBy("sh").agg(F.count(F.lit(1)).alias("f"))
        # rarest-first global order comes from the STATIC reference (fully
        # precomputable offline; deterministic tie-break on the shingle text)
        rn = F.row_number().over(
            Window.partitionBy("ref_id").orderBy(
                F.col("f").asc(), F.col("sh").asc()
            )
        )
        # exact rational ceiling (mid-r15 audit): the theorem's prefix
        # bound deserves arithmetic exact by construction, not a float
        # product whose integral cases round correctly only by a
        # half-ULP margin (see ceil_frac)
        prefix_len = F.col("nb") - ceil_frac(F.col("nb"), threshold) + 1
        commit(
            "prefix",
            ex_b.join(freq, "sh")
            .withColumn("__rn", rn)
            .filter(F.col("__rn") <= prefix_len)
            .select("sh", "ref_id"),
        )

    marts = artifacts.memoized_commit(
        spark, "static_dedup_index", sf_dir, threshold, build=build
    )
    return marts["prefix"].read(spark), marts["static"].read(spark)


def stream_ingest_dedup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.9
) -> DataFrame:
    """X6 × X2 — STREAMING ingest dedup: documents arriving on a stream are
    checked for >= ``threshold`` Jaccard near-duplicates against a STATIC
    reference corpus (here: the even-doc_id half stands in for "what the
    lake already holds"; the odd half arrives as the stream). The
    "don't re-ingest what we already have" operator of a continuous crawl.

    Scale shape (r7, second iteration): the static side indexes ONLY its
    PREFIX shingles under the rarest-first global order — the asymmetric
    PPJoin bound: if J(A,B) >= t then B's first |B| - ceil(t·|B|) + 1
    rarest shingles must intersect A's full set (else
    |A∩B| <= ceil(t·|B|) - 1 < t·|B|). The naive full-index join is
    exact too but blows up on hot shingles (|df_a|·|df_b| candidate rows
    per shared shingle — measured 15 s at sf0.1 vs ~4 s for this shape);
    the prefix cut bounds candidates at (1-t)·|B|+1 index rows per ref
    doc. Candidates then verify EXACTLY via one more stream-static equi-
    join to the reference's full shingle sets + ``array_intersect`` per
    row, so recall is 100% by the theorem and the all-pairs oracle still
    matches. ONE stateful aggregate collapses duplicate candidate rows
    (a pair can hit several prefix shingles; duplicates are bounded by
    the prefix length) to one row per (doc, ref) pair.

    Narrow verify payload (r16-opt, guide §2.3 "narrower types"): both
    sides carry ``xxhash64``-hashed shingles (array<bigint>) instead of
    the raw ~25-byte 3-gram strings — 3× narrower shuffle/broadcast rows
    and an integer ``array_intersect`` instead of a string one (measured:
    the batch twin of this dataflow 2.67 s → 1.51 s at sf0.1, identical
    result rows). Exactness: shingle sets are distinct, so hashed
    intersection/union sizes equal the string ones unless two DISTINCT
    shingles inside one compared pair's union collide in xxhash64 —
    P ≤ C(|A∪B|,2)/2^64 ≈ 3e-16 per pair at |A∪B| ≈ 100, the same
    collision-probability contract the MinHash signature family already
    documents. The prefix index's rarest-first order ties on the HASH,
    not the string — a different but equally valid global order (the
    theorem needs only one fixed order; candidate recall stays 100%).
    """
    from ..functions.text import shingles
    from ..sources.tables import load

    sh = F.transform(shingles(F.col("text")), lambda x: F.xxhash64(x))
    static = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("ref_id"), sh.alias("s_b"))
        .select("ref_id", "s_b", F.size("s_b").alias("nb"))
    )
    # Both static-side frames are materialized ONCE per session as parquet
    # tables and scanned thereafter — the documented production form
    # (precompute offline, serve many streams). Parquet is the right
    # medium here where the block-store persist was not (caching the wide
    # shingle-array frame was measured SLOWER than recompute, 22 s vs
    # 8.6 s): columnar array pages scan cheaply, while MEMORY_AND_DISK
    # serializes 50-string arrays row-wise per consumer.
    prefix_idx, static = _static_dedup_index(spark, sf_dir, threshold, static)
    stream = read_documents_stream(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    # TWO projections (the stream_fuzzy_decon_pairs lesson, mid-r15):
    # inlining s_a/size(sh)/explode(sh) as sibling expressions in one
    # select made Catalyst re-derive s_a and na AFTER the Generate —
    # the full shingle pipeline re-ran once per exploded row
    s0 = stream.select("doc_id", sh.alias("s_a"))
    s = s0.select(
        "doc_id", "s_a", F.size("s_a").alias("na"), F.explode("s_a").alias("sh")
    )
    cand = s.join(prefix_idx, "sh").select("doc_id", "ref_id", "s_a", "na")
    ver = cand.join(static, "ref_id")  # stream-static equi, stateless
    c = F.size(F.array_intersect(F.col("s_a"), F.col("s_b")))
    jac = c.cast("double") / (F.col("na") + F.col("nb") - c)
    pairs = (
        ver.filter(jac >= threshold)  # unrounded compare, same expr as oracle
        .select("doc_id", "ref_id", F.round(jac, 4).alias("jaccard"))
        .groupBy("doc_id", "ref_id")
        .agg(F.min("jaccard").alias("jaccard"))  # identical on every dup row
    )
    return run_to_memory(pairs, "ingest_dedup_sink", "complete", 16).orderBy("doc_id", "ref_id")


def stream_windowed_histograms(
    spark: SparkSession,
    sf_dir: str,
    split: str,
    bucket_col,
    watermark: str = "1 hour",
    input_dir: str | None = None,
    schema=None,
) -> DataFrame:
    """Per-WINDOW value histograms of the live stream in APPEND mode with a
    watermark — the production emission mode of the PSI drift monitor: each
    tumbling 1-hour window's (event_type, bucket) counts emit exactly ONCE,
    when the watermark (max event time − {watermark}) passes the window end;
    later stragglers are dropped (the ``watermarked_hourly_counts`` late-data
    policy). Rows for windows still open at end-of-input are NOT emitted —
    a monitor never scores a window it may still be accumulating.

    NULL-ts note: event-time windowing requires a timestamp, so NULL-ts rows
    are excluded here BY CONSTRUCTION (unlike the complete-mode twin, which
    buckets them into the current window); the oracle filters identically.

    ``input_dir``/``schema``: test hook — read an explicit-schema directory
    one file per micro-batch (the ``watermarked_hourly_counts`` recipe) so
    watermark advancement between batches is observable; the default reads
    the fixture events table.
    """
    if input_dir is not None:
        stream = normalize_event_time(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(input_dir)
        )
    else:
        stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.filter(F.col("ts") >= F.lit(split).cast("timestamp"))
        .withWatermark("ts", watermark)
        .select("ts", "event_type", bucket_col.alias("b"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "b", "c"
        )
    )
    return run_to_memory(agg, "psi_wnd_sink", "append")


def stream_current_window_histogram(
    spark: SparkSession, sf_dir: str, split: str, bucket_col, n_types_hint: int = 8
) -> DataFrame:
    """The CURRENT-window half of the PSI drift monitor, computed INSIDE
    Structured Streaming: events stream in, the reference window is
    filtered out (ts >= split — in production the stream simply starts at
    the snapshot cut), and a stateful (event_type, bucket) count
    aggregates in complete mode under availableNow. With all data
    available the final state equals the batch histogram, so the PSI the
    monitor computes from it is oracle-checkable (the
    ``stream_tumbling_hourly`` precedent). State is bounded by
    |types|×buckets rows — the production monitor keeps exactly this
    histogram as its standing state and re-emits PSI per trigger.
    """
    stream = read_events_stream(spark, sf_dir)
    # NOT plain ts >= split: the batch twin buckets NULL ts into the
    # CURRENT window (otherwise(1)/ELSE 1), so the stream must keep
    # NULL-ts rows too or the stream-vs-batch parity contract breaks on
    # nullable ts (ADVICE r9). The NULL arm is explicit — under
    # three-valued logic both ts >= split AND NOT(ts < split) drop NULLs.
    agg = (
        stream.filter(
            F.col("ts").isNull() | (F.col("ts") >= F.lit(split).cast("timestamp"))
        )
        .select("event_type", bucket_col.alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return run_to_memory(agg, "psi_sink", "complete")


def _containment_ref_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The committed (sh, ref_id) posting list of the lake half (rules:
    :mod:`..artifacts`); nb is NOT carried (containment divides by the
    ARRIVING doc's size only)."""
    from ..functions.text import shingles
    from ..sources.tables import load

    return artifacts.memoized_commit(
        spark, "containment_ref_index", sf_dir,
        build=lambda commit: commit(
            "postings",
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 0)
            .select(
                F.col("doc_id").alias("ref_id"),
                # hashed postings — must match the arriving side's hashed
                # explode (stream_containment_screen)
                F.explode(
                    F.transform(shingles(F.col("text")), lambda x: F.xxhash64(x))
                ).alias("sh"),
            ),
        ),
    )["postings"].read(spark)


def stream_containment_screen(
    spark: SparkSession, sf_dir: str, num: int = 4, den: int = 5
) -> DataFrame:
    """X6 × X2 — STREAMING containment screen: documents arriving on a
    stream are checked for C(A, B) = |A∩B|/|A| >= num/den against the
    static lake half — "is this arrival ALREADY CONTAINED in what we
    hold?", the quote/boilerplate direction the resemblance ingest gate
    (``stream_ingest_dedup_pairs``) cannot see (a short doc quoted from
    a long lake doc reads J ≈ 0 but C ≈ 1). Emits the evidence pairs
    (doc_id, ref_id, n_shingles, n_shared, containment_bp).

    The count-agg shape of ``stream_fuzzy_decon_pairs``: the arriving
    doc's FULL distinct shingles explode into narrow (doc_id, na, sh)
    rows, hash-join the memoized reference posting list, and ONE
    stateful (doc, ref) count aggregate IS the exact verify (distinct
    sets ⇒ collision count = |A∩B|); the containment threshold and the
    basis-point readout are integer floor arithmetic after the
    aggregate — no arrays cross the join, no second stateful op.
    """
    from ..functions.text import shingles
    from ..sources.tables import load

    assert_unique_doc_ids(
        load(spark, sf_dir, "documents"), "stream_containment_screen"
    )
    ref_idx = _containment_ref_index(spark, sf_dir)
    # int64-hashed shingles — same contract as stream_fuzzy_decon_pairs
    sh = F.transform(shingles(F.col("text")), lambda x: F.xxhash64(x))
    stream = read_documents_stream(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    s0 = stream.select("doc_id", sh.alias("s_a"))
    s = s0.select("doc_id", F.size("s_a").alias("na"), F.explode("s_a").alias("sh"))
    agg = (
        s.join(ref_idx, "sh")
        .groupBy("doc_id", "ref_id")
        .agg(F.count(F.lit(1)).alias("c"), F.max("na").alias("na"))
    )
    pairs = agg.filter(F.col("c") * den >= F.col("na") * num).select(
        "doc_id",
        "ref_id",
        F.col("na").cast("long").alias("n_shingles"),
        F.col("c").cast("long").alias("n_shared"),
        F.expr("CAST(c * 10000 DIV na AS BIGINT)").alias("containment_bp"),
    )
    return run_to_memory(pairs, "containment_screen_sink", "complete", 16).orderBy(
        "doc_id", "ref_id"
    )
