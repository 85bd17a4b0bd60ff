"""X6 — streaming extras: watermark late-data policy, stateful operator,
streaming dedup, foreachBatch → batch merge bridging."""

import datetime as dt
import os
import time

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

TS = dt.datetime


def _write_one_file(spark, rows, path):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving after its window was closed+emitted must be dropped.

    Note Spark applies watermark updates with one micro-batch of lag (the
    filter for batch N uses the watermark computed from batches ≤ N−2), so
    the late row rides in a THIRD batch — by then the 01:00 window has been
    evicted and emitted, and the straggler cannot re-open or dirty it.
    """
    from my_favorite_etl_pipeline_spark.streaming.windows import watermarked_hourly_counts

    in_dir = str(tmp_path / "stream_in")
    os.makedirs(in_dir)
    # batch 1: 2 on-time rows in the 01:00 window + one at 03:59
    _write_one_file(
        spark,
        [
            Row(event_id=1, ts=TS(2024, 1, 1, 1, 10), value=1.0),
            Row(event_id=2, ts=TS(2024, 1, 1, 1, 40), value=1.0),
            Row(event_id=3, ts=TS(2024, 1, 1, 3, 59), value=1.0),
        ],
        f"{in_dir}/batch1.parquet",
    )
    # batch 2: advance the watermark past the 01:00 window's end
    _write_one_file(
        spark,
        [Row(event_id=5, ts=TS(2024, 1, 1, 5, 30), value=1.0)],
        f"{in_dir}/batch2.parquet",
    )
    # batch 3: one LATE row aimed at the closed 01:00 window + one fresh
    _write_one_file(
        spark,
        [
            Row(event_id=4, ts=TS(2024, 1, 1, 1, 50), value=1.0),  # late → dropped
            Row(event_id=6, ts=TS(2024, 1, 1, 7, 30), value=1.0),
        ],
        f"{in_dir}/batch3.parquet",
    )
    # move part-files up so the file source sees three files, mtime-ordered
    import glob
    import shutil

    files = []
    for sub in ("batch1.parquet", "batch2.parquet", "batch3.parquet"):
        (part,) = glob.glob(f"{in_dir}/{sub}/part-*.parquet")
        dst = f"{in_dir}/{sub.replace('.parquet', '_data.parquet')}"
        shutil.copy(part, dst)
        files.append(dst)
        shutil.rmtree(f"{in_dir}/{sub}")
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now - 120 + i * 60, now - 120 + i * 60))

    out = watermarked_hourly_counts(spark, in_dir, EVENT_SCHEMA)
    rows = out.collect()
    emitted_0100 = [r.n_events for r in rows if r.window_start == TS(2024, 1, 1, 1, 0)]
    # exactly one emission of the 01:00 window, with only the 2 on-time rows
    assert emitted_0100 == [2]


def test_stateful_user_stats_matches_batch(spark, sf_dir):
    from my_favorite_etl_pipeline_spark.sources.tables import load
    from my_favorite_etl_pipeline_spark.streaming.stateful import user_stats_stateful

    streamed = user_stats_stateful(spark, sf_dir)
    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stateful_user_stats_tws_matches_legacy_api(spark, sf_dir):
    """transformWithStateInPandas twin == applyInPandasWithState result.

    The TWS state-server protocol needs google.protobuf, absent from this
    container; the operator raises a documented capability error then, and
    the equivalence assertion runs wherever the dependency exists.
    """
    import pytest

    from my_favorite_etl_pipeline_spark.streaming.stateful import (
        user_stats_stateful,
        user_stats_stateful_tws,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            user_stats_stateful_tws(spark, sf_dir)
        pytest.skip("google.protobuf not installed; gate verified")
    tws = user_stats_stateful_tws(spark, sf_dir)
    legacy = user_stats_stateful(spark, sf_dir)
    assert tws.exceptAll(legacy).count() == 0
    assert legacy.exceptAll(tws).count() == 0


def test_tws_processor_class_is_picklable_shape():
    """The dynamically built TWS subclass must not copy __dict__/__weakref__
    descriptors from the template class: that breaks vars(instance) and
    default pickling on Python <3.11 (PySpark pickles the processor to ship
    it to the worker). Runs without protobuf — only the class shape matters.
    """
    import pickle

    from my_favorite_etl_pipeline_spark.streaming.stateful import (
        build_tws_processor_class,
    )

    cls = build_tws_processor_class()
    inst = cls()
    assert vars(inst) == {}  # raises TypeError if descriptors were copied
    assert "__dict__" not in {
        k for k in cls.__dict__ if k in ("__dict__", "__weakref__")
    }
    # the class itself is module-local so pickle-by-reference can't apply;
    # what must survive is instance state access via __dict__
    inst.seen = 3
    assert pickle.loads(pickle.dumps(inst.__dict__)) == {"seen": 3}


def test_stream_dedup_drops_injected_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark with real duplicate keys in the stream."""
    in_dir = str(tmp_path / "dup_in")
    os.makedirs(in_dir)
    rows = [
        Row(event_id=1, ts=TS(2024, 1, 1, 1, 0), value=1.0),
        Row(event_id=1, ts=TS(2024, 1, 1, 1, 5), value=2.0),  # dup key
        Row(event_id=2, ts=TS(2024, 1, 1, 1, 10), value=3.0),
    ]
    _write_one_file(spark, rows, f"{in_dir}/data.parquet")

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(f"{in_dir}/data.parquet")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"dup_sink_{int(time.time() * 1000) % 10_000_000}"
    q = stream.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    q.awaitTermination()
    got = sorted(r.event_id for r in spark.table(name).collect())
    assert got == [1, 2]


def test_foreachbatch_streaming_merge(spark, tmp_path):
    """The reference's cron loop as a stream: each micro-batch merges into
    the mart via the batch M2 operator (idempotent keyed upsert)."""
    from my_favorite_etl_pipeline_spark.operators.merge import merge_upsert

    in_dir = str(tmp_path / "merge_in")
    os.makedirs(in_dir)
    _write_one_file(
        spark,
        [
            Row(event_id=1, ts=TS(2024, 1, 1, 1), value=1.0),
            Row(event_id=2, ts=TS(2024, 1, 1, 2), value=2.0),
        ],
        f"{in_dir}/data.parquet",
    )
    mart_path = str(tmp_path / "mart")
    spark.createDataFrame(
        [Row(event_id=2, ts=TS(2020, 1, 1), value=99.0), Row(event_id=3, ts=TS(2020, 1, 1), value=3.0)],
        EVENT_SCHEMA,
    ).write.parquet(mart_path)

    def merge_batch(batch_df, batch_id):
        mart = batch_df.sparkSession.read.parquet(mart_path)
        merged = merge_upsert(mart, batch_df, "event_id", ["value", "ts"])
        merged.write.mode("overwrite").parquet(mart_path + "_next")
        # two-phase swap keeps the read/write paths separate (parquet
        # self-overwrite reads its own output); Delta MERGE removes this dance
        batch_df.sparkSession.read.parquet(mart_path + "_next").write.mode("overwrite").parquet(
            mart_path
        )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(f"{in_dir}/data.parquet")
    q = stream.writeStream.foreachBatch(merge_batch).trigger(availableNow=True).start()
    q.awaitTermination()

    final = {r.event_id: r.value for r in spark.read.parquet(mart_path).collect()}
    assert final == {1: 1.0, 2: 2.0, 3: 3.0}  # 1 inserted, 2 updated, 3 kept


def test_stream_merge_into_versioned_mart(spark, tmp_path):
    """The PRODUCTION streaming sink: foreachBatch → merge_upsert →
    VersionedMart atomic commit, one version per micro-batch; a replayed
    run (at-least-once recovery) must re-commit identical state, not
    duplicate it."""
    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart
    from my_favorite_etl_pipeline_spark.streaming.sink import stream_merge_into_mart

    import glob
    import shutil

    in_dir = str(tmp_path / "stream_in")
    os.makedirs(in_dir)
    _write_one_file(
        spark,
        [Row(event_id=1, ts=TS(2024, 1, 1, 1), value=1.0),
         Row(event_id=2, ts=TS(2024, 1, 1, 2), value=2.0)],
        f"{in_dir}/f1.parquet",
    )
    _write_one_file(
        spark,
        [Row(event_id=2, ts=TS(2024, 1, 1, 3), value=22.0),  # update
         Row(event_id=4, ts=TS(2024, 1, 1, 4), value=4.0)],  # insert
        f"{in_dir}/f2.parquet",
    )
    # FileStreamSource does not recurse into subdirectories: hoist each
    # table's part-file to the top level, mtime-ordered (f1 then f2)
    now = time.time()
    for i, sub in enumerate(("f1.parquet", "f2.parquet")):
        (part,) = glob.glob(f"{in_dir}/{sub}/part-*.parquet")
        dst = f"{in_dir}/{sub.replace('.parquet', '_data.parquet')}"
        shutil.copy(part, dst)
        shutil.rmtree(f"{in_dir}/{sub}")
        os.utime(dst, (now - 120 + i * 60, now - 120 + i * 60))

    mart_path = str(tmp_path / "mart")
    vm = VersionedMart(mart_path)
    vm.commit(
        spark.createDataFrame(
            [Row(event_id=3, ts=TS(2020, 1, 1), value=3.0)], EVENT_SCHEMA
        ),
        version="seed",
    )

    def run(checkpoint):
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")  # one version per input file
            .parquet(in_dir)
        )
        q = stream_merge_into_mart(
            stream, mart_path, key="event_id", update_cols=["value", "ts"],
            checkpoint_dir=str(tmp_path / checkpoint),
        )
        q.awaitTermination()

    run("ckpt1")
    assert vm.history()[0] == "seed" and len(vm.history()) == 3  # 2 micro-batches
    final = {r.event_id: r.value for r in vm.read(spark).collect()}
    assert final == {1: 1.0, 2: 22.0, 3: 3.0, 4: 4.0}

    # full replay without the checkpoint: same merges re-apply, same final
    # state (idempotent upsert + overwrite-by-version commits)
    run("ckpt2")
    assert {r.event_id: r.value for r in vm.read(spark).collect()} == final

    # a resumed run WITH the original checkpoint replays nothing
    before = vm.history()
    run("ckpt1")
    assert {r.event_id: r.value for r in vm.read(spark).collect()} == final
    assert vm.history() == before


def test_stream_decontaminate_matches_batch_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.sources.tables import load
    from my_favorite_etl_pipeline_spark.streaming.windows import (
        stream_contamination_counts,
    )

    streamed = {
        (r.doc_id, r.n_flagged_grams)
        for r in stream_contamination_counts(spark, sf_dir).collect()
    }
    # batch twin: same gram expressions, plain DataFrame join
    docs = load(spark, sf_dir, "documents")
    bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    toks = F.split(F.col("text"), " ")
    grams13 = F.when(
        F.size(toks) >= 13,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 13),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 13)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bgr = docs.filter(bench).select(F.explode(grams13).alias("gram")).distinct()
    batch = {
        (r.doc_id, r.n)
        for r in (
            docs.filter(~bench)
            .select("doc_id", F.explode(grams13).alias("gram"))
            .join(bgr, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        )
    }
    assert streamed == batch and len(streamed) > 0


def test_stream_psi_matches_batch_twin(spark, sf_dir):
    """The streaming PSI monitor (stateful streaming histogram + static
    reference) must equal the batch twin row-for-row — the same
    stream-vs-batch parity contract as the ingest-dedup pair."""
    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    a = {
        tuple(r)
        for r in REGISTRY["stream_psi_drift_monitor"].fn(spark, sf_dir).collect()
    }
    b = {
        tuple(r)
        for r in REGISTRY["psi_drift_by_window"].fn(spark, sf_dir).collect()
    }
    assert a == b and len(a) > 0


def test_windowed_psi_histograms_respect_watermark(spark, tmp_path):
    """The append-mode PSI histogram source (stream_windowed_histograms)
    must (a) emit a window's histogram exactly once, after the watermark
    passes its end, (b) drop a straggler aimed at a closed window, and
    (c) never emit windows still open at end-of-input — the on-time-file /
    late-file / closed-window recipe of test_watermark_drops_late_rows."""
    import glob
    import shutil

    from my_favorite_etl_pipeline_spark.plans.curation import psi_value_bucket
    from my_favorite_etl_pipeline_spark.streaming.windows import (
        stream_windowed_histograms,
    )

    schema = T.StructType(
        EVENT_SCHEMA.fields + [T.StructField("event_type", T.StringType())]
    )
    in_dir = str(tmp_path / "psi_stream_in")
    os.makedirs(in_dir)

    def _file(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/{name}")

    R = Row("event_id", "ts", "value", "event_type")
    # batch 1: two on-time rows in the 01:00 window (buckets 0 and 1)
    _file(
        [
            R(1, TS(2024, 1, 1, 1, 10), 10.0, "click"),
            R(2, TS(2024, 1, 1, 1, 40), 60.0, "click"),
            R(3, TS(2024, 1, 1, 3, 59), 10.0, "click"),
        ],
        "b1.parquet",
    )
    # batch 2: watermark jumps past 01:00's end (max ts 05:30 - 1h)
    _file([R(5, TS(2024, 1, 1, 5, 30), 10.0, "click")], "b2.parquet")
    # batch 3: straggler aimed at the closed 01:00 window + a fresh row
    _file(
        [
            R(4, TS(2024, 1, 1, 1, 50), 10.0, "click"),  # late → dropped
            R(6, TS(2024, 1, 1, 7, 30), 10.0, "click"),
        ],
        "b3.parquet",
    )
    files = []
    for sub in ("b1.parquet", "b2.parquet", "b3.parquet"):
        (part,) = glob.glob(f"{in_dir}/{sub}/part-*.parquet")
        dst = f"{in_dir}/{sub.replace('.parquet', '_data.parquet')}"
        shutil.copy(part, dst)
        files.append(dst)
        shutil.rmtree(f"{in_dir}/{sub}")
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now - 120 + i * 60, now - 120 + i * 60))

    out = stream_windowed_histograms(
        spark,
        sf_dir="",
        split="2000-01-01 00:00:00",
        bucket_col=psi_value_bucket(),
        input_dir=in_dir,
        schema=schema,
    ).collect()
    by_window = {}
    for r in out:
        by_window.setdefault(r.window_start, []).append(r)
    # 01:00 closed with ONLY the two on-time rows (buckets 0, 1), once
    w1 = sorted((r.b, r.c) for r in by_window[TS(2024, 1, 1, 1, 0)])
    assert w1 == [(0, 1), (1, 1)]
    # the straggler's window never re-emits; open tail windows never emit
    assert TS(2024, 1, 1, 7, 0) not in by_window


def test_stream_shard_manifest_equals_batch_manifest(spark):
    """The streaming-accumulated manifest (4 key-disjoint micro-batches,
    complete mode) must equal the batch manifest row-for-row — the
    arrival-order-free digest design proven through the real engine."""
    import my_favorite_etl_pipeline_spark as engine
    from tests.conftest import SF_DIR

    batch = {
        r.shard: (r.n_docs, r.n_chars_total, r.min_doc_id, r.max_doc_id,
                  r.content_digest)
        for r in engine.queries()["shard_manifest_checksums"](spark, SF_DIR).collect()
    }
    streamed = {
        r.shard: (r.n_docs, r.n_chars_total, r.min_doc_id, r.max_doc_id,
                  r.content_digest)
        for r in engine.queries()["stream_shard_manifest"](spark, SF_DIR).collect()
    }
    assert streamed == batch
    assert len(batch) == 8
