"""Production streaming sink ([EXT] X6, SURVEY.md §2.9): foreachBatch →
idempotent keyed merge → VersionedMart atomic commit.

This is the continuously-running twin of the reference's 30-minute cron
(dag_mgo_pg_schedule_etl_qc.py:440 schedule + dag:279-316 upsert +
dag:322 commit): every micro-batch runs the SAME merge operator the batch
pipeline uses (operators.merge.merge_upsert) and commits through the same
atomic manifest swap (sources.mart.VersionedMart) — one code path for batch,
backfill, and streaming, which is what keeps the three mutually idempotent.

Crash semantics match the batch runner's: the version name derives from the
micro-batch id, so a replayed batch (streaming's at-least-once delivery
after a checkpoint recovery) re-commits the same version — a fresh copy of
an identical state, not a duplicate application — and a crash between the
data write and the manifest swap leaves the previous version fully visible.

The harness-only memory sink lives in ``windows.run_to_memory``; THIS
module is the path a production job wires up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.merge import merge_upsert
from ..sources.mart import VersionedMart


def stream_merge_into_mart(
    stream_df: DataFrame,
    mart_path: str,
    key: str,
    update_cols: list[str],
    trigger_available_now: bool = True,
    checkpoint_dir: str | None = None,
):
    """Start a streaming query that upserts each micro-batch into a
    :class:`VersionedMart` at ``mart_path``. Returns the StreamingQuery.

    The mart must exist (seed it with an empty-schema commit or a batch
    load); each micro-batch reads the CURRENT version, merges, and commits
    ``batch_<id>`` — state lives entirely in the mart + the streaming
    checkpoint, never in the driver.
    """
    vm = VersionedMart(mart_path)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return  # F4 empty-batch short-circuit, streaming flavor
        spark = batch_df.sparkSession
        mart = vm.read(spark)
        merged = merge_upsert(mart, batch_df.select(*mart.columns), key, update_cols)
        # commit never writes into the version the merge reads (a replay
        # lands in a fresh directory), so the merge streams straight into it
        vm.commit(merged, version=f"batch_{batch_id}")

    writer = stream_df.writeStream.foreachBatch(_merge_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
