"""The reference pipeline as ONE driver function (SURVEY.md §2.11, §3.1).

The reference's six Airflow tasks (check_connections >> extract >> transform
>> load >> soda_quality_check >> row_count_reconciliation,
dag_mgo_pg_schedule_etl_qc.py:482) collapse into a single lazy Catalyst plan
plus its write/verify actions:

    empty-window probe → [extract+transform: one fused plan] → staging
    write → merge, written once and unpublished → DQ gate + reconcile (one
    aggregate over the written merge) → publish → staging cleanup

Laziness fuses extract and transform into one scan. The only process
boundaries left are the 4 actions (probe, staging write, merge write, gate
aggregate); with AQE's shuffle-stage jobs a batch that merges into a
parquet mart costs at most 8 Spark jobs, and one into an empty mart 6
(SURVEY §3.1). Both gates raise before the merge becomes visible.

Backfill = map this function over historical windows; safe because the
window predicate scopes the read, the merge is idempotent per key, and
staging is partition-isolated per run (the reference's headline deadlock
fix, dag:4, by layout instead of lock order).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .caching import materialized_scope
from .functions.normalize import (
    coerce_timestamps,
    flatten_struct,
    normalize_columns,
    stringify_id,
    structs_to_json,
    with_lineage,
)
from .operators.dq import DQSuite, reconcile_counts
from .operators.incremental import incremental_extract, is_empty
from .operators.merge import (
    delete_staging_run,
    merge_upsert,
    read_staging_run,
    write_staging,
)

# The reference's conflict-arm column list (dag:311-315): ON CONFLICT (_id)
# DO UPDATE SET <exactly these>; everything else keeps mart values.
DEFAULT_UPDATE_COLS = ["address", "country", "updatedat", "requestparams"]

# Nested structs flattened to 4 scalars each inside PG (dag:296-307).
DEFAULT_FLATTEN = {
    "createdby": ["id", "name", "role", "client"],
    "statuschangedby": ["id", "name", "role", "client"],
    "updatedby": ["id", "name", "role", "client"],
}


@dataclass
class BatchReport:
    """What a run did — the engine's replacement for Airflow task logs."""

    run_id: str
    extracted: int = 0
    merged_total: int = 0
    dq_violations: dict[str, int] = field(default_factory=dict)
    skipped_empty: bool = False


def transform(
    df: DataFrame,
    run_id: str,
    ts_cols: list[str] = ("createdat", "updatedat", "statechangedat", "statuschangedat"),
    flatten: dict[str, list[str]] | None = None,
) -> DataFrame:
    """The reference's transform task (dag:154-192) as one projection chain:
    P2 name-normalize → P4 id cast → J3 timestamp coercion → J2 struct
    flattening → J1 JSON serialization → P3 lineage column. All column-level
    — Catalyst fuses it into the extract scan."""
    out = normalize_columns(df)
    if "_id" in out.columns:
        out = stringify_id(out)
    out = coerce_timestamps(out, [c for c in ts_cols if c in out.columns])
    for col, keys in (flatten if flatten is not None else DEFAULT_FLATTEN).items():
        if col in out.columns:
            out = flatten_struct(out, col, keys)
    out = structs_to_json(out)
    return with_lineage(out, run_id)


def run_incremental_batch(
    spark: SparkSession,
    source: DataFrame,
    mart: DataFrame,
    staging_path: str,
    window: tuple[str, str],
    run_id: str,
    key: str = "_id",
    ts_cols: list[str] | None = None,
    update_cols: list[str] | None = None,
    dq: DQSuite | None = None,
    mart_path: str | None = None,
) -> tuple[DataFrame, BatchReport]:
    """One scheduled batch of the reference pipeline, Spark-first.

    Returns (new mart DataFrame, report). Order: extract → staging write →
    merge written ONCE, unpublished → one aggregate over that written
    merge gates it (DQ suite + exact reconciliation) → publish → staging
    cleanup. A failed gate raises before anything becomes visible.

    With ``mart_path`` set, the merge is written as an unpublished
    :class:`~.sources.mart.VersionedMart` version and published by the
    atomic manifest swap (the dag:322 ``conn.commit()`` analogue) only
    after the gate passes; the returned DataFrame reads the committed
    version. Without it the caller owns persistence (Delta MERGE in
    production) and the merge is pinned via localCheckpoint only.

    Job budget: at most 8 Spark jobs for a batch that merges into a
    parquet mart — the empty-window probe, the staging write (which also
    counts the extracted rows), the version write (the merge), and the
    gate's single aggregate. An empty window costs the probe alone; a mart
    without a ``batch_run_id`` lineage column adds one count of the staged
    rows (its reconciliation falls back to them).
    """
    with materialized_scope():
        return _run_incremental_batch(
            spark, source, mart, staging_path, window, run_id, key,
            ts_cols, update_cols, dq, mart_path,
        )


def _run_incremental_batch(
    spark: SparkSession,
    source: DataFrame,
    mart: DataFrame,
    staging_path: str,
    window: tuple[str, str],
    run_id: str,
    key: str,
    ts_cols: list[str] | None,
    update_cols: list[str] | None,
    dq: DQSuite | None,
    mart_path: str | None,
) -> tuple[DataFrame, BatchReport]:
    report = BatchReport(run_id=run_id)
    start, end = window
    ts = ts_cols or ["createdat", "updatedat"]

    extracted = incremental_extract(normalize_columns(source), ts, start, end)
    if is_empty(extracted):  # F4 short-circuit (dag:136-159)
        report.skipped_empty = True
        return mart, report

    batch = transform(extracted, run_id, ts_cols=tuple(ts))
    # A1: the source-window count rides the staging write, no second scan
    landed = Observation()
    observed = batch.observe(landed, F.count(F.lit(1)).alias("rows"))
    write_staging(observed, staging_path, run_id)  # M1: partition-per-run landing
    report.extracted = landed.get["rows"]
    staged = read_staging_run(spark, staging_path, run_id, schema=batch.schema)
    batch_aligned = staged.select(*mart.columns)

    if update_cols is None:
        # reference parity (dag:311-315) where the mart has those columns;
        # any other schema gets a full-column update arm
        update_cols = [c for c in DEFAULT_UPDATE_COLS if c in mart.columns] or [
            c for c in mart.columns if c != key
        ]
    # Lineage must ALWAYS move to the incoming run on match — otherwise rows
    # whose keys already exist keep the old run id, the per-run reconciliation
    # below undercounts, and a healthy overlapping backfill / fresh-run-id
    # retry false-fails. (The reference DAG shares this flaw with
    # airflow_run_id; parity is not worth spurious DQViolations.)
    lineage = "batch_run_id" in mart.columns
    if lineage and "batch_run_id" not in update_cols:
        update_cols = [*update_cols, "batch_run_id"]
    merged = merge_upsert(mart, batch_aligned, key, update_cols)

    suite = dq or DQSuite().add_unique(key).add_not_null(key)
    stats = [F.count(F.lit(1)).alias("__merged_total")]
    if lineage:
        stats.append(F.count(F.when(F.col("batch_run_id") == run_id, 1)).alias("__sink_rows"))

    def gate(written: DataFrame) -> None:
        """Q1 + A1-A3 over the written merge, in one aggregate: raises
        DQViolation on a failed check or a count mismatch (exact,
        dag:417-420)."""
        counts = suite.enforce(written, *stats)
        report.merged_total = counts.pop("__merged_total")
        # without lineage the sink count falls back to the staged rows
        sink = counts.pop("__sink_rows") if lineage else batch_aligned.count()
        report.dq_violations = counts
        reconcile_counts(report.extracted, sink)

    # M4 ordering: the merge must be durable BEFORE staging cleanup
    # (dag:322's commit covers insert+upsert+delete). With a mart_path the
    # durability point is the VersionedMart manifest swap — one atomic
    # rename, taken only after the gate passed on the written version; a
    # crash or a failed gate before it leaves the previous version fully
    # visible, a crash after it leaves at worst an uncleaned staging
    # partition that the idempotent retry re-creates and re-deletes.
    # Without a mart_path, localCheckpoint materializes the merge
    # (truncating the lineage that still reads staging) and the caller
    # owns real persistence.
    if mart_path is not None:
        from .sources.mart import VersionedMart

        vm = VersionedMart(mart_path)
        vm.commit(merged, version=run_id, check=gate)
        merged = vm.read(spark, schema=merged.schema)
    else:
        merged = merged.localCheckpoint(eager=True)
        gate(merged)
    delete_staging_run(staging_path, run_id)  # M3: scoped cleanup, metadata-only
    return merged, report


def run_backfill(
    spark: SparkSession,
    source: DataFrame,
    mart: DataFrame,
    staging_path: str,
    windows: list[tuple[str, str]],
    run_id_prefix: str = "backfill",
    key: str = "_id",
    ts_cols: list[str] | None = None,
    update_cols: list[str] | None = None,
    dq: DQSuite | None = None,
    mart_path: str | None = None,
) -> tuple[DataFrame, list[BatchReport]]:
    """Backfill = map :func:`run_incremental_batch` over historical windows
    (SURVEY §2.11; reference ``catchup`` at dag:441, README.md:5
    "backfill-safe scheduling").

    Safety comes from three already-tested properties, not from this loop:
    the window predicate scopes each read, the keyed merge is idempotent, and
    staging is partition-isolated per run. The per-window run id is derived
    from the window BOUNDS (not the loop index), so re-running any window —
    after a crash, or because two backfill invocations overlap — hits the
    same staging partition and the same merge fixpoint as the tested retry
    path. Empty windows short-circuit (F4) without touching staging.

    Returns the final mart plus one :class:`BatchReport` per window, in
    order. Windows may overlap: later windows win per key, matching the
    reference's last-writer-wins upsert arm (dag:311-315).
    """
    import hashlib

    reports: list[BatchReport] = []
    for start, end in windows:
        # readable slug + short hash of the RAW bounds: the slug alone maps
        # every non-alphanumeric char to '-', so two windows differing only
        # in punctuation could collide onto one staging partition
        raw = hashlib.sha256(f"{start!r}\x00{end!r}".encode()).hexdigest()[:8]
        slug = "".join(ch if ch.isalnum() else "-" for ch in f"{start}_{end}")
        run_id = f"{run_id_prefix}_{slug}_{raw}"
        mart, report = run_incremental_batch(
            spark,
            source,
            mart,
            staging_path,
            (start, end),
            run_id=run_id,
            key=key,
            ts_cols=ts_cols,
            update_cols=update_cols,
            dq=dq,
            mart_path=mart_path,
        )
        reports.append(report)
    return mart, reports


def check_connections(spark: SparkSession, paths: list[str] | None = None) -> bool:
    """S4 — connection health probe (dag:79-84): a trivial catalog query plus
    a limit-1 scan per source path. Raises on failure, True otherwise."""
    spark.sql("SELECT 1").collect()
    for p in paths or []:
        spark.read.parquet(p).limit(1).collect()
    return True
