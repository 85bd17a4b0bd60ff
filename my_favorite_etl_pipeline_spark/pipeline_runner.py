"""The reference pipeline as ONE driver function (SURVEY.md §2.11, §3.1).

The reference's six Airflow tasks (check_connections >> extract >> transform
>> load >> soda_quality_check >> row_count_reconciliation,
dag_mgo_pg_schedule_etl_qc.py:482) collapse into a single lazy Catalyst plan
plus its write/verify actions:

    [extract+transform: one fused plan] → staging write (its row count
    decides an empty window) → merge, written once and unpublished, with
    the DQ row checks and reconcile counts observed on that write, while
    a second thread proves the key unique on the merge inputs → gate →
    publish → staging cleanup

Laziness fuses extract and transform into one scan, and the transform is
one projection. The only process boundaries left are the 3 actions
(staging write, merge write, key-uniqueness aggregate), and the last two
run at once; with AQE's shuffle-stage jobs a batch that merges into a
parquet mart costs at most 6 Spark jobs, one into an empty mart 4, and an
empty window 1 (SURVEY §3.1). No pass reads the written merge back. Both
gates raise before the merge becomes visible. The window predicate, the
transform projection and the gate aggregates are sent as SQL text, so the
driver builds no Column tree per column between jobs.

Backfill = map this function over historical windows; safe because the
window predicate scopes the read, the merge is idempotent per key, and
staging is partition-isolated per run (the reference's headline deadlock
fix, dag:4, by layout instead of lock order).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import InheritableThread

from .caching import materialized_scope
from .functions.exprs import sql_string
from .functions.normalize import (
    columns_of,
    flatten_rule,
    id_rule,
    json_rule,
    lineage_rule,
    normalize_columns,
    project,
    rename_rule,
    timestamp_rule,
)
from .operators.dq import DQSuite, reconcile_counts

# ``is_empty`` is no longer called here (the staging write's row count
# decides an empty window) but stays a module attribute: perfbench's tracer
# wraps it by name.
from .operators.incremental import incremental_extract, is_empty  # noqa: F401
from .operators.merge import (
    delete_staging_run,
    merge_upsert,
    read_staging_run,
    upsert_key_repeats,
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


class _Concurrent(InheritableThread):
    """``fn()`` on a second driver thread, started at once.

    An InheritableThread copies the caller's Spark local properties when it
    starts, so its jobs land in the caller's job group (a plain Thread's
    would land in none); ``description`` labels them. :meth:`result` joins
    and returns ``fn``'s value or raises its error."""

    def __init__(self, spark: SparkSession, description: str, fn) -> None:
        self._sc, self._description, self._fn = spark.sparkContext, description, fn
        self._value = self._error = None
        super().__init__(target=self._run, daemon=True)
        self.start()

    def _run(self) -> None:
        self._sc.setJobDescription(self._description)
        try:
            self._value = self._fn()
        except BaseException as e:  # re-raised on the caller's thread
            self._error = e

    def result(self):
        self.join()
        if self._error is not None:
            raise self._error
        return self._value


def transform(
    df: DataFrame,
    run_id: str,
    ts_cols: list[str] = ("createdat", "updatedat", "statechangedat", "statuschangedat"),
    flatten: dict[str, list[str]] | None = None,
) -> DataFrame:
    """The reference's transform task (dag:154-192) as ONE projection: P2
    name-normalize → P4 id cast → J3 timestamp coercion → J2 struct
    flattening → J1 JSON serialization → P3 lineage column, composed as
    rules over one schema read (``functions.normalize``) and sent as one
    ``selectExpr``. All column-level — Catalyst fuses it into the extract
    scan."""
    cols = rename_rule(columns_of(df))
    if "_id" in {c.name for c in cols}:
        cols = id_rule(cols)
    cols = timestamp_rule(cols, list(ts_cols))
    for col, keys in (flatten if flatten is not None else DEFAULT_FLATTEN).items():
        if col in {c.name for c in cols}:
            cols = flatten_rule(cols, col, keys)
    cols = json_rule(cols)
    return project(df, lineage_rule(cols, run_id))


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
    merge written ONCE, unpublished → gate (DQ suite + exact
    reconciliation) → publish → staging cleanup. A failed gate raises
    before anything becomes visible. The gate reads no written row: the
    suite's row checks, the merged total and the per-run sink count are
    one Observation on the version write, and the key's ``add_unique``
    check is proven on the merge inputs (``merge.upsert_key_repeats``) by
    an aggregate on a second thread, in the caller's job group, while the
    version is written. Only a DISTINCT check on another column is still
    evaluated over the written version.

    With ``mart_path`` set, the merge is written as an unpublished
    :class:`~.sources.mart.VersionedMart` version and published by the
    atomic manifest swap (the dag:322 ``conn.commit()`` analogue) only
    after the gate passes; the returned DataFrame reads the committed
    version. Without it the caller owns persistence (Delta MERGE in
    production) and the merge is pinned via localCheckpoint only.

    Job budget: at most 6 Spark jobs for a batch that merges into a
    parquet mart — the staging write (which also counts the extracted
    rows), the version write (the merge and its observed checks; a
    shuffle-map job per side and the write), and the concurrent
    key-uniqueness pass (a shuffle-map job and a noop write).
    An empty window costs the staging write alone: it lands zero rows,
    which creates no run partition, and the batch returns before reading
    staging. A mart without a ``batch_run_id`` lineage column adds one
    count of the staged rows (its reconciliation falls back to them).
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
    batch = transform(extracted, run_id, ts_cols=tuple(ts))
    # A1: the source-window count rides the staging write, no second scan
    landed = Observation()
    observed = batch.observe(landed, F.expr("count(1) AS rows"))
    write_staging(observed, staging_path, run_id)  # M1: partition-per-run landing
    report.extracted = landed.get["rows"]
    if report.extracted == 0:
        # F4 short-circuit (dag:136-159): a zero-row dynamic-overwrite write
        # creates no run partition, so there is nothing to merge or clean
        report.skipped_empty = True
        return mart, report
    staged = read_staging_run(spark, staging_path, run_id, schema=batch.schema)

    # Q1 + A1-A3 gate, written so that no pass reads the written merge: the
    # key's uniqueness is proven on the two merge inputs by a second thread,
    # started before the merge is even built, and every check observe() can
    # evaluate, the merged total and the per-run sink count ride the version
    # write as one Observation.
    suite = dq or DQSuite().add_unique(key).add_not_null(key)
    key_checks = [name for name, col in suite.unique.items() if col == key]
    repeats = (
        _Concurrent(
            spark, f"dq: {key} repeats in the merge inputs",
            lambda: upsert_key_repeats(mart, staged, key),
        )
        if key_checks
        else None
    )
    # the thread is joined before this returns or raises: a failed build or
    # write raises its own error, and no thread outlives the batch
    try:
        mart_cols = mart.columns
        if update_cols is None:
            # reference parity (dag:311-315) where the mart has those
            # columns; any other schema gets a full-column update arm
            update_cols = [c for c in DEFAULT_UPDATE_COLS if c in mart_cols] or [
                c for c in mart_cols if c != key
            ]
        # Lineage must ALWAYS move to the incoming run on match — otherwise
        # rows whose keys already exist keep the old run id, the per-run
        # reconciliation below undercounts, and a healthy overlapping
        # backfill / fresh-run-id retry false-fails. (The reference DAG
        # shares this flaw with airflow_run_id; parity is not worth
        # spurious DQViolations.)
        lineage = "batch_run_id" in mart_cols
        if lineage and "batch_run_id" not in update_cols:
            update_cols = [*update_cols, "batch_run_id"]
        merged = merge_upsert(mart, staged, key, update_cols)

        stats = ["count(1) AS __merged_total"]
        if lineage:
            run = sql_string(run_id)
            stats.append(f"count(CASE WHEN batch_run_id = {run} THEN 1 END) AS __sink_rows")
        observed, obs = suite.observable().attach(merged, *stats)
        # a DISTINCT check on another column cannot be proven from the
        # inputs: it alone still reads the written version
        on_written = DQSuite(
            [c for c in suite.checks if c[0] in suite.unique and c[0] not in key_checks]
        )

        def gate(written: DataFrame) -> None:
            """Raises DQViolation on a failed check or a count mismatch
            (exact, dag:417-420) before anything is published; the rows it
            passes are the rows the batch returns."""
            nonlocal merged
            counts = {name: int(value) for name, value in obs.get.items()}
            report.merged_total = counts.pop("__merged_total")
            # without lineage the sink count falls back to the staged rows
            sink = counts.pop("__sink_rows") if lineage else staged.count()
            if repeats is not None:
                counts.update(dict.fromkeys(key_checks, repeats.result()))
            if on_written.checks:
                counts.update(on_written.violations(written))
            report.dq_violations = suite.gate(counts)
            reconcile_counts(report.extracted, sink)
            merged = written

        # M4 ordering: the merge must be durable BEFORE staging cleanup
        # (dag:322's commit covers insert+upsert+delete). With a mart_path
        # the durability point is the VersionedMart manifest swap — one
        # atomic rename, taken only after the gate passed on the written
        # version; a crash or a failed gate before it leaves the previous
        # version fully visible, a crash after it leaves at worst an
        # uncleaned staging partition that the idempotent retry re-creates
        # and re-deletes. Without a mart_path, localCheckpoint materializes
        # the merge (truncating the lineage that still reads staging) and
        # the caller owns real persistence.
        if mart_path is not None:
            from .sources.mart import VersionedMart

            VersionedMart(mart_path).commit(observed, version=run_id, check=gate)
        else:
            gate(observed.localCheckpoint(eager=True))
    finally:
        if repeats is not None:
            repeats.join()
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
    path. Empty windows short-circuit (F4) without leaving a staging
    partition.

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
