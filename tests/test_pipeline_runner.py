"""The one-function pipeline: full lifecycle, idempotency, gates."""

import datetime as dt

import pytest
from pyspark.sql import Row

from my_favorite_etl_pipeline_spark.operators.dq import DQSuite, DQViolation
from my_favorite_etl_pipeline_spark.pipeline_runner import (
    check_connections,
    run_incremental_batch,
    transform,
)

TS = dt.datetime
WINDOW = ("2024-01-10 00:00:00", "2024-01-11 00:00:00")

MART_COLS = ["_id", "name", "status", "createdat", "updatedat", "createdby",
             "createdby_id", "createdby_name", "createdby_role", "createdby_client",
             "batch_run_id"]


def _source(spark):
    return spark.createDataFrame(
        [
            Row(_id=1, name="a", status="open", createdAt=TS(2024, 1, 10, 1),
                updatedAt=None, createdby=Row(id="u1", name="ann", role="r", client="c")),
            Row(_id=2, name="b", status="open", createdAt=TS(2024, 1, 2, 1),
                updatedAt=TS(2024, 1, 10, 5), createdby=Row(id="u2", name="bo", role="r", client="c")),
            Row(_id=3, name="c", status="open", createdAt=TS(2024, 1, 2, 1),
                updatedAt=TS(2024, 1, 3, 1), createdby=None),  # outside window
        ],
        "`_id` long, name string, status string, createdAt timestamp, updatedAt timestamp, "
        "createdby struct<id:string,name:string,role:string,client:string>",
    )


def _empty_mart(spark):
    """Mart schema = the transform chain's output schema, zero rows."""
    return transform(_source(spark).limit(0), "seed")


def test_full_batch_lifecycle_and_idempotency(spark, tmp_path):
    staging = str(tmp_path / "staging")
    mart = _empty_mart(spark)

    merged1, rep1 = run_incremental_batch(
        spark, _source(spark), mart, staging, WINDOW, run_id="r1"
    )
    assert rep1.extracted == 2  # row 3 outside window
    assert rep1.merged_total == 2
    assert {r["_id"] for r in merged1.collect()} == {"1", "2"}
    # staging cleaned up after the run (M3)
    import os

    assert not os.path.exists(f"{staging}/batch_run_id=r1")

    # same window re-run (retry semantics): merge is a fixpoint
    merged2, rep2 = run_incremental_batch(
        spark, _source(spark), merged1, staging, WINDOW, run_id="r1"
    )
    assert rep2.merged_total == 2
    assert merged2.exceptAll(merged1).count() == 0


def _jobs(spark, group, fn):
    """``fn()``'s result and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return result, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_empty_window_short_circuits(spark, tmp_path):
    """An empty window is decided by the staging write's own row count: one
    Spark job, no run partition left behind, the mart returned as is."""
    import os

    mart = _empty_mart(spark)
    staging = str(tmp_path / "s")
    (merged, rep), jobs = _jobs(spark, "test-empty-window", lambda: run_incremental_batch(
        spark, _source(spark), mart, staging,
        ("2030-01-01 00:00:00", "2030-01-02 00:00:00"), run_id="r-empty",
    ))
    assert rep.skipped_empty and merged is mart
    assert rep.extracted == 0
    assert not os.path.exists(f"{staging}/batch_run_id=r-empty")
    assert len(jobs) <= 1, jobs


def test_dq_gate_fails_batch(spark, tmp_path):
    dup_source = _source(spark).union(_source(spark))  # duplicate _ids
    mart = _empty_mart(spark)
    with pytest.raises(DQViolation):
        run_incremental_batch(
            spark, dup_source, mart, str(tmp_path / "s2"), WINDOW, run_id="rdup",
            dq=DQSuite().add_unique("_id"),
        )


def test_check_connections(spark, sf_dir):
    assert check_connections(spark, [f"{sf_dir}/region.parquet"])


def test_overlapping_backfill_fresh_run_id_updates_lineage(spark, tmp_path):
    """A retry (or overlapping backfill) under a FRESH run id must not raise:
    matched rows take the new batch_run_id, so the per-run reconciliation
    count sees every row the batch touched."""
    staging = str(tmp_path / "staging")
    mart = _empty_mart(spark)
    merged1, _ = run_incremental_batch(
        spark, _source(spark), mart, staging, WINDOW, run_id="r1"
    )
    # same window, different run id — every key already exists in the mart
    merged2, rep2 = run_incremental_batch(
        spark, _source(spark), merged1, staging, WINDOW, run_id="r2"
    )
    assert rep2.extracted == 2
    assert rep2.merged_total == 2
    assert {r["batch_run_id"] for r in merged2.collect()} == {"r2"}


def test_run_backfill_overlapping_windows_match_single_shot(spark, tmp_path):
    """§2.11 backfill: mapping the batch over 3 historical windows — one of
    which overlaps the others — must land the exact row-set of one single
    full-range run, leave staging empty, and be a fixpoint when any window
    is re-run (its bounds-derived run id makes that the retry path)."""
    import glob

    from my_favorite_etl_pipeline_spark.pipeline_runner import run_backfill

    src = spark.createDataFrame(
        [
            Row(_id=1, name="a", status="open", createdAt=TS(2024, 1, 10, 1),
                updatedAt=None, createdby=Row(id="u1", name="ann", role="r", client="c")),
            Row(_id=2, name="b", status="open", createdAt=TS(2024, 1, 11, 2),
                updatedAt=None, createdby=None),
            Row(_id=3, name="c", status="open", createdAt=TS(2024, 1, 2, 1),
                updatedAt=TS(2024, 1, 12, 3), createdby=None),
        ],
        "`_id` long, name string, status string, createdAt timestamp, updatedAt timestamp, "
        "createdby struct<id:string,name:string,role:string,client:string>",
    )
    windows = [
        ("2024-01-10 00:00:00", "2024-01-11 00:00:00"),  # row 1
        ("2024-01-11 00:00:00", "2024-01-12 00:00:00"),  # row 2
        ("2024-01-10 12:00:00", "2024-01-13 00:00:00"),  # rows 2+3 (overlap)
    ]
    staging = str(tmp_path / "staging")
    mart0 = transform(src.limit(0), "seed")
    final, reports = run_backfill(spark, src, mart0, staging, windows)
    assert [r.extracted for r in reports] == [1, 1, 2]
    assert not any(r.skipped_empty for r in reports)

    single, _ = run_incremental_batch(
        spark, src, mart0, str(tmp_path / "staging2"),
        ("2024-01-10 00:00:00", "2024-01-13 00:00:00"), run_id="single",
    )
    a, b = final.drop("batch_run_id"), single.drop("batch_run_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # staging fully cleaned: no per-run partitions survive any window
    assert glob.glob(f"{staging}/batch_run_id=*") == []

    # re-running a window re-derives the SAME run id → merge fixpoint
    final2, reports2 = run_backfill(spark, src, final, staging, [windows[2]])
    assert reports2[0].extracted == 2
    assert final2.exceptAll(final).count() == 0

    # an empty historical window short-circuits without touching staging
    _, rep_empty = run_backfill(
        spark, src, final2, staging, [("2020-01-01 00:00:00", "2020-01-02 00:00:00")]
    )
    assert rep_empty[0].skipped_empty


def test_versioned_mart_crash_between_write_and_commit(spark, tmp_path):
    """A reader must never observe a half state: crash after the version
    write but BEFORE the manifest swap leaves the previous version fully
    visible; the retry commits cleanly."""
    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    vm = VersionedMart(str(tmp_path / "mart"))
    df1 = spark.createDataFrame([Row(_id="1", v="a")])
    vm.commit(df1, version="r1")
    assert {r.v for r in vm.read(spark).collect()} == {"a"}

    # simulated crash: step 1 (write) happened, step 2 (swap) never did
    df2 = spark.createDataFrame([Row(_id="1", v="b"), Row(_id="2", v="c")])
    vm._write_version(df2, "r2")
    assert vm.current_version() == "r1"
    assert {r.v for r in vm.read(spark).collect()} == {"a"}  # old version intact

    # retry of the same run: idempotent — rewrites r2 and commits
    vm.commit(df2, version="r2")
    assert vm.current_version() == "r2"
    assert {r.v for r in vm.read(spark).collect()} == {"b", "c"}
    # superseded r1 vacuumed; committed r2 untouched
    import os

    assert os.listdir(tmp_path / "mart" / "data") == ["r2"]


def test_runner_persists_mart_atomically_and_retries_after_cleanup_crash(spark, tmp_path):
    """End-to-end M4: run with mart_path, then simulate a crash AFTER the
    manifest commit but BEFORE staging cleanup — the re-run must succeed
    and the mart must never lose the committed state."""
    from my_favorite_etl_pipeline_spark.operators.merge import write_staging
    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    staging = str(tmp_path / "staging")
    mart_path = str(tmp_path / "mart")
    merged1, rep1 = run_incremental_batch(
        spark, _source(spark), _empty_mart(spark), staging, WINDOW,
        run_id="r1", mart_path=mart_path,
    )
    vm = VersionedMart(mart_path)
    assert vm.current_version() == "r1"
    assert rep1.merged_total == 2

    # crash-after-commit leftovers: an orphaned staging partition reappears
    write_staging(transform(_source(spark), "r2"), staging, "r2")
    # retry under the same run id: overwrite-by-version + append-staging are
    # both tolerated; the batch completes and commits r2
    merged2, rep2 = run_incremental_batch(
        spark, _source(spark), vm.read(spark), staging, WINDOW,
        run_id="r2", mart_path=mart_path,
    )
    assert vm.current_version() == "r2"
    assert rep2.merged_total == 2
    assert {r["_id"] for r in vm.read(spark).collect()} == {"1", "2"}
    import os

    assert not os.path.exists(f"{staging}/batch_run_id=r2")

    # re-running the PUBLISHED run id (a window retried after its commit)
    # merges into the version it reads and republishes the fixpoint
    published = _rows(merged2)
    merged3, rep3 = run_incremental_batch(
        spark, _source(spark), merged2, staging, WINDOW,
        run_id="r2", mart_path=mart_path,
    )
    assert vm.current_version() == "r2" and rep3.merged_total == 2
    assert _rows(merged3) == published


def test_versioned_mart_time_travel_and_retention(spark, tmp_path):
    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    mart = VersionedMart(str(tmp_path / "mart"))
    for i in range(1, 5):
        mart.commit(spark.range(i * 10), f"v{i}", keep=2)

    assert mart.current_version() == "v4"
    assert mart.history() == ["v1", "v2", "v3", "v4"]
    # keep=2 retained only the two latest data dirs
    assert mart.available_versions() == ["v3", "v4"]

    assert mart.read(spark).count() == 40
    assert mart.read(spark, version="v3").count() == 30
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="v1"):
        mart.read(spark, version="v1")

    # re-committing an existing version is idempotent and doesn't dup history
    mart.commit(spark.range(45), "v4", keep=2)
    assert mart.history() == ["v1", "v2", "v3", "v4"]
    assert mart.read(spark).count() == 45


def test_merging_batch_job_budget(spark, tmp_path):
    """One batch that merges into a committed parquet mart runs in at most
    7 Spark jobs: the staging write (which also counts the extracted rows
    and so decides an empty window), the version write, and ONE aggregate
    for the DQ suite, the per-run sink count and the merged total."""
    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    staging, mart_path = str(tmp_path / "staging"), str(tmp_path / "mart")
    run_incremental_batch(
        spark, _source(spark), _empty_mart(spark), staging, WINDOW,
        run_id="r1", mart_path=mart_path,
    )
    mart = VersionedMart(mart_path).read(spark)
    (_, rep), jobs = _jobs(spark, "test-merging-batch-job-budget", lambda: run_incremental_batch(
        spark, _source(spark), mart, staging, WINDOW, run_id="r2", mart_path=mart_path,
    ))
    assert (rep.extracted, rep.merged_total) == (2, 2)
    assert rep.dq_violations == {"dup__id": 0, "null__id": 0}
    assert len(jobs) <= 7, jobs


def test_trace_contract_names():
    """``perfbench/tracing.py`` wraps these module attributes by name and
    reads ``write_staging``'s path and run id as positional ``args[1]`` and
    ``args[2]``; a rename or a reordered signature stops a traced run."""
    import inspect

    from my_favorite_etl_pipeline_spark import pipeline_runner as pr
    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    for name in ("incremental_extract", "is_empty", "write_staging", "delete_staging_run"):
        assert callable(getattr(pr, name)), name
    assert callable(DQSuite.enforce) and callable(VersionedMart.commit)
    params = list(inspect.signature(pr.write_staging).parameters)
    assert params[:3] == ["df", "path", "run_id"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_failed_gate_never_publishes_and_orphans_are_vacuumed(spark, tmp_path):
    """A DQ failure (duplicate _id) and a reconciliation mismatch are both
    caught on the written, unpublished version: the manifest keeps pointing
    at the last good version and its rows stay readable. The next good
    commit's vacuum reclaims the two orphan version directories."""
    import os

    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    staging, mart_path = str(tmp_path / "staging"), str(tmp_path / "mart")
    run_incremental_batch(
        spark, _source(spark), _empty_mart(spark), staging, WINDOW,
        run_id="r1", mart_path=mart_path,
    )
    vm = VersionedMart(mart_path)
    good = _rows(vm.read(spark))

    with pytest.raises(DQViolation, match="dup__id"):
        run_incremental_batch(
            spark, _source(spark).union(_source(spark)), vm.read(spark), staging,
            WINDOW, run_id="r-dup", mart_path=mart_path,
        )
    assert vm.current_version() == "r1" and _rows(vm.read(spark)) == good

    # a stale mart row already tagged with the incoming run id makes the
    # per-run sink count 3 against 2 extracted rows
    stale = vm.read(spark).limit(1).withColumn("_id", F.lit("99")).withColumn(
        "batch_run_id", F.lit("r-mismatch")
    )
    with pytest.raises(DQViolation, match="reconciliation mismatch"):
        run_incremental_batch(
            spark, _source(spark), vm.read(spark).unionByName(stale), staging,
            WINDOW, run_id="r-mismatch", mart_path=mart_path,
        )
    assert vm.current_version() == "r1" and _rows(vm.read(spark)) == good
    assert sorted(os.listdir(tmp_path / "mart" / "data")) == ["r-dup", "r-mismatch", "r1"]

    run_incremental_batch(
        spark, _source(spark), vm.read(spark), staging, WINDOW,
        run_id="r3", mart_path=mart_path,
    )
    assert vm.current_version() == "r3"
    assert os.listdir(tmp_path / "mart" / "data") == ["r3"]


def test_gated_commit_never_overwrites_the_published_version(spark, tmp_path):
    """The check runs on the written version before the swap. Re-committing
    the published version writes a fresh directory, so neither a failed
    check nor a failed write job touches the rows the manifest names."""
    import os

    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

    vm = VersionedMart(str(tmp_path / "mart"))
    vm.commit(spark.createDataFrame([Row(_id="1", v="a")]), version="r1")
    df2 = spark.createDataFrame([Row(_id="1", v="b"), Row(_id="2", v="c")])

    def reject(written):
        assert vm.current_version() == "r1"
        assert sorted(r.v for r in written.collect()) == ["b", "c"]
        raise DQViolation("rejected")

    with pytest.raises(DQViolation):
        vm.commit(df2, version="r2", check=reject)
    with pytest.raises(DQViolation):
        vm.commit(df2, version="r1", check=reject)
    with pytest.raises(Exception, match="boom"):  # the write job itself fails
        vm.commit(df2.withColumn("v", F.expr("raise_error('boom')")), version="r1")
    assert vm.current_version() == "r1"
    assert {r.v for r in vm.read(spark).collect()} == {"a"}

    assert vm.commit(df2, version="r1", check=lambda written: None) == "r1"
    assert {r.v for r in vm.read(spark).collect()} == {"b", "c"}
    # a re-commit may read the very copy it replaces
    vm.commit(vm.read(spark).withColumn("v", F.upper("v")), version="r1")
    assert {r.v for r in vm.read(spark).collect()} == {"B", "C"}
    assert vm.history() == ["r1"]
    kept = [d for base in ("data", "data.alt") for d in os.listdir(tmp_path / "mart" / base)]
    assert kept == ["r1"]


@pytest.mark.parametrize("persist", [False, True])
def test_mart_without_lineage_reconciles_on_staged_rows(spark, tmp_path, persist):
    """A mart with no ``batch_run_id`` column reconciles the extracted rows
    against the staged ones, with and without a ``mart_path``."""
    staging = str(tmp_path / "staging")
    mart_path = str(tmp_path / "mart") if persist else None
    mart = _empty_mart(spark).drop("batch_run_id")
    for run_id in ("r1", "r2"):  # into an empty mart, then merging
        mart, rep = run_incremental_batch(
            spark, _source(spark), mart, staging, WINDOW,
            run_id=run_id, mart_path=mart_path,
        )
        assert (rep.extracted, rep.merged_total) == (2, 2)
        assert rep.dq_violations == {"dup__id": 0, "null__id": 0}
    assert "batch_run_id" not in mart.columns
    assert {r["_id"] for r in mart.collect()} == {"1", "2"}
