"""The build-once-per-process contract of ``artifacts``: one key rule
(partition-keyed), one re-entrant lock, one per-process root removed at
exit, tables committed through VersionedMart."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading

import pytest

from my_favorite_etl_pipeline_spark import artifacts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture
def restore_parts(spark):
    prev = spark.conf.get(PARTS)
    yield
    spark.conf.set(PARTS, prev)


def _tiny(spark, calls: list):
    def build(commit):
        calls.append(1)
        commit("t", spark.range(3))

    return build


def test_second_call_reads_the_commit_without_building(spark, tmp_path):
    calls: list = []
    mart = artifacts.memoized_commit(spark, "t_once", str(tmp_path), build=_tiny(spark, calls))["t"]
    version = mart.current_version()
    again = artifacts.memoized_commit(spark, "t_once", str(tmp_path), build=_tiny(spark, calls))["t"]
    assert calls == [1]
    assert again.root == mart.root and again.current_version() == version
    assert sorted(r.id for r in again.read(spark).collect()) == [0, 1, 2]


def test_other_shuffle_partitioning_rebuilds(spark, tmp_path, restore_parts):
    calls: list = []
    spark.conf.set(PARTS, "3")
    artifacts.memoized_commit(spark, "t_parts", str(tmp_path), build=_tiny(spark, calls))
    spark.conf.set(PARTS, "5")
    artifacts.memoized_commit(spark, "t_parts", str(tmp_path), build=_tiny(spark, calls))
    artifacts.memoized_commit(spark, "t_parts", str(tmp_path), build=_tiny(spark, calls))
    assert calls == [1, 1]


def test_unset_shuffle_partitions_is_a_valid_key(spark, tmp_path, restore_parts):
    # a vanilla session may leave the conf unset; reading it with a string
    # default raises INVALID_CONF_VALUE on Spark 4.1
    spark.conf.unset(PARTS)
    calls: list = []
    t = artifacts.memoized_commit(spark, "t_unset", str(tmp_path), build=_tiny(spark, calls))
    assert t["t"].read(spark).count() == 3 and calls == [1]


def test_nested_build_does_not_deadlock(spark, tmp_path):
    out: dict = {}

    def outer(commit):
        inner = artifacts.memoized_commit(
            spark, "t_inner", str(tmp_path), build=_tiny(spark, [])
        )["t"].read(spark)
        commit("doubled", inner.selectExpr("id * 2 AS id"))

    def run():
        out["t"] = artifacts.memoized_commit(spark, "t_outer", str(tmp_path), build=outer)

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout=120)
    assert not th.is_alive(), "nested memoized_commit deadlocked"
    assert sorted(r.id for r in out["t"]["doubled"].read(spark).collect()) == [0, 2, 4]


def test_process_exit_removes_every_artifact_dir(tmp_path, sf_dir):
    """A process that builds a committed artifact and a streaming static
    index leaves nothing behind in its temp dir once it exits."""
    if not os.path.isdir(sf_dir):
        pytest.skip("fixture tables absent")
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        from my_favorite_etl_pipeline_spark import artifacts
        from my_favorite_etl_pipeline_spark.streaming.windows import _containment_ref_index

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "1")
                 .config("spark.sql.legacy.parquet.nanosAsLong", "true")
                 .getOrCreate())
        artifacts.memoized_commit(
            spark, "tiny", {sf_dir!r},
            build=lambda commit: commit("t", spark.range(3)))
        _containment_ref_index(spark, {sf_dir!r}).count()
        print(artifacts.root())
        spark.stop()
        """
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    root = res.stdout.strip().splitlines()[-1]
    assert root.startswith(str(tmp))
    assert not os.path.exists(root)
    assert [p.name for p in tmp.iterdir() if p.name.startswith("mfe_")] == []
