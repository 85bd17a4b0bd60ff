"""Shared pytest fixtures: one SparkSession per test run.

A small local session (4 threads, 4 shuffle partitions) keeps the unit
suite fast; scale behavior is covered by bench.py and the driver harness.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-tests-")
    s = (
        SparkSession.builder.master("local[4]")
        .appName("unit-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        # loaders no longer set this per read (session-wide by design, see
        # session.py) — any session that reads the fixtures needs it in
        # case the round's parquet ships TIMESTAMP(NANOS)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def set_conf():
    """``set_conf(session, key, value)`` sets a SQL conf (``None`` unsets
    it) for the rest of the test; each key is restored, or unset again,
    at teardown."""
    saved = []

    def set_conf(session, key: str, value: str | None) -> None:
        saved.append((session, key, session.conf.get(key, None)))
        if value is None:
            session.conf.unset(key)
        else:
            session.conf.set(key, value)

    yield set_conf
    for session, key, prev in reversed(saved):
        if prev is None:
            session.conf.unset(key)
        else:
            session.conf.set(key, prev)
