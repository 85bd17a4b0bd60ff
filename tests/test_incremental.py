"""F1/F2/F4 — incremental windowed extraction (SURVEY.md §2.2).

Window-boundary semantics must match the reference's MongoDB predicate
exactly: start inclusive ($gte), end exclusive ($lt)
(dag_mgo_pg_schedule_etl_qc.py:124-129).
"""

import datetime as dt

from pyspark.sql import Row

from my_favorite_etl_pipeline_spark.operators.incremental import (
    in_window,
    incremental_extract,
    is_empty,
)


def _df(spark, *ts_pairs):
    return spark.createDataFrame(
        [Row(i=i, createdat=c, updatedat=u) for i, (c, u) in enumerate(ts_pairs)],
        "i long, createdat timestamp, updatedat timestamp",
    )


TS = dt.datetime


def test_window_boundaries_half_open(spark):
    start, end = "2024-01-10 00:00:00", "2024-01-11 00:00:00"
    df = _df(
        spark,
        (TS(2024, 1, 9, 23, 59, 59), None),   # before → out
        (TS(2024, 1, 10, 0, 0, 0), None),     # == start → in ($gte)
        (TS(2024, 1, 10, 12, 0, 0), None),    # inside → in
        (TS(2024, 1, 11, 0, 0, 0), None),     # == end → out ($lt)
    )
    got = sorted(r.i for r in df.filter(in_window("createdat", start, end)).collect())
    assert got == [1, 2]


def test_window_bounds_as_datetimes(spark):
    """A datetime bound is the instant ``lit(datetime)`` denotes."""
    from pyspark.sql import functions as F

    df = _df(
        spark,
        (TS(2024, 1, 9, 23, 59, 59), None),
        (TS(2024, 1, 10, 0, 0, 0), None),
        (TS(2024, 1, 10, 12, 0, 0, 500), None),
        (TS(2024, 1, 11, 0, 0, 0), None),
    )
    start, end = TS(2024, 1, 10), TS(2024, 1, 10, 12, 0, 0, 501)
    want = (F.col("createdat") >= F.lit(start)) & (F.col("createdat") < F.lit(end))
    got = sorted(r.i for r in df.filter(in_window("createdat", start, end)).collect())
    assert got == sorted(r.i for r in df.filter(want).collect()) == [1, 2]


def test_disjunctive_change_capture(spark):
    start, end = "2024-01-10 00:00:00", "2024-01-11 00:00:00"
    df = _df(
        spark,
        (TS(2024, 1, 10, 1), None),                      # created in window
        (TS(2024, 1, 1, 1), TS(2024, 1, 10, 5)),         # updated in window
        (TS(2024, 1, 1, 1), TS(2024, 1, 2, 1)),          # neither
        (None, None),                                    # NULL both → out
    )
    got = sorted(
        r.i for r in incremental_extract(df, ["createdat", "updatedat"], start, end).collect()
    )
    assert got == [0, 1]


def test_write_partitioned_by_day_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.operators.incremental import (
        write_partitioned_by_day,
    )

    df = _df(
        spark,
        (TS(2024, 1, 10, 5), None),
        (TS(2024, 1, 11, 5), None),
        (TS(2024, 1, 12, 5), None),
    )
    path = str(tmp_path / "by_day")
    write_partitioned_by_day(df, path, "createdat")
    import os

    assert sorted(d for d in os.listdir(path) if d.startswith("event_date=")) == [
        "event_date=2024-01-10",
        "event_date=2024-01-11",
        "event_date=2024-01-12",
    ]
    back = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-11")
    rows = back.collect()
    assert len(rows) == 1 and rows[0].i == 1
    # partition filter is pushed (pruning, not a post-scan filter)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan


def test_empty_batch_gate(spark):
    df = _df(spark, (TS(2024, 1, 1), None))
    assert is_empty(df.filter("i < 0"))
    assert not is_empty(df)
