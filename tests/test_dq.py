"""Q1/A1-A3 — DQ gate and reconciliation (SURVEY.md §2.7).

One test per Soda check class from the reference's comment
(dag_mgo_pg_schedule_etl_qc.py:369): freshness, type validity, regex,
uniqueness, completeness — plus the count/content reconciliation gates.
"""

import pytest
from pyspark.sql import Row

from my_favorite_etl_pipeline_spark.operators.dq import (
    DQSuite,
    DQViolation,
    reconcile_content,
    reconcile_counts,
)


def _df(spark):
    return spark.createDataFrame(
        [
            Row(_id="a", email="a@x.com", n="1", ts="2024-06-01 00:00:00"),
            Row(_id="b", email="bad-email", n="oops", ts="2024-01-01 00:00:00"),
            Row(_id="b", email=None, n=None, ts=None),
        ]
    )


def test_all_five_check_classes(spark):
    suite = (
        DQSuite()
        .add_not_null("email")
        .add_unique("_id")
        .add_regex("email", r"^[^@\s]+@[^@\s]+\.[^@\s]+$")
        .add_type_valid("n", "int")
        .add_freshness("ts", "2024-05-01 00:00:00")
    )
    v = suite.violations(_df(spark))
    assert v == {"null_email": 1, "dup__id": 1, "regex_email": 1, "badtype_n": 1, "stale_ts": 0}


def test_enforce_raises_and_passes(spark):
    bad = _df(spark)
    with pytest.raises(DQViolation, match="dup__id"):
        DQSuite().add_unique("_id").enforce(bad)
    clean = spark.createDataFrame([Row(_id="a"), Row(_id="b")])
    assert DQSuite().add_unique("_id").enforce(clean) == {"dup__id": 0}


def test_freshness_stale_and_empty(spark):
    df = _df(spark)
    assert DQSuite().add_freshness("ts", "2025-01-01").violations(df)["stale_ts"] == 1
    empty = df.filter("_id = 'zzz'")
    # empty table == stale by definition (max(ts) is NULL)
    assert DQSuite().add_freshness("ts", "2020-01-01").violations(empty)["stale_ts"] == 1


def test_row_checks_report_zero_on_an_empty_frame(spark, tmp_path):
    """``sum`` over no rows is NULL; each row check still reports 0, on the
    classic pass and observed on a write."""
    suite = (
        DQSuite()
        .add_not_null("email")
        .add_regex("email", r"^[^@\s]+@[^@\s]+\.[^@\s]+$")
        .add_type_valid("n", "int")
    )
    empty = _df(spark).filter("_id = 'zzz'")
    zeros = {"null_email": 0, "regex_email": 0, "badtype_n": 0}
    assert suite.enforce(empty) == zeros
    observed, obs = suite.attach(empty, "count(1) AS rows")
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    assert suite.enforce_observed(obs) == {**zeros, "rows": 0}


def test_observed_dq_rides_the_write_action(spark, tmp_path):
    """attach() aggregates the checks during the sink write — one pass."""
    suite = DQSuite().add_not_null("email").add_regex("email", r"^[^@\s]+@[^@\s]+\.[^@\s]+$")
    observed, obs = suite.attach(_df(spark))
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the only action
    with pytest.raises(DQViolation, match="null_email"):
        suite.enforce_observed(obs)

    clean = spark.createDataFrame([Row(_id="a", email="a@x.com", n="1", ts="2024-01-01")])
    suite2 = DQSuite().add_not_null("email")
    observed2, obs2 = suite2.attach(clean)
    observed2.write.mode("overwrite").parquet(str(tmp_path / "out2"))
    assert suite2.enforce_observed(obs2) == {"null_email": 0}


def test_attach_rejects_distinct_checks(spark):
    with pytest.raises(ValueError, match="DISTINCT"):
        DQSuite().add_unique("_id").attach(_df(spark))


def test_reconcile_counts():
    reconcile_counts(10, 10)
    with pytest.raises(DQViolation, match="mismatch"):
        reconcile_counts(10, 9)


def test_reconcile_content(spark):
    a = spark.createDataFrame([Row(x=1), Row(x=2)])
    b = spark.createDataFrame([Row(x=2), Row(x=3)])
    assert reconcile_content(a, a) == 0
    assert reconcile_content(a, b) == 2
