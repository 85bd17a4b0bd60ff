"""M1-M5 — the merge cluster (SURVEY.md §2.6).

The watch-list item (SURVEY §7): partial-update semantics — on a key match
only the declared update_cols take batch values; every other column keeps
the mart value (dag_mgo_pg_schedule_etl_qc.py:311-315 updates 4 of 26).
"""

import pytest
from pyspark.sql import Row

from my_favorite_etl_pipeline_spark.operators.merge import (
    assert_unique_key,
    delete_staging_run,
    latest_per_key,
    merge_upsert,
    read_staging_run,
    write_staging,
)

UPDATE_COLS = ["address", "country", "updatedat", "requestparams"]


def _mart(spark):
    return spark.createDataFrame(
        [
            Row(_id="a", name="alice", address="old-addr", country="US",
                updatedat="2024-01-01", requestparams='{"v":1}'),
            Row(_id="b", name="bob", address="b-addr", country="DE",
                updatedat="2024-01-02", requestparams=None),
        ]
    )


def _batch(spark):
    return spark.createDataFrame(
        [
            # matches 'a': update_cols must change, name must NOT
            Row(_id="a", name="SHOULD-NOT-APPLY", address="new-addr", country="FR",
                updatedat="2024-02-01", requestparams='{"v":2}'),
            # new key: inserted whole
            Row(_id="c", name="carol", address="c-addr", country="JP",
                updatedat="2024-02-02", requestparams='{"v":3}'),
        ]
    )


def test_partial_update_semantics(spark):
    out = {r["_id"]: r for r in merge_upsert(_mart(spark), _batch(spark), "_id", UPDATE_COLS).collect()}
    assert len(out) == 3
    # matched row: update_cols from batch, others from mart
    a = out["a"]
    assert a.address == "new-addr" and a.country == "FR" and a.requestparams == '{"v":2}'
    assert a.name == "alice"  # NOT updated — the reference's 4-of-26 semantics
    # untouched mart row passes through
    b = out["b"]
    assert b.address == "b-addr" and b.name == "bob"
    # new key inserted whole, including non-update cols
    c = out["c"]
    assert c.name == "carol" and c.address == "c-addr"


def test_update_overwrites_with_null(spark):
    """DO UPDATE SET col = EXCLUDED.col applies even when EXCLUDED is NULL."""
    schema = "_id string, name string, address string"
    mart = spark.createDataFrame([Row(_id="a", name="alice", address="keep-me")], schema)
    batch = spark.createDataFrame([Row(_id="a", name="x", address=None)], schema)
    (row,) = merge_upsert(mart, batch, "_id", ["address"]).collect()
    assert row.address is None and row.name == "alice"


def test_merge_idempotent(spark):
    """Re-running the same batch is a fixpoint (safe retries, dag:430)."""
    once = merge_upsert(_mart(spark), _batch(spark), "_id", UPDATE_COLS)
    twice = merge_upsert(once, _batch(spark), "_id", UPDATE_COLS)
    assert once.exceptAll(twice).count() == 0 and twice.exceptAll(once).count() == 0


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [Row(_id="a", v=1, ts="2024-01-01"), Row(_id="a", v=2, ts="2024-01-02"),
         Row(_id="b", v=3, ts="2024-01-01")]
    )
    out = {r["_id"]: r.v for r in latest_per_key(df, "_id", ["ts"]).collect()}
    assert out == {"a": 2, "b": 3}


def test_staging_run_isolation(spark, tmp_path):
    """M1/M3 — a run's delete touches only its own partition (dag:4)."""
    path = str(tmp_path / "staging")
    df = spark.createDataFrame([Row(_id="a", v=1)])
    write_staging(df, path, "run1")
    write_staging(df, path, "run2")
    assert read_staging_run(spark, path, "run1").count() == 1
    assert delete_staging_run(path, "run1") is True
    assert delete_staging_run(path, "run1") is False  # already gone
    assert read_staging_run(spark, path, "run2").count() == 1  # other run intact


def test_assert_unique_key(spark):
    ok = spark.createDataFrame([Row(_id="a"), Row(_id="b")])
    assert_unique_key(ok, "_id")
    dup = spark.createDataFrame([Row(_id="a"), Row(_id="a")])
    with pytest.raises(ValueError, match="primary-key"):
        assert_unique_key(dup, "_id")
    nulls = spark.createDataFrame([Row(_id="a"), Row(_id=None)])
    with pytest.raises(ValueError, match="NULL"):
        assert_unique_key(nulls, "_id")


def test_vacuum_staging_retention(spark, tmp_path):
    from my_favorite_etl_pipeline_spark.operators.merge import (
        read_staging_run,
        vacuum_staging,
        write_staging,
    )

    path = str(tmp_path / "staging")
    df = spark.range(10).withColumnRenamed("id", "k")
    runs = [f"run-2024-01-{d:02d}T00" for d in range(1, 6)]
    for r in runs:
        write_staging(df, path, r)

    # dry run reports without deleting
    assert vacuum_staging(path, keep_runs=2, dry_run=True) == runs[:3]
    assert read_staging_run(spark, path, runs[0]).count() == 10

    removed = vacuum_staging(path, keep_runs=2)
    assert removed == runs[:3]
    # survivors intact, victims gone, re-vacuum is a no-op
    assert read_staging_run(spark, path, runs[4]).count() == 10
    assert read_staging_run(spark, path, runs[3]).count() == 10
    assert read_staging_run(spark, path, runs[0]).count() == 0
    assert vacuum_staging(path, keep_runs=2) == []


def test_mart_snapshot_diff_matches_pure_python(spark):
    """The committed-snapshot diff must equal the diff of the version
    DEFINITIONS recomputed in pure Python from the raw parquet — the
    atomicity + time-travel contract (a torn or misresolved version would
    break this equality)."""
    import os

    import pyarrow.parquet as pq

    import my_favorite_etl_pipeline_spark as engine
    from tests.conftest import SF_DIR

    orders = pq.read_table(
        os.path.join(SF_DIR, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_orderpriority"],
    ).to_pylist()
    v1 = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_orderpriority"])
        for r in orders
        if r["o_orderkey"] % 2 == 0
    }
    merged = dict(v1)
    for r in orders:
        if r["o_orderkey"] % 3 == 0:
            merged[r["o_orderkey"]] = ("U", "0-DIFF")
    v2 = {k: v for k, v in merged.items() if k % 7 != 1}
    expected = {}
    for k in sorted(set(v1) | set(v2)):
        if k not in v1:
            expected[k] = ("added", None, v2[k][0], None, v2[k][1])
        elif k not in v2:
            expected[k] = ("deleted", v1[k][0], None, v1[k][1], None)
        elif v1[k] != v2[k]:
            expected[k] = ("updated", v1[k][0], v2[k][0], v1[k][1], v2[k][1])
    got = {
        r.o_orderkey: (r.change, r.old_status, r.new_status,
                       r.old_priority, r.new_priority)
        for r in engine.queries()["mart_snapshot_diff"](spark, SF_DIR).collect()
    }
    assert got == expected
    changes = {c for c, *_ in expected.values()}
    assert changes == {"added", "deleted", "updated"}, "all three classes exercised"


def test_merge_upsert_quotes_column_names(spark):
    """The output projection is built from SQL text, so names that need
    quoting (a dot, a backtick, a keyword — here the key itself) must keep
    the semantics table: update_cols ← batch, others ← mart, new keys whole."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("order", T.LongType()),
        T.StructField("a.b", T.StringType()),
        T.StructField("we`ird", T.StringType()),
        T.StructField("select", T.LongType()),
    ])
    mart = spark.createDataFrame([(1, "x", "keep", 10), (3, "m", "mart-only", 30)], schema)
    batch = spark.createDataFrame([(1, "y", "no", 11), (2, "z", "new", 12)], schema)
    out = merge_upsert(mart, batch, "order", ["a.b"])
    assert out.columns == ["order", "a.b", "we`ird", "select"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "y", "keep", 10),
        (2, "z", "new", 12),
        (3, "m", "mart-only", 30),
    ]
