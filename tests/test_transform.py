"""P2-P4 / J1-J4 / F3 — the reference-parity transform chain (SURVEY §2.3/2.4)."""

import datetime as dt
import json

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from my_favorite_etl_pipeline_spark.functions.normalize import (
    align_to_schema,
    coerce_timestamps,
    flatten_struct,
    normalize_columns,
    normalize_name,
    stringify_id,
    structs_to_json,
    with_lineage,
)


def test_normalize_name():
    assert normalize_name("  CreatedAt ") == "createdat"
    assert normalize_name("First Name") == "first_name"
    assert normalize_name("Snake_Case") == "snake_case"


def test_normalize_columns(spark):
    df = spark.createDataFrame([Row(**{"CreatedAt": 1})]).toDF("Created At")
    assert normalize_columns(df).columns == ["created_at"]


def test_with_lineage_and_stringify(spark):
    df = spark.createDataFrame([Row(_id=42)])
    out = stringify_id(with_lineage(df, "run-1"))
    row = out.collect()[0]
    assert row.batch_run_id == "run-1" and row["_id"] == "42"
    assert dict(out.dtypes)["_id"] == "string"


def test_structs_to_json_roundtrip(spark):
    df = spark.createDataFrame(
        [Row(_id="a", createdby=Row(id="u1", name="ann"), tags=["x", "y"], plain=1)]
    )
    out = structs_to_json(df)
    row = out.collect()[0]
    assert json.loads(row.createdby) == {"id": "u1", "name": "ann"}
    assert json.loads(row.tags) == ["x", "y"]
    assert row.plain == 1  # scalars pass through (clean_value parity)
    # NULL struct → NULL string, not the text 'null'
    df2 = spark.createDataFrame(
        [Row(s=Row(a="1")), Row(s=None)],
        "s struct<a:string>",
    )
    vals = [r.s for r in structs_to_json(df2).collect()]
    assert None in vals


def test_flatten_struct_typed_and_json(spark):
    keys = ["id", "name", "role", "client"]
    typed = spark.createDataFrame([Row(createdby=Row(id="u1", name="ann", role="r", client="c"))])
    row = flatten_struct(typed, "createdby", keys).collect()[0]
    assert (row.createdby_id, row.createdby_client) == ("u1", "c")
    # JSON-string flavor — the PG ->> path (dag:296-307)
    js = spark.createDataFrame([Row(createdby='{"id":"u2","name":"bo","role":null,"client":"k"}')])
    row = flatten_struct(js, "createdby", keys).collect()[0]
    assert (row.createdby_id, row.createdby_role) == ("u2", None)
    # absent column → typed NULLs (F3 guard)
    missing = spark.createDataFrame([Row(x=1)])
    row = flatten_struct(missing, "createdby", keys).collect()[0]
    assert row.createdby_id is None


def test_coerce_timestamps_like_pandas_coerce(spark):
    df = spark.createDataFrame(
        [Row(ts="2024-01-02 03:04:05"), Row(ts="not a date"), Row(ts=None)]
    )
    vals = [r.ts for r in coerce_timestamps(df, ["ts", "absent_col"]).collect()]
    assert vals[0] == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert vals[1] is None and vals[2] is None  # errors="coerce" parity


def test_align_to_schema(spark):
    target = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("missing", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame([Row(n="7", extra=True, _id=1)])
    out = align_to_schema(df, target)
    assert out.columns == ["_id", "n", "missing"]  # declared order, extras dropped
    row = out.collect()[0]
    assert row["_id"] == "1" and row.n == 7 and row.missing is None
    assert isinstance(out.schema["missing"].dataType, T.TimestampType)


def test_typed_struct_props_prunes_json_schema_and_scan(spark, sf_dir):
    """The from_json twin must stay typed AND pruned: (a) Catalyst trims the
    declared parse schema to the referenced fields (the unused 'extra'
    field disappears from the optimized plan), and (b) column pruning
    carries only the three needed columns into the parquet scan."""
    import re

    from my_favorite_etl_pipeline_spark.registry import REGISTRY

    df = REGISTRY["typed_struct_props_chain"].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" in opt
    assert "extra" not in opt  # JSON expression optimization pruned it
    phys = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: struct<([^>]*)>", phys)
    assert m, f"no ReadSchema in plan:\n{phys}"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"event_id", "event_type", "props"}


def _transform_per_column(df, run_id, ts_cols, flatten):
    """The transform task spelled out one ``withColumn`` per column — the
    specification the one-projection-per-step combinators must reproduce."""
    out = normalize_columns(df)
    out = out.withColumn("_id", F.col("_id").cast("string"))
    for c in ts_cols:
        if c in out.columns and not isinstance(out.schema[c].dataType, T.TimestampType):
            out = out.withColumn(c, F.try_to_timestamp(F.col(c).cast("string")))
    for col, keys in flatten.items():
        if col not in out.columns:
            continue
        dtype = out.schema[col].dataType
        for k in keys:
            if isinstance(dtype, T.StructType):
                src = F.col(f"{col}.{k}") if k in dtype.names else F.lit(None)
                out = out.withColumn(f"{col}_{k}", src.cast("string"))
            else:
                out = out.withColumn(f"{col}_{k}", F.get_json_object(F.col(col), f"$.{k}"))
    for f in out.schema.fields:
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            out = out.withColumn(f.name, F.to_json(F.col(f.name)))
    return out.withColumn("batch_run_id", F.lit(run_id))


def test_transform_matches_per_column_reference(spark):
    """``transform`` against the per-column reference on FIXTURES §B
    pathological shapes: a struct missing a field, an absent
    flatten column (statusChangedBy), a JSON-string struct (updatedBy), an
    already-typed timestamp next to string and unparseable ones, nested
    blobs for J1, and a pre-existing lineage column."""
    from my_favorite_etl_pipeline_spark.pipeline_runner import DEFAULT_FLATTEN, transform

    schema = (
        "`_id` long, `CreatedAt` timestamp, `updatedAt` string, `stateChangedAt` string, "
        "`createdBy` struct<id:string,name:string,role:string>, `updatedBy` string, "
        "`requestParams` struct<k:string,n:int>, tags array<string>, attrs map<string,int>, "
        "`Batch Run ID` string, `Status` string"
    )
    rows = [
        (1, dt.datetime(2024, 1, 10, 1), "2024-01-10 02:00:00", "not-a-date",
         ("u1", "ann", "admin"), '{"id": "u9", "name": "zed", "client": "c9"}',
         ("v", 1), ["x", "y"], {"a": 1}, "old-run", "open"),
        (2, None, "garbage", None, None, None, None, None, None, None, None),
        (3, dt.datetime(2024, 1, 10, 3), None, "2024-01-11 00:00:00",
         (None, "bo", None), "not json", ("w", None), [], {}, "x", "closed"),
    ]
    df = spark.createDataFrame(rows, schema)
    ts_cols = ("createdat", "updatedat", "statechangedat", "statuschangedat")
    for flatten in (None, {"createdby": ["id", "client"], "requestparams": ["k", "missing"]}):
        got = transform(df, "run-1", ts_cols=ts_cols, flatten=flatten)
        spec = flatten if flatten is not None else DEFAULT_FLATTEN
        want = _transform_per_column(df, "run-1", ts_cols, spec)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
    assert "statuschangedby_id" not in got.columns  # absent column stays absent


def test_transform_is_one_projection(spark):
    """The whole transform chain is ONE Project above the input's plan; a
    chain of per-rule projections (8 here) analyzes one plan per step."""
    from my_favorite_etl_pipeline_spark.pipeline_runner import transform

    by = "struct<id:string,name:string,role:string,client:string>"
    df = spark.createDataFrame(
        [], f"`_id` long, `createdAt` string, `createdBy` {by}, "
        f"`statusChangedBy` {by}, `updatedBy` {by}, tags array<string>",
    )

    def projects(d):
        plan = d._jdf.queryExecution().analyzed().toString()
        return sum(line.lstrip(" :+-").startswith("Project ") for line in plan.splitlines())

    assert projects(transform(df, "run-1")) - projects(df) == 1
