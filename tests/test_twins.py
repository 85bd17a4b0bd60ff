"""Spark/DuckDB twins in ``functions``: each pair computes one value on both
engines, so every oracle that embeds the DuckDB half replays its Spark half."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.functions.exprs import duck_md5_32, spark_md5_32
from my_favorite_etl_pipeline_spark.functions.text import (
    DUCK_SHINGLES,
    duck_held_out,
    duck_jaccard_pairs,
    shingles,
    spark_held_out,
)
from my_favorite_etl_pipeline_spark.operators.dedup import near_dup_pairs
from my_favorite_etl_pipeline_spark.sources.tables import load

STRINGS = ("", "abc", "abc#0", "héllo wörld", "0", "the quick brown fox")


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_md5_twins_match_hashlib(spark):
    want = [_md5_32(s) for s in STRINGS]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(STRINGS)], "i int, s string")
    got_spark = [r.h for r in df.orderBy("i").select(spark_md5_32(F.col("s")).alias("h")).collect()]
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(STRINGS))
    got_duck = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {duck_md5_32('s')} FROM (VALUES {values}) t(i, s) ORDER BY i"
        ).fetchall()
    ]
    assert got_spark == got_duck == want


def test_md5_fragment_does_not_capture_a_caller_lambda_variable(spark):
    """A caller's lambda variable ``i`` inside the hashed expression must
    stay the caller's: each element hashes its own ``'abc#<i>'``."""
    want = [_md5_32(f"abc#{i}") for i in range(3)]
    duck = duckdb.sql(
        "SELECT list_transform(range(3), i -> "
        + duck_md5_32("'abc' || '#' || CAST(i AS VARCHAR)")
        + ")"
    ).fetchone()[0]
    sp = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: spark_md5_32(F.concat_ws("#", F.lit("abc"), i.cast("string"))),
        ).alias("h")
    ).first().h
    assert list(duck) == sp == want


def test_held_out_twins_select_the_same_ids(spark):
    ids = range(2000)
    for col in ("doc_id", "vec_id"):
        df = spark.createDataFrame([(i,) for i in ids], f"{col} long")
        got_spark = {r[0] for r in df.filter(spark_held_out(col)).collect()}
        got_duck = {
            r[0]
            for r in duckdb.sql(
                f"SELECT {col} FROM range(2000) t({col}) WHERE {duck_held_out(col)}"
            ).fetchall()
        }
        want = {i for i in ids if hashlib.md5(str(i).encode()).hexdigest()[0] == "0"}
        assert got_spark == got_duck == want
        assert 0 < len(want) < len(ids)


def test_shingle_cte_matches_spark_shingles(spark, sf_dir):
    """``DUCK_SHINGLES`` yields ``shingles(text, 3)`` per document: on the
    fixture corpus plus short, repeated and single-token texts."""
    extra = [(-1, ""), (-2, "a b"), (-3, "a b c"), (-4, "x y x y x y"), (-5, "one")]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(extra, "doc_id long, text string")
    )
    got_spark = {
        r.doc_id: sorted(r.s) for r in docs.select("doc_id", shingles("text").alias("s")).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents_fixture AS SELECT doc_id, text FROM '{sf_dir}/documents.parquet'")
    values = ", ".join(f"({i}, '{t}')" for i, t in extra)
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM documents_fixture "
        f"UNION ALL SELECT * FROM (VALUES {values}) t(doc_id, text)"
    )
    got_duck = {
        d: sorted(s) for d, s in con.execute(f"WITH {DUCK_SHINGLES} SELECT doc_id, s FROM sh").fetchall()
    }
    assert got_spark == got_duck
    assert got_spark[-4] == ["x y x", "y x y"] and got_spark[-2] == []


def _two_docs(shared: int, tail: int) -> list[tuple[int, str]]:
    """Two documents sharing a run of ``shared`` distinct tokens, each
    followed by ``tail`` tokens of its own."""
    run = [f"s{i}" for i in range(shared)]
    return [(d, " ".join(run + [f"t{d}_{i}" for i in range(tail)])) for d in (1, 2)]


@pytest.mark.parametrize(
    "shared, tail, want",
    [
        # 1,918 shingles each, 1,817 shared: J = 1817/2019 = 0.89995, which
        # rounds to 0.9 but is below it — dropped on both engines
        (1819, 101, []),
        # 19 shingles each, 18 shared: J = 18/20, exactly the threshold
        (20, 1, [(1, 2, 0.9)]),
    ],
)
def test_jaccard_pair_twins_filter_before_rounding(spark, shared, tail, want):
    docs = _two_docs(shared, tail)
    got_spark = [
        tuple(r)
        for r in near_dup_pairs(
            spark.createDataFrame(docs, "doc_id long, text string"), threshold=0.9
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    got_duck = con.execute(
        f"WITH {duck_jaccard_pairs(0.9)} SELECT id_a, id_b, ROUND(j, 4) FROM jp"
    ).fetchall()
    assert got_spark == got_duck == want
