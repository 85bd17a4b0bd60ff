"""The integer-cosine contract's small-norm guard (ADVICE r11).

``int_cos_x1e4``'s ``+2·sa·sb`` offset only keeps the dividend nonnegative
when both quantized norms are ≥ 2 (exact isqrt gives Σq² ≤ s²+2s, so
Cauchy-Schwarz bounds |Σqa·qb| ≤ √((sa²+2sa)(sb²+2sb)) ≤ 2·sa·sb for
sa,sb ≥ 2 — tight at sa=sb=2). With sa = sb = 1
a negative dot of −3 makes the dividend −10⁴ — the regime where Spark's
pmod-floor and DuckDB's truncating ``//`` can split, and where the score
could leave [−10⁴, 10⁴]. Both implementations now route sa < 2 OR sb < 2
through the zero branch; these tests pin the guard on BOTH engines plus the
in-range invariant it restores.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.operators.similarity import (
    int_cos_x1e4,
    quantize_vectors,
)
from my_favorite_etl_pipeline_spark.functions.vectors import duck_int_cos

DIM = 64


def _vec(*head: float) -> list[float]:
    return list(head) + [0.0] * (DIM - len(head))


# (name, vector-a, vector-b): tiny-magnitude pairs that hit the guard and
# unit-scale controls that must keep their real scores.
CASES = [
    # sa = sb = 1, dot = -3: the ADVICE counterexample (pre-guard score
    # -30000 on Spark — out of the contract range entirely)
    ("tiny_antiparallel", _vec(1e-4, 1e-4, 1e-4), _vec(-1e-4, -1e-4, -1e-4)),
    # sa = sb = 1, dot = +3 (pre-guard +30000)
    ("tiny_parallel", _vec(1e-4, 1e-4, 1e-4), _vec(1e-4, 1e-4, 1e-4)),
    # sa = 1 against a unit-scale vector
    ("tiny_vs_unit", _vec(1e-4, 1e-4), _vec(0.6, 0.8)),
    # zero vector (the original den = 0 branch, still zero)
    ("zero_vs_unit", _vec(0.0), _vec(0.6, 0.8)),
    # controls: unit-scale pairs keep real scores
    ("unit_parallel", _vec(0.6, 0.8), _vec(0.6, 0.8)),
    ("unit_antiparallel", _vec(0.6, 0.8), _vec(-0.6, -0.8)),
    ("unit_orthogonal", _vec(1.0, 0.0), _vec(0.0, 1.0)),
]


@pytest.fixture(scope="module")
def scores(spark):
    rows = [(i, a, b) for i, (_, a, b) in enumerate(CASES)]
    df = spark.createDataFrame(
        rows, "pair_id long, va array<float>, vb array<float>"
    )
    # the engine always quantizes array<double> (__v comes through _dbl in
    # every similarity path); feeding raw float32 would multiply in float
    # and land on different floor cells than the oracle's CAST AS DOUBLE
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    qa = quantize_vectors(df.select("pair_id", dbl("va").alias("__v")))
    qb = quantize_vectors(df.select("pair_id", dbl("vb").alias("__v")))
    joined = qa.alias("a").join(qb.alias("b"), "pair_id").select(
        "pair_id",
        F.col("a.__s").alias("sa"),
        F.col("b.__s").alias("sb"),
        int_cos_x1e4(
            F.col("a.__q"), F.col("a.__s"), F.col("b.__q"), F.col("b.__s")
        ).alias("score"),
    )
    spark_rows = {r.pair_id: r for r in joined.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pairs(pair_id BIGINT, va FLOAT[], vb FLOAT[])"
    )
    con.executemany(
        "INSERT INTO pairs VALUES (?, ?, ?)", [(i, a, b) for i, a, b in rows]
    )
    q = """
    WITH q AS (
      SELECT pair_id,
             LIST_TRANSFORM(va, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qa,
             LIST_TRANSFORM(vb, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qb
      FROM pairs
    ),
    s AS (
      SELECT pair_id, qa, qb,
             CAST(LIST_SUM(LIST_TRANSFORM(qa, x -> x * x)) AS BIGINT) AS na2,
             CAST(LIST_SUM(LIST_TRANSFORM(qb, x -> x * x)) AS BIGINT) AS nb2
      FROM q
    ),
    n AS (
      SELECT pair_id, qa, qb,
             CASE WHEN (sa0 + 1) * (sa0 + 1) <= na2 THEN sa0 + 1
                  WHEN sa0 * sa0 > na2 THEN sa0 - 1 ELSE sa0 END AS sa,
             CASE WHEN (sb0 + 1) * (sb0 + 1) <= nb2 THEN sb0 + 1
                  WHEN sb0 * sb0 > nb2 THEN sb0 - 1 ELSE sb0 END AS sb
      FROM (SELECT *, CAST(FLOOR(SQRT(CAST(na2 AS DOUBLE))) AS BIGINT) AS sa0,
                       CAST(FLOOR(SQRT(CAST(nb2 AS DOUBLE))) AS BIGINT) AS sb0
            FROM s)
    )
    SELECT pair_id, {score} AS score FROM n ORDER BY pair_id
    """.format(score=duck_int_cos("qa", "sa", "qb", "sb"))
    duck_rows = dict(con.execute(q).fetchall())
    return spark_rows, duck_rows


def test_guard_zeroes_small_norm_pairs(scores):
    spark_rows, _ = scores
    for i, (name, _, _) in enumerate(CASES):
        r = spark_rows[i]
        if name.startswith(("tiny", "zero")):
            assert min(r.sa, r.sb) < 2, (name, r.sa, r.sb)
            assert r.score == 0, (name, r.score)
        else:
            assert min(r.sa, r.sb) >= 2, (name, r.sa, r.sb)
            assert r.score != 0 or name == "unit_orthogonal", name


def test_spark_and_duckdb_scores_bit_identical(scores):
    spark_rows, duck_rows = scores
    for i, (name, _, _) in enumerate(CASES):
        assert spark_rows[i].score == duck_rows[i], (
            name,
            spark_rows[i].score,
            duck_rows[i],
        )


def test_scores_stay_in_contract_range(scores):
    """The quantized score's true bound is norm-dependent: |score| <
    10⁴·(1+1/sa)(1+1/sb) + 1 (floor quantization slop) — the pre-guard
    defect was scores like ±30000 from sa = sb = 1, NOT the ±1 slop a
    10⁴-norm pair legitimately shows."""
    spark_rows, _ = scores
    for i, (name, _, _) in enumerate(CASES):
        r = spark_rows[i]
        if min(r.sa, r.sb) < 2:
            assert r.score == 0, (name, r.score)
        else:
            bound = 10_000 * (1 + 1 / r.sa) * (1 + 1 / r.sb) + 1
            assert abs(r.score) <= bound, (name, r.score, bound)
