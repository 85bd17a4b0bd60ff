"""HNSW three-layer router: the small-corpus fallback (VERDICT r12 item 3).

Pre-fix, a corpus too small to promote anything to layer 2 (md5 % 64 == 0
over ≲ a few hundred ids can select nothing) made the three-layer router
seed layer 1 from an EMPTY routed set — the whole search silently returned
zero rows, and the DuckDB oracle agreed because it replayed the same rule
(the masked-green class: the check cannot catch what the spec gets wrong).

The fix routes layer 1 from its own rank-strided entries whenever layer 2
is empty (the degraded hierarchy is exactly the two-layer router), mirrored
in the oracle by a ``NOT EXISTS (SELECT 1 FROM hu2)`` union arm. This test
pins it on a 50-vector fixture where the layer-2 promoted set is provably
empty: the search must return a full non-empty top-k, and Spark and DuckDB
must agree row for row THROUGH the fallback path.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import duckdb
import pytest

from my_favorite_etl_pipeline_spark.plans.graph import _HN_MOD
from my_favorite_etl_pipeline_spark.registry import REGISTRY

N_VECS = 50
DIM = 64


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_fixture_is_in_the_fallback_regime():
    """The premise: 50 ids promote 0 nodes to layer 2 but ≥4 to layer 1.
    If _HN_MOD changes and this breaks, pick a new fixture size."""
    l2 = [i for i in range(N_VECS) if _md5_32(str(i)) % (_HN_MOD * _HN_MOD) == 0]
    l1 = [i for i in range(N_VECS) if _md5_32(str(i)) % _HN_MOD == 0]
    assert l2 == [], l2
    assert len(l1) >= 4, l1


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("hnsw_small"))
    rng = random.Random(20260816)
    rows = []
    for i in range(N_VECS):
        v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((i, [float(x / n) for x in v], i % 8))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(root, "embeddings.parquet"))
    return root


def test_three_layer_search_non_empty_and_oracle_identical(spark, fixture_dir):
    q = REGISTRY["hnsw_three_layer_search"]
    got = q.fn(spark, fixture_dir).collect()
    assert len(got) > 0, "fallback must produce a non-empty routed result"
    spark_rows = sorted((r.vec_id, r.cos_sim) for r in got)

    con = duckdb.connect()
    glob = os.path.join(fixture_dir, "embeddings.parquet", "*.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{glob}')"
    )
    duck_rows = sorted(
        (int(v), float(c)) for v, c in con.execute(q.oracle).fetchall()
    )
    assert spark_rows == duck_rows


# ---------------------------------------------------------------------------
# the DEEPEST branch (self-review r13): layer 1 ALSO empty — every router
# must cascade to rank-strided layer-0 entries (the flat search) instead of
# silently returning nothing. 16 ids chosen so md5_32(id) % 8 != 0 for all.

TINY_IDS = [0, 2, 3, 4, 5, 6, 7, 8, 9, 11, 12, 14, 15, 17, 18, 19]


def test_tiny_fixture_promotes_nothing_to_layer_1():
    assert all(_md5_32(str(i)) % _HN_MOD != 0 for i in TINY_IDS)


@pytest.fixture(scope="module")
def tiny_dir(spark, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("hnsw_tiny"))
    rng = random.Random(20260817)
    rows = []
    for i in TINY_IDS:
        v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((i, [float(x / n) for x in v], i % 8))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(root, "embeddings.parquet"))
    return root


@pytest.mark.parametrize(
    "entry", ["hnsw_two_layer_search", "hnsw_three_layer_search"]
)
def test_routers_cascade_to_layer0_when_all_layers_empty(spark, tiny_dir, entry):
    q = REGISTRY[entry]
    got = q.fn(spark, tiny_dir).collect()
    assert len(got) > 0, "layer-0 cascade must produce a non-empty result"
    spark_rows = sorted((r.vec_id, r.cos_sim) for r in got)
    con = duckdb.connect()
    glob = os.path.join(tiny_dir, "embeddings.parquet", "*.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{glob}')"
    )
    duck_rows = sorted(
        (int(v), float(c)) for v, c in con.execute(q.oracle).fetchall()
    )
    assert spark_rows == duck_rows
