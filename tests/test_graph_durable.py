"""Durable graph-ANN posture (r10): build-once-serve-many over
manifest-committed VersionedMart tables.

Pins the contract the registered ``graph_ann_search_durable`` entry adds on
top of the session-parquet posture: the committed snapshot round-trips the
graph exactly, a FRESH mart handle (the restart stand-in — no session memo,
no rebuild) serves the identical search answer, and re-committing a new
corpus version preserves time travel to the old graph.
"""

from __future__ import annotations

import os

import pytest

from my_favorite_etl_pipeline_spark.plans.graph import (
    _knn_refined_tables,
    graph_beam_search,
    materialize_knn_graph,
)
from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="fixture tables absent"
)


def _n(spark):
    from my_favorite_etl_pipeline_spark.sources.tables import load

    return load(spark, SF_DIR, "embeddings").count()


def test_durable_commit_roundtrips_graph_exactly(spark, tmp_path):
    root = str(tmp_path / "graph")
    am, em = materialize_knn_graph(spark, SF_DIR, root)
    assign, work = _knn_refined_tables(spark, SF_DIR)
    live = {(r.src_id, r.nbr_id, r.cos_sim) for r in work.collect()}
    committed = {(r.src_id, r.nbr_id, r.cos_sim) for r in em.read(spark).collect()}
    assert committed == live and len(committed) > 0
    assert am.read(spark).count() == assign.count()
    assert em.current_version() == "v1"


def test_fresh_handle_serves_identical_search_without_rebuild(spark, tmp_path):
    """The restart semantics: a brand-new VersionedMart handle over the
    committed root (no session state, no graph memo touched) yields the
    same beam-search answer as the session-materialized posture."""
    root = str(tmp_path / "graph")
    materialize_knn_graph(spark, SF_DIR, root)
    # fresh handles, as a new process would construct them
    assign = VersionedMart(os.path.join(root, "assign")).read(spark)
    edges = VersionedMart(os.path.join(root, "edges")).read(spark)
    n = _n(spark)
    served = graph_beam_search(spark, assign, edges, n).collect()
    sa, sw = _knn_refined_tables(spark, SF_DIR)
    session = graph_beam_search(spark, sa, sw.select("src_id", "nbr_id", "cos_sim"), n).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in session]
    assert len(served) > 0


def test_recommit_preserves_time_travel_to_prior_graph(spark, tmp_path):
    """A corpus refresh commits v2; keep=2 retains v1 for time travel —
    the rollback story a serving deployment needs when a bad graph ships."""
    root = str(tmp_path / "graph")
    _, em = materialize_knn_graph(spark, SF_DIR, root)
    v1 = {(r.src_id, r.nbr_id) for r in em.read(spark).collect()}
    _, work = _knn_refined_tables(spark, SF_DIR)
    trimmed = work.select("src_id", "nbr_id", "cos_sim").limit(10)
    em.commit(trimmed, "v2", keep=2)
    assert em.current_version() == "v2"
    assert em.read(spark).count() == 10
    assert {(r.src_id, r.nbr_id) for r in em.read(spark, version="v1").collect()} == v1


def test_search_without_query_vector_fails_loudly(spark):
    assign, edges = _knn_refined_tables(spark, SF_DIR)
    with pytest.raises(ValueError, match="query vector 0 missing from assign"):
        graph_beam_search(spark, assign.filter("vec_id != 0"), edges, _n(spark))
