"""Session confs: the engine's sessions run cached plans with full AQE, and
results do not depend on it or on any other engine conf being preset."""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest

import __spark_entry__ as entrymod
from my_favorite_etl_pipeline_spark.caching import materialized_scope
from my_favorite_etl_pipeline_spark.registry import REGISTRY
from my_favorite_etl_pipeline_spark.session import (
    CACHED_PLAN_AQE,
    RUNTIME_CONFS,
    get_spark,
    tune_session,
)


def _cell(v):
    if isinstance(v, float) and not math.isnan(v):
        return f"{v:.9g}"
    if isinstance(v, list):
        return [_cell(x) for x in v]
    return v


def _rows(build, ordered: bool):
    """Rows of ``build()``, built and collected inside one scope."""
    with materialized_scope():
        rows = [tuple(_cell(v) for v in r) for r in build().collect()]
    return rows if ordered else sorted(rows, key=repr)


@contextmanager
def _confs_restored(spark):
    """``get_spark`` returns the running session with all of its confs
    applied; put every one of them back for the tests that follow."""
    before = spark.conf.getAll
    try:
        yield
    finally:
        for key, value in spark.conf.getAll.items():
            if not spark.conf.isModifiable(key):
                continue
            if key not in before:
                spark.conf.unset(key)
            elif value != before[key]:
                spark.conf.set(key, before[key])


def test_get_spark_and_tune_session_set_the_cached_plan_conf(spark, set_conf):
    set_conf(spark, CACHED_PLAN_AQE, None)
    tuned = tune_session(spark.newSession())
    assert tuned.conf.get(CACHED_PLAN_AQE) == "true"
    assert spark.conf.get(CACHED_PLAN_AQE, None) is None
    with _confs_restored(spark):
        assert get_spark().conf.get(CACHED_PLAN_AQE) == "true"


def test_both_session_paths_set_every_runtime_conf(spark, set_conf):
    """``tune_session`` sets every ``RUNTIME_CONFS`` entry and nothing
    else (the caller keeps its shuffle partitions); ``get_spark`` sets
    every entry too."""
    s = spark.newSession()
    for key, _ in RUNTIME_CONFS:
        s.conf.unset(key)
    s.conf.set("spark.sql.shuffle.partitions", "3")
    before = s.conf.getAll
    after = tune_session(s).conf.getAll
    assert {key: after.get(key) for key, _ in RUNTIME_CONFS} == dict(RUNTIME_CONFS)
    changed = {k for k in set(before) | set(after) if before.get(k) != after.get(k)}
    assert changed <= {key for key, _ in RUNTIME_CONFS}
    assert after["spark.sql.shuffle.partitions"] == "3"

    for key, _ in RUNTIME_CONFS:
        set_conf(spark, key, None)
    with _confs_restored(spark):
        built = get_spark().conf
        assert {key: built.get(key) for key, _ in RUNTIME_CONFS} == dict(RUNTIME_CONFS)


@pytest.mark.parametrize(
    "name, ordered",
    [
        ("dsir_importance_resample", True),
        ("dsir_gumbel_topk_sample", True),
        ("simhash_near_dups_portable", False),
        ("tfidf_topk_similar_docs", True),  # presentation_sort consumer
    ],
)
def test_cached_plan_conf_leaves_rows_unchanged(spark, sf_dir, set_conf, name, ordered):
    fn = REGISTRY[name].fn
    set_conf(spark, CACHED_PLAN_AQE, "true")
    on = _rows(lambda: fn(spark, sf_dir), ordered)
    set_conf(spark, CACHED_PLAN_AQE, "false")
    off = _rows(lambda: fn(spark, sf_dir), ordered)
    assert on and on == off


# the SQL confs get_spark or tune_session set; a session created outside the
# engine has none of them until the entry point tunes it
ENGINE_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.adaptive.enabled",
    CACHED_PLAN_AQE,
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
)

# one registered entry per family of the first-50 window pinned by
# tests/test_registry_order.py, the graph serving band included
VANILLA_SAMPLE = (
    "q1_pricing_summary",
    "merge_upsert",
    "transform_chain",
    "anomalous_hours_mad",
    "fk_orphan_audit",
    "dedup_exact_groups",
    "simhash_near_dups_portable",
    "containment_overlap_pairs",
    "embedding_topk_bruteforce",
    "graph_ann_search_topk",
    "lang_id_heuristic",
    "dsir_importance_resample",
    "doremi_domain_weights",
    "weighted_sample_es_topn",
    "pack_efficiency_report",
    "mart_snapshot_diff",
    "multimodal_resize_8x8",
    "docstore_lang_source_stats",
    "stream_tumbling_hourly",
)


@pytest.fixture(scope="module")
def vanilla(spark):
    """A session with Spark's default SQL conf, as an outside caller has it."""
    s = spark.newSession()
    for key in ENGINE_KEYS:
        s.conf.unset(key)
    return s


@contextmanager
def _active(session, restore):
    """Make ``session`` the JVM's active session, as a caller's own
    session is; Python data sources are looked up on the active one."""
    jvm_session = session._jvm.org.apache.spark.sql.SparkSession
    jvm_session.setActiveSession(session._jsparkSession)
    try:
        yield
    finally:
        jvm_session.setActiveSession(restore._jsparkSession)


@pytest.mark.parametrize("name", VANILLA_SAMPLE)
def test_default_conf_session_matches_the_tuned_one(spark, vanilla, sf_dir, name):
    with _active(vanilla, restore=spark):
        got = _rows(lambda: entrymod.queries()[name](vanilla, sf_dir), ordered=False)
    assert got == _rows(lambda: REGISTRY[name].fn(spark, sf_dir), ordered=False)
