"""Fixed per-query overhead: Spark job budgets of the text-curation, graph
search, near-dup, centroid-cell and curation-rule queries, the DSIR
weight-table and bloom-verify plans, text kernels evaluated once per row,
and the parquet schema memo behind ``load``."""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.caching import materialized_scope
from my_favorite_etl_pipeline_spark.functions.exprs import lambda_prefilters
from my_favorite_etl_pipeline_spark.functions.text import word_features
from my_favorite_etl_pipeline_spark.registry import REGISTRY
from my_favorite_etl_pipeline_spark.session import CACHED_PLAN_AQE
from my_favorite_etl_pipeline_spark.sources.tables import load, parquet_schema


def _jobs_to_build_and_run(spark, sf_dir: str, name: str) -> int:
    """Spark jobs one scoped build + ``noop`` write of a registered query
    launches on a warm process (the schema memo already filled)."""
    fn = REGISTRY[name].fn
    with materialized_scope():
        fn(spark, sf_dir)  # warm the process-wide memos
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"test-job-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        with materialized_scope():
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Measured before the schema memo and the window-summed DSIR totals: 7
# (simhash) and 12 (dsir) jobs. Each load paid a schema-inference job, and
# DSIR aggregated its bucket counts a second time to feed a broadcast
# cross join.
@pytest.mark.parametrize(
    "name, budget",
    [("simhash_near_dups_portable", 6), ("dsir_importance_resample", 8)],
)
def test_text_query_job_budget(spark, sf_dir, set_conf, name, budget):
    set_conf(spark, CACHED_PLAN_AQE, "true")  # as the engine's sessions run
    assert _jobs_to_build_and_run(spark, sf_dir, name) == budget


# The six graph searches share one query-keyed walk. Measured before it
# on this fixture: topk 25, durable 26, batch 30, two-layer 42,
# three-layer 57, routed 49 jobs. A batched search scored its queries
# through a broadcast join (one build job per score), every search read
# the committed edge table it no longer uses, and each routed layer
# collected the query vectors again. Then topk 24, durable 26, batch 24,
# two-layer 40, three-layer 54, routed 40: each committed-artifact read
# inferred its parquet schema (one job per table), and each layer entered
# at rank strides counted its nodes before collecting them. The durable
# search kept that inference (26) until it read its two marts with the
# committed schemas.
@pytest.mark.parametrize(
    "name, budget",
    [
        ("graph_ann_search_topk", 22),
        ("graph_ann_search_durable", 24),
        ("graph_ann_search_batch", 22),
        ("hnsw_two_layer_search", 36),
        ("hnsw_three_layer_search", 50),
        ("hnsw_batch_routed_search", 36),
    ],
)
def test_graph_search_job_budget(spark, sf_dir, set_conf, name, budget):
    set_conf(spark, CACHED_PLAN_AQE, "true")
    assert _jobs_to_build_and_run(spark, sf_dir, name) == budget


# The Jaccard near-dup family shares one pair function (prefix filter +
# exact verify). Measured before it on this fixture: cluster 38, star 52,
# keep-best 40, ssjoin 15, source overlap 31, PageRank canonical 69,
# leakage split 38, MinHash 11 jobs. Entries that iterate connected
# components or broadcast vary by a job or two between identical runs, at
# the parent too (AQE submits query stages as asynchronous jobs), so each
# budget is a ceiling: the highest count seen over five runs (keep-best:
# over twelve, where it ran 35-37 jobs).
@pytest.mark.parametrize(
    "name, budget",
    [
        ("dedup_cluster_components", 35),
        ("dedup_cluster_components_star", 49),
        ("dedup_keep_best", 37),
        ("ssjoin_prefix_filter", 12),
        ("source_overlap_matrix", 26),
        ("dedup_canonical_pagerank", 66),
        ("leakage_safe_split", 35),
        ("minhash_near_dups", 11),
    ],
)
def test_near_dup_family_job_budget(spark, sf_dir, set_conf, name, budget):
    set_conf(spark, CACHED_PLAN_AQE, "true")
    assert _jobs_to_build_and_run(spark, sf_dir, name) <= budget


# The centroid-cell family shares one assignment, one probe and one
# committed k-means/PQ index. Measured before them on this fixture (three
# runs): ivf 6, ivf_kmeans 26, ivf_kmeans_probe6 26, ivf_batch 16, pq_adc
# 10, ivf_pq 16, semdedup 11-12, top2 11, auto_k 13, prototype 13, topic
# cards 40, semantic decontamination 11-12, ivf recall 22, cell size 11,
# ranking 23-24 jobs. The k-means IVF pair and the topic cards retrained
# the index inline on every call. Each budget is a ceiling, the highest
# count seen (AQE's asynchronous stage jobs vary between identical runs).
@pytest.mark.parametrize(
    "name, budget",
    [
        ("embedding_topk_ivf", 6),
        ("embedding_topk_ivf_kmeans", 5),
        ("embedding_topk_ivf_kmeans_probe6", 5),
        ("embedding_topk_ivf_batch", 16),
        ("embedding_topk_pq_adc", 10),
        ("embedding_topk_ivf_pq", 16),
        ("semdedup_cluster_pairs", 12),
        ("semdedup_cluster_pairs_top2", 13),
        ("semdedup_cluster_pairs_auto_k", 13),
        ("prototype_prune_d4", 13),
        ("topic_cluster_cards", 12),
        ("semantic_decontaminate_topk", 12),
        ("ivf_recall_report", 22),
        ("ann_cell_size_report", 11),
        ("ann_ranking_report", 23),
    ],
)
def test_centroid_cell_family_job_budget(spark, sf_dir, set_conf, name, budget):
    set_conf(spark, CACHED_PLAN_AQE, "true")
    assert _jobs_to_build_and_run(spark, sf_dir, name) <= budget


# The 13-gram decontamination and curation-rule family shares one
# positional gram frame, one held-out gram set, one flag aggregate, one
# feature bag and one Gopher gate per engine. Measured before that on this
# fixture (two fresh processes agreed): flag 6, bloom 10, excise 10, span
# profile 7, funnel 104, greedy coverage 62, batched coverage 26, novelty
# 9, Gopher flags 3, ablation 5, linear classifier 4, GD scores 13, DSIR
# Gumbel 8, repetition 8 jobs. The bloom verify then ran two
# countDistincts (an Expand), and excision persisted a re-split copy of
# each side before building its grams. The streaming entry is left out:
# its jobs run on the stream thread. Each budget is a ceiling (AQE's
# asynchronous stage jobs vary between identical runs).
@pytest.mark.parametrize(
    "name, budget",
    [
        ("contamination_13gram", 6),
        ("decontaminate_bloom_13gram", 9),
        ("decontaminate_excise_13gram", 6),
        ("contamination_span_profile", 7),
        ("curation_funnel_report", 104),
        ("greedy_gram_coverage_select", 62),
        ("greedy_coverage_select_batched", 26),
        ("gram_novelty_scores", 9),
        ("gopher_quality_flags", 3),
        ("filter_ablation_matrix", 5),
        ("quality_classifier_linear", 4),
        ("quality_classifier_gd_scores", 13),
        ("dsir_gumbel_topk_sample", 8),
        ("repetition_filter", 8),
    ],
)
def test_curation_family_job_budget(spark, sf_dir, set_conf, name, budget):
    set_conf(spark, CACHED_PLAN_AQE, "true")
    assert _jobs_to_build_and_run(spark, sf_dir, name) <= budget


def test_dsir_weights_aggregate_counts_once_without_a_cross_join(spark, sf_dir):
    with materialized_scope():
        qe = REGISTRY["dsir_importance_resample"].fn(spark, sf_dir)._jdf.queryExecution()
        optimized, physical = qe.optimizedPlan().toString(), qe.executedPlan().toString()
    # the bucket-count aggregate is the only one grouped on ``b`` alone
    assert len(re.findall(r"Aggregate \[b#\d+L?\]", optimized)) == 1
    assert "BroadcastNestedLoopJoin" not in physical
    assert "CartesianProduct" not in physical


def test_bloom_verify_plans_no_expand(spark, sf_dir):
    """The bloom entry's verify shares the flag entry's one-pass
    ``size(collect_set)`` aggregate; two ``countDistinct``s would plan an
    ``Expand`` that doubles the joined rows."""
    with materialized_scope():
        qe = REGISTRY["decontaminate_bloom_13gram"].fn(spark, sf_dir)._jdf.queryExecution()
        optimized, physical = qe.optimizedPlan().toString(), qe.executedPlan().toString()
    assert "Expand" not in optimized
    assert "Expand" not in physical


# Each of these explodes a projected text-kernel array. With plain
# explode/posexplode Catalyst inferred a non-empty pre-filter from the
# generator and pushed it, kernel inlined, below the round-robin fan-out:
# the SimHash fold or the shingle array ran a second time on the scan's
# single task.
@pytest.mark.parametrize(
    "name", ["simhash_near_dups", "simhash_near_dups_portable", "ngram_jaccard_pairs"]
)
def test_no_text_kernel_in_an_inferred_prefilter(spark, sf_dir, name):
    with materialized_scope():
        assert lambda_prefilters(REGISTRY[name].fn(spark, sf_dir)) == []


def test_fixed_point_means_infers_no_prefilter(spark, tmp_path):
    """The mean's generator infers no ``size(...) > 0`` pre-filter (which
    would re-run the projected element cast below its projection), and
    an empty or NULL vector adds nothing to its group's mean."""
    from my_favorite_etl_pipeline_spark.operators.similarity import _dbl, fixed_point_means

    path = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(1, [1, 3]), (1, []), (1, None), (2, [2, 4]), (3, [])], "k int, e array<int>"
    ).write.parquet(path)
    rows = spark.read.parquet(path).select("k", _dbl(F.col("e")).alias("v"))
    means = fixed_point_means(rows, ["k"], "v")
    assert lambda_prefilters(means) == []
    assert sorted((r.k, r.centroid) for r in means.collect()) == [
        (1, [1.0, 3.0]), (2, [2.0, 4.0])
    ]


def test_word_features_splits_the_text_once(spark):
    """The bigram lambda reads the let-bound token array; an unbound
    ``split`` there is evaluated again for every bigram."""
    df = spark.createDataFrame([("a b c",)], "text string")
    plan = df.select(word_features("text").alias("f"))._jdf.queryExecution().analyzed()
    assert plan.toString().count("split(") == 1


def _write_documents(path, **extra):
    cols = {"doc_id": [1, 2], "text": ["a b", "c d"], **extra}
    pq.write_table(pa.table(cols), path)


def test_load_sees_a_file_rewritten_at_the_same_path(spark, tmp_path):
    """The schema memo is keyed on file identity, not on the path: a
    table rewritten in place with an extra column loads with it."""
    path = tmp_path / "documents.parquet"
    _write_documents(path)
    assert load(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    _write_documents(path, lang=["en", "de"])
    df = load(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text", "lang"]
    assert sorted(r.lang for r in df.collect()) == ["de", "en"]


def test_load_repairs_nanosecond_columns_of_a_rewritten_file(spark, tmp_path):
    """The TIMESTAMP(NANOS) column list shares that memo: a rewrite that
    adds a nanosecond column is repaired to a microsecond timestamp."""
    path = tmp_path / "documents.parquet"
    _write_documents(path)
    load(spark, str(tmp_path), "documents").collect()
    ts = pa.array([1_700_000_000_123_456_789, 0], pa.timestamp("ns", tz="UTC"))
    _write_documents(path, ts=ts)
    df = load(spark, str(tmp_path), "documents")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts.timestamp() for r in df.collect())
    assert got == pytest.approx([0.0, 1_700_000_000.123456])


def test_directory_schema_is_keyed_on_its_part_files(spark, tmp_path):
    part = tmp_path / "t" / "part-0.parquet"
    part.parent.mkdir()
    _write_documents(part)
    assert parquet_schema(spark, str(part.parent))[0].names == ["doc_id", "text"]
    _write_documents(part, lang=["en", "de"])
    assert parquet_schema(spark, str(part.parent))[0].names == ["doc_id", "text", "lang"]
