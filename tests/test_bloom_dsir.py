"""Engine-side invariants for the r8 scale-path curation operators
(plans/llm_ext7.py): the Bloom-prefiltered decontamination must be exactly
lossless vs the plain equi-join algorithm, its bit table must stay bounded
and broadcast, and the DSIR selection must respect its rank contract.
"""

from pyspark.sql import functions as F

from my_favorite_etl_pipeline_spark.registry import REGISTRY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bloom_decontamination_equals_exact_algorithm(spark, sf_dir):
    """The Bloom stage is a lossless prefilter: the final flag list must be
    row-identical to contamination_13gram's (two independent algorithms,
    one contract — the minhash/ssjoin precedent)."""
    exact = {
        (r.doc_id, r.n_grams_hit, r.n_bench_docs)
        for r in REGISTRY["contamination_13gram"].fn(spark, sf_dir).collect()
    }
    bloom = {
        (r.doc_id, r.n_grams_hit, r.n_bench_docs)
        for r in REGISTRY["decontaminate_bloom_13gram"].fn(spark, sf_dir).collect()
    }
    assert bloom == exact and exact  # nonempty at every fixture scale


def test_bloom_table_bounded_and_probe_broadcasts(spark, sf_dir):
    from my_favorite_etl_pipeline_spark.functions import text as TX
    from my_favorite_etl_pipeline_spark.plans.curation import (
        _BLOOM_BITS,
        bench_gram_bloom,
        bloom_probe_candidates,
    )
    from my_favorite_etl_pipeline_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(TX.shingles(F.col("text"), n=13)).alias("g")
    )
    bloom = bench_gram_bloom(g.select("g").distinct())
    # the bit table NEVER exceeds m/64 rows no matter how many grams feed it
    assert bloom.count() <= _BLOOM_BITS // 64
    cand = bloom_probe_candidates(g, bloom)
    assert "BroadcastHashJoin" in _plan(cand)
    # no false negatives: probing the builder's own grams keeps every row
    assert cand.count() == g.count()


def test_dsir_rank_contract(spark, sf_dir):
    rows = REGISTRY["dsir_importance_resample"].fn(spark, sf_dir).collect()
    assert rows
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    ws = [r.dsir_logw for r in rows]
    assert all(a >= b for a, b in zip(ws, ws[1:]))  # non-increasing scores
    # only RAW documents are scored/selected — the target slice never
    # self-selects (it defines the distribution, it is not a candidate)
    from my_favorite_etl_pipeline_spark.functions.text import spark_held_out as _bench_pred
    from my_favorite_etl_pipeline_spark.sources.tables import load

    bench = {
        r.doc_id
        for r in load(spark, sf_dir, "documents")
        .filter(_bench_pred())
        .select("doc_id")
        .collect()
    }
    assert not ({r.doc_id for r in rows} & bench)


def test_knn_graph_contract(spark, sf_dir):
    """Directed kNN edges: no self-loops, per-source ranks contiguous from
    1, similarities non-increasing in rank, and every neighbor shares the
    source's nearest-centroid cell (the documented candidate bound)."""
    from collections import defaultdict

    from my_favorite_etl_pipeline_spark.operators.similarity import nearest_centroid
    from my_favorite_etl_pipeline_spark.sources.tables import load

    rows = REGISTRY["knn_graph_topk"].fn(spark, sf_dir).collect()
    assert rows
    by_src = defaultdict(list)
    for r in rows:
        assert r.src_id != r.nbr_id
        by_src[r.src_id].append(r)
    cell = {
        r.vec_id: r.cluster
        for r in nearest_centroid(load(spark, sf_dir, "embeddings"), k=8)
        .select("vec_id", "cluster")
        .collect()
    }
    for src, es in by_src.items():
        es.sort(key=lambda r: r.rank)
        assert [e.rank for e in es] == list(range(1, len(es) + 1))
        sims = [e.cos_sim for e in es]
        assert all(a >= b for a, b in zip(sims, sims[1:]))
        assert all(cell[e.nbr_id] == cell[src] for e in es)


def test_dsir_gumbel_sampler_perturbs_but_tracks_the_weights(spark, sf_dir):
    """The Gumbel arm must (a) be a genuine SAMPLE — the noise changes the
    selected set vs the deterministic top-N — while (b) still tracking the
    importance weights (high overlap: noise is O(1), log-weights span much
    more), and (c) replay exactly (seeded portable hash, no RNG state)."""
    det = {r.doc_id for r in REGISTRY["dsir_importance_resample"].fn(spark, sf_dir).collect()}
    g1 = [
        (r.rank, r.doc_id, r.gumbel_key)
        for r in REGISTRY["dsir_gumbel_topk_sample"].fn(spark, sf_dir).collect()
    ]
    g2 = [
        (r.rank, r.doc_id, r.gumbel_key)
        for r in REGISTRY["dsir_gumbel_topk_sample"].fn(spark, sf_dir).collect()
    ]
    assert g1 == g2  # seeded => bit-identical replay
    gum = {d for _, d, _ in g1}
    assert len(gum) == len(det)
    assert gum != det  # the noise did something
    assert len(gum & det) / len(det) >= 0.5  # ...but weights still dominate
