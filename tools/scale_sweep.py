"""Measured scaling-factor sweep: time representative queries across the
three fixture scale factors and report the sf0.01 → sf0.1 growth factor.

The SCALE.md table argues each family's cost is linear (or better) in the
corpus; this tool turns the argument into MEASURED evidence. The corpus
grows 10× between sf0.01 and sf0.1, so on a warm session:

- growth ≈ 1–4   → fixed overhead still dominates, or sublinear readout
- growth ≈ 10    → linear data path (the claim for every production op)
- growth ≈ 100   → quadratic — the blowup the funnels exist to prevent

``ngram_jaccard_pairs`` (the labeled O(n²) exact-recall baseline) rides the
set as the POSITIVE CONTROL: the methodology must read it as quadratic, or
the sweep could not detect a real blowup.

Usage: python tools/scale_sweep.py [--runs N] [name ...]
Prints one JSON line per query plus a markdown table ready for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

#: one representative per scale-audited family (SCALE.md rows), plus the
#: quadratic positive control and two relational anchors.
DEFAULT_SET = [
    "q1_pricing_summary",          # scan + hash agg anchor
    "q3_shipping_priority",        # join + topk anchor
    "dedup_exact_groups",          # digest shuffle
    "minhash_near_dups",           # LSH band-bucket join
    "ssjoin_prefix_filter",        # PPJoin prefix-filter funnel
    "exact_span_dedup_20tok",      # gram-key span dedup
    "semdedup_cluster_pairs_auto_k",  # auto-k within-cell join (linear claim)
    "embedding_topk_ivf",          # coarse-probe ANN serving
    "knn_graph_topk_auto_k",       # graph build, linear-in-n claim
    "knn_graph_nn_descent_hq",     # near-exact tier: linear with a 4x constant (r14)
    "tfidf_topk_similar_docs",     # sparse cosine self-join
    "token_budget_select",         # two-phase histogram walk
    "pack_efficiency_report",      # per-source window + aggs
    "edit_distance_near_dups",     # banded Levenshtein funnel (r12)
    "epoch_repeat_shard_assignment",  # repeats exploded at the shard boundary (r13)
    "semantic_pack_shard_assignment",  # pack-then-shard: bins as the shuffle unit (r13)
    "matryoshka_prefix_recall",    # exact instrument: panel×corpus (n²/100)
    "greedy_gram_coverage_select",  # 5-round anti-join + agg selection (r14)
    "greedy_coverage_select_batched",  # batch-greedy scale path, 2 rounds (r14)
    "fuzzy_decontaminate_minhash",  # cross-corpus LSH decontamination (r14)
    "stream_fuzzy_decontaminate",  # the at-ingest arm of the fuzzy decon pair (r14)
    "ivf_recall_report",  # retrieval-quality readout: exact arm is the instrument (r14)
    "curriculum_shard_order",  # shared CCNet scorer + shard windows (r14)
    "doremi_domain_weights",  # shared scorer + |domains|-row MW state (r14)
    "knn_graph_lpa_communities",  # Pregel-shape LPA rounds over the kNN graph (r14)
    "wordpiece_train_merges",  # vocab-table trainer: one corpus pass then model-sized (r14)
    "community_capped_select",  # LPA ∘ CCNet composition + grouped top-k (r14)
    "filter_ablation_matrix",  # map-only rules + rule-bounded self-join (r14)
    "anomalous_hours_mad",  # one corpus agg + grid-sized median windows (r14)
    "knn_graph_kcore",  # shared undirected graph + per-round peel join (r15)
    "gram_novelty_scores",  # shared gram table + df agg + per-doc rollup (r15)
    "unimax_language_budget",  # one corpus agg + model-sized water-fill (r15)
    "stream_ingest_dedup_ssjoin",  # prefix-cut stream-static funnel (r15)
    "knn_graph_triangles",  # wedge + closing-edge equi-joins (r15)
    "containment_overlap_pairs",  # asymmetric prefix funnel (r15)
    "hard_negative_pairs",  # panel-broadcast map-only scoring (r15)
    "lsh_recall_report",  # portable banding audit + exact pair join (r15)
    "ann_ranking_report",  # serving arm + exact instrument + metric tail (r15)
    "stream_containment_screen",  # count-agg ingest gate, containment arm (r15)
    "benford_amount_audit",  # map-only digit projection + 9-row agg (r15)
    "weighted_sample_es_topn",  # shared scorer + map-only key + TakeOrdered (r15)
    "fk_orphan_audit",  # one existence-join agg per FK edge (r15)
    "containment_dedup_drops",  # pairs funnel + per-doc max-by rollup (r15)
    "shard_manifest_checksums",    # map-only manifest (r12)
    "ngram_jaccard_pairs",         # exact inverted-index Jaccard (near-linear since r15-opt)
    "__allpairs_control__",        # POSITIVE CONTROL: tool-internal O(n²) plan (r15-opt)
]


def _allpairs_control(spark, sf_dir: str):
    """The deliberately-quadratic POSITIVE CONTROL (tool-internal, r15-opt).

    Until r15 the registered ``ngram_jaccard_pairs`` carried this role; its
    Spark side now runs the exact inverted-index equi-join (same result,
    near-linear), so the sweep keeps its own literal O(n²) inequality-join
    plan here — the methodology must still READ a quadratic blowup as ~100×
    on 10× data, or it could not detect a real one. Same math as the old
    registered plan (array_intersect/array_union over distinct shingles);
    never registered, never benched, timed only by this tool.
    """
    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.functions.text import shingles
    from my_favorite_etl_pipeline_spark.operators.scaling import ensure_min_partitions
    from my_favorite_etl_pipeline_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    sh = ensure_min_partitions(
        docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.9)
    )


def main() -> int:
    args = sys.argv[1:]
    runs = 2
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    names = args or DEFAULT_SET

    import __spark_entry__ as entrymod
    from my_favorite_etl_pipeline_spark.caching import materialized_scope
    from my_favorite_etl_pipeline_spark.session import get_spark

    spark = get_spark("scale-sweep")
    qs = dict(entrymod.queries())
    qs["__allpairs_control__"] = _allpairs_control
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    # warm the session so the first timed query doesn't pay JVM/codegen start
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    results: dict[str, dict[str, float]] = {}
    for sf in SFS:
        tag = sf.rsplit("sf", 1)[1]
        for name in names:
            best = float("inf")
            for _ in range(runs):
                t0 = time.time()
                with materialized_scope():
                    qs[name](spark, sf).collect()
                best = min(best, time.time() - t0)
            results.setdefault(name, {})[tag] = round(best, 3)
            print(
                json.dumps({"query": name, "sf": tag, "sec": round(best, 3)}),
                flush=True,
            )

    print("\n| query | sf0.001 | sf0.01 | sf0.1 | growth 0.01→0.1 (10× data) |")
    print("|---|---|---|---|---|")
    for name in names:
        r = results[name]
        growth = r["0.1"] / r["0.01"] if r["0.01"] > 0 else float("nan")
        print(
            f"| `{name}` | {r['0.001']:.2f} | {r['0.01']:.2f} | {r['0.1']:.2f} "
            f"| **{growth:.1f}×** |"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
