"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers one named query
(callable ``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, the
equivalent ANSI SQL that DuckDB runs on the same parquet tables. The driver
compares both sides (row count + schema + order-insensitive value hash), so:

- alias every computed column identically on both sides;
- round floating aggregates to a fixed number of decimals on BOTH sides
  (summation order differs between engines; see ``fdec`` helpers in plans);
- cast count-like integer aggregates to BIGINT on the DuckDB side (DuckDB
  widens SUM(int) to HUGEINT, Spark keeps BIGINT);
- NEVER round a float DIVISION whose true quotient can hit exact decimal
  halves (sum/count with 4-decimal sums and small counts → x.xx125):
  Spark rounds the shortest decimal representation (BigDecimal HALF_UP),
  DuckDB rounds the raw binary double, and they disagree exactly at those
  halves. Use fixed-point integer math instead — scale to an exact BIGINT
  and integer-divide on both engines (see continuous_aggregate_rollup,
  found by an sf0.1 sweep after passing at sf0.01 for three rounds).

Runtime contract notes:

- CACHE OWNERSHIP: some queries persist multi-consumer intermediate frames
  (tfidf's tf/unit projections, dedup's shingle table) via
  ``caching.tracked_persist``. The persists are intentional materialization
  points with an engine-level lifecycle: wrap *build plan → run action* in
  ``with caching.materialized_scope():`` and every persist created inside
  is released on exit (tools/check.py and the pipeline runner do; see
  tests/test_cache_lifecycle.py). Outside a scope the caller owns cleanup,
  preserving cross-run cache reuse for bench-style repeated execution.
- LAZINESS: building a plan is normally free, but adaptive plans may run a
  tiny scalar probe job during CONSTRUCTION (tfidf_topk_similar_docs runs a
  max(df) aggregate to decide whether phase-1 salting is worth a shuffle).
  Plan-shape-only consumers should expect a query function to possibly
  launch a small job and populate a cache.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "Query"] = {}


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# The driver's CORRECTNESS harness checks the first 50 entries of ``queries()``
# in iteration order. With ~100 registered queries, raw module-import order let
# the whole LLM-data [EXT] surface fall past the cap in round 1. This curated
# prefix guarantees the checked window spans every operator family: the
# reference-parity pipeline, the core relational shapes, dedup (exact + MinHash
# + SimHash + embedding), similarity search, text analysis, multimodal,
# dataset-assembly, SCD2, and streaming. Names not yet registered are skipped,
# so the list may lead the code; everything else follows in registration order.
CURATED_FIRST: tuple[str, ...] = (
    # Every seat is oracle-backed (no rows-only entries), and the window
    # rotates through each family's entries so every registered query is
    # driver-checked in some window; each family keeps at least one anchor.
    #
    # reference-parity pipeline anchors (SURVEY §2.1-§2.8): pinned always
    "incremental_extract",
    "merge_upsert",
    "dq_gate",
    "reconciliation",
    # relational: flagships + the returning q5/q9/q18 veterans
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_profit_by_nation_year",
    "q18_large_orders",
    # transform chain + SCD2
    "transform_chain",
    "scd2_status_history",
    # timeseries monitoring + the DQ forensics audits (r16 debt)
    "anomalous_hours_mad",
    "benford_amount_audit",
    "fk_orphan_audit",
    # oracle-engine version probe (r16 debt)
    "oracle_probe_duckdb_version",
    # X1 exact dedup + X2 near-dup anchors
    "dedup_exact_groups",
    "minhash_near_dups",
    "simhash_near_dups_portable",
    # X2 containment family (r16 debt: batch pairs/drops + at-ingest)
    "containment_overlap_pairs",
    "containment_dedup_drops",
    "stream_containment_screen",
    # X2 fuzzy decontamination (batch + at-ingest)
    "fuzzy_decontaminate_minhash",
    "stream_fuzzy_decontaminate",
    # X3 similarity anchor + the recall/ranking audits (r16 debt)
    "embedding_topk_bruteforce",
    "lsh_recall_report",
    "ann_ranking_report",
    # X3 graph family: anchors + returning serving/HNSW band +
    # kcore/triangles (r16 debt)
    "knn_graph_nn_descent",
    "graph_ann_search_topk",
    "graph_ann_search_batch",
    "graph_ann_search_durable",
    "hnsw_two_layer_search",
    "hnsw_three_layer_search",
    "hnsw_batch_routed_search",
    "knn_graph_kcore",
    "knn_graph_triangles",
    # X4 text: lang-id anchor + novelty/negative mining (r16 debt)
    "lang_id_heuristic",
    "gram_novelty_scores",
    "hard_negative_pairs",
    # X4 classifiers / mixtures (unimax enters)
    "quality_classifier_gd_scores",
    "doremi_domain_weights",
    "unimax_language_budget",
    # selection/sampling (r16 debt)
    "weighted_sample_es_topn",
    # dataset assembly
    "epoch_repeat_plan",
    "pack_efficiency_report",
    # M4 time travel on the oracle path
    "mart_snapshot_diff",
    # X5 multimodal sentinel
    "multimodal_resize_8x8",
    # S1b docstore (sole family member, pinned)
    "docstore_lang_source_stats",
    # X6 streaming anchors
    "stream_tumbling_hourly",
    "stream_stream_attribution_join",
    "stream_merge_into_mart",
)


def _ordered_names() -> list[str]:
    head = [n for n in CURATED_FIRST if n in REGISTRY]
    seen = set(head)
    return head + [n for n in REGISTRY if n not in seen]


def queries() -> dict[str, QueryFn]:
    return {n: REGISTRY[n].fn for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        n: REGISTRY[n].oracle for n in _ordered_names() if REGISTRY[n].oracle is not None
    }
