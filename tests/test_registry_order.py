"""Registry-ordering contract: the driver checks only the FIRST 50 entries of
``queries()``, so that window must span every operator family (SURVEY §2 +
the LLM-data [EXT] surface). Round 1 lost all 36 [EXT] rows to raw import
order; these tests pin the curated prefix so it can't regress.
"""

from __future__ import annotations

import warnings

import my_favorite_etl_pipeline_spark as engine
from my_favorite_etl_pipeline_spark.registry import CURATED_FIRST, REGISTRY

DRIVER_CAP = 50

# One representative per family that MUST sit inside the driver-checked window.
# The window ROTATES every round to catch fixture/environment drift, never
# freezes (decimal_surface proved why: six rounds of local green, red on
# first driver contact). r8 burned the never-checked backlog to zero.
FAMILY_SENTINELS = {
    # r16 window (VERDICT r15 item 7 / the rotation in registry.py): all
    # FOURTEEN remaining never-driver-verified entries seated + the
    # verdict-named q5/q9/q18 and HNSW/serving-band veterans returned; 22
    # r14/r15-verified entries out with every family still represented.
    # All 50 seats oracle-backed.
    "pipeline-parity": ["incremental_extract", "merge_upsert", "dq_gate", "reconciliation"],
    "relational": ["q1_pricing_summary", "q3_shipping_priority",
                   "q5_region_revenue", "q9_profit_by_nation_year",
                   "q18_large_orders", "scd2_status_history"],
    "transform-chains": ["transform_chain"],
    "timeseries-monitoring": ["anomalous_hours_mad"],
    "dq-forensics": ["benford_amount_audit", "fk_orphan_audit",
                     "oracle_probe_duckdb_version"],
    "X1-exact-dedup": ["dedup_exact_groups"],
    "X2-near-dup": ["minhash_near_dups", "simhash_near_dups_portable"],
    "X2-containment": ["containment_overlap_pairs", "containment_dedup_drops",
                       "stream_containment_screen"],
    "X2-fuzzy-decontamination": ["fuzzy_decontaminate_minhash",
                                 "stream_fuzzy_decontaminate"],
    "X3-similarity": ["embedding_topk_bruteforce", "lsh_recall_report",
                      "ann_ranking_report"],
    "graph-family": ["knn_graph_nn_descent", "graph_ann_search_topk",
                     "graph_ann_search_batch", "graph_ann_search_durable",
                     "hnsw_two_layer_search", "hnsw_three_layer_search",
                     "hnsw_batch_routed_search", "knn_graph_kcore",
                     "knn_graph_triangles"],
    "X4-text": ["lang_id_heuristic", "gram_novelty_scores",
                "hard_negative_pairs"],
    "model-filters-tokenizers": ["quality_classifier_gd_scores"],
    "mixture-sampling": ["doremi_domain_weights", "unimax_language_budget"],
    "selection": ["weighted_sample_es_topn"],
    "assembly": ["epoch_repeat_plan", "pack_efficiency_report"],
    "M4-time-travel": ["mart_snapshot_diff"],
    "X5-multimodal": ["multimodal_resize_8x8"],
    "S1b-docstore": ["docstore_lang_source_stats"],
    "X6-streaming": ["stream_tumbling_hourly", "stream_stream_attribution_join",
                     "stream_merge_into_mart"],
}



def test_first_50_covers_every_family():
    first = list(engine.queries())[:DRIVER_CAP]
    for family, sentinels in FAMILY_SENTINELS.items():
        missing = [s for s in sentinels if s not in first]
        assert not missing, f"family {family}: {missing} fell outside the driver's first {DRIVER_CAP}"


def test_curated_names_all_registered_or_known_pending():
    # Every curated name must exist in the registry (a typo here silently
    # shrinks the prefix). Names may lead the code only while their task is
    # actively in flight — keep this list empty at commit time.
    known_pending: set[str] = set()
    missing = [n for n in CURATED_FIRST if n not in REGISTRY and n not in known_pending]
    assert not missing, f"CURATED_FIRST names not registered: {missing}"


def test_ordering_is_stable_and_complete():
    names = list(engine.queries())
    assert len(names) == len(set(names))
    assert set(names) == set(REGISTRY)
    # oracle_sql keys follow the same curated order and are a subset
    oracle_names = list(engine.oracle_sql())
    pos = {n: i for i, n in enumerate(names)}
    assert oracle_names == sorted(oracle_names, key=pos.__getitem__)


def test_missing_optional_dep_warns_loudly(monkeypatch):
    """A missing numpy/pandas must emit RuntimeWarning, never silently pass."""
    import importlib

    from my_favorite_etl_pipeline_spark import plans

    real_import = importlib.import_module

    def fake_import(name, package=None):
        if name == ".dedup":
            raise ImportError("No module named 'numpy'", name="numpy")
        return real_import(name, package=package)

    monkeypatch.setattr(importlib, "import_module", fake_import)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        plans._import_or_warn("dedup")
    assert any("NOT registered" in str(w.message) for w in caught)


def test_unexpected_import_error_reraises(monkeypatch):
    import importlib

    import pytest

    from my_favorite_etl_pipeline_spark import plans

    def fake_import(name, package=None):
        raise ImportError("No module named 'left_pad'", name="left_pad")

    monkeypatch.setattr(importlib, "import_module", fake_import)
    with pytest.raises(ImportError):
        plans._import_or_warn("dedup")
