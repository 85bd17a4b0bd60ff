"""Headline benchmark — the driver's per-round performance probe.

Runs a representative subset of the registered queries (one per operator
family: scan+agg, multi-join, window, merge, explode+agg, LSH dedup, vector
top-k, ETL transform chain) at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "headline_wall_sec", "value": <sum of per-query medians>,
     "unit": "sec", "queries": {"q1_pricing_summary": <median sec>, ...},
     "sf": 0.1, "runs": 3, "per_run_totals": [..]}

MEDIAN PROTOCOL (BASELINE.md): single-run totals on this box swing ±15-25%
(JIT, page cache, thread scheduling), so each query is warmed once and then
timed ``--runs N`` times (default 3, env ``SPARK_GRAFT_BENCH_RUNS``);
``queries`` holds per-query MEDIANS and ``value`` is their sum. The raw
per-run totals are kept alongside so round-over-round noise stays visible.

Each query executes through a ``noop`` sink so the full plan runs on the
executors without driver-side materialization (collect would bottleneck on
the driver and measure the wrong thing).

FULL TIER (r6): the JSON line additionally carries ``full_value`` /
``full_queries`` — medians over the 10 most expensive registered queries
(the heavy tail the headline set under-samples), so a regression in e.g.
the O(n²) Jaccard baseline or the multimodal decoders moves BENCH_r{N},
not just the correctness sweep's wall clock. ``--skip-full`` (or
``SPARK_GRAFT_BENCH_FULL=0``) disables it for quick local loops;
``SPARK_GRAFT_BENCH_FULL_RUNS`` controls its run count (default 3).

NORMALIZATION (r9 — the r8 sampling-mismatch fix, VERDICT r8 item 5):
r8's cold 3-probe window caught a contention spike the 3-minute query loop
mostly missed (cold 1.007 s → box_factor 4.03 while the queries ran only
~1.2-1.7× slow), so value ÷ cold-factor over-corrected into fiction
(4.65 s "normalized" headline). The INTERLEAVED probes — one fixed-work
JVM probe immediately before every query's timing block — sample the same
window the queries actually ran in, and their warm median is stable across
rounds (r7 idle box 0.142 s, r8 contended box 0.139 s). So now:

- ``box_factor`` = per-tier median of the interleaved warm probes ÷ 0.14
  (the calm-box WARM reference; the cold probe JIT-warms to ~0.14 after
  the first 3) — the numerator the normalized values divide by.
- ``box_factor_cold`` = calibration_sec ÷ 0.25 — still reported for
  continuity with the r6-r8 record, NEVER used to scale.
- ``contention_spike`` = true when calibration_max > 3 × calibration_sec:
  contention moved mid-bench, so treat RAW values as operative and both
  normalized fields as suspect — flagged, not silently scaled.

SCOPED PROTOCOL: every timed invocation (and the warm pass) runs inside
``materialized_scope()``, so each run builds the plan, computes, and
releases every persist it created — the medians measure RECOMPUTATION,
not reads of a warm cache. Build-once artifacts (``artifacts``: the
streaming static indexes, the committed graph/codebook tables) survive
scopes by design — they are the precompute-offline production form,
built in the warm pass.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Calm-box reference for the WARM (JIT-settled) 200M-row probe: r7 idle box
# 0.142 s, r8 contended box 0.139 s — stable where the cold probe swung 4×.
WARM_PROBE_REF = 0.14

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "transform_chain",
    "merge_upsert",
    "top_orders_per_customer",
    "term_frequencies_top50",
    "dedup_fingerprint_groups",
    "minhash_near_dups",
    "embedding_topk_bruteforce",
    # heavy [EXT] paths — regressions on the LLM-data pipeline must be
    # visible round over round, not just the relational core
    "dedup_cluster_components",
    "pack_sequences_1024",
    "scd2_status_history",
    "stream_tumbling_hourly",
    "nested_transform_chain",
    "skew_zipf_top_users",
    # curation round 3: decontamination join + map-only fingerprinting +
    # sparse similarity search
    "contamination_13gram",
    "winnowing_fingerprints",
    "tfidf_topk_similar_docs",
    # round 5: exact-substring span dedup (gram join + islands merge) — the
    # 20th entry; when comparing totals to pre-r5 rounds subtract this row
    # (BASELINE.md tracks both the comparable-19 and full totals)
    "exact_span_dedup_20tok",
]

# FULL tier: the 10 most expensive registered queries by a measured
# sf0.1 timing pass (re-refreshed r9 after the graph/BPE/serving
# additions — membership tracks cost, re-measure when the registry
# changes), so regressions on the heavy tail are caught by BENCH, not
# only by the round's correctness-sweep wall clock. ngram_jaccard_pairs
# is the deliberate O(n²) ground-truth baseline and dominates (~32 s).
# r9 warm medians on a calm box: ngram 32.2, ivf_pq 13.0, stream_ingest
# 12.0, rrf 6.6, knn_graph_topk 6.0, pq_adc 5.8, simhash_portable 5.2,
# r10: knn_graph_topk's slot moves to its auto-k twin — the benched plan
# must be the scale-safe one (VERDICT r9 item 5), and the measured swap
# (box_factor 1.14, warm median of 3) is 11.9 s -> 5.3 s: resolve_cell_
# count pins ~64-vector cells where fixed k=8 ran ~625-vector cells at
# sf0.1. The fixed-k flagship stays registered (oracle-replay baseline,
# still timed by the sweeps).
# leakage 4.7, dsir 4.6, graph_ann_search 4.3 (its FIRST run pays the
# session graph build the medians amortize — chosen over
# dsir_gumbel_topk_sample's 4.5, which shares dsir_importance_resample's
# scoring frame already in the tier, so the tier covers one more
# distinct plan family at equal-within-noise cost).
# r11 membership refresh (VERDICT r10 item 6): topic_cluster_cards — the
# heaviest r10 operator, measured 6.0 s post-gate — enters; leakage_safe_
# split (1.5 s at the same measurement) leaves. Displaced (still timed by
# the sweeps): curation_funnel_report, semdedup_cluster_pairs_top2,
# stream_stream_attribution_join, multimodal_audio_features,
# leakage_safe_split. NOTE r11: knn_graph_topk_auto_k and
# graph_ann_search_topk now time the INTEGER quantized-cosine contract
# over the 3-round NN-Descent graph (deeper build; see BASELINE.md r11).
# r13 membership refresh (VERDICT r12 item 5): edit_distance_near_dups —
# the character-level Levenshtein funnel, a distinct plan family the tier
# didn't cover — measured 3.90 s warm median vs topic_cluster_cards'
# 2.63 s on the same calm window (probes 0.1-0.22), so by the tier's own
# "10 most expensive" rule the cards leave and the funnel enters
# (displaced member still timed by the sweeps). Same window verified
# graph_ann_search_topk's band held through the _KNN_ROUNDS 3→4 flip
# (3.22 s vs the r12 driver's 3.27 — the deeper build amortizes in the
# memoized graph, serving cost unchanged).
FULL = [
    "ngram_jaccard_pairs",
    "embedding_topk_ivf_pq",
    "stream_ingest_dedup_ssjoin",
    "rrf_hybrid_fusion_topk",
    "knn_graph_topk_auto_k",
    "embedding_topk_pq_adc",
    "simhash_near_dups_portable",
    "edit_distance_near_dups",
    "dsir_importance_resample",
    "graph_ann_search_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    runs = max(1, runs)
    # full tier: on by default (the driver's BENCH_r{N}.json must carry both
    # tiers); --skip-full or SPARK_GRAFT_BENCH_FULL=0 for quick local loops
    full_on = "--skip-full" not in sys.argv and os.environ.get(
        "SPARK_GRAFT_BENCH_FULL", "1"
    ) != "0"
    full_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_FULL_RUNS", "3")))

    from my_favorite_etl_pipeline_spark.caching import materialized_scope
    from my_favorite_etl_pipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    qs = entrymod.queries()

    def time_query_scoped(name: str, n: int, warm: bool) -> list[float]:
        """Every run (and the warm pass) builds, computes, and RELEASES its
        persists inside a materialized_scope (see SCOPED PROTOCOL)."""
        fn = qs[name]
        if warm:
            with materialized_scope():
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(n):
            t0 = time.perf_counter()
            with materialized_scope():
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        return samples

    # Fixed-work box-speed probe: sum over a 200M-row range — pure JVM
    # compute, no IO, no Python, identical work every round. r6 measured
    # the SAME code swinging 19.2 s ↔ 29.9 s headline within two hours of
    # host contention; this calibration row lets a reader normalize a
    # round's bench against the box's throughput at measurement time
    # Two probe roles (r7):
    # - calibration_sec = median of THREE consecutive probes taken cold,
    #   before any query — the r6-comparable number (r6 pairs: 0.25-0.26 ↔
    #   headline 18-19 s) and the box_factor input. It MUST stay the
    #   cold-3 protocol: repeated probes JIT-warm to ~0.12 s on this box,
    #   so a median over the whole window is a different (incomparable)
    #   unit.
    # - one additional probe before every query's timing block, because
    #   contention is time-varying on a sub-minute scale (r7 observed
    #   minhash at 4.1 s mid-headline and 1.4 s in the full tier minutes
    #   later while the pre-loop probe read a calm 0.275 s).
    #   probe_median_warm / calibration_max summarize the window: a
    #   calibration_max ≫ probe_median_warm means contention SPIKED
    #   mid-bench and per-query medians absorbed what they could.
    probe_samples: list[float] = []

    def probe() -> None:
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id)").collect()
        probe_samples.append(round(time.perf_counter() - t0, 3))

    for _ in range(3):
        probe()
    calibration = round(statistics.median(probe_samples), 3)
    per_run = {}
    for name in HEADLINE:
        probe()
        per_run[name] = time_query_scoped(name, runs, warm=True)
    medians = {name: round(statistics.median(s), 3) for name, s in per_run.items()}
    per_run_totals = [
        round(sum(per_run[name][i] for name in HEADLINE), 3) for i in range(runs)
    ]
    # Interleaved normalization (r9, VERDICT r8 item 5): the headline
    # tier's box factor comes from the probes taken INSIDE the headline
    # window (one before each query), not the cold pre-loop triple — the
    # cold window can catch a spike the query loop missed (r8: cold
    # factor 4.03, queries ~1.4× → normalized 4.65 s fiction). The warm
    # calm-box reference is 0.14 s (r7 idle 0.142 / r8 contended 0.139).
    head_warm = probe_samples[3:]

    def _warm_factor(samples: list[float]) -> float:
        if not samples:
            return (calibration / 0.25) if calibration > 0 else 1.0
        return max(statistics.median(samples) / WARM_PROBE_REF, 0.25)

    head_factor = _warm_factor(head_warm)
    out = {
        "metric": "headline_wall_sec",
        "value": round(sum(medians.values()), 3),
        "unit": "sec",
        "queries": medians,
        "sf": sf,
        "runs": runs,
        "per_run_totals": per_run_totals,
        "calibration_sec": calibration,
        "probe_median_warm": round(statistics.median(head_warm), 3)
        if head_warm
        else None,
        "calibration_max": max(probe_samples),
        "box_factor_cold": round((calibration / 0.25) if calibration > 0 else 1.0, 3),
        "box_factor": round(head_factor, 3),
        "value_normalized": round(sum(medians.values()) / head_factor, 3),
    }
    if full_on:
        # the warm pass builds the process's artifacts (streaming static
        # indexes, committed graph/codebook tables)
        n_before_full = len(probe_samples)
        full_samples = {}
        for name in FULL:
            probe()
            full_samples[name] = time_query_scoped(name, full_runs, warm=True)
        full_medians = {
            name: round(statistics.median(s), 3) for name, s in full_samples.items()
        }
        # the full tier runs minutes after the headline — normalize it by
        # ITS OWN window's interleaved probes
        full_factor = _warm_factor(probe_samples[n_before_full:])
        out["full_value"] = round(sum(full_medians.values()), 3)
        out["full_queries"] = full_medians
        out["full_runs"] = full_runs
        out["full_box_factor"] = round(full_factor, 3)
        out["full_value_normalized"] = round(
            sum(full_medians.values()) / full_factor, 3
        )
        out["probe_median_warm"] = round(statistics.median(probe_samples[3:]), 3)
        out["calibration_max"] = max(probe_samples)
    # Flag, don't silently scale: a >3× spike WITHIN the warm window means
    # contention moved mid-bench and no single factor is trustworthy —
    # read raw values. (The cold triple is excluded: the very first probe
    # carries JVM/codegen warm-up — r7's idle-box max was 4.5 s on probe
    # #1 — and would false-flag every round.)
    warm_all = probe_samples[3:]
    out["contention_spike"] = bool(
        warm_all and max(warm_all) > 3 * statistics.median(warm_all)
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
