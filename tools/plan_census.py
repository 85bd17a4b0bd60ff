"""Plan-shape census: physical-plan statistics for every batch query.

SCALE.md argues per-family exchange structure; this tool MEASURES it for
the whole registry in one pass: per query, the number of shuffle exchanges
(hash / range / single-partition), broadcast exchanges, sort-merge vs
broadcast-hash vs nested-loop joins, and whole-stage-codegen spans — plus
two red flags the engine bans on data paths: CartesianProduct anywhere,
and Exchange SinglePartition outside a final presentation sort.

Streaming entries are skipped (building them RUNS the bounded stream);
everything else is planned only — no jobs beyond the adaptive probes some
plans run at construction.

Usage: python tools/plan_census.py [--assert] [sf_dir]
Prints one JSON line per query and a summary block for SCALE.md.
``--assert`` (the release-gate mode) exits 1 if any plan fails to build or
contains a CartesianProduct — making "no cartesian anywhere" an enforced
invariant, not a one-time audit.

``kernel_prefilter`` counts the filters (``Filter`` conditions and scan
``DataFilters``, cached plans included) that hold a lambda function: a
higher-order-function kernel Catalyst inlined into a pre-filter, where it
runs on top of its projection (``functions.exprs.lambda_prefilters``).
``--assert`` also fails when such an inlined kernel tokenizes or hashes
text (``split(``, ``md5(``, ``xxhash64(``); cheaper inlined kernels (an
element cast) are reported, not asserted.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = [a for a in sys.argv[1:] if a != "--assert"]
ASSERT = "--assert" in sys.argv[1:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.001"

#: entries whose CONSTRUCTION executes a full bounded pipeline (streaming
#: runs) — planned cost ≠ plan-only, so they are audited by their own
#: tests instead of this census.
SKIP_PREFIXES = ("stream_",)
SKIP_NAMES: set[str] = set()

#: functions that make an inlined kernel a text kernel: tokenizing or
#: hashing every row again is the cost the prefilter audit guards against
TEXT_KERNEL_CALLS = ("split(", "md5(", "xxhash64(")


def _plan_only_substitutes():
    """Entries whose registered fn runs jobs at construction but whose
    final plan has a pure plan-only twin (ADVICE r12: mart_snapshot_diff
    commits two mart versions to plan; its diff join is censused via the
    shared-definition substitute instead of being excluded)."""
    from my_favorite_etl_pipeline_spark.plans.pipeline import (
        mart_snapshot_diff_plan_only,
    )

    return {"mart_snapshot_diff": mart_snapshot_diff_plan_only}


def main() -> int:
    import __spark_entry__ as entrymod
    from my_favorite_etl_pipeline_spark.caching import materialized_scope
    from my_favorite_etl_pipeline_spark.functions.exprs import lambda_prefilters
    from my_favorite_etl_pipeline_spark.session import get_spark

    spark = get_spark("plan-census")
    qs = entrymod.queries()
    subs = _plan_only_substitutes()

    rows = []
    for name, fn in qs.items():
        if name.startswith(SKIP_PREFIXES) or name in SKIP_NAMES:
            continue
        fn = subs.get(name, fn)
        try:
            with materialized_scope():
                df = fn(spark, SF_DIR)
                plan = df._jdf.queryExecution().executedPlan().toString()
                prefilters = lambda_prefilters(df)
        except Exception as exc:  # noqa: BLE001 — census must finish
            rows.append({"query": name, "error": str(exc).splitlines()[0][:120]})
            continue
        stats = {
            "query": name,
            "shuffle_hash": len(re.findall(r"Exchange hashpartitioning", plan)),
            "shuffle_range": len(re.findall(r"Exchange rangepartitioning", plan)),
            "single_partition": len(re.findall(r"Exchange SinglePartition", plan)),
            "broadcast": len(re.findall(r"BroadcastExchange", plan)),
            "smj": len(re.findall(r"SortMergeJoin", plan)),
            "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
            "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
            "cartesian": len(re.findall(r"CartesianProduct", plan)),
            "codegen_spans": len(re.findall(r"WholeStageCodegen", plan)),
            "kernel_prefilter": len(prefilters),
            "text_kernel_prefilter": sum(
                any(call in c for call in TEXT_KERNEL_CALLS) for c in prefilters
            ),
        }
        rows.append(stats)
        print(json.dumps(stats), flush=True)

    ok = [r for r in rows if "error" not in r]
    errs = [r for r in rows if "error" in r]
    shuffles = sorted(
        ok, key=lambda r: -(r["shuffle_hash"] + r["shuffle_range"])
    )
    cart = [r["query"] for r in ok if r["cartesian"]]
    singles = [(r["query"], r["single_partition"]) for r in ok if r["single_partition"]]
    print("\n== census summary ==")
    print(
        f"queries planned: {len(ok)}  (skipped: streaming; plan-only"
        f" substitutes: {sorted(subs)}; errors: {len(errs)})"
    )
    for e in errs:
        print(f"  ERROR {e['query']}: {e['error']}")
    print(f"cartesian products: {len(cart)} {cart if cart else ''}")
    print(f"single-partition exchanges (presentation sorts excepted): {singles}")
    kernels = [r["query"] for r in ok if r["kernel_prefilter"]]
    text_kernels = [r["query"] for r in ok if r["text_kernel_prefilter"]]
    print(f"kernel pre-filters: {len(kernels)} queries {kernels if kernels else ''}")
    print(f"text-kernel pre-filters: {len(text_kernels)} {text_kernels if text_kernels else ''}")
    total_shuf = sum(r["shuffle_hash"] + r["shuffle_range"] for r in ok)
    total_bc = sum(r["broadcast"] for r in ok)
    print(f"total shuffle exchanges: {total_shuf} | broadcasts: {total_bc}")
    print("top-10 by shuffle count:")
    for r in shuffles[:10]:
        print(
            f"  {r['query']}: hash={r['shuffle_hash']} range={r['shuffle_range']} "
            f"bc={r['broadcast']} smj={r['smj']} bhj={r['bhj']}"
        )
    if ASSERT and (cart or errs or text_kernels):
        print(
            f"census ASSERT failed: {len(cart)} cartesians, {len(errs)} errors,"
            f" {len(text_kernels)} text-kernel pre-filters"
        )
        return 1
    print("0 cartesians" if not cart else f"{len(cart)} cartesians")
    return 0


if __name__ == "__main__":
    sys.exit(main())
