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
    total_shuf = sum(r["shuffle_hash"] + r["shuffle_range"] for r in ok)
    total_bc = sum(r["broadcast"] for r in ok)
    print(f"total shuffle exchanges: {total_shuf} | broadcasts: {total_bc}")
    print("top-10 by shuffle count:")
    for r in shuffles[:10]:
        print(
            f"  {r['query']}: hash={r['shuffle_hash']} range={r['shuffle_range']} "
            f"bc={r['broadcast']} smj={r['smj']} bhj={r['bhj']}"
        )
    if ASSERT and (cart or errs):
        print(f"census ASSERT failed: {len(cart)} cartesians, {len(errs)} errors")
        return 1
    print("0 cartesians" if not cart else f"{len(cart)} cartesians")
    return 0


if __name__ == "__main__":
    sys.exit(main())
