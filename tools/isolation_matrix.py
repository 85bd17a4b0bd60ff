"""Process-isolation × core-count determinism matrix (VERDICT r10 item 4).

Two rounds of driver-red/local-green hash rows proved the existing
determinism harness (same process, two shuffle-partition counts) cannot
reproduce whatever the driver does differently. This tool adds the two
axes that harness lacks and that a driver plausibly differs on:

- **Fresh process per query**: every (query, config) cell runs ``python
  tools/check.py <sf_dir> <query>`` in its OWN subprocess — no memoized
  graph tables, no trained-weight memo, no shared SparkSession, no warm
  DuckDB connection. This replicates strict per-query isolation, the
  leading structural suspect for why `quality_classifier_train_gd` can be
  red while `quality_classifier_gd_scores` (same trajectory, same memo in
  a SHARED process) is green.
- **Core count**: each query runs at local[32] and local[4]
  (``SPARK_GRAFT_CPUS``), changing task scheduling, partition planning,
  and every parallel reduce topology.

The third suspect axis — the driver's DuckDB build — cannot be vendored
here (no network, one wheel baked in); the registered
``oracle_probe_duckdb_version`` entry (``plans/relational_ext.py``) reads it
out instead, INSIDE the driver's own environment: its row matches only when
the oracle's DuckDB build is the local wheel's version.

Usage:
    python tools/isolation_matrix.py [sf_dir] [query ...]
    # default queries: the graph + classifier families (the two-round
    # red families)

Exit 0 iff every cell PASSes its oracle check in its isolated process.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_QUERIES = (
    # the r9-r11 red family (re-typed oracles, r12) + the r12 searches
    # built on the same committed graph
    "knn_graph_nn_descent",
    "graph_ann_search_topk",
    "graph_ann_search_durable",
    "graph_ann_search_batch",
    "hnsw_three_layer_search",
    "hnsw_batch_routed_search",
    # the classifier pair
    "quality_classifier_train_gd",
    "quality_classifier_gd_scores",
)

CORE_AXIS = ("32", "4")


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    queries = tuple(args[1:]) or DEFAULT_QUERIES
    failures: list[str] = []
    for name in queries:
        for cores in CORE_AXIS:
            env = dict(os.environ, SPARK_GRAFT_CPUS=cores)
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "check.py"), sf_dir, name],
                cwd=REPO,
                env=env,
                capture_output=True,
                text=True,
            )
            dt = time.time() - t0
            out = proc.stdout + proc.stderr
            ok = proc.returncode == 0 and f"PASS  {name}" in out
            rows_only = f"ok?   {name}" in out
            verdict = "PASS" if ok else ("ok?" if rows_only else "FAIL")
            print(f"{verdict}  {name} [cores={cores}, fresh process] ({dt:.0f}s)", flush=True)
            if not ok and not rows_only:
                failures.append(f"{name}@cores={cores}")
                tail = [l for l in out.splitlines() if "FAIL" in l or "only" in l]
                for line in tail[:4]:
                    print(f"      {line}")
    print(f"\n{len(failures)} failing cells" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
