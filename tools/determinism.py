"""Partitioning-determinism harness — engine-side only, no oracle needed.

Every registered query (INCLUDING the rows-only ones the DuckDB harness
can't value-check) is executed twice with different shuffle-partition
counts; the order-insensitive value hash must be identical. Different
partition counts change Spark's partial-aggregation merge topology, so any
order-dependent float reduction — the bug class the r4 sf0.1 sweep caught
in continuous_aggregate_rollup and the r5 fixed-point centroid rewrite
removed from build_ivf_centroids — flips the hash here even when a single
fixed partitioning would happily reproduce itself.

Usage: python tools/determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import table_hash  # noqa: E402  (reuses the harness hash exactly)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
PARTITION_COUNTS = (32, 7)


def main() -> int:
    import __spark_entry__ as entrymod

    from my_favorite_etl_pipeline_spark.session import get_spark

    spark = get_spark("determinism-harness")
    failures = []
    for name, fn in entrymod.queries().items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        results = []
        try:
            for parts in PARTITION_COUNTS:
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                df = fn(spark, SF_DIR)
                rows = [tuple(r) for r in df.collect()]
                cols = df.columns
                spark.catalog.clearCache()
                results.append((len(rows), table_hash(rows, cols)))
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        dt = time.time() - t0
        if len(set(results)) == 1:
            print(f"PASS  {name} ({results[0][0]} rows, {dt:.1f}s)")
        else:
            print(f"FAIL  {name}: hashes differ across partitionings {results}")
            failures.append(name)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
