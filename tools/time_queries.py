"""Ad-hoc steady-state timer: run named registry queries N times each at a
given sf dir and print per-run wall seconds (first run = cold, rest = warm).

Usage: python tools/time_queries.py [sf_dir] [runs] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_favorite_etl_pipeline_spark.caching import materialized_scope

SF_DIR = sys.argv[1]
RUNS = int(sys.argv[2])
NAMES = sys.argv[3:]


def main() -> None:
    import __spark_entry__ as entrymod
    from my_favorite_etl_pipeline_spark.session import get_spark

    spark = get_spark()
    qs = entrymod.queries()
    for name in NAMES:
        times = []
        for i in range(RUNS):
            t0 = time.time()
            with materialized_scope():
                df = qs[name](spark, SF_DIR)
                n = df.count()
            times.append(time.time() - t0)
        print(f"{name}: rows={n} " + " ".join(f"{t:.2f}s" for t in times))


if __name__ == "__main__":
    main()
