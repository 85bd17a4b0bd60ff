"""Dump ``.explain("formatted")`` for named registry queries to files.

Optimization-round evidence tool: captures the physical plan of each named
query (built at the given sf dir) into ``plans/<tag>/<name>_<suffix>.txt``
so before/after plan-shape claims in OPTIMIZATION_r*.md are checkable
without running Spark.

Usage:
    python tools/dump_plans.py --out plans/r15 --suffix before [sf_dir] name ...
    python tools/dump_plans.py --out plans/r15 --suffix before [sf_dir] @bench

``@bench`` expands to the bench.py HEADLINE + FULL tiers.

Streaming entries (``stream_*``) are built too — their construction runs the
bounded stream; the captured plan is the post-sink batch plan, which is what
the bench times as well.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_favorite_etl_pipeline_spark.caching import materialized_scope


def main() -> None:
    args = sys.argv[1:]
    out_dir = "plans/r15"
    suffix = "before"
    if "--out" in args:
        i = args.index("--out")
        out_dir = args[i + 1]
        del args[i : i + 2]
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)

    import __spark_entry__ as entrymod
    from my_favorite_etl_pipeline_spark.session import get_spark

    names: list[str] = []
    for a in args:
        if a == "@bench":
            import bench

            names.extend(bench.HEADLINE)
            names.extend(bench.FULL)
        else:
            names.append(a)

    spark = get_spark("dump-plans")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            with materialized_scope():
                df = qs[name](spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
            with open(path, "w") as f:
                f.write(f"# {name} @ {sf_dir} ({suffix})\n")
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as exc:  # noqa: BLE001 - tool surface, report and move on
            print(f"FAIL {name}: {exc}")


if __name__ == "__main__":
    main()
