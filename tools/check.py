"""Local replica of the driver's DuckDB-oracle correctness harness.

Runs every query in __spark_entry__.queries() at the given sf dir, runs the
matching oracle SQL in DuckDB over the same parquet tables, and compares
row count, column names, and an order-insensitive value hash (values rounded
/ normalized the same way on both sides).

Usage: python tools/check.py [--dump] [sf_dir] [query ...]

``--dump``: for every FAILING comparison, write the full per-row symmetric
difference (spark-only rows, oracle-only rows, sorted) to
``.tmp/diff_<name>.txt`` so a driver-red row is diagnosable mechanically
instead of from 3-row inline samples (VERDICT r9 item 2).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from my_favorite_etl_pipeline_spark.caching import materialized_scope

_args = [a for a in sys.argv[1:] if a != "--dump"]
DUMP = "--dump" in sys.argv[1:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as entrymod
    from my_favorite_etl_pipeline_spark.session import get_spark

    spark = get_spark("check-harness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            # queries tracked_persist() multi-consumer frames; the scope
            # releases them after the collect so a 100+-query sweep doesn't
            # accumulate CacheManager entries (engine contract, r6)
            with materialized_scope():
                sdf = fn(spark, SF_DIR)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {dt:.1f}s)")
            if not srows and name != "expected_empty":
                print(f"      WARNING: 0 rows from rows-only query {name}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            sh, dh = table_hash(srows, scols), table_hash(drows, dcols)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            # show a small diff sample
            sset = {"\x01".join(norm_cell(c) for c in r) for r in srows}
            dset = {"\x01".join(norm_cell(c) for c in r) for r in drows}
            for label, diff in (("spark-only", sset - dset), ("duck-only", dset - sset)):
                for row in list(diff)[:3]:
                    print(f"      {label}: {row[:200]}")
            if DUMP:
                os.makedirs(TMP, exist_ok=True)
                path = os.path.join(TMP, f"diff_{name}.txt")
                with open(path, "w") as fh:
                    fh.write(f"# {name} @ {SF_DIR}: {'; '.join(problems)}\n")
                    fh.write(f"# columns (spark): {scols}\n# columns (duck): {dcols}\n")
                    for label, diff in (
                        ("spark-only", sorted(sset - dset)),
                        ("oracle-only", sorted(dset - sset)),
                    ):
                        fh.write(f"## {label}: {len(diff)} rows\n")
                        for row in diff:
                            fh.write(row.replace("\x01", " | ") + "\n")
                print(f"      full diff -> {path}")
            failures.append(name)
        else:
            print(f"PASS  {name} ({len(srows)} rows, {dt:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
