"""Output checks, run outside the timed region.

Query ops are compared with their DuckDB ``oracle_sql()`` over the same
generated parquet: row count, column names, and an order-insensitive hash of
normalized values. The normalization is the one the repository's oracle
harness uses (copied, not imported: that module parses argv at import).
The ETL mart is compared with the generator's last-writer-wins expectation.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq


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


def compare(scols, srows, dcols, drows) -> list[str]:
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(dcols)}")
    elif table_hash(srows, scols) != table_hash(drows, dcols):
        problems.append("value hash differs")
    return problems


class Oracle:
    """DuckDB views over every generated table of one input directory."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
                )

    def check(self, sql: str, scols, srows) -> list[str]:
        res = self.con.execute(sql)
        return compare(scols, srows, [d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()


MART_CHECK_COLS = ["_id", "batch_run_id", "address", "updatedat", "createdby_id",
                   "statuschangedby_role"]


def check_mart(mart_df, data_dir: str) -> list[str]:
    """Final mart vs the generator's expectation (one row per source doc)."""
    from pyspark.sql import functions as F

    got = mart_df.select(
        *[F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c) if c == "updatedat" else F.col(c)
          for c in MART_CHECK_COLS]
    ).collect()
    exp = pq.read_table(os.path.join(data_dir, "expected_mart.parquet")).select(MART_CHECK_COLS)
    exp_rows = list(zip(*[exp.column(c).to_pylist() for c in MART_CHECK_COLS]))
    return compare(MART_CHECK_COLS, [tuple(r) for r in got], MART_CHECK_COLS, exp_rows)
