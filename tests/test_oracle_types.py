"""Registry-wide oracle OUTPUT-TYPE lint (VERDICT r11 item 3).

DuckDB silently promotes ``SUM(BIGINT)`` / ``LIST_SUM(BIGINT[])`` — and any
arithmetic or UNION ALL branch containing them — to HUGEINT. The local
harness hashes ``str()`` of fetched Python values and is type-blind, but the
driver's harness is not: every r9–r11 hash-red row (graph-ANN family, GD
classifier weights) partitioned exactly on "does the oracle's final SELECT
carry an un-CAST HUGEINT column". This test makes the whole bug class
unrepresentable: every registered oracle's result schema is DESCRIBEd in
DuckDB (bind/plan only — nothing executes) and no output column may type as
HUGEINT or DECIMAL. It would have fired on the first red in round 9. The lint has no
exceptions.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import my_favorite_etl_pipeline_spark as engine

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

BANNED = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _result_types(con, sql: str) -> list[tuple[str, str]]:
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return [(r[0], r[1]) for r in rows]


def test_every_oracle_output_column_has_portable_type(con):
    oracles = engine.oracle_sql()
    assert oracles, "registry produced no oracles"
    offenders: dict[str, list[tuple[str, str]]] = {}
    for name, sql in oracles.items():
        cols = _result_types(con, sql)
        bad = [(c, t) for c, t in cols if any(b in t.upper() for b in BANNED)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle output columns with non-portable (HUGEINT/DECIMAL) types — "
        "CAST them in the final SELECT (or at the generating CTE): "
        f"{offenders}"
    )

