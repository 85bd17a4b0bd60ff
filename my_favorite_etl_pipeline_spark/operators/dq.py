"""Data-quality gate + reconciliation (SURVEY.md §2.7 Q1, A1-A3).

The reference shells out to ``soda scan`` (dag_mgo_pg_schedule_etl_qc.py:
333-369) for five check classes — freshness, type validity, regex,
uniqueness, completeness (dag:369) — and separately compares a source-side
windowed count against a sink-side per-run count, raising on mismatch
(dag:375-422). Both become native Spark aggregates here: the whole DQ suite
is ONE ``agg()`` of conditional sums (one pass over the data, map-side
partial aggregation, a single scalar row back to the driver).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import quote_ident, sql_string


class DQViolation(Exception):
    """Raised when any declared check fails — the AirflowException analogue
    (dag:361-362, 417-420): a failing gate fails the pipeline run."""


def _count_true(cond: str) -> str:
    """Rows where ``cond`` holds. ``sum`` over no rows is NULL, so an empty
    frame reports 0 (observed metrics need a number as well)."""
    return f"coalesce(sum(CAST({cond} AS INT)), 0)"


@dataclass
class DQSuite:
    """Declarative check suite compiled to a single aggregation.

    Each ``add_*`` returns self for chaining. ``violations(df)`` returns the
    per-check violation counts; ``enforce(df)`` raises :class:`DQViolation`
    if any is nonzero. A check is SQL text (one aggregate per check), so a
    suite costs one parse per action, not a Column tree per check.
    ``unique`` maps each :meth:`add_unique` check's name to its column:
    those are the DISTINCT checks ``observe`` cannot evaluate.
    """

    checks: list[tuple[str, str]] = field(default_factory=list)
    unique: dict[str, str] = field(default_factory=dict)

    def _add(self, name: str, violation_count: str) -> "DQSuite":
        self.checks.append((name, f"CAST({violation_count} AS BIGINT) AS {quote_ident(name)}"))
        return self

    def add_not_null(self, col: str) -> "DQSuite":
        """Completeness: missing-value count (dag:369 'not missing fields')."""
        return self._add(f"null_{col}", _count_true(f"{quote_ident(col)} IS NULL"))

    def add_unique(self, col: str) -> "DQSuite":
        """Uniqueness: ``count(col) - count(distinct col)`` (dag:369, M5).

        DISTINCT aggregates are rejected by ``observe``, so this check is
        left out of :meth:`observable` and :meth:`attach`.
        """
        self.unique[f"dup_{col}"] = col
        q = quote_ident(col)
        return self._add(f"dup_{col}", f"count({q}) - count(DISTINCT {q})")

    def add_regex(self, col: str, pattern: str) -> "DQSuite":
        """Regex conformity on non-null values (dag:369 'regex check')."""
        q = quote_ident(col)
        return self._add(
            f"regex_{col}",
            _count_true(f"(NOT ({q} RLIKE {sql_string(pattern)})) AND ({q} IS NOT NULL)"),
        )

    def add_type_valid(self, col: str, to_type: str) -> "DQSuite":
        """Type validity: values that fail a ``try_cast`` (dag:369).

        ``try_cast`` NULL on a non-NULL input == unparseable value — the
        Spark-native version of Soda's 'valid data type' check.
        """
        q = quote_ident(col)
        return self._add(
            f"badtype_{col}",
            _count_true(f"(try_cast({q} AS {to_type}) IS NULL) AND ({q} IS NOT NULL)"),
        )

    def add_freshness(self, ts_col: str, not_before: str) -> "DQSuite":
        """Freshness: ``max(ts) >= not_before`` else 1 violation (dag:369)."""
        stale = f"max({quote_ident(ts_col)}) < CAST({sql_string(not_before)} AS TIMESTAMP)"
        return self._add(f"stale_{ts_col}", f"coalesce(CAST({stale} AS INT), 1)")

    def observable(self) -> "DQSuite":
        """The suite without its DISTINCT checks: what :meth:`attach` takes."""
        return DQSuite([c for c in self.checks if c[0] not in self.unique])

    def violation_columns(self) -> list[Column]:
        return [F.expr(sql) for _, sql in self.checks]

    def violations(self, df: DataFrame, *extra: str) -> dict[str, int]:
        """One aggregation job over all checks.

        ``extra`` aliased SQL aggregates (row counts, say) ride the same
        pass and come back under their aliases; they never gate."""
        exprs = [*(sql for _, sql in self.checks), *extra]
        if not exprs:
            return {}
        row = df.selectExpr(*exprs).collect()[0]
        return {name: int(value) for name, value in row.asDict().items()}

    def gate(self, counts: dict[str, int]) -> dict[str, int]:
        """The suite's checks in declared order, read from ``counts``;
        raises :class:`DQViolation` naming every nonzero one."""
        checked = {name: counts[name] for name, _ in self.checks}
        failed = {name: n for name, n in checked.items() if n}
        if failed:
            raise DQViolation(f"DQ gate failed: {failed}")
        return checked

    def enforce(self, df: DataFrame, *extra: str) -> dict[str, int]:
        counts = self.violations(df, *extra)
        self.gate(counts)
        return counts

    def attach(self, df: DataFrame, *extra: str, name: str = "dq"):
        """Zero-extra-pass flavor: ride the checks on the NEXT action.

        Returns ``(observed_df, observation)``. The caller runs its normal
        action (the mart write, typically) on ``observed_df``, then calls
        :meth:`enforce_observed` — the metrics were aggregated during that
        action, so the DQ gate costs no second scan. ``extra`` aliased SQL
        aggregates ride the same observation and never gate, as in
        :meth:`violations`. At 100 TB this is the difference between one
        pass and two.

        Spark rejects DISTINCT aggregates inside ``observe``, so a suite
        containing :meth:`add_unique` cannot attach: attach its
        :meth:`observable` part and prove uniqueness another way. The
        pipeline runner proves the merge key unique on the two merge
        inputs while the version is written (``merge.upsert_key_repeats``)
        and falls back to :meth:`enforce` on the written version only for
        a DISTINCT check on another column.
        """
        from pyspark.sql import Observation

        if self.unique:
            raise ValueError(
                "observe() cannot evaluate DISTINCT aggregates; run add_unique "
                "checks via enforce() and attach() the remaining checks"
            )
        obs = Observation(name)
        return df.observe(obs, *self.violation_columns(), *map(F.expr, extra)), obs

    def enforce_observed(self, obs) -> dict[str, int]:
        """Gate on an Observation populated by a completed action; returns
        every observed value, the ``extra`` aggregates included."""
        counts = {k: int(v) for k, v in obs.get.items()}
        self.gate(counts)
        return counts


def assert_unique_doc_ids(docs: DataFrame, entry: str) -> None:
    """Construction-time uniqueness probe (registry LAZINESS contract: a
    plan may run a tiny scalar job while being built). The Spark mirror
    of the oracle's ``uq`` error() guard — one count/count_distinct
    aggregate over the bare id column (map-side partial agg, no text
    shuffled), so the production path pays ~nothing and a duplicate-id
    input fails LOUDLY on both engines instead of diverging silently
    (per-row shingle arrays vs exploded postings inflate differently on
    duplicates)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("d")
    ).first()
    if row.n != row.d:
        raise ValueError(
            f"{entry}: duplicate doc_id rows in documents input "
            f"(rows={row.n}, distinct ids={row.d}); fuzzy decontamination "
            "requires unique ids — dedupe upstream (dedup_exact_groups)"
        )


def reconcile_counts(src_count: int, dst_count: int) -> None:
    """A3 — exact row-count reconciliation (dag:417-420). Zero tolerance."""
    if src_count != dst_count:
        raise DQViolation(f"reconciliation mismatch: source={src_count} sink={dst_count}")


def reconcile_content(src: DataFrame, dst: DataFrame) -> int:
    """A3 upgraded — content-level diff via ``exceptAll`` (SURVEY §2.8).

    Returns the number of rows differing in either direction (0 == match).
    Two shuffles, but exact: catches value drift a count can't.
    """
    cols = src.columns
    left = src.select(*cols).exceptAll(dst.select(*cols)).count()
    right = dst.select(*cols).exceptAll(src.select(*cols)).count()
    return left + right


def fk_orphan_counts(
    child: DataFrame,
    fk_col: str,
    parent: DataFrame,
    pk_col: str,
    child_name: str,
    parent_name: str,
) -> DataFrame:
    """One referential-integrity edge as a 1-row audit frame:
    (child_table, fk_col, parent_table, n_child_rows, n_orphans,
    orphan_ppm). An orphan is a NON-NULL foreign key with no parent —
    NULL FKs are the completeness check's business (add_not_null), not a
    referential violation.

    Shape: left join child→distinct parent keys, then ONE conditional
    aggregate — the anti-join folded into a count so the edge costs a
    single equi-shuffle (dims broadcast by size under AQE)."""
    pk = parent.select(F.col(pk_col).alias("__pk")).distinct()
    joined = child.select(F.col(fk_col).alias("__fk")).join(
        pk, F.col("__fk") == F.col("__pk"), "left"
    )
    return (
        joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_child_rows"),
            F.sum(
                (F.col("__fk").isNotNull() & F.col("__pk").isNull()).cast(
                    "int"
                )
            )
            .cast("long")
            .alias("n_orphans"),
        )
        .select(
            F.lit(child_name).alias("child_table"),
            F.lit(fk_col).alias("fk_col"),
            F.lit(parent_name).alias("parent_table"),
            "n_child_rows",
            "n_orphans",
            F.expr(
                "CAST(n_orphans * 1000000 DIV n_child_rows AS BIGINT)"
            ).alias("orphan_ppm"),
        )
    )
