"""The benchmark's workloads: fixed op lists over generated inputs.

Every workload is a closed loop: one driver thread starts an op only after
the previous one has finished. A pass is one run over the workload's op
list. Query ops build the registered query's plan and run it through a
``noop`` sink; an ETL op is one ``run_incremental_batch``.
"""

from __future__ import annotations

import os
import shutil

import gen

# Cut to what fits the run budget; README.md lists the queries left out.
# Both kept queries are roadmap optimization targets.
TEXT_OPS = ("simhash_near_dups_portable", "dsir_importance_resample")


class QueryMix:
    """Registered queries over one generated input directory."""

    kind = "query"
    # --seconds buys one timed pass per nominal_pass_s (run.Bench.measure);
    # about a pass's time on a calm 4-CPU machine
    nominal_pass_s = 5.0

    def __init__(self, spark, data_dir: str, names: tuple[str, ...]) -> None:
        from my_favorite_etl_pipeline_spark.registry import REGISTRY

        self.spark = spark
        self.data_dir = data_dir
        self.ops = list(names)
        self.registry = {n: REGISTRY[n] for n in names}

    def begin_pass(self) -> None:
        pass

    def build(self, name: str):
        return self.registry[name].fn(self.spark, self.data_dir)

    @staticmethod
    def action(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_op(self, name: str) -> None:
        self.action(self.build(name))

    def end_pass(self) -> list[str]:
        return []


class EtlBackfill:
    """The reference pipeline: one op per backfill window, fresh mart per pass."""

    kind = "etl"
    nominal_pass_s = 4.0

    def __init__(self, spark, data_dir: str, work_dir: str) -> None:
        from my_favorite_etl_pipeline_spark.pipeline_runner import transform

        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.source = spark.read.parquet(os.path.join(data_dir, "source.parquet"))
        self.windows = gen.etl_windows()
        self.ops = [gen.etl_run_id(i) for i in range(len(self.windows))]
        self.empty_mart = transform(self.source.limit(0), "seed")
        self.reports = []

    def begin_pass(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir)
        self.mart = self.empty_mart
        self.reports = []

    def run_op(self, name: str) -> None:
        from my_favorite_etl_pipeline_spark.pipeline_runner import run_incremental_batch

        i = self.ops.index(name)
        self.mart, report = run_incremental_batch(
            self.spark, self.source, self.mart,
            os.path.join(self.work_dir, "staging"), self.windows[i], run_id=name,
            mart_path=os.path.join(self.work_dir, "mart"),
        )
        self.reports.append(report)

    def end_pass(self) -> list[str]:
        """The pass's final mart against the last-writer-wins expectation,
        plus the staging area, which every batch must leave empty."""
        from check import check_mart

        problems = check_mart(self.mart, self.data_dir)
        staging = os.path.join(self.work_dir, "staging")
        if os.path.isdir(staging) and any(
            d.startswith("batch_run_id=") for d in os.listdir(staging)
        ):
            problems.append("staging partitions left behind")
        return problems


def make(workload: str, spark, data_dir: str, work_dir: str):
    if workload == "etl_backfill":
        return EtlBackfill(spark, data_dir, work_dir)
    if workload == "text_curation":
        return QueryMix(spark, data_dir, TEXT_OPS)
    raise ValueError(f"unknown workload {workload!r}")
