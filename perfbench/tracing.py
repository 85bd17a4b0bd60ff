"""Per-layer tracing from the benchmark's own files.

Nothing here patches the engine package permanently: spans are taken around
calls into each layer's public functions, and Spark's engine counters come
from the live ``AppStatusStore`` (``sc._jsc.sc().statusStore()``) and the SQL
status store, both populated with the UI disabled. Spans stay in memory and
are written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

# StageData fields summed per op, keyed by the per-layer metric they feed
_STAGE_SUMS = {
    "tasks": "numTasks",
    "executor_run_s": "executorRunTime",  # ms
    "executor_cpu_s": "executorCpuTime",  # ns
    "gc_s": "jvmGcTime",  # ms
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "failed_tasks": "numFailedTasks",
}
_SCALE = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9, "gc_s": 1e-3}

SPARK_COUNTERS = (
    "jobs", "stages", *_STAGE_SUMS, "spill_bytes", "exchanges", "driver_gap_s",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans plus Spark counters for one run; one instance per process."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._group_seq = 0
        self._prev_group: str | None = None
        statuses = self.jvm.java.util.ArrayList()
        st = self.jvm.org.apache.spark.status.api.v1.StageStatus
        statuses.add(st.COMPLETE)
        statuses.add(st.FAILED)
        self._statuses = statuses
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self._no_task_status = self.jvm.java.util.ArrayList()

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def new_group(self, label: str) -> str:
        """Set a fresh Spark job group on this thread and return its id."""
        self._group_seq += 1
        gid = f"{label}#{self._group_seq}"
        self.sc.setJobGroup(gid, label)
        return gid

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"id": i, "name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, **s.attrs} for i, s in enumerate(self.spans)],
                      fh)

    # -- Spark counters ----------------------------------------------------

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def sql_executions_seen(self) -> int:
        return self.sql_store.executionsCount()

    def exchanges_since(self, count_before: int) -> int:
        """ShuffleExchange nodes in the final (post-AQE) plans of every SQL
        execution started after ``count_before`` executions were recorded."""
        n = self.sql_store.executionsCount() - count_before
        if n <= 0:
            return 0
        execs = self.sql_store.executionsList(count_before, n)
        total = 0
        for i in range(execs.size()):
            nodes = self.sql_store.planGraph(execs.apply(i).executionId()).allNodes()
            total += sum(1 for j in range(nodes.size()) if nodes.apply(j).name() == "Exchange")
        return total

    def counters(self, job_ids: list[int], t_start: float, t_end: float) -> dict:
        """Engine counters of ``job_ids``, read right after the op so the
        retained-jobs limit cannot have dropped them. ``driver_gap_s`` is
        the part of [t_start, t_end] (epoch seconds) with no stage active."""
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["jobs"] = len(job_ids)
        if not job_ids:
            out["driver_gap_s"] = t_end - t_start
            return out
        wanted: set[int] = set()
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            wanted.update(ids.apply(i) for i in range(ids.size()))
        lo = min(wanted)
        stages = self.store.stageList(self._statuses, False, False,
                                      self._no_quantiles, self._no_task_status)
        intervals = []
        for i in range(stages.size()):  # newest first
            sd = stages.apply(i)
            sid = sd.stageId()
            if sid < lo:
                break
            if sid not in wanted:
                continue
            out["stages"] += 1
            for name, getter in _STAGE_SUMS.items():
                out[name] += getattr(sd, getter)() * _SCALE.get(name, 1)
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1000
                b = done.get().getTime() / 1000 if done.isDefined() else t_end
                intervals.append((max(a, t_start), min(b, t_end)))
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(intervals):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        out["driver_gap_s"] = max(0.0, (t_end - t_start) - busy)
        return out

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class PipelineSteps:
    """Wrap ``pipeline_runner``'s module-level step functions at runtime.

    Each step runs under its own Spark job group, so job counts per step are
    exact; between steps the group falls back to the batch's ``self`` group.
    ``reconcile`` is the span from the end of the DQ gate to the start of the
    mart commit (it holds the two reconciliation counts); ``commit`` runs
    from ``VersionedMart.commit`` to the start of staging cleanup, so it
    includes the committed version's read and count.
    """

    STEPS = ("extract", "stage_write", "merge_dq", "reconcile", "commit", "cleanup")

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []
        self.begin_batch("idle")

    def begin_batch(self, label: str) -> None:
        self.groups = {s: f"{label}/{s}" for s in (*self.STEPS, "self")}
        self.t = dict.fromkeys(self.STEPS, 0.0)
        self.bytes = {"staging": 0, "mart": 0}
        self.spans: list[tuple[str, float, float]] = []
        self._mark: tuple[str, float] | None = None

    def _enter(self, step: str) -> None:
        """Close the running step's segment and make ``step`` current."""
        self.tracer.sc.setJobGroup(self.groups[step], step)
        now = time.time()
        if self._mark is not None:
            prev, t0 = self._mark
            if prev != "self":
                self.t[prev] += now - t0
                self.spans.append((prev, t0, now))
        self._mark = (step, now)

    def end_batch(self) -> None:
        self._enter("self")
        self._mark = None

    def _wrap(self, owner, name: str, step: str, after: str = "self", on_exit=None) -> None:
        orig = getattr(owner, name)
        steps = self

        def wrapper(*args, **kwargs):
            steps._enter(step)
            try:
                result = orig(*args, **kwargs)
                if on_exit is not None:
                    on_exit(args, kwargs, result)
                return result
            finally:
                steps._enter(after)

        self._saved.append((owner, name, orig))
        setattr(owner, name, wrapper)

    def install(self) -> None:
        from my_favorite_etl_pipeline_spark import pipeline_runner as pr
        from my_favorite_etl_pipeline_spark.operators.dq import DQSuite
        from my_favorite_etl_pipeline_spark.sources.mart import VersionedMart

        def staged(args, kwargs, _result):
            path, run_id = args[1], args[2]
            self.bytes["staging"] += dir_bytes(os.path.join(path, f"batch_run_id={run_id}"))

        def committed(args, kwargs, version):
            mart = args[0]
            self.bytes["mart"] += dir_bytes(str(mart.root / "data" / version))

        self._wrap(pr, "incremental_extract", "extract")
        self._wrap(pr, "is_empty", "extract")
        self._wrap(pr, "write_staging", "stage_write", on_exit=staged)
        self._wrap(DQSuite, "enforce", "merge_dq", after="reconcile")
        # commit stays the active step after return: read + count belong to it
        self._wrap(VersionedMart, "commit", "commit", after="commit", on_exit=committed)
        self._wrap(pr, "delete_staging_run", "cleanup")

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()
