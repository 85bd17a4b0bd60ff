"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The inputs are generated from the
seed (cached under ``.bench_data/``), the engine runs on ``local[<nproc>]``
through the package's own session factory, and every op's output is checked
outside the timed region. The last stdout line is the result object; the
line before it carries the run's details (versions, every op sample, the
slowest op, input manifest). ``--trace 1`` adds a traced half whose spans
and counters give the per-layer metrics (spans are written to
``.bench_out/``). README.md in this directory defines every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = tuple(gen.SIZES)
PACKAGE = "my_favorite_etl_pipeline_spark"
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_s_p50": "s", "op_s_tail": "s", "retained_heap_mb": "MB",
}
# Untraced runs take the median of at least four passes: passes still get
# faster while the JIT settles, and the median of four averages the middle two.
# Each segment of a traced run is one pass or more.
MIN_PASSES = 4


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit; identical for all workloads
    (a layer a workload does not exercise reads 0 there)."""
    from tracing import SPARK_COUNTERS, PipelineSteps

    units = {}
    for c in SPARK_COUNTERS:
        units[f"spark.{c}"] = (
            "s" if c.endswith("_s") else "B" if c.endswith("_bytes") else "count")
    units.update({"peak_rss_mb": "MB", "session.start_s": "s", "setup.warm_pass_s": "s",
                  "setup.memo_build_s": "s", "plans.build_s": "s",
                  "plans.build_jobs": "count"})
    for q in workloads.TEXT_OPS:
        units[f"plans.{q}.s"] = "s"
        units[f"plans.{q}.jobs"] = "count"
        units[f"plans.{q}.exchanges"] = "count"
        units[f"plans.{q}.shuffle_bytes"] = "B"
    units.update({"caching.persists": "count", "caching.cached_bytes_peak": "B",
                  "caching.leaked_persists": "count"})
    for s in PipelineSteps.STEPS:
        units[f"pipeline_runner.{s}.s"] = "s"
        units[f"pipeline_runner.{s}.jobs"] = "count"
    units.update({"pipeline_runner.self.jobs": "count",
                  "pipeline_runner.commit.bytes_written": "B",
                  "sources.mart.rows_rewritten_per_row_landed": "ratio",
                  "write_amp": "ratio", "error_rate": "ratio", "trace.overhead_s": "s"})
    return units


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "smoke"), default="bench",
                   help="input size; smoke is the smallest, for the self-check")
    return p.parse_args(argv)


def prepare_env(root: str) -> str:
    """Keep every file Spark and the JVM write inside the checkout."""
    tmp = os.path.join(root, ".bench_tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the driver heap is get_spark's own; only temp files are redirected
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["TZ"] = "UTC"
    time.tzset()
    return tmp


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """Runs one workload's passes and counts attempts and failures."""

    def __init__(self, spark, wl) -> None:
        from my_favorite_etl_pipeline_spark.caching import materialized_scope

        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = wl
        self.scope = materialized_scope
        self.attempted = 0
        self.failed = 0
        self.leaked = 0
        self.problems: list[str] = []
        self.tracer = None
        self.steps = None
        self.op_seq = 0

    def _fail(self, what: str, ops: int = 1) -> None:
        self.failed += ops
        self.problems.append(what)
        print(f"FAIL {what}", file=sys.stderr)

    def _leak_check(self) -> int:
        """Persisted RDDs still registered after an op's scope exited.

        Local checkpoints are persisted RDDs too, but they are lineage cuts
        whose blocks the ContextCleaner drops once the driver lets go of the
        RDD; only non-checkpoint persists count as leaks."""
        rdds = self.sc._jsc.getPersistentRDDs().values()
        leaked = sum(1 for r in rdds if not r.rdd().isCheckpointed())
        self.leaked += leaked
        return leaked

    def run_op(self, name: str, rec: dict | None) -> float:
        """One op in a materialized scope after a cache clear. ``rec`` (traced
        runs only) receives the op's spans and counters."""
        self.spark.catalog.clearCache()
        self.attempted += 1
        self.op_seq += 1
        ok = True
        t0 = time.perf_counter()
        try:
            if rec is None:
                with self.scope():
                    self.wl.run_op(name)
            else:
                self._run_traced(name, rec)
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        t_end = time.perf_counter()
        if rec is not None:
            # a traced op's counters are read after its end mark, off its time
            t_end = rec.pop("t_end", t_end)
        dt = t_end - t0
        leaked = self._leak_check()
        if not ok or leaked:
            self._fail(f"{name}: raised={not ok} leaked_persists={leaked}")
        if rec is not None:
            rec.update(name=name, s=dt)
        return dt

    def _run_traced(self, name: str, rec: dict) -> None:
        tr = self.tracer
        execs_before = tr.sql_executions_seen()
        groups = []
        with tr.span("op", op=name, seq=self.op_seq) as sp, self.scope() as scope:
            if self.wl.kind == "query":
                with tr.span("plans.build", op=name):
                    g = tr.new_group(f"{name}/build")
                    t0 = time.perf_counter()
                    df = self.wl.build(name)
                    rec["build_s"] = time.perf_counter() - t0
                    rec["build_jobs"] = len(tr.job_ids(g))
                    groups.append(g)
                with tr.span("plans.action", op=name):
                    groups.append(tr.new_group(f"{name}/run"))
                    self.wl.action(df)
            else:
                self.steps.begin_batch(f"{name}#{self.op_seq}")
                try:
                    self.wl.run_op(name)
                finally:
                    self.steps.end_batch()
                for step, t0, t1 in self.steps.spans:
                    tr.spans.append(type(sp)(f"pipeline_runner.{step}", t0, t1,
                                             parent=tr.spans.index(sp), attrs={"op": name}))
                groups.extend(self.steps.groups.values())
                rec["steps_s"] = dict(self.steps.t)
                rec["steps_jobs"] = {s: len(tr.job_ids(g))
                                     for s, g in self.steps.groups.items()}
                rec["bytes"] = dict(self.steps.bytes)
                rep = self.wl.reports[-1]
                rec["extracted"], rec["merged_total"] = rep.extracted, rep.merged_total
            rec["persists"] = len(scope)
            rec["cached_bytes"] = tr.cached_bytes()
        rec["t_end"] = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sorted({j for g in groups for j in tr.job_ids(g)})
        rec["spark"] = tr.counters(jobs, sp.start, sp.end)
        rec["spark"]["exchanges"] = tr.exchanges_since(execs_before)

    def measure(self, seconds: float, traced: bool, min_passes: int = MIN_PASSES):
        """A fixed number of whole passes: ``seconds`` over the workload's
        nominal pass time, at least ``min_passes``. Every run with the same
        ``seconds`` does the same work, so the median is always taken over
        the same passes.
        Returns pass times, op times and, when traced, the per-op records
        of each pass."""
        n = max(min_passes, round(seconds / self.wl.nominal_pass_s))
        passes, ops, recs = [], [], []
        for _ in range(n):
            self.wl.begin_pass()
            pass_recs, pt = [], 0.0
            for name in self.wl.ops:
                rec = {} if traced else None
                dt = self.run_op(name, rec)
                pt += dt
                ops.append(dt)
                if traced:
                    pass_recs.append(rec)
            self.check_pass()
            passes.append(pt)
            recs.append(pass_recs)
        return passes, ops, recs

    def check_pass(self) -> None:
        try:
            problems = self.wl.end_pass()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            problems = ["pass check raised"]
        for p in problems:
            # a wrong mart means every batch of the pass failed its check
            self._fail(f"pass output: {p}", ops=len(self.wl.ops))

    def warm(self, oracle) -> tuple[dict[str, float], float]:
        """One pass outside the measurement: JIT, codegen and process-level
        memos warm up, and every op's output is checked. Returns per-op warm
        seconds and the check seconds, which the warm pass does not include."""
        per_op, check_s = {}, 0.0
        self.wl.begin_pass()
        for name in self.wl.ops:
            self.spark.catalog.clearCache()
            self.attempted += 1
            problems = []
            t0 = time.perf_counter()
            try:
                if self.wl.kind == "query":
                    with self.scope():
                        df = self.wl.build(name)
                        cols, rows = df.columns, [tuple(r) for r in df.collect()]
                    per_op[name] = time.perf_counter() - t0
                    t1 = time.perf_counter()
                    problems = oracle.check(self.wl.registry[name].oracle, cols, rows)
                    check_s += time.perf_counter() - t1
                else:
                    with self.scope():
                        self.wl.run_op(name)
                    per_op[name] = time.perf_counter() - t0
            except Exception:
                traceback.print_exc(file=sys.stderr)
                per_op[name] = time.perf_counter() - t0
                problems = ["raised"]
            leaked = self._leak_check()
            if leaked:
                problems.append(f"leaked {leaked} persisted RDDs")
            if problems:
                self._fail(f"{name} (warm): {'; '.join(problems)}")
        t1 = time.perf_counter()
        self.check_pass()
        check_s += time.perf_counter() - t1
        return per_op, check_s


def layer_metrics(bench: Bench, recs, untraced: list[float], traced: list[float],
                  run: dict) -> dict[str, float]:
    from tracing import SPARK_COUNTERS, PipelineSteps

    m = dict.fromkeys(per_layer_units(), 0.0)
    flat = [r for p in recs for r in p]
    for c in SPARK_COUNTERS:
        m[f"spark.{c}"] = median([sum(r["spark"][c] for r in p) for p in recs])
    m["peak_rss_mb"] = run["rss_mb"]
    m["session.start_s"] = run["session_s"]
    m["setup.warm_pass_s"] = run["warm_s"]
    m["setup.memo_build_s"] = run["memo_s"]
    if bench.wl.kind == "query":
        m["plans.build_s"] = median([sum(r["build_s"] for r in p) for p in recs])
        m["plans.build_jobs"] = median([sum(r["build_jobs"] for r in p) for p in recs])
        for q in bench.wl.ops:
            mine = [r for r in flat if r["name"] == q]
            m[f"plans.{q}.s"] = median([r["s"] for r in mine])
            m[f"plans.{q}.jobs"] = median([r["spark"]["jobs"] for r in mine])
            m[f"plans.{q}.exchanges"] = median([r["spark"]["exchanges"] for r in mine])
            m[f"plans.{q}.shuffle_bytes"] = median(
                [r["spark"]["shuffle_write_bytes"] for r in mine])
    else:
        for s in PipelineSteps.STEPS:
            m[f"pipeline_runner.{s}.s"] = median([r["steps_s"][s] for r in flat])
            m[f"pipeline_runner.{s}.jobs"] = median([r["steps_jobs"][s] for r in flat])
        m["pipeline_runner.self.jobs"] = median([r["steps_jobs"]["self"] for r in flat])
        m["pipeline_runner.commit.bytes_written"] = median(
            [sum(r["bytes"]["mart"] for r in p) for p in recs])
        m["sources.mart.rows_rewritten_per_row_landed"] = median(
            [sum(r["merged_total"] for r in p) / max(1, sum(r["extracted"] for r in p))
             for p in recs])
        m["write_amp"] = median(
            [sum(r["bytes"]["staging"] + r["bytes"]["mart"] for r in p)
             / max(1, sum(r["bytes"]["staging"] for r in p)) for p in recs])
    m["caching.persists"] = median([sum(r["persists"] for r in p) for p in recs])
    m["caching.cached_bytes_peak"] = median([max(r["cached_bytes"] for r in p) for p in recs])
    m["caching.leaked_persists"] = bench.leaked
    m["error_rate"] = bench.failed / max(1, bench.attempted)
    m["trace.overhead_s"] = median(traced) - median(untraced)
    return m


def jobs_per_op(recs) -> dict[str, list[int]]:
    """Spark jobs of each op in each traced pass: the count evidence, which
    must repeat exactly from pass to pass and run to run."""
    out: dict[str, list[int]] = {}
    for p in recs:
        for r in p:
            out.setdefault(r["name"], []).append(r["spark"]["jobs"])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from a source checkout: ./{PACKAGE}/ not found in {root}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    tmp = prepare_env(root)

    t0 = time.perf_counter()
    data_dir, manifest = gen.generate(args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - t0

    from check import Oracle
    from my_favorite_etl_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_proc = spark.sparkContext._gateway.proc
    oracle = Oracle(data_dir)
    bench = Bench(spark, workloads.make(args.workload, spark, data_dir,
                                        os.path.join(tmp, "work")))
    untraced = recs = None
    try:
        warm_ops, check_s = bench.warm(oracle)
        # process start to first timed op, less input generation and checks
        setup_s = time.perf_counter() - T_PROCESS - gen_s - check_s
        # the first pass after the warm pass still runs 10-20% slow while the
        # JIT settles: its time goes to the details line only, no median
        settle, _, _ = bench.measure(0, traced=False, min_passes=1)
        if args.trace:
            from tracing import PipelineSteps, Tracer

            # untraced passes before AND after the traced ones, so JIT warm-up
            # still under way does not bias the tracing overhead either way
            untraced, _, _ = bench.measure(args.seconds / 4, traced=False, min_passes=1)
            bench.tracer = Tracer(spark)
            if bench.wl.kind == "etl":
                bench.steps = PipelineSteps(bench.tracer)
                bench.steps.install()
            try:
                passes, op_times, recs = bench.measure(args.seconds / 2, traced=True,
                                                      min_passes=1)
            finally:
                if bench.steps is not None:
                    bench.steps.uninstall()
            untraced += bench.measure(args.seconds / 4, traced=False, min_passes=1)[0]
            bench.tracer.write(os.path.join(
                root, ".bench_out", f"trace-{args.workload}-s{args.seed}.json"))
        else:
            passes, op_times, _ = bench.measure(args.seconds, traced=False)
        # peak RSS first, so the collection below cannot count in it
        rss_parts = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_proc.pid)}
        mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap_committed_mb = mx.getHeapMemoryUsage().getCommitted() / 2**20
        mx.gc()  # a full collection: the heap still used is what the run retains
        retained_mb = mx.getHeapMemoryUsage().getUsed() / 2**20
        versions = {"spark": spark.version,
                    "java": spark._jvm.System.getProperty("java.version"),
                    "python": platform.python_version(),
                    "cpus": int(os.environ["SPARK_GRAFT_CPUS"])}
    finally:
        oracle.close()
        spark.stop()
        jvm_proc.terminate()
        jvm_proc.wait(timeout=60)

    warm_s = sum(warm_ops.values())
    op_runs = {}
    for name, dt in zip(bench.wl.ops * len(passes), op_times):
        op_runs.setdefault(name, []).append(dt)
    # each op's median over the passes; a run holds 4 samples per op, too
    # few for a percentile over all samples, so the tail is the slowest op
    op_med = {n: median(v) for n, v in op_runs.items()}
    tail_op = max(op_med, key=op_med.get)
    # first-call cost beyond the steady state: JIT plus process-level memos
    memo_s = sum(max(0.0, warm_ops[n] - op_med[n]) for n in warm_ops)
    if args.trace:
        metrics = layer_metrics(bench, recs, untraced, passes, {
            "session_s": session_s, "warm_s": warm_s, "memo_s": memo_s,
            "rss_mb": sum(rss_parts.values())})
        units = per_layer_units()
    else:
        metrics = {"setup_s": setup_s, "pass_s": median(passes),
                   "op_s_p50": median(op_med.values()), "op_s_tail": op_med[tail_op],
                   "retained_heap_mb": retained_mb}
        units = END_TO_END
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "versions": versions,
        "loop": "closed, 1 driver thread", "gen_s": gen_s,
        "gen_s_written": manifest.get("gen_s"), "inputs": manifest["tables"],
        "session_s": session_s, "warm_s": warm_s, "check_s": check_s,
        "settle_pass_s": settle[0], "peak_rss_mb_parts": rss_parts,
        "heap_committed_mb": heap_committed_mb, "passes": passes, "op_samples": len(op_times),
        "op_s_tail_op": tail_op,
        "op_s": op_runs,
        "problems": bench.problems[:20],
    }
    if recs is not None:
        details["jobs_per_op"] = jobs_per_op(recs)
        details["untraced_passes"] = untraced
    print(json.dumps(details))
    print(json.dumps({
        "correct": bench.failed == 0, "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
