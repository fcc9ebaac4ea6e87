#!/usr/bin/env python3
"""Benchmark of the spark-graft registry, end to end and by layer.

    python3 perfbench/run.py --workload topk_zipf --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``.perfbench/data``), builds a ``local[<cores>]`` session through the
program's ``session.get_spark``/``prep``, then runs the workload's ops in a
closed loop with one client. Outputs are checked outside the timed window.
``run_s`` is the run's op list with each op at its query's best time in the
run, so a burst of load from other tenants of the host moves it less than a
plain sum would.
The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones from a traced run (spans go to ``.perfbench/trace``).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "url_counter_mapreduce_spark"
DRIVER_MEM = "4g"  # the program defaults to 16g; the heap used here stays under 1 GB
SETUPS = 3  # session set-ups per run; setup_s is their median

sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import SparkProbe, Tracer  # noqa: E402
from workloads import EXTRA, WORKLOADS, check_oracle, check_sorted_output, check_topk, run_action  # noqa: E402


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest order statistic with at least ten
    samples above it; the maximum when there are ten samples or fewer."""
    xs = sorted(values)
    rank = len(xs) - 10
    if rank < 1:
        return 100.0, xs[-1]
    return 100.0 * rank / len(xs), xs[rank - 1]


def _prepare_env(cores: int) -> None:
    for d in ("tmp", "spark-local", "scratch", "out", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_SCRATCH_DIR=os.path.join(WORK, "scratch"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM (the launcher's too) keeps its temp files under WORK and
        # writes no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    os.chdir(WORK)  # anything Spark drops in its working directory lands here


class Bench:
    def __init__(self, w, data_dir: str, expected: dict, trace: bool):
        from url_counter_mapreduce_spark import ORACLES, QUERIES, session

        self.w, self.data_dir, self.expected, self.trace = w, data_dir, expected, trace
        self.queries, self.oracles, self.session = QUERIES, ORACLES, session
        self.out_dir = os.path.join(WORK, "out", w.name)
        self.spark = None
        self.tracer = Tracer()
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.prep_s: list[float] = []
        self.query_errors: dict[str, str] = {}  # query -> failed oracle check
        self.warm_errors: list[str] = []
        self.ops: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def setup(self, t0: float) -> None:
        """One set-up, timed from ``t0``: a fresh session, prep, inputs
        located, and one warm-up op (the workload's warm-up query), checked
        after the clock stops."""
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = self.session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.session.prep(self.spark)
        self.prep_s.append(time.perf_counter() - t)
        for name in os.listdir(self.data_dir):
            os.stat(os.path.join(self.data_dir, name))
        q = self.w.warmup or self.w.queries[0]
        df = self.queries[q](self.spark, self.data_dir)
        df._jdf.queryExecution().executedPlan()
        result = run_action(self.w, df, self.out_dir)
        self.setup_s.append(time.perf_counter() - t0)
        err = self.check(q, result)
        if err:
            self.warm_errors.append(f"{q}: {err}")

    def check(self, query: str, result) -> str | None:
        if self.w.action == "collect":
            return check_topk(result, self.expected)
        if self.w.action == "parquet":
            return check_sorted_output(result, self.expected)
        return self.query_errors.get(query)

    def check_oracles(self) -> None:
        """Once per process, untimed: collect every query of the list and
        hash-compare it with its DuckDB oracle over the same files. This
        round also warms every query before the measured rounds."""
        import duckdb

        con = duckdb.connect()
        for name in os.listdir(self.data_dir):
            if name.endswith(".parquet"):
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{self.data_dir}/{name}'")
        for q in self.w.queries:
            pdf = self.queries[q](self.spark, self.data_dir).toPandas()
            err = check_oracle(con, self.oracles.get(q), pdf)
            if err:
                self.query_errors[q] = err
        con.close()

    # -- one op -----------------------------------------------------------
    def op(self, op_id: str, query: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"{op_id}.build", query)
        df = self.queries[query](self.spark, self.data_dir)
        t1 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"{op_id}.plan", query)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"{op_id}.exec", query)
        result = run_action(self.w, df, self.out_dir)
        t3 = time.perf_counter()
        rec = {"id": op_id, "query": query, "traced": traced, "s": t3 - t0,
               "err": self.check(query, result)}
        if traced:
            sc.setJobGroup("perfbench.idle", "between ops")
            rec.update(self._layers(op_id, query, df, (t0, t1, t2, t3)))
        return rec

    def _layers(self, op_id: str, query: str, df, ts) -> dict:
        probe = SparkProbe(self.spark)
        probe.drain()
        t0, t1, t2, t3 = ts
        build_jobs, exec_jobs = probe.jobs(f"{op_id}.build"), probe.jobs(f"{op_id}.exec")
        build_job_wall = probe.job_wall_s(build_jobs)
        ex = probe.stage_totals(exec_jobs + probe.jobs(f"{op_id}.plan"))
        cat = probe.catalyst_phases(df)
        led = probe.ledger()
        tr = self.tracer
        tr.span(op_id, "run", "op", t0, t3, query=query)
        tr.span(f"{op_id}.build", op_id, "registry.build", t0, t1, jobs=len(build_jobs),
                job_wall_s=build_job_wall, analysis_s=cat["analysis"])
        tr.span(f"{op_id}.plan", op_id, "catalyst.plan", t1, t2,
                optimization_s=cat["optimization"], planning_s=cat["planning"])
        tr.span(f"{op_id}.exec", op_id, "exec", t2, t3, **ex, **led)
        return {
            "registry.build_s": t1 - t0,
            "registry.build_jobs": len(build_jobs),
            "registry.build_job_wall_s": build_job_wall,
            "registry.build_self_s": max(t1 - t0 - build_job_wall, 0.0),
            "catalyst.plan_s": t2 - t1,
            "catalyst.analysis_s": cat["analysis"],
            "catalyst.optimization_s": cat["optimization"],
            "catalyst.planning_s": cat["planning"],
            "exec.s": t3 - t2,
            **{f"exec.{k}": v for k, v in ex.items()},
            **{f"ledger.{k}": v for k, v in led.items()},
        }

    # -- the run ----------------------------------------------------------
    def run(self, seconds: float) -> None:
        n = 0
        rounds = self.w.rounds(seconds)
        if self.trace:
            rounds = max(rounds, 2)
        for r in range(rounds):
            # a traced run interleaves traced and untraced rounds, so the
            # tracing overhead is measured on the same session and inputs
            traced = self.trace and r % 2 == 1
            for q in self.w.queries:
                n += 1
                try:
                    self.ops.append(self.op(f"op{n}", q, traced))
                except Exception:  # an op that raises counts as failed; the run goes on
                    traceback.print_exc()
                    self.ops.append({"id": f"op{n}", "query": q, "traced": traced, "s": None,
                                     "err": "raised"})

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)


def best_run_s(ops: list[dict]) -> float:
    """Wall time of the op list with every op at its query's best time in
    the run. Load from other tenants of the host only ever adds time, and
    it comes and goes within seconds, so the best of several rounds is
    the steadiest estimate of what the ops cost."""
    by_query: dict[str, list[float]] = {}
    for o in ops:
        if o["s"] is not None:
            by_query.setdefault(o["query"], []).append(o["s"])
    return sum(len(ts) * min(ts) for ts in by_query.values()) if by_query else float("nan")


def e2e_metrics(b: Bench) -> tuple[dict, str]:
    times = [o["s"] for o in b.ops if o["s"] is not None] or [float("nan")]
    pct, tail_s = tail(times)
    probe = SparkProbe(b.spark)
    heap = probe.retained_heap_mb()
    led = probe.ledger()
    metrics = {
        "setup_s": (statistics.median(b.setup_s), "s"),
        "run_s": (best_run_s(b.ops), "s"),
        "retained_heap_mb": (heap, "MB"),
    }
    note = (f"ops wall={sum(times):.4f} s, op_s.p50={statistics.median(times):.4f} s,"
            f" op_s.tail=p{pct:.0f} of {len(times)} ops = {tail_s:.4f} s; held_storage_mb={led['held_storage_mb']:.3f} in {led['persisted_rdds']} persisted RDDs")
    return metrics, note


def layer_metrics(b: Bench) -> tuple[dict, str]:
    traced = [o for o in b.ops if o["traced"] and o["s"] is not None]
    plain = [o for o in b.ops if not o["traced"] and o["s"] is not None]

    def mean(key):
        return statistics.fmean(o[key] for o in traced)

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    exec_s = sum(o["exec.s"] for o in traced)
    tokens = b.expected["n_tokens"] * len(traced)
    m = {
        "session.get_spark_s": (statistics.median(b.get_spark_s), "s"),
        "session.prep_s": (statistics.median(b.prep_s), "s"),
        "op.s": (mean("s"), "s"),
        "registry.build_s": (mean("registry.build_s"), "s"),
        "registry.build_jobs": (mean("registry.build_jobs"), "count"),
        "registry.build_job_wall_s": (mean("registry.build_job_wall_s"), "s"),
        "registry.build_self_s": (mean("registry.build_self_s"), "s"),
        "catalyst.plan_s": (mean("catalyst.plan_s"), "s"),
        "catalyst.analysis_s": (mean("catalyst.analysis_s"), "s"),
        "catalyst.optimization_s": (mean("catalyst.optimization_s"), "s"),
        "catalyst.planning_s": (mean("catalyst.planning_s"), "s"),
        "exec.s": (mean("exec.s"), "s"),
        "exec.jobs": (mean("exec.jobs"), "count"),
        "exec.stages": (mean("exec.stages"), "count"),
        "exec.tasks": (mean("exec.tasks"), "count"),
        "exec.task_run_s": (mean("exec.task_run_s"), "s"),
        "exec.task_cpu_s": (mean("exec.task_cpu_s"), "s"),
        "exec.gc_s": (mean("exec.gc_s"), "s"),
        "exec.input_mb": (mean("exec.input_mb"), "MB"),
        "exec.failed_tasks": (mean("exec.failed_tasks"), "count"),
        "exec.shuffle_records_per_token": (
            sum(o["exec.shuffle_write_records"] for o in traced) / tokens, "ratio"),
        "exec.core_busy": (sum(o["exec.task_run_s"] for o in traced) / (exec_s * cores), "ratio"),
        "exec.shuffle_write_mb": (mean("exec.shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (mean("exec.shuffle_read_mb"), "MB"),
        "exec.fetch_wait_s": (mean("exec.fetch_wait_s"), "s"),
        "exec.spill_mb": (mean("exec.spill_mb"), "MB"),
        "ledger.persisted_rdds": (mean("ledger.persisted_rdds"), "count"),
        "ledger.held_storage_mb": (mean("ledger.held_storage_mb"), "MB"),
        "trace.overhead": (statistics.fmean(o["s"] for o in traced)
                           / statistics.fmean(o["s"] for o in plain), "ratio"),
    }
    return m, f"{len(traced)} traced ops"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft registry benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS | EXTRA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    w = (WORKLOADS | EXTRA)[args.workload]
    cores = os.cpu_count() or 1
    _prepare_env(cores)
    sys.path.insert(0, ROOT)

    t = time.perf_counter()
    data_dir, made = gen.ensure(os.path.join(WORK, "data"), w.kind, args.seed, w.params)
    gen_s = time.perf_counter() - t
    with open(os.path.join(data_dir, "expected.json")) as fh:
        expected = json.load(fh)

    b = Bench(w, data_dir, expected, bool(args.trace))
    try:
        b.setup(T_START + gen_s)  # the first set-up counts from process start, less generation
        for _ in range(SETUPS - 1):
            b.setup(time.perf_counter())
        if w.action == "noop":
            b.check_oracles()
        b.run(args.seconds)
        metrics, note = layer_metrics(b) if args.trace else e2e_metrics(b)
    finally:
        b.stop()
    if args.trace:
        path = os.path.join(WORK, "trace", f"{w.name}-s{args.seed}.jsonl")
        b.tracer.write(path)
        note += f", spans in {path}"

    failed = sum(1 for o in b.ops if o["err"])
    errs = sorted({f"{o['query']}: {o['err']}" for o in b.ops if o["err"]} | set(b.warm_errors))
    for e in errs:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(f"{w.name} seed={args.seed} cores={cores} inputs={'generated' if made else 'cached'}"
          f" ({gen_s:.1f} s) setups_s={[round(x, 2) for x in b.setup_s]} failed_op_ratio={failed / len(b.ops):.4f}; "
          + note + "; " + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items()))
    print(json.dumps({
        "correct": failed == 0 and not errs,
        "attempted": len(b.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
