#!/usr/bin/env python
"""Per-stage profile and shuffle audit of registry queries, read from the
driver's status store with the Spark UI off.

Each query runs in its own job group after a warm-up; its jobs and stages
are read through ``perfbench/layers.py``'s ``SparkProbe``
(``statusTracker`` job groups and ``statusStore().lastStageAttempt``), the
same instrument the benchmark's layer split uses. Jobs the builder runs
eagerly (checkpoints, collects) land in the group too.

Usage:
    python tools/stage_profile.py url_topk dedup_prefix_filter ...
        one warm-up per query, then one timed run; prints the wall time,
        job count and per-stage rows: run, CPU, GC and fetch-wait seconds,
        tasks, input / shuffle-read / shuffle-write MB, stage name.
    python tools/stage_profile.py
        one warm-up, then every batch query once; writes
        docs/SHUFFLE_AUDIT.md, sorted by shuffle-write bytes.

The session comes from ``session.get_spark()``, so ``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` and ``SPARK_GRAFT_DRIVER_MEM`` apply;
``SPARK_GRAFT_SF_DIR`` picks the data (default: the sf0.1 test data).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.layers import MB, SparkProbe  # noqa: E402
from url_counter_mapreduce_spark import QUERIES, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
AUDIT_PATH = os.path.join(REPO, "docs", "SHUFFLE_AUDIT.md")


def _run(spark, name: str, sf_dir: str) -> None:
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def run_in_group(spark, probe: SparkProbe, name: str, sf_dir: str) -> tuple[float, list[int]]:
    """Build and run ``name`` once in a fresh job group: (wall s, job ids)."""
    sc = spark.sparkContext
    group = f"stage-profile.{name}.{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        _run(spark, name, sf_dir)
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    probe.drain()
    return wall, probe.jobs(group)


def stage_rows(probe: SparkProbe, job_ids: list[int]) -> list[dict]:
    """One row per stage the jobs ran (skipped stages left out)."""
    sids = set()
    for jid in job_ids:
        info = probe.sc.statusTracker().getJobInfo(jid)
        sids.update(info.stageIds if info else ())
    rows = []
    for sid in sorted(sids):
        try:
            sd = probe.store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage skipped, never attempted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        rows.append(
            {
                "stage": sid,
                "tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "fetch_s": sd.shuffleFetchWaitTime() / 1e3,
                "input_mb": sd.inputBytes() / 1e6,
                "sh_r_mb": sd.shuffleReadBytes() / 1e6,
                "sh_w_mb": sd.shuffleWriteBytes() / 1e6,
                "name": sd.name().split("\n")[0][:80],
            }
        )
    return rows


def profile(spark, name: str, sf_dir: str) -> dict:
    """A discarded warm-up, then one timed run of ``name``."""
    probe = SparkProbe(spark)
    _run(spark, name, sf_dir)
    wall, jobs = run_in_group(spark, probe, name, sf_dir)
    return {"wall_s": wall, "jobs": len(jobs), "stages": stage_rows(probe, jobs)}


def print_profile(name: str, prof: dict) -> None:
    rows = prof["stages"]
    print(f"\n=== {name}: wall {prof['wall_s']:.3f}s, {prof['jobs']} jobs, {len(rows)} stages ===")
    tot_run = sum(r["run_s"] for r in rows)
    print(f"  sum executorRunTime {tot_run:.2f}s (task-parallel; wall gap = driver/sched)")
    for r in sorted(rows, key=lambda r: -r["run_s"])[:14]:
        print(
            f"  st{r['stage']:<4} run {r['run_s']:7.2f}s cpu {r['cpu_s']:7.2f}s"
            f" gc {r['gc_s']:6.2f}s fw {r['fetch_s']:5.2f}s"
            f" tasks {r['tasks']:<4} in {r['input_mb']:7.2f}MB shR {r['sh_r_mb']:6.2f}MB"
            f" shW {r['sh_w_mb']:6.2f}MB  {r['name']}"
        )


def audit(spark, names: list[str], sf_dir: str) -> list[tuple]:
    """(name, stages, input B, shuffle write B, shuffle read B, error) per
    query, each run once after one shared warm-up."""
    probe = SparkProbe(spark)
    _run(spark, "url_count", sf_dir)  # JVM/codegen, so fixed costs miss the first query
    rows = []
    for name in names:
        try:
            _wall, jobs = run_in_group(spark, probe, name, sf_dir)
        except Exception as e:  # audit everything auditable, report the rest
            rows.append((name, None, 0, 0, 0, f"error: {type(e).__name__}"))
            continue
        t = probe.stage_totals(jobs)
        rows.append(
            (
                name,
                int(t["stages"]),
                t["input_mb"] * MB,
                t["shuffle_write_mb"] * MB,
                t["shuffle_read_mb"] * MB,
                "",
            )
        )
        print(f"{name}: stages={rows[-1][1]} in={rows[-1][2]:,.0f} sw={rows[-1][3]:,.0f} sr={rows[-1][4]:,.0f}")
    return rows


def write_audit(rows: list[tuple], sf_dir: str, path: str = AUDIT_PATH) -> None:
    mb = lambda b: f"{b / 1e6:,.2f}"  # noqa: E731
    with open(path, "w") as f:
        f.write(
            "# Shuffle-byte audit (generated by tools/stage_profile.py — do not edit)\n\n"
            f"Scale: `{sf_dir}`; one run per query after a warmup; bytes summed over the\n"
            "query's completed stages from the status store. Shuffle write ≈ data\n"
            "crossing the wire at a cluster; queries sorted by it. A small fixed\n"
            "shuffle under a large input is map-side combining working as designed.\n\n"
            "| query | stages | input MB | shuffle write MB | shuffle read MB |\n"
            "| --- | ---: | ---: | ---: | ---: |\n"
        )
        for name, nst, ib, sw, sr, err in sorted(rows, key=lambda r: -(r[3] or 0)):
            if err:
                f.write(f"| `{name}` | — | — | — | — {err} |\n")
            else:
                f.write(f"| `{name}` | {nst} | {mb(ib)} | {mb(sw)} | {mb(sr)} |\n")


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    if names:
        for name in names:
            print_profile(name, profile(spark, name, SF_DIR))
    else:
        rows = audit(spark, [n for n in QUERIES if not n.startswith("stream_")], SF_DIR)
        write_audit(rows, SF_DIR)
        total_sw = sum(r[3] or 0 for r in rows)
        print(f"audited {len(rows)} queries -> {AUDIT_PATH}; total shuffle write {total_sw/1e6:,.1f} MB")
    spark.stop()


if __name__ == "__main__":
    main()
