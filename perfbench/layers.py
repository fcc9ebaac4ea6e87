"""Layer counters and spans, read from outside the program.

The benchmark calls the program's public entry points and tags each phase
of an op with its own Spark job group, so every job and stage can be
assigned to the phase that launched it:

- ``build``: ``QUERIES[name](spark, dir)``, the registry builder (covers
  ``operators.*`` and ``tables.load_table``, plus any job the builder runs
  eagerly);
- ``plan``: ``df._jdf.queryExecution().executedPlan()`` (Catalyst);
- ``exec``: the action.

Counts come from the Spark driver's status store (``statusStore()``), which is
kept with the UI off, and from the query's ``QueryPlanningTracker``.
"""

from __future__ import annotations

import gc
import json
import time

MB = 1024 * 1024

# status-store stage fields summed per phase: (output key, accessor, scale)
_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("task_run_s", "executorRunTime", 1e-3),
    ("task_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_mb", "inputBytes", 1 / MB),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / MB),
    ("shuffle_write_records", "shuffleWriteRecords", 1),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / MB),
    ("fetch_wait_s", "shuffleFetchWaitTime", 1e-3),
    ("spill_mb", "diskBytesSpilled", 1 / MB),
)


class SparkProbe:
    """py4j reads of one live session's job, stage, storage and heap state."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        """Wait until the status listener has seen every finished event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_wall_s(self, job_ids: list[int]) -> float:
        """Wall time covered by the union of the jobs' run intervals."""
        spans = []
        for jid in job_ids:
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        total, end = 0.0, float("-inf")
        for a, b in sorted(spans):
            if b > end:
                total += b - max(a, end)
                end = b
        return total / 1e3

    def stage_totals(self, job_ids: list[int]) -> dict:
        out = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
        stages = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            stages.update(info.stageIds if info else ())
        ran = 0
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage skipped, never attempted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            ran += 1
            for key, getter, scale in _STAGE_FIELDS:
                out[key] += getattr(sd, getter)() * scale
        out["stages"] = ran
        out["jobs"] = len(job_ids)
        return out

    @staticmethod
    def catalyst_phases(df) -> dict:
        """Analysis / optimization / planning seconds of ``df``'s query."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        return out

    def ledger(self) -> dict:
        """Artifacts the session still holds: persisted RDDs and their bytes."""
        infos = self.jsc.getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return {
            "persisted_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "held_storage_mb": held / MB,
        }

    def retained_heap_mb(self) -> float:
        """JVM heap in use after full collections, repeated until it stops
        falling: the context cleaner and finalizers free more between them
        (typically 3-4 collections)."""
        gc.collect()  # drop py4j proxies first
        jvm = self.spark._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        used = float("inf")
        for i in range(10):
            jvm.java.lang.System.gc()
            time.sleep(0.3)
            now = rt.totalMemory() - rt.freeMemory()
            if i >= 2 and now >= 0.995 * used:
                break
            used = min(used, now)
        return min(used, now) / MB


class Tracer:
    """In-memory spans (name, start, end, parent, counts), written once at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()

    def span(self, sid: str, parent: str | None, name: str, start: float, end: float,
             **counts) -> None:
        rec = {"id": sid, "parent": parent, "name": name,
               "start_s": round(start - self.t0, 6), "end_s": round(end - self.t0, 6)}
        rec.update(counts)
        self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
