#!/usr/bin/env python
"""Parallel-speedup probe: run a set of heavyweight queries at sf0.1 under
local[1], local[4], and local[32] masters (one subprocess each — the master
is fixed at JVM startup) and report wall-clock speedup. This is the Spark
analog of the reference's worker-parallelism test (worker.go's parallelism
probe asserts that more workers actually run concurrently): an engine that
"scales" only by partitioning but serializes on a hidden bottleneck shows a
flat curve here.

Speedup is bounded by the serial fraction (Amdahl) plus fixed JVM/job
overhead, which at sub-second query times dominates — the signal is in the
heavy queries.

Usage: python tools/speedup_probe.py
       SPEEDUP_QUERIES=url_count,quality_gopher python tools/speedup_probe.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = [1, 4, 32]
QUERIES = os.environ.get(
    "SPEEDUP_QUERIES",
    "url_count,quality_gopher,dedup_substring_spans,lm_bigram_quality,"
    "decontaminate_ngrams,training_export",
).split(",")

_CHILD = r"""
import json, sys, time
sf_dir, names = sys.argv[1], sys.argv[2].split(",")
sys.path.insert(0, %(repo)r)
from url_counter_mapreduce_spark import QUERIES, get_spark
spark = get_spark("speedup-probe")
spark.sparkContext.setLogLevel("ERROR")
# warmup: amortize codegen/scan setup so the measured runs see a warm JVM
QUERIES["url_count"](spark, sf_dir).write.format("noop").mode("overwrite").save()
out = {}
for name in names:
    best = None
    for _ in range(2):  # best-of-2: same discipline as bench.py
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    out[name] = round(best, 3)
print("RESULT " + json.dumps(out))
spark.stop()
"""


def run(cores: int) -> dict[str, float]:
    # the master is fixed at JVM startup: one child per core count, its
    # session built by get_spark() from these deployment settings
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(max(cores, 2)),
        SPARK_GRAFT_DRIVER_MEM="8g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": REPO}, SF_DIR, ",".join(QUERIES)],
        capture_output=True,
        text=True,
        env=env,
        timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"local[{cores}] child produced no RESULT:\n{proc.stderr[-2000:]}")


def main() -> None:
    results = {c: run(c) for c in CORES}
    print(json.dumps({"cores": CORES, "seconds": results}))
    print(f"\n{'query':<24}" + "".join(f"local[{c}]".rjust(11) for c in CORES) + "   speedup 1->32")
    for q in QUERIES:
        row = [results[c][q] for c in CORES]
        sp = row[0] / row[-1] if row[-1] else float("inf")
        print(f"{q:<24}" + "".join(f"{t:>11.2f}" for t in row) + f"   {sp:>6.1f}x")


if __name__ == "__main__":
    main()
