"""Multi-mode equivalence (SURVEY.md §5; reference src/mapreduce/
test_test.go:145-171): the reference runs every job twice — Sequential and
Distributed — and asserts byte-identical output. The Spark analog is the
same queries under local[1] (sequential) and local[8] (parallel) masters
with different shuffle-partition counts: results must be identical because
partitioning is semantics-free.

Masters are fixed at JVM startup, so each mode runs in its own subprocess
(the in-process session fixture can't switch masters). One subprocess per
mode executes the flagship plus the shuffle-heaviest shapes (banded LSH
join, sessionization windows, range join) at sf0.001 and prints sorted
rows; the parent compares."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# flagship + shuffle-heavy + the two shapes where partitioning
# nondeterminism would actually hide: an ITERATIVE algorithm (dedup_groups'
# label propagation) and a grouped FLOAT aggregation (embedding_quantize's
# mse — accumulation order varies across partitionings; stable rounding
# must absorb it) — plus the three exact-oracle STREAMING queries
# (stream-stream interval join, stateful first-seen dedup, foreachBatch
# dedup sink): micro-batch task scheduling and state-store partitioning
# differ between local[1] and local[8], and the reference's
# Sequential-vs-Distributed discipline (test_test.go:145-171) applies to
# them the same as to batch.
EQUIV_QUERIES = [
    "url_topk",
    "dedup_minhash_pairs",
    "sessionize_events",
    "range_join_events",
    "dedup_groups",
    "embedding_quantize",
    "stream_stream_join",
    "stream_dedup_stateful",
    "stream_foreachbatch_dedup",
    # round-3: the decontamination shingle join — distinct-before-join under
    # different partition counts must not change the shared-window counts
    "decontaminate_ngrams",
    # round-3: built-in watermark dedup — the surviving KEY SET must be
    # identical whichever partition's duplicate arrives first
    "stream_dedup_watermark",
    # round-4: the Gopher rule battery (two n-gram aggregates + window
    # tie-break + re-joins — every metric must be partitioning-free),
    # deterministic mixture resampling (driver-computed thresholds must
    # not depend on how counts were collected), and the host-stats
    # blocklist anti-join with its top-100 tie-break
    "quality_gopher",
    "mix_sources",
    "url_host_stats",
    # round-4: positional window matching + gaps-and-islands span merge —
    # island assignment must not depend on which partition a position
    # arrives from
    "dedup_substring_spans",
    # round-5: gaps-and-islands SCD2 numbering, the two-phase prefix scans
    # composed end-to-end (training_export's manifest is order-sensitive by
    # construction), the bucketed cogroup (pandas merge per hash bucket —
    # bucket contents vary with partitioning, results must not), the
    # degree-ordered triangle join, and hopping-window assignment
    "scd2_intervals",
    "training_export",
    "cogroup_reconcile",
    "host_triangles",
    "window_sliding_count",
    # round-6: the trained-model scorer (three model aggregates + 5-way
    # join — tier assignment must not depend on partitioning), the
    # decimal-accumulated gram matrix (order-independence is its design
    # claim; local[1] vs local[8] is the direct test), and the recursive
    # CTE (frontier-join iteration count/content must be partitioning-free)
    "lm_trigram_backoff",
    "embedding_covariance",
    "lineage_resolve_roots",
    # round-10: the perceptual chain end-to-end (synth → decode → band
    # join → CC clusters — mapInPandas batch boundaries vary with
    # partitioning, the fingerprints and clusters must not) and the
    # cross-modal vote (three full-outer joins on pair keys)
    "image_dedup_groups",
    "multimodal_dup_consensus",
]

_CHILD = r"""
import json, sys
cores, sf_dir = sys.argv[1], sys.argv[2]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master(f"local[{cores}]")
    .appName(f"multimode-{cores}")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "3g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
qs = e.queries()
out = {}
for name in %(queries)s:
    rows = qs[name](spark, sf_dir).collect()
    out[name] = sorted(str(tuple(r)) for r in rows)
spark.stop()
print("RESULT:" + json.dumps(out))
"""


def _run_mode(cores: int, sf_dir: str) -> dict:
    script = _CHILD % {"queries": json.dumps(EQUIV_QUERIES)}
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(cores), sf_dir],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        env=env,
        timeout=540,
    )
    assert proc.returncode == 0, f"local[{cores}] child failed:\n{proc.stderr[-3000:]}"
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT:"))
    return json.loads(line[len("RESULT:"):])


def test_sequential_and_parallel_modes_agree():
    sf_dir = "/root/testdata/sf0.001"
    seq = _run_mode(1, sf_dir)
    par = _run_mode(8, sf_dir)
    for name in EQUIV_QUERIES:
        assert seq[name] == par[name], f"{name}: local[1] vs local[8] results differ"
        assert len(seq[name]) > 0 or name == "dedup_minhash_pairs"  # may be dup-free
