#!/usr/bin/env python
"""Physical-plan audit over the whole registry: for every batch query,
capture the formatted plan and summarize the scale-relevant features —
exchanges, join strategies, Python evaluation, pushdown, partition pruning.
Writes docs/PLAN_AUDIT.md (a reviewable artifact of the 100 TB posture)
and prints a one-line summary.

Red flags (CartesianProduct anywhere; BroadcastNestedLoopJoin outside the
declared brute-force baseline) exit non-zero — the same invariants
tests/test_plans.py enforces, here visible per query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from url_counter_mapreduce_spark import QUERIES, get_spark  # noqa: E402
from url_counter_mapreduce_spark.plans import explain_str  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
# deliberate exact brute-force baseline, and the recall harnesses that
# embed it as ground truth
# single source of truth shared with tests/test_plans.py
from url_counter_mapreduce_spark.plans.bnl_allowance import BNL_ALLOWANCE  # noqa: E402

BNL_ALLOWED = set(BNL_ALLOWANCE)
# one "(N) MapInPandas" / "(N) MapInArrow" line per node in the formatted
# plan's detail section: the Python map stages, counted once each
PYTHON_MAP = re.compile(r"^\(\d+\) MapIn(?:Pandas|Arrow)\b", re.M)


def plan_of(spark, name: str) -> str:
    return explain_str(QUERIES[name](spark, SF_DIR))


def main() -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows, flags = [], []
    for name in sorted(QUERIES):
        if name.startswith("stream_"):
            rows.append((name, "streaming (plan audited via batch twin)", ""))
            continue
        p = plan_of(spark, name)
        feats = []
        n_ex = p.count("Exchange")
        feats.append(f"exchanges={n_ex}")
        for marker, label in (
            ("BroadcastHashJoin", "bhj"),
            ("SortMergeJoin", "smj"),
            ("ShuffledHashJoin", "shj"),
            ("BroadcastNestedLoopJoin", "BNL"),
            ("CartesianProduct", "CARTESIAN"),
            ("TakeOrderedAndProject", "topK-heap"),
            ("PushedFilters: [", "pushdown"),
            ("PartitionFilters: [is", "partition-pruned"),
            ("ArrowEvalPython", "arrow-python"),
            ("BatchEvalPython", "python"),
            ("HashAggregate", "hash-agg"),
        ):
            c = p.count(marker)
            if c:
                feats.append(f"{label}×{c}" if c > 1 else label)
        c = len(PYTHON_MAP.findall(p))
        if c:
            feats.append(f"python-map×{c}" if c > 1 else "python-map")
        if "CartesianProduct" in p:
            flags.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in p and name not in BNL_ALLOWED:
            flags.append(f"{name}: unexpected BNL")
        rows.append((name, ", ".join(feats), ""))

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLAN_AUDIT.md")
    with open(out, "w") as fh:
        fh.write("# Physical-plan audit (generated by tools/plan_audit.py)\n\n")
        fh.write(f"Scale factor dir: `{SF_DIR}`. Streaming queries execute on build and\n")
        fh.write("are equivalence-tested against batch twins instead of plan-audited.\n\n")
        fh.write("| query | plan features |\n| --- | --- |\n")
        for name, feats, _ in rows:
            fh.write(f"| `{name}` | {feats} |\n")
        if flags:
            fh.write("\n## RED FLAGS\n\n")
            for f in flags:
                fh.write(f"- {f}\n")
    print(f"audited {len(rows)} queries -> {out}; red flags: {len(flags)}")
    spark.stop()
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
