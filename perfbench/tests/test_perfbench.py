"""The benchmark's own tests: generator determinism, the exact-count
checks, and that every name the benchmark emits is declared in
BENCHMARK.json. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import EXTRA, WORKLOADS, check_sorted_output, check_topk  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
SMALL = {
    "url": dict(n_tokens=20_000, n_keys=5_000, skew=1.0, doc_len=20, n_files=4),
    "mix": dict(n_docs=60, n_lineitem=500, n_customer=40),
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_same_bytes_other_seed_differs(tmp_path, kind):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / tag
        os.makedirs(out)
        gen.GENERATORS[kind](str(out), seed, **SMALL[kind])
        runs[tag] = str(out)
    assert _same_tree(runs["a"], runs["b"])
    assert not _same_tree(runs["a"], runs["c"])


def test_cache_reuses_and_evicts(tmp_path):
    root = str(tmp_path)
    first, made = gen.ensure(root, "url", 1, SMALL["url"])
    assert made
    again, made = gen.ensure(root, "url", 1, SMALL["url"])
    assert again == first and not made
    for seed in (2, 3, 4):
        gen.ensure(root, "url", seed, SMALL["url"])
    assert len(os.listdir(os.path.join(root, "url"))) == gen.KEEP_CACHED


def test_expected_counts_match_the_corpus(tmp_path):
    gen.url_corpus(str(tmp_path), 3, **SMALL["url"])
    texts = pq.read_table(str(tmp_path / "documents.parquet")).column("text").to_pylist()
    counts: dict[str, int] = {}
    for text in texts:
        for tok in text.split(" "):
            counts[tok] = counts.get(tok, 0) + 1
    exp = json.loads((tmp_path / "expected.json").read_text())
    assert exp["n_tokens"] == sum(counts.values()) == SMALL["url"]["n_tokens"]
    assert exp["n_distinct"] == len(counts)
    want = sorted(counts.items(), key=lambda tc: (-tc[1], tc[0]))[: gen.TOPK]
    assert [tuple(tc) for tc in exp["top"]] == want
    assert len(os.listdir(tmp_path / "documents.parquet")) == SMALL["url"]["n_files"]


def test_topk_check_rejects_a_perturbed_top100():
    exp = gen.expected_counts(gen.zipf_ranks(gen._rng(5, "t"), 50_000, 10_000, 1.0), 10_000)
    rows = [tuple(tc) for tc in exp["top"]]
    assert check_topk(rows, exp) is None
    bumped = list(rows)
    bumped[50] = (bumped[50][0], bumped[50][1] + 1)
    assert check_topk(bumped, exp)
    swapped = list(rows)
    swapped[3], swapped[4] = swapped[4], swapped[3]
    assert check_topk(swapped, exp)
    assert check_topk(rows[:-1], exp)


def test_sorted_output_check(tmp_path):
    exp = {"n_tokens": 6, "n_distinct": 3}

    def write(name, toks, cnts):
        d = tmp_path / name
        os.makedirs(d, exist_ok=True)
        for i in range(0, len(toks), 2):
            pq.write_table(pa.table({"token": toks[i:i + 2], "cnt": cnts[i:i + 2]}),
                           str(d / f"part-{i:05d}.parquet"))
        return str(d)

    assert check_sorted_output(write("ok", ["a", "b", "c"], [1, 2, 3]), exp) is None
    assert check_sorted_output(write("order", ["a", "c", "b"], [1, 2, 3]), exp)
    assert check_sorted_output(write("sum", ["a", "b", "c"], [1, 2, 2]), exp)
    assert check_sorted_output(write("rows", ["a", "b"], [3, 3]), exp)


def test_run_s_takes_each_querys_best_time():
    ops = [{"query": q, "s": s} for q, s in
           (("a", 1.0), ("b", 5.0), ("a", 9.0), ("b", 6.0), ("a", 2.0), ("b", 7.0))]
    assert run.best_run_s(ops) == 3 * 1.0 + 3 * 5.0
    ops.append({"query": "a", "s": None})  # an op that raised is left out
    assert run.best_run_s(ops) == 3 * 1.0 + 3 * 5.0


class _FakeProbe:
    def __init__(self, _spark):
        pass

    def retained_heap_mb(self):
        return 100.0

    def ledger(self):
        return {"persisted_rdds": 0, "held_storage_mb": 0.0}


def _fake_bench(traced_layers: bool):
    layer_keys = {
        "registry.build_s": 0.01, "registry.build_jobs": 0, "registry.build_job_wall_s": 0.0,
        "registry.build_self_s": 0.01, "catalyst.plan_s": 0.01, "catalyst.analysis_s": 0.0,
        "catalyst.optimization_s": 0.0, "catalyst.planning_s": 0.0, "exec.s": 1.0,
        "ledger.persisted_rdds": 0, "ledger.held_storage_mb": 0.0,
        **{f"exec.{k}": 1.0 for k, _, _ in layers._STAGE_FIELDS},
        "exec.jobs": 2, "exec.stages": 2,
    }
    ops = []
    for i in range(6):
        traced = traced_layers and i % 2 == 1
        op = {"id": f"op{i}", "query": "url_topk", "traced": traced, "s": 1.0 + i / 100, "err": None}
        if traced:
            op.update(layer_keys)
        ops.append(op)

    class B:
        pass

    b = B()
    b.ops, b.setup_s, b.get_spark_s, b.prep_s = ops, [3.0, 2.0, 2.1], [0.1] * 3, [0.01] * 3
    b.expected, b.spark = {"n_tokens": 1000}, None
    return b


def test_emitted_names_are_declared(monkeypatch):
    spec = _spec()
    for section in ("end_to_end", "per_layer", "workloads"):
        for entry in spec[section]:
            assert NAME_RE.fullmatch(entry["name"]), entry["name"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(NAME_RE.fullmatch(n) for n in WORKLOADS | EXTRA)
    assert not set(WORKLOADS) & set(EXTRA)

    monkeypatch.setattr(run, "SparkProbe", _FakeProbe)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    e2e, _ = run.e2e_metrics(_fake_bench(False))
    layer, _ = run.layer_metrics(_fake_bench(True))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: u for k, (_, u) in e2e.items()} == units
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: u for k, (_, u) in layer.items()} == units


def test_tail_rule():
    assert run.tail([float(i) for i in range(1, 8)]) == (100.0, 7.0)
    pct, v = run.tail([float(i) for i in range(1, 41)])
    assert (pct, v) == (75.0, 30.0)  # ten samples above the 30th of 40


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "topk_zipf", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
