"""The benchmark's workloads: inputs, op lists and correctness checks.

Each workload is a closed loop with one client: the next registry call
starts only after the previous one returns. One op is one registry query:
build ``QUERIES[name](spark, dir)``, plan it, run the action. A round is one
pass over ``queries``; a run makes a fixed number of rounds derived from
``--seconds`` and the round's nominal time, so two commits run the same ops.
A workload with several queries runs at least ``min_rounds`` rounds, so
each query's best time in the run comes from several tries.
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str  # generator in gen.GENERATORS
    params: dict
    queries: tuple[str, ...]
    action: str  # "collect" | "parquet" | "noop"
    round_s: float  # nominal wall of one round on 4 cores; sets the op count
    min_rounds: int = 1
    warmup: str | None = None  # the set-up's warm-up query; None: the first of ``queries``

    def rounds(self, seconds: float) -> int:
        return max(self.min_rounds, math.ceil(seconds / self.round_s))


URL_FILES = 16  # part files per corpus: at least 2x the cores of a 8-core box

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="topk_zipf",
            why="registry url_topk on 4M Zipf(1.0) URL tokens over 2M hosts: execution-bound,"
            " partial aggregation collapses the head before the exchange",
            kind="url",
            params=dict(n_tokens=4_000_000, n_keys=2_000_000, skew=1.0, doc_len=100,
                        n_files=URL_FILES),
            queries=("url_topk",),
            action="collect",
            round_s=1.25,
        ),
        Workload(
            name="sort_uniform",
            why="registry sort_by_key on 1.2M uniform URL tokens over 600k hosts, written to"
            " parquet: partial aggregation is useless, the exchange and the write carry the keys",
            kind="url",
            params=dict(n_tokens=1_200_000, n_keys=600_000, skew=0.0, doc_len=100,
                        n_files=URL_FILES),
            queries=("sort_by_key",),
            action="parquet",
            round_s=1.7,
        ),
    )
}


# Runnable with ``run.py --workload``, but not part of BENCHMARK.json: its
# ops are chains of small jobs and py4j calls, so their wall time swings by
# up to +40% with the host's CPU steal, past any bound a gate can use.
EXTRA = {
    w.name: w
    for w in (
        Workload(
            name="builder_mix",
            why="at least 5 passes over 5 registry queries on small seeded sf-shaped"
            " tables, results to a noop write: bound by builder-side jobs, with two"
            " execution-bound controls",
            kind="mix",
            params=dict(n_docs=500, n_lineitem=60_000, n_customer=1_500),
            queries=(
                "host_hits",
                "minhash_index_append",
                "training_export",
                "agg_pricing_summary",
                "join_customer_nation",
            ),
            action="noop",
            round_s=7.0,
            min_rounds=5,
            # the cheapest query: the cold builder queries warm up in the
            # untimed oracle round instead, and each set-up stays short
            warmup="join_customer_nation",
        ),
    )
}


def run_action(w: Workload, df, out_dir: str):
    """The op's action; returns what the check needs."""
    if w.action == "collect":
        return [(r[0], r[1]) for r in df.collect()]
    if w.action == "parquet":
        df.write.mode("overwrite").parquet(out_dir)
        return out_dir
    df.write.format("noop").mode("overwrite").save()
    return None


def check_topk(rows, expected: dict) -> str | None:
    """None when ``rows`` is exactly the generator's top-100, ties by token."""
    want = [tuple(tc) for tc in expected["top"]]
    if rows != want:
        bad = next((i for i, (a, b) in enumerate(zip(rows, want)) if a != b), min(len(rows), len(want)))
        return f"top-100 differs at rank {bad}: got {rows[bad:bad + 1]}, want {want[bad:bad + 1]}"
    return None


def check_sorted_output(out_dir: str, expected: dict) -> str | None:
    """The written (token, cnt) table: one row per distinct key, counts
    summing to the token total, keys strictly ascending across part files."""
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    rows, total, prev = 0, 0, None
    for f in files:
        t = pq.read_table(os.path.join(out_dir, f), columns=["token", "cnt"])
        if t.num_rows == 0:
            continue
        tok = t.column("token").combine_chunks()
        if prev is not None and not prev < tok[0].as_py():
            return f"{f} starts at {tok[0]} after {prev}"
        if t.num_rows > 1 and not pc.all(pc.less(tok[:-1], tok[1:])).as_py():
            return f"{f} keys are not strictly ascending"
        prev = tok[-1].as_py()
        rows += t.num_rows
        total += pc.sum(t.column("cnt")).as_py()
    if rows != expected["n_distinct"] or total != expected["n_tokens"]:
        return (f"rows={rows} sum(cnt)={total}, want {expected['n_distinct']}"
                f" and {expected['n_tokens']}")
    return None


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result frame, floats to 6 dp (the
    comparison ``tools/drive_contract.py`` makes)."""
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cells = sorted("|".join(norm(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.md5("\n".join(cells).encode()).hexdigest()


def check_oracle(con, oracle_sql: str | None, pdf) -> str | None:
    """Compare a Spark result with its DuckDB oracle on the same tables."""
    if oracle_sql is None:
        return None if len(pdf) else "no rows"
    want = con.sql(oracle_sql).df()
    if len(pdf) != len(want) or sorted(pdf.columns) != sorted(want.columns):
        return f"rows {len(pdf)} vs {len(want)}, columns {sorted(pdf.columns)} vs {sorted(want.columns)}"
    if value_hash(pdf) != value_hash(want):
        return "value hash differs from the DuckDB oracle"
    return None
