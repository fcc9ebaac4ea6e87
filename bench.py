#!/usr/bin/env python
"""Benchmark harness: times every bench row at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 testdata, see SF_DIR) on local[$SPARK_GRAFT_CPUS].

    python bench.py                                      # plain run
    python bench.py --paired REF [--queries a,b]         # this tree vs git REF
    python bench.py --conf-paired KEY A B [--queries a,b]  # KEY=A vs KEY=B

All three modes share one protocol. The rows are one table (_rows): every
registered query, the four sketch ship plans and the three steady-state
stream rows. Each row is measured by one sampling loop (_interleave) over
the mode's arms — one for a plain run, current and baseline code for
--paired, the two conf values for --conf-paired. A sample is one
noop-sink materialization, so it measures end-to-end plan execution, not
driver-side collection of megabytes.

A plain run prints the full JSON record, then ONE short final line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {slowest
rows}, "sf": ...}; at sf0.1 it writes the record to BENCH_FULL.json.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import url_counter_mapreduce_spark as PKG  # noqa: E402
from url_counter_mapreduce_spark import QUERIES, get_spark, ledger  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
SF = float(_sf) if _sf.replace(".", "").isdigit() else _sf

ROUNDS = 3  # timed samples per arm, after one discarded warmup

# The four sketch SHIP plans (gate=False) as bench rows. The registered
# `*_sketch` forms carry their accuracy contract (an extra exact leg or
# invariant columns), so their rows measure CONTRACT cost; these rows
# measure the one-pass plans that deploy at 100 TB. They stay out of the
# registry (sketch values are engine-specific, so there is no oracle;
# the gated twins pin accuracy), but are timed so "sketch is cheaper than
# exact" stays a measured claim. Row name → (module under the package,
# function).
SHIP_ROWS = {
    "approx_distinct_users_sketch_ship": (
        "operators.relational",
        "approx_distinct_users_sketch",
    ),
    "approx_quantiles_sketch_ship": ("operators.advanced", "approx_quantiles_sketch"),
    "hll_rollup_sketch_ship": ("operators.advanced", "hll_rollup_sketch"),
    "audience_overlap_sketch_ship": ("operators.advanced", "audience_overlap_sketch"),
}


def _rows(pkg) -> dict:
    """The bench's one row table for package module ``pkg``, in
    measurement order, as ``{name: fn(spark, sf_dir) -> DataFrame}``:

    - the registry's batch queries, in registration order;
    - its ``stream_*`` queries: each call is a full Trigger.AvailableNow
      drain (source discovery, checkpoint, state store, sink), so the row
      is an end-to-end drain latency;
    - the SHIP_ROWS sketch plans, resolved inside ``pkg``;
    - the ``*_steady`` stream rows (streaming/steady.py): checkpoint
      resume plus one delta, the deployment marginal of a drain. The
      warmup primes their persistent checkpoint.

    ``pkg`` is this package or, under --paired, the baseline's aliased
    copy, so each side's rows run that side's code."""
    rows = {n: fn for n, fn in pkg.QUERIES.items() if not n.startswith("stream_")}
    rows.update((n, fn) for n, fn in pkg.QUERIES.items() if n.startswith("stream_"))
    for row, (module, fn_name) in SHIP_ROWS.items():
        fn = getattr(importlib.import_module(f"{pkg.__name__}.{module}"), fn_name)
        rows[row] = functools.partial(fn, gate=False)
    steady = importlib.import_module(f"{pkg.__name__}.streaming.steady")
    rows.update(steady.steady_variants())
    return rows


def _select(rows: dict, only: list[str] | None) -> dict:
    return rows if only is None else {n: fn for n, fn in rows.items() if n in only}


def _load1() -> float:
    """1-minute loadavg — the quiet-window instrument (VERDICT r10 item 6):
    every timed row records the host load it was measured under, so a
    round-over-round regression flag carries a noise/clean annotation
    instead of needing prose adjudication (docs/ROUND10_NOTES.md did this
    by hand twice). NB the bench's own 32-thread stages keep the absolute
    value high; what identifies a noisy row is load ATYPICAL FOR THIS RUN
    (see the `noisy` marker in the regression block)."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # platform without getloadavg
        return -1.0


def _pre_sample_reset(name: str) -> None:
    """Per-sample reset hooks for queries with persistent on-disk state.
    stream_state_audit keeps a durable checkpoint (by design — the audit
    resumes it); without a reset the warmup drain consumes every input
    file and the timed samples measure checkpoint-resume overhead, not an
    end-to-end drain (ADVICE r11). The reset runs OUTSIDE the timer — it
    is harness bookkeeping, not query cost. Glob-based (every checkpoint
    directory the audit could have keyed) so paired mode resets the
    BASELINE version's differently-keyed checkpoint too."""
    if name == "stream_state_audit":
        import glob
        import shutil
        import tempfile

        uid = os.getuid() if hasattr(os, "getuid") else 0
        pat = os.path.join(tempfile.gettempdir(), f"spark_graft_state_audit_{uid}_*")
        for d in glob.glob(pat):
            shutil.rmtree(d, ignore_errors=True)


def _sample(spark, name: str, fn) -> float:
    """One timed sample of row ``name``: the per-sample reset (outside the
    timer), then build and materialize through the noop sink."""
    _pre_sample_reset(name)
    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _interleave(arms: list) -> list[tuple[float, dict]]:
    """The one sampling loop. Each arm is a callable that takes one sample
    and returns its seconds. Every arm gets one discarded warmup (codegen,
    python-worker startup, parquet footer caching, checkpoint priming),
    then ROUNDS strictly interleaved rounds (a, b, a, b, ...), so a
    host-noise window hits every arm alike and a ratio between arms is a
    genuine code or conf delta. Returns, per arm, its median and its
    (min, med, max, load1) spread.

    The median of three post-warmup samples is robust to one stalled
    sample in either direction; single-sample minima had no variance
    control and recorded shared-host noise as regressions. load1 is the
    mean of the 1-minute loadavg after the warmups and after the last
    round: a pre-warmup sample can be stale by the time the timed window
    opens."""
    for arm in arms:
        arm()  # warmup, discarded
    load_open = _load1()
    samples: list[list[float]] = [[] for _ in arms]
    for _ in range(ROUNDS):
        for arm, taken in zip(arms, samples):
            taken.append(arm())
    loads = [v for v in (load_open, _load1()) if v >= 0]
    load1 = round(sum(loads) / len(loads), 2) if loads else -1.0
    out = []
    for taken in samples:
        med = statistics.median(taken)
        spread = {
            "min": round(min(taken), 4),
            "med": round(med, 4),
            "max": round(max(taken), 4),
            "load1": load1,
        }
        out.append((med, spread))
    return out


def _session(app: str):
    """A bench session after the global warmup (JVM, codegen, parquet
    footer caches). The warmup also runs prep() once (memoized), so its
    conf.set of a key cannot override a --conf-paired arm's value."""
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    _sample(spark, "url_topk", QUERIES["url_topk"])
    return spark


def _write(filename: str, record: dict) -> None:
    with open(os.path.join(HERE, filename), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)


def _previous_round_timings() -> tuple[str | None, dict[str, float]]:
    """The committed BENCH_FULL.json's per-row timings. Only an sf0.1
    plain run writes that file, and every such run does."""
    try:
        with open(os.path.join(HERE, "BENCH_FULL.json")) as fh:
            return "BENCH_FULL.json", dict(json.load(fh)["queries"])
    except (OSError, ValueError, KeyError):
        return None, {}


def _load_paired_baseline(ref: str):
    """Check ``ref`` out in a git worktree, copy its package under an
    alias importable ALONGSIDE the current one, and return that package
    module, a closure that ships it to executors, and a cleanup closure.

    The alias rename (url_counter_mapreduce_spark → _paired_baseline_pkg)
    is what makes one-process interleaving possible: all intra-package
    imports are relative, so the renamed copy resolves ITS OWN modules —
    including function-level lazy imports — never the current tree's, and
    both module graphs coexist. The returned ``ship_baseline`` ships the
    renamed dir to executors, so UDF closures unpickle against the right
    code."""
    import shutil
    import subprocess
    import tempfile

    wt = tempfile.mkdtemp(prefix="bench_paired_wt_")
    subprocess.run(
        ["git", "-C", HERE, "worktree", "add", "--detach", wt, ref],
        check=True,
        capture_output=True,
    )
    alias = "_paired_baseline_pkg"
    shutil.copytree(
        os.path.join(wt, "url_counter_mapreduce_spark"), os.path.join(wt, alias)
    )
    sys.path.insert(0, wt)
    base_mod = __import__(alias)

    def ship_baseline(spark) -> None:
        """Ship the baseline package zip to executor python workers.

        Each package keeps its own session ledger (the ledger's session
        attribute is derived from the package name), so the current
        package's prep() ships its own zip as usual. The baseline cannot:
        its `_ship_package` keys the zip path by FILE CONTENT digest only,
        and a zip left by a real run of that version may already exist at
        that path holding the ORIGINAL directory name; then the aliased
        package never lands in it and executors fail ModuleNotFoundError
        on the first module-referenced UDF (inline-pickled UDFs mask it).
        So the baseline zip is built here under its own name, and the
        baseline's own shipping is switched off."""
        zip_base = os.path.join(tempfile.gettempdir(), f"paired_{os.path.basename(wt)}")
        if not os.path.exists(zip_base + ".zip"):
            shutil.make_archive(zip_base, "zip", root_dir=wt, base_dir=alias)
        spark.sparkContext.addPyFile(zip_base + ".zip")
        base_mod.session._ship_package = lambda _spark: None

    def cleanup() -> None:
        sys.path.remove(wt)
        subprocess.run(
            ["git", "-C", HERE, "worktree", "remove", "--force", wt],
            check=False,
            capture_output=True,
        )
        shutil.rmtree(wt, ignore_errors=True)

    return base_mod, ship_baseline, cleanup


def _paired_main(ref: str, only: list[str] | None = None) -> None:
    """--paired <git-ref>: the cross-round adjudication. Cross-round
    medians drift ~1.13× with host load, because the two rounds' samples
    run minutes to days apart. Here both versions run in ONE Spark session
    with interleaved samples, so the per-row ratio current/baseline is a
    genuine code-delta signal, and the regressions block is computed from
    paired ratios only. A row the baseline lacks runs alone and is listed
    under ``unpaired``."""
    base_pkg, ship_baseline, cleanup = _load_paired_baseline(ref)
    try:
        spark = _session("spark-graft-bench-paired")
        ship_baseline(spark)
        base_rows = _rows(base_pkg)
        timings: dict[str, float] = {}
        base_timings: dict[str, float] = {}
        ratios: dict[str, float] = {}
        unpaired: list[str] = []
        for name, fn in _select(_rows(PKG), only).items():
            arms = [functools.partial(_sample, spark, name, fn)]
            if name in base_rows:
                arms.append(functools.partial(_sample, spark, name, base_rows[name]))
            else:
                unpaired.append(name)
            meds = [med for med, _ in _interleave(arms)]
            timings[name] = round(meds[0], 4)
            if len(meds) == 2:
                base_timings[name] = round(meds[1], 4)
                ratios[name] = round(meds[0] / meds[1], 4) if meds[1] > 0 else -1.0

        regressions = {
            n: {"base": base_timings[n], "now": timings[n], "ratio": r}
            for n, r in ratios.items()
            if timings[n] > 0.2 and r > 1.5
        }
        full = {
            "metric": "headline_queries_total_sec",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": timings,
            "protocol": "paired-interleaved+median-of-3",
            "sf": SF,
            "paired": {
                "ref": ref,
                "baseline_queries": base_timings,
                "ratios": ratios,
                "unpaired": unpaired,
            },
            "regressions": regressions,
        }
        print(json.dumps(full))
        if SF == 0.1:
            _write("BENCH_PAIRED.json", full)
        print(
            json.dumps(
                {
                    "metric": "paired_median_ratio",
                    "value": statistics.median(ratios.values()) if ratios else -1.0,
                    "ref": ref,
                    "n_paired": len(ratios),
                    "n_regressions": len(regressions),
                    "sf": SF,
                }
            )
        )
        spark.stop()
    finally:
        cleanup()


def _conf_paired_main(key: str, val_a: str, val_b: str, only: list[str] | None = None) -> None:
    """--conf-paired <conf-key> <valA> <valB>: same-code, per-arm
    session-conf A/B. ``--paired`` runs both code versions in ONE session,
    so a session-conf change applies to both arms alike and is invisible
    to it. Here the code is fixed and each arm's sample runs under its own
    value, set with ledger.scoped_conf, so the per-row ratio B/A isolates
    the conf's effect. Only runtime-settable SQL confs qualify
    (minPartitionSize, parallelismFirst, advisoryPartitionSizeInBytes
    are; JVM-startup confs are not — spark.conf.set would raise)."""
    spark = _session("spark-graft-bench-confpaired")

    def arm(val: str, name: str, fn) -> float:
        with ledger.scoped_conf(spark, {key: val}):
            return _sample(spark, name, fn)

    a_t: dict[str, float] = {}
    b_t: dict[str, float] = {}
    ratios: dict[str, float] = {}
    for name, fn in _select(_rows(PKG), only).items():
        (am, _), (bm, _) = _interleave(
            [functools.partial(arm, val_a, name, fn), functools.partial(arm, val_b, name, fn)]
        )
        a_t[name] = round(am, 4)
        b_t[name] = round(bm, 4)
        ratios[name] = round(bm / am, 4) if am > 0 else -1.0

    out = {
        "metric": "conf_paired_ab",
        "conf_key": key,
        "arm_a": val_a,
        "arm_b": val_b,
        "unit": "sec",
        "sf": SF,
        "protocol": "conf-paired-interleaved+median-of-3",
        "n": len(ratios),
        "total_a": round(sum(a_t.values()), 4),
        "total_b": round(sum(b_t.values()), 4),
        "median_ratio_b_over_a": statistics.median(ratios.values()) if ratios else -1.0,
        "queries_a": a_t,
        "queries_b": b_t,
        "ratios_b_over_a": ratios,
    }
    _write("BENCH_CONF_PAIRED.json", out)
    summary = ("metric", "conf_key", "arm_a", "arm_b", "sf", "n", "total_a", "total_b",
               "median_ratio_b_over_a")
    print(json.dumps({k: out[k] for k in summary}))
    spark.stop()


def main() -> None:
    spark = _session("spark-graft-bench")
    timings: dict[str, float] = {}
    spreads: dict[str, dict[str, float]] = {}
    for name, fn in _rows(PKG).items():
        [(med, spread)] = _interleave([functools.partial(_sample, spark, name, fn)])
        timings[name] = round(med, 4)
        spreads[name] = spread

    baseline_file, prev = _previous_round_timings()
    full, line = _summarize(timings, spreads, prev, SF, baseline_file)
    # full per-query map: an EARLIER stdout line + a committed file. The
    # driver captures only the last ~2000 chars of stdout, so the FINAL line
    # must stay well under that (round 4 lost its perf signal to exactly this
    # truncation — BENCH_r04.json parsed:null).
    print(json.dumps(full))
    if SF == 0.1:
        _write("BENCH_FULL.json", full)
    print(line)
    spark.stop()


SUMMARY_ROWS = 15  # slowest rows on the final line, besides every regressed row
SUMMARY_MAX_CHARS = 1000  # hard guarantee: never outgrow the tail capture


def _summarize(
    timings: dict[str, float],
    spreads: dict[str, dict],
    prev: dict[str, float],
    sf_val,
    baseline_file: str | None,
) -> tuple[dict, str]:
    """The run's full JSON record and its one-line summary.

    Regression guard: flag queries >1.5× slower than the last recorded
    round (ignoring sub-0.2s noise); informational, emitted in the JSON.
    Each flag carries the load the row was measured under and a `noisy`
    marker (load1 > 1.5× this run's median per-query load1) — the
    mechanized quiet-window annotation (VERDICT r10 item 6): a flag on a
    noisy row is host drift until reproduced, a flag on a clean row is
    signal.

    The summary line shows the SUMMARY_ROWS slowest rows plus every
    regressed row. Past SUMMARY_MAX_CHARS it drops the regression details
    first, then the fastest rows that did not regress."""
    total = round(sum(timings.values()), 4)
    loads = [s["load1"] for s in spreads.values() if s.get("load1", -1.0) >= 0]
    run_median_load = statistics.median(loads) if loads else -1.0
    regressions: dict[str, dict] = {}
    if prev and sf_val == 0.1:
        for name, t in timings.items():
            if name in prev and t > 0.2 and t > 1.5 * prev[name]:
                l1 = spreads.get(name, {}).get("load1", -1.0)
                regressions[name] = {
                    "prev": prev[name],
                    "now": t,
                    "load1": l1,
                    "noisy": bool(
                        l1 >= 0
                        and run_median_load >= 0
                        and l1 > 1.5 * max(run_median_load, 1.0)
                    ),
                }

    full = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "protocol": "warmup+median-of-3",
        "run_median_load1": run_median_load,
        "sf": sf_val,
        "baseline": baseline_file,
        "regressions": regressions,
    }

    slowest = sorted(timings, key=timings.get, reverse=True)
    shown = [n for i, n in enumerate(slowest) if i < SUMMARY_ROWS or n in regressions]
    summary = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "queries": {},
        "queries_truncated": True,
        "queries_file": "BENCH_FULL.json",
        "n_regressions": len(regressions),
        "regressions": regressions,
    }

    def render() -> str:
        summary["queries"] = {n: timings[n] for n in shown}
        summary["queries_truncated"] = len(shown) < len(timings)
        return json.dumps(summary)

    line = render()
    if len(line) > SUMMARY_MAX_CHARS:
        summary.pop("regressions")
        line = render()
    while len(line) > SUMMARY_MAX_CHARS and shown:
        unregressed = [n for n in shown if n not in regressions]
        shown.remove((unregressed or shown)[-1])
        line = render()
    return full, line


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--paired":
        _only = None
        if len(sys.argv) >= 5 and sys.argv[3] == "--queries":
            _only = [q.strip() for q in sys.argv[4].split(",") if q.strip()]
        _paired_main(sys.argv[2], _only)
    elif len(sys.argv) >= 5 and sys.argv[1] == "--conf-paired":
        _only = None
        if len(sys.argv) >= 7 and sys.argv[5] == "--queries":
            _only = [q.strip() for q in sys.argv[6].split(",") if q.strip()]
        _conf_paired_main(sys.argv[2], sys.argv[3], sys.argv[4], _only)
    else:
        main()
