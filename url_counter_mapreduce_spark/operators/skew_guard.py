"""Auto-engaging skew cap for the posting-join family (LSH band buckets,
chunk postings, ER blocks).

Every posting-style self-join in this package fans a key shared by P rows
out to ~P²/2 candidate pairs. The measured cap knobs (``bucket_cap``,
``posting_cap``, ``block_cap`` — docs/SCALE.md §11.5/§11.8/§11.9) bound
that fan-out, but as manual knobs someone at 100 TB must know to turn them
on. This module promotes them to a *measured trigger*: pass ``cap="auto"``
and the operator probes the actual join cost and engages the documented
cap only when the corpus needs it.

Why the trigger is COST-based, not skew-ratio-based
---------------------------------------------------
The obvious heuristic — engage when ``max posting length > K × median`` —
misfires in both directions on real corpora:

* the exact-oracle fixtures already have max/median = 184/1 at sf0.1
  (median posting length is 1 in ANY mostly-unique corpus), so a ratio
  trigger would engage at oracle scale and break exactness;
* a K-clone corpus multiplies EVERY posting by K, so max/median is
  *invariant* under exactly the pathology the cap exists for — the clone
  legs in docs/SCALE.md §11.8 would never trip a ratio trigger.

What actually separates healthy from pathological corpora is the absolute
quadratic fan-out of the join relative to its linear input:
``est_pairs = Σ_key n·(n−1)/2`` versus ``rows = Σ_key n``. Measured:

===============================  ==========  =========
corpus                            est_pairs/rows  verdict
===============================  ==========  =========
fixture sf0.01 minhash bands           0.05   healthy
fixture sf0.1 minhash bands            0.08   healthy
fixture sf0.01 chunk postings          0.92   healthy
fixture sf0.1 chunk postings           9.9    healthy
16-clone chunk postings (§11.8)     ~250      pathological
64-clone chunk postings (§11.8)    ~4000      pathological
===============================  ==========  =========

``SKEW_COST_BUDGET = 64`` sits a decade above the worst fixture and a
half-decade below the mildest clone leg. Both aggregates are exact
integer sums over deterministic counts, so the decision itself is fully
deterministic — no percentile sketches, no sampling.

Cost of the probe: one aggregation over the posting-size frame plus a
1-row collect — O(input) with map-side partial aggregation. NB the probe
is EAGER: resolving ``cap="auto"`` runs a Spark job during DataFrame
CONSTRUCTION (before any action on the returned frame), because the cap
decision changes the plan being built. Two disciplines bound that cost:
every call site sits inside (or feeds) a persisted ledger artifact's
build, and the decision itself is memoized per ``cache_key`` in the
session's ledger (below), so repeated construction of the same operator
in one session probes exactly once. At
100 TB that is one cheap linear pass bought against a potential P²-row
shuffle.

Observability: every resolution is appended to a bounded in-module record
(:func:`decisions` / :func:`pop_decisions`) so a gate harness can report
WHICH queries ran with an engaged cap — an engaged-cap oracle mismatch is
then distinguishable from a genuine defect (ADVICE r10).
"""

from __future__ import annotations

import logging
from typing import Hashable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import ledger

log = logging.getLogger(__name__)

# engage the cap when Σ n·(n−1)/2 exceeds this multiple of Σ n — see the
# measured table in the module docstring for where 64 sits
SKEW_COST_BUDGET = 64

# the measured engaged-cap values (the knobs' documented sweet spots):
# LSH bucket cap 64 → 72.9× candidate collapse at 95.7% recall (SCALE.md
# §11.5); chunk posting cap 8 → 110× wall collapse on the 64-clone leg
# (§11.8); ER block cap 8 → cap² per-block bound (§11.9)
AUTO_BUCKET_CAP = 64
AUTO_POSTING_CAP = 8
AUTO_BLOCK_CAP = 8

# type alias for the knob: None (off), int (manual), or "auto"
CapSpec = int | str | None

# memoized "auto" resolutions: the ledger memo "skew-decisions" of the
# session that probed, cache_key → the full decision entry (cap, engaged,
# measured numbers), so a decision never outlives or crosses its session.
# Bounded by _DECISION_MAX. The whole entry is kept — not just the cap —
# so a cache hit can still append to the decision log (ADVICE r11: a
# memoized hit that skipped the log made a later query's cap engagement
# invisible to the gate harness, misattributing a cap-induced oracle diff
# as a plain MISMATCH).
_DECISION_MAX = 64

# chronological record of every resolution this session, newest last —
# the gate-surfacing hook (ADVICE r10): a harness drains it per query via
# pop_decisions() and can mark engaged-cap results as "approximation
# engaged" instead of misreading a cap-induced diff as a defect.
_DECISION_LOG: list[dict] = []
_DECISION_LOG_MAX = 256


def decisions() -> list[dict]:
    """Snapshot of this session's resolve_cap decisions, oldest first."""
    return list(_DECISION_LOG)


def pop_decisions() -> list[dict]:
    """Drain and return the decision record — gate harnesses call this
    after each query so engagement attaches to the query that probed."""
    out = list(_DECISION_LOG)
    _DECISION_LOG.clear()
    return out


def clear_decision_cache(spark) -> None:
    """Drop ``spark``'s memoized resolutions and the decision record (tests)."""
    ledger.of(spark).memo.pop("skew-decisions", None)
    _DECISION_LOG.clear()


def _record(entry: dict) -> None:
    _DECISION_LOG.append(entry)
    if len(_DECISION_LOG) > _DECISION_LOG_MAX:
        del _DECISION_LOG[: len(_DECISION_LOG) - _DECISION_LOG_MAX]


def resolve_cap(
    cap: CapSpec,
    sizes: DataFrame,
    n_col: str,
    engaged_cap: int,
    *,
    name: str,
    budget: int = SKEW_COST_BUDGET,
    policy: str = "keep-lowest",
    cache_key: Hashable | None = None,
) -> int | None:
    """Resolve a cap knob: passthrough for ``None``/int, probe-and-decide
    for ``"auto"``.

    ``sizes`` must hold one row per join key with the key's row count in
    ``n_col``. Returns the cap to apply (``engaged_cap`` when the measured
    fan-out ``Σ n·(n−1)/2 > budget × Σ n``) or ``None``. Engagement is
    logged with the measured numbers AND the call site's cap ``policy``
    ("keep-lowest": rows past the cap in doc-id order are dropped;
    "drop-bucket": the whole oversized bucket is dropped) so a production
    run records exactly what was done and why.

    NB the probe is an EAGER Spark job (see module docstring). Pass
    ``cache_key`` — conventionally ``(name, sf_dir)`` plus any parameters
    that change the sizes frame — to memoize the decision: the probe then
    runs at most once per key per session.
    """
    if cap != "auto":
        return cap  # None or a hand-set int
    memo = ledger.of(sizes.sparkSession).memo.setdefault("skew-decisions", {})
    if cache_key is not None and cache_key in memo:
        # Memoized hit: skip the probe job but STILL log the decision, so
        # every query that runs under this cap gets its own engagement
        # entry for the gate harness to drain (ADVICE r11 medium).
        hit = memo[cache_key]
        _record({**hit, "cached": True})
        return hit["cap"]
    row = sizes.agg(
        F.sum(F.expr(f"CAST({n_col} AS BIGINT) * ({n_col} - 1) / 2")).alias("pairs"),
        F.sum(n_col).cast("long").alias("rows"),
    ).collect()[0]
    pairs = int(row["pairs"] or 0)
    rows = int(row["rows"] or 0)
    engaged = not (rows == 0 or pairs <= budget * rows)
    resolved = engaged_cap if engaged else None
    entry = {
        "name": name,
        "engaged": engaged,
        "cap": resolved,
        "policy": policy,
        "pairs": pairs,
        "rows": rows,
        "budget": budget,
    }
    _record(entry)
    if cache_key is not None:
        if len(memo) >= _DECISION_MAX:
            memo.clear()  # tiny dict of scalars; wholesale reset
        memo[cache_key] = entry
    if not engaged:
        log.info(
            "skew guard %s: fan-out %d pairs / %d rows (budget %d×) — cap stays off",
            name, pairs, rows, budget,
        )
        return None
    log.warning(
        "skew guard %s ENGAGED: est. candidate fan-out %d pairs from %d posting "
        "rows exceeds the %dx budget — capping at %d rows/key, policy=%s "
        "(recall tradeoff measured in docs/SCALE.md)",
        name, pairs, rows, budget, engaged_cap, policy,
    )
    return engaged_cap
