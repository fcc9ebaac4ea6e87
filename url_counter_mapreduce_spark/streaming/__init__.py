"""Structured Streaming variants of the counting queries (SURVEY.md §2.3
X14). The reference is batch-only (§2.2); these are capability extensions."""

from __future__ import annotations

import os

from ..ledger import scoped_conf


def stream_shuffle_partitions(spark):
    """Scope a stream start/drain to the STREAM state-partition count.

    ``spark.sql.shuffle.partitions`` doubles as the stateful-operator state
    partition count in Structured Streaming, where AQE partition coalescing
    does NOT apply — so the batch default (32, the AQE *initial* count that
    coalescing right-sizes per query) is taken literally by every stream:
    each micro-batch commits one state-store instance per partition per
    stateful operator (a stream-stream join keeps FOUR stores per
    partition). Measured on the r13 optimization host, a tiny AvailableNow
    drain pays ~20-30 ms of dispatch+commit per state partition per batch:
    stream_event_count 6.5 s at 32 partitions vs 1.27 s at 8;
    stream_stream_join 14.2 s vs 3.4 s — pure fixed cost, zero result change
    (state partitioning never affects WHAT a query computes, only where
    keys live; the driver's oracle hash is order-insensitive).

    The count is a DEPLOYMENT knob, not a local tuning constant: Structured
    Streaming pins it into the checkpoint at first start, and a production
    job sizes it to expected STATE volume (keys x bytes per key / target
    partition size), not to core count. ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS``
    (default 8) parameterizes it; 8 is sized to the fixture streams' state
    (thousands of keys) while keeping enough parallelism for the
    python-stateful transformWithState paths (measured WORSE at 2 than at 8
    — Arrow batches need concurrent workers). At 100 TB state, set it to
    hundreds/thousands; resumed checkpoints keep their recorded count
    regardless, so the knob can never corrupt existing state.

    Restores the previous session value on exit (ledger.scoped_conf) so
    surrounding BATCH queries keep their AQE initial-partition setting.
    The scope holds the session lock while the stream drains; the
    foreachBatch callbacks it runs must not take it.

    Deployment sizing formula and first-start caveats: docs/USAGE.md §4
    ("Production MUST-SET").
    """
    return scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8"
            )
        },
    )
