"""Streaming state-store AUDIT: run a stateful aggregation stream to a
real checkpoint, then read the checkpoint's state back through Spark's
State Data Source (`spark.read.format("statestore")`) and verify it
against the batch truth — the operational capability a production
streaming deployment leans on when a stateful query misbehaves ("what is
ACTUALLY in operator 0's state right now?"). Spark 4 ships the state
reader as a first-class batch source; this registers the audit as a
query so the capability is exercised (and oracle-checked) every round,
not just documented.

Scale shape: the state source reads the HDFS/RocksDB state files
directly with one task per store partition — no re-execution of the
stream — so auditing a 10⁹-key state is a parallel scan of the
checkpoint, not a replay of the input log. The audited statistic here
(per-key running count) equals the batch aggregate by the exactly-once
sink contract, which is precisely what the oracle asserts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tmp_scratch_dir
from .event_count import _events_stream
from . import memory_drain

# bump to invalidate checkpoints if the stream's plan ever changes shape
# (a resumed checkpoint with a different aggregation layout fails loudly)
_AUDIT_STATE_V = "v1"


def _source_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the stream's source. Folded into the
    checkpoint key so regenerated fixture data at the same path gets a
    FRESH checkpoint (ADVICE r11): a resumed file-source log would
    otherwise skip same-named files (stale counts) or accumulate new file
    names on top of old complete-mode state (inflated counts) — diverging
    from the batch truth for a reason unrelated to exactly-once
    semantics."""
    from ..tables import file_fingerprint

    return file_fingerprint(os.path.join(sf_dir, "events.parquet"))


def _checkpoint_dir(sf_dir: str) -> str:
    return tmp_scratch_dir(
        "state_audit", f"{sf_dir}:{_AUDIT_STATE_V}:{_source_fingerprint(sf_dir)}"
    )


def stream_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type running counts drained through a CHECKPOINTED complete-mode
    aggregation, then re-read from the state store itself. Returns one row
    per event_type with the state's count — byte-for-byte the batch
    GROUP BY, proven via the state files rather than the sink.

    Re-running in the same session (or a later one) resumes the same
    checkpoint: AvailableNow finds no new files, the state is unchanged,
    and the audit is deterministic."""
    ckpt = _checkpoint_dir(sf_dir)
    os.makedirs(ckpt, exist_ok=True)
    counts = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    memory_drain(counts, "stream_state_audit_sink", "complete", checkpoint=ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
    )
