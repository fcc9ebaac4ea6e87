"""Streaming sketch maintenance: per-type distinct-user HLL sketches kept
as STREAMING AGGREGATION STATE — the pattern behind every live "uniques
right now" dashboard at 100 TB/day: the stream folds each micro-batch
into fixed-size mergeable sketch registers (DataSketches HLL, lgK=12 —
4 KB per group regardless of user count), and any reader gets the
current estimate without touching raw events. The batch twin of this
state shape is hll_sketch_rollup's stored pre-aggregate.

Verification follows the round-9 streaming contract (complete mode +
Trigger.AvailableNow ⇒ the drained result is a pure function of the
bounded input). A measured subtlety shapes the gate: in the SPARSE
(coupon-exact) regime the drained stream sketch estimates exactly what
a batch sketch over the same rows does (sf0.001/0.01 here), but once
the sketch goes DENSE (sf0.1: 1500 uniques/type) the stream's
per-micro-batch/state-store merge TOPOLOGY differs from the batch
aggregate's partition-partial merges and the two estimates diverge by a
few counts — register updates are order-insensitive, union promotion
paths are not. So the registered flags assert what is actually
guaranteed at every scale: the STREAM estimate and the BATCH estimate
each land within the HLL error bound of the exact answer (lgK=12 ⇒
rsd ≈ 1.3%; gate 5%·exact + 1). DuckDB-oracled like the other gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .event_count import _events_stream
from . import memory_drain


def stream_hll_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type, maintained as streaming HLL sketch
    state and gated against the exact batch answer: emits per type the
    exact distinct count plus two reproducible flags —
    stream_within_5pct and batch_within_5pct (each estimate within
    5%·exact + 1 of the exact distinct; see module docstring for why
    stream ≡ batch equality is NOT the contract once the sketch goes
    dense)."""
    sk = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    stream_est = memory_drain(sk, "stream_hll_uniques_sink", "complete").select(
        "event_type", F.hll_sketch_estimate("sk").alias("est_stream")
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias(
                "est_batch"
            ),
        )
    )
    bound = F.col("n_users") * 0.05 + 1
    return batch.join(stream_est, "event_type").select(
        "event_type",
        "n_users",
        (F.abs(F.col("est_stream") - F.col("n_users")) <= bound).alias(
            "stream_within_5pct"
        ),
        (F.abs(F.col("est_batch") - F.col("n_users")) <= bound).alias(
            "batch_within_5pct"
        ),
    )
