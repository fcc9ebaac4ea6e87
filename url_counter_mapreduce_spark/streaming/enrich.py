"""Stream-static join (north star streaming surface): enrich a live event
stream with a broadcast dimension table — the canonical streaming
enrichment shape. The static side is read once per micro-batch and
broadcast; no stream-side state is created (unlike stream-stream joins).

The testdata has no user-dimension table, so the dimension is derived
deterministically from `nation` (user_id % 25 → nation) — the join
mechanics (static broadcast against an unbounded stream) are the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .event_count import _events_stream
from . import memory_drain


def stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per nation name: stream ⋈ broadcast(static dim) → stateful
    count, drained with AvailableNow. Matches the batch equivalent exactly
    on bounded input (asserted in tests)."""
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("dim_key"), F.col("n_name").alias("nation")
    )
    enriched = (
        _events_stream(spark, sf_dir)
        .withColumn("dim_key", (F.col("user_id") % 25).cast("int"))
        .join(F.broadcast(nation), "dim_key")
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return memory_drain(enriched, "stream_enriched_counts_sink", "complete")
