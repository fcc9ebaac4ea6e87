"""Stream-stream join: the last missing streaming join shape (enrich.py
covers stream-static). Purchases and views arrive as two independent
streams; each purchase joins the same user's views from the preceding 30
minutes. Both sides carry watermarks and the join condition bounds event
time on both sides, so state for rows older than watermark+interval is
GC'd — the unbounded-state hazard of stream-stream joins is capped.

Under Trigger.AvailableNow with one input file per side both streams fit
in a single micro-batch, making the inner join's output equal to the batch
interval join — so this streaming query carries an EXACT DuckDB oracle
(like foreach_batch.py; rare for streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .event_count import _events_stream
from . import memory_drain

JOIN_WINDOW = "30 minutes"


def joined_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transformed (un-sunk) stream — shared by the registered query
    below and the steady-state marginal-drain harness (streaming/steady.py),
    which attaches its own persistent checkpoint + foreachBatch sink."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    return purchases.join(
        views,
        F.expr(
            f"user_id = v_user AND v_ts BETWEEN p_ts - INTERVAL {JOIN_WINDOW} AND p_ts"
        ),
    ).select(
        "purchase_id",
        "view_id",
        "user_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """purchase stream ⋈ view stream: (purchase, view) pairs per user with
    the view in [purchase.ts − 30 min, purchase.ts]."""
    joined = joined_stream(spark, sf_dir)
    return memory_drain(joined, "stream_stream_join_sink", "append")
