"""Streaming event counting (X14): the reference's count-by-key query as a
Structured Streaming job — file source → watermark → tumbling window →
stateful count — verified against its batch twin
(relational.window_tumbling_count) on the same data.

Batch-testable via Trigger.AvailableNow + memory sink: the stream drains the
parquet once and terminates, so the result is finished and deterministic —
since round 9 both queries here carry EXACT DuckDB oracles (their batch
twins' SQL verbatim; complete mode means the watermark never drops output). At scale
the same plan runs unmodified against a Kafka/file stream with the watermark
bounding state (late events beyond 1h are dropped, state GC'd per window).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from . import memory_drain


def _stream_dir_for(sf_dir: str, table: str) -> str:
    """Spark's file streaming source requires a *directory*; testdata is one
    parquet file per table (read-only). Expose <table>.parquet through a
    per-(sf_dir, table, uid) temp directory holding symlinks — zero copy.

    When the table path is itself a DIRECTORY of part files (the
    Spark-written .scaledata legs), each data file is linked individually:
    the file stream source's glob does NOT traverse a symlinked directory
    (it listed zero rows at the sf1.0 leg), but follows file symlinks
    fine. Stale links (target deleted, target set changed) are pruned and
    rebuilt — ``os.path.exists`` follows symlinks, so ``lexists`` +
    unlink-then-recreate is the race-safe idiom throughout."""
    from ..tables import tmp_scratch_dir

    d = tmp_scratch_dir("stream", f"{sf_dir}:{table}")
    os.makedirs(d, exist_ok=True)
    target = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(target):
        want = {
            f: os.path.join(target, f)
            for f in os.listdir(target)
            if not f.startswith(("_", ".")) and f.endswith(".parquet")
        }
    else:
        want = {f"{table}.parquet": target}
    for existing in os.listdir(d):
        link = os.path.join(d, existing)
        tgt = want.get(existing)
        if tgt is None or not os.path.exists(link) or (
            os.path.realpath(link) != os.path.realpath(tgt)
        ):
            try:
                os.unlink(link)  # no longer wanted, dangling, or retargeted
            except FileNotFoundError:
                pass  # concurrent pruner already removed it
    for name, tgt in want.items():
        link = os.path.join(d, name)
        if not os.path.lexists(link):
            try:
                os.symlink(tgt, link)
            except FileExistsError:
                pass  # concurrent creator won the race; link now exists
    return d


def _stream_dir(sf_dir: str) -> str:
    return _stream_dir_for(sf_dir, "events")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # file streaming source needs an explicit schema; ts is TIMESTAMP(NANOS)
    # in the parquet (FIXTURES.md). Match the batch loader
    # (tables.load_table): declare whatever dtype this runtime's parquet
    # reader surfaces for the column — TIMESTAMP_NTZ truncated to micros on
    # Spark >= 4.1, int64 nanos on legacy nanosAsLong sessions — and
    # normalize to TimestampType (session tz is pinned UTC).
    ts_type = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema["ts"].dataType
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
        ]
    ).add("event_type", "string").add("value", "double").add("props", "string")
    stream = spark.readStream.schema(schema).format("parquet").load(_stream_dir(sf_dir))
    if isinstance(ts_type, LongType):
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_event_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window count per event_type with a 1-hour watermark.

    Returns the finished result as a DataFrame (memory sink, AvailableNow).
    Column names/types match the batch twin window_tumbling_count so
    equivalence is a direct frame comparison.
    """
    windowed = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return memory_drain(windowed, "stream_event_count_sink", "complete")


def stream_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window streaming count: 1-hour windows sliding every
    15 minutes with a 1-hour watermark — the streaming twin of
    ``operators.temporal.window_sliding_count`` (same column names, so the
    local equivalence test is a direct frame comparison). Each arriving
    event updates window_len/slide = 4 window states; the watermark closes
    and GCs windows whose end falls behind max(ts) - 1h."""
    windowed = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return memory_drain(windowed, "stream_sliding_count_sink", "complete")
