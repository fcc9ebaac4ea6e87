"""Streaming first-seen dedup over the documents stream: a keyed
applyInPandasWithState processor that emits each content fingerprint's
keeper exactly ONCE across the life of the stream — the streaming half of
the incremental-crawl dedup (operators/dedup.py incremental_new_docs is
the batch half).

Native streaming dropDuplicates keeps the FIRST ARRIVAL, which is
partition-race nondeterministic; keeping the MIN doc_id per fingerprint
makes the operator deterministic, and under Trigger.AvailableNow with one
input file (single micro-batch) it equals the batch groupBy — EXACT DuckDB
oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .event_count import _stream_dir_for
from . import memory_drain


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transformed (un-sunk) first-seen-dedup stream — shared by the
    registered query and the steady-state harness (streaming/steady.py)."""
    batch_schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    src = (
        spark.readStream.schema(batch_schema)
        .format("parquet")
        .load(_stream_dir_for(sf_dir, "documents"))
    )
    return first_seen_dedup(src)


def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents stream → fingerprint → keyed stateful dedup: per-key state
    records the keeper; a key yields output only on first sight. State
    lives for the stream's life (a production deployment adds a TTL to
    bound it, e.g. a GroupStateTimeout that drops idle keys)."""
    deduped = dedup_stream(spark, sf_dir)
    return memory_drain(deduped, "stream_dedup_stateful_sink", "update")


def first_seen_dedup(src: DataFrame) -> DataFrame:
    """The keyed first-seen-keeper transform over any streaming documents
    frame (needs text + doc_id): one output row per fingerprint, emitted
    the first time the key is seen across the LIFE of the stream —
    including across checkpointed restarts (state recovery is asserted in
    tests/test_streaming_recovery.py)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def first_seen(key, pdfs, state: GroupState):
        import pandas as pd

        best = None
        for pdf in pdfs:
            b = int(pdf["doc_id"].min())
            best = b if best is None else min(best, b)
        if not state.exists:
            state.update((best,))
            yield pd.DataFrame({"fp": [key[0]], "keeper_id": [best]})

    return (
        src.withColumn("fp", F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
        .select("fp", "doc_id")
        .groupBy("fp")
        .applyInPandasWithState(
            first_seen,
            outputStructType="fp string, keeper_id long",
            stateStructType="keeper long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in state-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
    on (user_id, event_type) over the events stream. Contrast with the
    custom keepers above: here the engine itself evicts a key's state once
    the watermark passes its event time + delay, so state size is
    ∝ distinct keys per delay window rather than stream history — the
    correct default for an unbounded 100 TB event stream (the custom
    first-seen keeper needs an explicit timeout for the same bound).

    Which duplicate ROW survives is arrival-order-racy, so the operator
    projects ONLY the dedup key columns — the surviving key SET is
    deterministic, and under a single AvailableNow micro-batch equals
    batch SELECT DISTINCT: exact DuckDB oracle."""
    from .event_count import _events_stream

    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return memory_drain(deduped, "stream_dedup_watermark_sink", "append")
