"""Custom stateful streaming operators (north star: applyInPandasWithState
for operators Spark's built-ins can't express).

Two variants over the events stream:
  - stream_sessionize: Spark's native session_window (gap-merged windows,
    watermark-bounded state) — the built-in should always be tried first;
  - stream_user_stats: applyInPandasWithState — the escape hatch shape for
    genuinely custom state (here: per-user running count/sum emitted per
    micro-batch, state carried as a tuple).

Both carry EXACT oracles since round 9: under Trigger.AvailableNow the
drained output is deterministic — sessionize emits exactly the sessions
whose end is <= the final watermark (boundary + ms-truncation pinned by
probe in tests/test_properties.py), and user_stats' final state per key
equals the batch per-user aggregate. Tests additionally check both
against their Spark batch equivalents.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .event_count import _events_stream
from . import memory_drain

SESSION_GAP = "30 minutes"


def sessionized_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transformed (un-sunk) session stream — shared by the registered
    query and the steady-state harness (streaming/steady.py)."""
    return (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions as a *streaming* aggregation: session_window
    merges events within a 30-minute gap; the watermark closes sessions and
    GCs their state. Append mode emits only watermark-closed sessions, so
    sessions within 1h of the stream's end stay open (checked as a subset
    of the batch sessionization in tests)."""
    windowed = sessionized_stream(spark, sf_dir)
    return memory_drain(windowed, "stream_sessionize_sink", "append")


STATE_SCHEMA = "n long, total double"
OUT_SCHEMA = "user_id long, n_events long, sum_value double"


def stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, sum) via applyInPandasWithState — the
    arbitrary-stateful-operator surface. State is a (n, total) tuple per
    user; each micro-batch folds its rows into state and emits the updated
    row. The closure is self-contained (executor workers import nothing
    from this package)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 4)]}
        )

    stats = (
        _events_stream(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = memory_drain(stats, "stream_user_stats_sink", "update")
    # update mode may emit a user several times across micro-batches; the
    # final state per user is the row with the largest n_events
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
