"""Streaming distribution-drift monitor: per-window χ² distance of the
event-value histogram against the static full-corpus reference — the
serve-time twin of the batch drift pair (vocab_drift_chi2's categorical
χ², drift_ks_value's continuous KS). In production the reference is the
training-time histogram and the stream is the serving feed; on the
fixtures the reference is the same corpus, so the per-window readings are
an A/A baseline (nonzero only because daily mixes differ from the global
mix).

χ², not PSI: PSI's ln() term differs in the last ulp between libm
implementations (the tf_idf/lm_bigram rationale), while the χ² statistic
is pure rational arithmetic over exact integer counts — expected counts
are one correctly-rounded double division, each bucket term two more, and
the per-window sum is taken over floor-micro-rounded INTEGER term values
(the score_e6 discipline), so Spark and DuckDB agree bit-for-bit
regardless of aggregation order.

Plan shape: the stream side is one complete-mode tumbling-window count
per (day, bucket) — partial-aggregated, watermark-free under
AvailableNow; the reference is a tiny static aggregate broadcast into the
post-drain join. At 100 TB the reference histogram is a stored artifact
and the windowed counts are the only streaming state (≤ days × buckets
rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .event_count import _events_stream
from . import memory_drain

# value buckets: floor(value) clamped to [0, 9] — events values are small
# nonnegative doubles, so this is a ten-bin histogram with full coverage
N_DRIFT_BUCKETS = 10


def _bucket_expr(col: str) -> str:
    return f"CAST(least({N_DRIFT_BUCKETS - 1}, greatest(0, floor({col}))) AS INT)"


def stream_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream → per-(day, value-bucket) counts (complete mode,
    AvailableNow drain) → post-drain χ² against the static reference
    histogram. Output one row per day: (window_start, n_values, chi2).
    Buckets absent from a window still contribute their expected count
    (the windows × reference-buckets frame is completed before the term
    computation); reference coverage is total by construction (same value
    domain), so no division by a zero expectation."""
    ev = (
        _events_stream(spark, sf_dir)
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            F.window("ts", "1 day").alias("w"),
            F.expr(_bucket_expr("value")).alias("bucket"),
        )
    )
    counts = ev.groupBy(F.col("w.start").alias("wstart"), "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    drained = memory_drain(counts, "stream_drift_chi2_sink", "complete")

    ref = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(F.expr(_bucket_expr("value")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("ref_n"))
    )
    ref_total = ref.agg(F.sum("ref_n").cast("long").alias("t")).collect()[0]["t"]
    win_totals = drained.groupBy("wstart").agg(
        F.sum("obs").cast("long").alias("win_total")
    )
    # re-aliased projection of the drained sink: joining the sink view
    # against its own aggregate trips the analyzer's conflicting-attribute
    # check, so the observation side gets fresh attribute ids
    observed = drained.select(
        F.col("wstart").alias("o_wstart"),
        F.col("bucket").alias("o_bucket"),
        "obs",
    )
    # complete the (window × reference bucket) grid so zero-obs buckets
    # still contribute (0 − exp)²/exp
    grid = win_totals.crossJoin(F.broadcast(ref))
    terms = (
        grid.join(
            observed,
            (F.col("wstart") == F.col("o_wstart"))
            & (F.col("bucket") == F.col("o_bucket")),
            "left",
        )
        .select(
            "wstart",
            "win_total",
            F.coalesce("obs", F.lit(0).cast("long")).alias("obs"),
            "ref_n",
        )
        .withColumn(
            "term_e6",
            F.expr(
                f"CAST(floor((CAST(obs AS DOUBLE) - CAST(ref_n AS DOUBLE) * win_total / {ref_total}) "
                f"* (CAST(obs AS DOUBLE) - CAST(ref_n AS DOUBLE) * win_total / {ref_total}) "
                f"/ (CAST(ref_n AS DOUBLE) * win_total / {ref_total}) * 1e6 + 0.5) AS BIGINT)"
            ),
        )
    )
    return (
        terms.groupBy("wstart", "win_total")
        .agg(F.sum("term_e6").alias("chi2_e6"))
        .select(
            F.date_format("wstart", "yyyy-MM-dd").alias("window_start"),
            F.col("win_total").alias("n_values"),
            F.expr("CAST(chi2_e6 AS DOUBLE) / 1e6").alias("chi2"),
        )
    )
