"""Temporal / event-sequence operators: gap-based sessionization, as-of
join, exact quantiles, pivot — the event-analytics layer a training-data
pipeline needs over an `events` stream table (driver north star; the
reference has no temporal operators at all, SURVEY.md §2.2).

Oracle notes:
  - sessionize_events is mirrored in DuckDB with the identical window SQL;
  - join_asof is deliberately formulated DIFFERENTLY in the oracle (DuckDB's
    native ASOF JOIN vs Spark's range-frame window max) — two independent
    derivations agreeing is a stronger correctness signal than a
    transliterated query;
  - quantiles use exact linear-interpolation percentiles in both engines
    (Spark `percentile`, DuckDB `quantile_cont`).

Timestamps in outputs are ISO strings with microseconds (project convention
— see relational.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ledger import checkpoint
from ..tables import load_table

SESSION_GAP_MIN = 30
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a session ends after 30 idle minutes.
    Classic two-window formulation — lag to flag session starts, running
    sum to number sessions — then one aggregate per session. Both windows
    and the aggregate shuffle on user_id only (one exchange; the windows
    and groupBy share partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
            > SESSION_GAP_MIN * 60,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return flagged.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
        F.date_format(F.max("ts"), TS_FMT).alias("session_end"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the timestamp of the same
    user's most recent strictly-earlier view event (NULL if none).

    Spark lacks a native ASOF JOIN; the idiomatic formulation is a
    range-frame window over the unioned event stream: one shuffle on
    user_id, no join at all. (The DuckDB oracle uses its native ASOF JOIN —
    an independent derivation of the same semantics.) At 100 TB this is
    the right shape: sort-within-partition + running max, versus a
    backward-scan nested-loop per probe row."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    us = ev.withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(Window.unboundedPreceding, -1)  # strictly earlier ts
    )
    enriched = us.withColumn(
        "prev_view_us", F.max(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w)
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_FMT).alias("purchase_ts"),
            F.date_format(F.timestamp_micros(F.col("prev_view_us")), TS_FMT).alias("prev_view_ts"),
        )
    )


def quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles of value per event_type.
    Spark's `percentile` (exact, sort-based) — the approx_percentile
    variant is the 100 TB default; exact is kept here because the oracle
    can verify it bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts, one column per event type. Explicit
    value list (no discovery pass over the data — at 100 TB the implicit
    distinct scan is a full extra job); absent combinations filled with 0
    to match ANSI conditional-aggregation semantics."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


# Sliding-window parameters: 1-hour windows advancing every 15 minutes —
# each event lands in WINDOW_US / SLIDE_US = 4 overlapping windows. Spark
# aligns window starts to the epoch (slide boundaries), so the assignment
# is pure integer arithmetic on microseconds and the DuckDB oracle can
# replay it exactly with a range() unnest.
SLIDE_WINDOW_US = 3_600_000_000
SLIDE_STEP_US = 900_000_000


def window_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: events per 1-hour window sliding by
    15 minutes, per event type — the batch twin of the streaming hopping
    window (`streaming.event_count.stream_sliding_count`). Spark expands
    each row into window_len/slide = 4 (window, row) pairs map-side, then
    one partial-aggregated groupBy — shuffle carries only the aggregated
    (window, type) pairs, not the 4× row expansion."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: hourly event counts per type with missing
    buckets materialized as zero rows — the densification step before any
    rolling-average / anomaly pass (a gap is signal, not absence).

    Scale shape: the raw table is aggregated FIRST (one shuffle on
    (type, bucket)); the spine is generated from the per-type min/max via
    sequence()+explode — rows ∝ hours × types, trivially small next to the
    corpus — and the final left join is a broadcast of the aggregate onto
    the spine. No global sort, no per-row Python."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("bucket"),
        )
    )
    return (
        spine.join(hourly, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (`F.session_window`, 30-minute gap): per-user
    sessions merge while consecutive events arrive within the gap —
    INCLUSIVE of the boundary (an event at exactly last_ts + gap still
    merges; verified by tests/test_properties.py's boundary probe), i.e.
    the same strict-`>`-splits rule as the lag-based `sessionize_events`.
    The session end is last_ts + gap, not last_ts.

    Same shuffle shape as the lag formulation — one exchange on user_id —
    but expressed through the engine's native session operator, so the
    identical query runs unmodified over an unbounded stream with a
    watermark bounding session state."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), TS_FMT).alias("session_start"),
            F.date_format(F.col("w.end"), TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SCD2_VALUE_BAND = 100.0


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) interval materialization:
    per user, contiguous runs of the same value band ('high' ≥ 100 /
    'low') become validity intervals [valid_from, valid_to), the open
    current interval carrying NULL valid_to — the standard warehouse
    history table built from an event stream.

    Gaps-and-islands: change-flag via lag, island id via running sum,
    one aggregate per island, then a lead over the aggregated islands for
    valid_to. Every window and the aggregate shuffle on user_id ONLY (one
    exchange reused end-to-end); the lead runs over islands, already ~2-3
    orders of magnitude smaller than events."""
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    banded = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") >= SCD2_VALUE_BAND, F.lit("high")).otherwise(F.lit("low")).alias("band"),
    )
    flagged = banded.withColumn(
        "chg",
        F.when(F.lag("band", 1).over(w).isNull() | (F.lag("band", 1).over(w) != F.col("band")), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    islands = flagged.groupBy("user_id", "island", "band").agg(
        F.min("ts").alias("vf"), F.count(F.lit(1)).alias("n_events")
    )
    wl = Window.partitionBy("user_id").orderBy(F.col("island").asc())
    return islands.select(
        "user_id",
        "band",
        F.date_format("vf", TS_FMT).alias("valid_from"),
        F.date_format(F.lead("vf", 1).over(wl), TS_FMT).alias("valid_to"),
        "n_events",
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted by
    distinct active days at each offset — the standard product-analytics
    retention triangle. Shape: per-user min (one shuffle on user_id), a
    distinct over (user, day) (same key prefix), one broadcast-sized join
    back, and a final small groupBy on (cohort, offset)."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    active = ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    return (
        active.join(first, "user_id")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("day"), F.col("cohort_day")).cast("long").alias("offset_days"),
            "user_id",
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly after their
    first view, then purchased strictly after that click — per-stage user
    counts plus conversion fraction from stage 1. Three aggregates all
    keyed on user_id (AQE reuses the partitioning; no other shuffle), then
    a 3-row union. The naive alternative — a per-user sorted event scan in
    Python — is what this shape replaces at 100 TB."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin(*FUNNEL_STAGES))
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        t1.agg(F.count(F.lit(1)).alias("n")).select(F.lit("1_view").alias("stage"), "n")
        .unionAll(t2.agg(F.count(F.lit(1)).alias("n")).select(F.lit("2_click").alias("stage"), "n"))
        .unionAll(t3.agg(F.count(F.lit(1)).alias("n")).select(F.lit("3_purchase").alias("stage"), "n"))
    )
    from ..tables import scalar_join

    base = t1.agg(F.count(F.lit(1)).alias("n_base"))
    return scalar_join(counts, base).select(
        "stage",
        "n",
        F.expr(stable_round("CAST(n AS DOUBLE) / n_base", 6)).alias("frac_of_first"),
    )


BUCKET_QS = (0.25, 0.5, 0.75)


def value_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) discretization of value per event type — the
    feature-binning pass of feature engineering: boundaries from exact
    per-group percentiles, each event assigned its quartile by comparison,
    reported as per-(type, bucket) count + range. Boundaries are one tiny
    aggregate broadcast back onto the stream (one shuffle for the
    boundary agg, one for the final count; the assignment itself is
    map-side). At 100 TB the boundary pass switches to approx_percentile
    — the assignment plan is unchanged."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        *[
            F.expr(f"percentile(value, {q})").alias(f"q{int(q * 100)}")
            for q in BUCKET_QS
        ]
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .withColumn(
            "bucket",
            F.expr(
                "CASE WHEN value < q25 THEN 0 WHEN value < q50 THEN 1"
                " WHEN value < q75 THEN 2 ELSE 3 END"
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(stable_round("min(value)", 6)).alias("min_value"),
            F.expr(stable_round("max(value)", 6)).alias("max_value"),
        )
    )


EWMA_TERMS = 16  # truncation error 2^-16 ≈ 1.5e-5 · |x|, below the 6dp grain


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (α = ½) of event
    values over time order — the standard smoothing pass monitoring
    pipelines run before thresholding. α = ½ makes every term an exact
    IEEE halving, so Spark and DuckDB produce bit-identical sums — the
    general-α EWMA is cross-engine-unsafe for the same reason log() is
    (pow() libm drift).

    Formulated as the 16-term truncated recurrence: s_n = Σ_{j<16}
    x_{n-j}/2^{j+1}. One window pass computes all 16 lags (single shuffle
    on user_id, frame state is 16 rows), stays in whole-stage codegen, and
    needs no per-user recursion — the exact recurrence would force a
    sequential scan per user (applyInPandas) for a correction of at most
    2^-16 of one value, far below the 6dp output grain."""
    from functools import reduce

    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.coalesce(F.col("value"), F.lit(0.0)).alias("xv")
    )
    w = Window.partitionBy("user_id").orderBy(
        # NULLS LAST pinned: Spark default is ASC NULLS FIRST, DuckDB
        # oracle ORDER BY defaults NULLS LAST — NULL-ts rows would get
        # divergent row_number/lag/lead assignments (ADVICE r06)
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    terms = [
        F.coalesce(F.lag("xv", j).over(w), F.lit(0.0)) / F.lit(float(2 ** (j + 1)))
        for j in range(EWMA_TERMS)
    ]
    return ev.withColumn("ewma_raw", reduce(lambda a, b: a + b, terms)).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "xv",
        F.expr(stable_round("ewma_raw", 6)).alias("ewma"),
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    session stream: counts and row-normalized probabilities of
    type→next-type transitions in time order — the sequence-model
    statistic behind next-action prediction and bot detection. NULL types
    coalesce to 'unknown' (degenerate-corpus battery).

    One window pass (lead over the user_id shuffle) + one
    partial-aggregated groupBy on the (from, to) domain; the row
    normalizer is a window over the aggregated |types|² rows, bounded by
    the type vocabulary, not the corpus. Probability is a single rational
    of two exact counts → stable_round."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce("event_type", F.lit("unknown")).alias("et"),
    )
    w = Window.partitionBy("user_id").orderBy(
        # NULLS LAST pinned: Spark default is ASC NULLS FIRST, DuckDB
        # oracle ORDER BY defaults NULLS LAST — NULL-ts rows would get
        # divergent row_number/lag/lead assignments (ADVICE r06)
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    trans = (
        ev.withColumn("next_et", F.lead("et").over(w))
        .filter(F.col("next_et").isNotNull())
        .groupBy(F.col("et").alias("from_type"), F.col("next_et").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    wt = Window.partitionBy("from_type")
    return (
        trans.withColumn("sum_from", F.sum("n_trans").over(wt))
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.expr(
                stable_round("CAST(n_trans AS DOUBLE) / CAST(sum_from AS DOUBLE)", 6)
            ).alias("prob"),
        )
    )


PATH_LEN = 8
PATH_TOP = 20


def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PATH_TOP user journeys: each user's first PATH_LEN event types
    in time order, concatenated 'a>b>c', counted across users — the
    sequence-mining view behind funnel discovery and bot-pattern triage
    (the full-path complement of events_markov_transitions' one-step
    matrix). NULL types coalesce to 'unknown'.

    One window pass (row_number over the user shuffle, head-truncated
    BEFORE the aggregate so only PATH_LEN rows per user survive), then a
    per-user ordered reassembly via array_sort(collect_list(struct(rn,
    et))) — collect_list order is plan-dependent, the struct sort makes it
    deterministic — and a path-count aggregate bounded by |users|, not
    events. Top-K via TakeOrderedAndProject with the path string as
    tiebreak."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce("event_type", F.lit("unknown")).alias("et"),
    )
    w = Window.partitionBy("user_id").orderBy(
        # NULLS LAST pinned: Spark default is ASC NULLS FIRST, DuckDB
        # oracle ORDER BY defaults NULLS LAST — NULL-ts rows would get
        # divergent row_number/lag/lead assignments (ADVICE r06)
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    paths = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_LEN)
        .groupBy("user_id")
        .agg(
            F.expr(
                "concat_ws('>', transform(array_sort(collect_list(struct(rn, et))),"
                " s -> s.et))"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(PATH_TOP)
    )


def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type over a deterministic 50/50
    user-level A/B assignment (md5 of user_id — the reproducible-split
    idiom of train_test_split): conversion = user emitted the type at
    least once; z = (pA - pB) / sqrt(p_pool (1 - p_pool) (1/nA + 1/nB)).
    This is the experiment-readout query every event pipeline ends in.

    Exactness: all inputs to the formula are exact integer counts from
    two hash aggregates (per-arm users; per-(type, arm) converters); the
    z arithmetic is the identical double expression tree in both engines
    (sqrt and / are IEEE correctly-rounded) -> stable_round(6). Shuffles
    are keyed on user then type; arm totals attach via the 2-row
    broadcast (scalar_join category)."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.coalesce("event_type", F.lit("unknown")).alias("et")
    )
    arm = F.expr(
        "IF(pmod(CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT), 2) = 0, 'A', 'B')"
    )
    users = ev.select("user_id").distinct().withColumn("arm", arm)
    arm_sizes = users.groupBy("arm").agg(F.count(F.lit(1)).alias("n_arm"))
    conv = (
        ev.select("user_id", "et")
        .distinct()
        .withColumn("arm", arm)
        .groupBy("et", "arm")
        .agg(F.count(F.lit(1)).alias("n_conv"))
    )
    wide = (
        conv.join(F.broadcast(arm_sizes), "arm")
        .groupBy("et")
        .agg(
            F.sum(F.expr("IF(arm = 'A', n_conv, 0)")).alias("conv_a"),
            F.sum(F.expr("IF(arm = 'B', n_conv, 0)")).alias("conv_b"),
            F.sum(F.expr("IF(arm = 'A', n_arm, 0)")).alias("n_a"),
            F.sum(F.expr("IF(arm = 'B', n_arm, 0)")).alias("n_b"),
        )
    )
    # nullif everywhere a divisor can be 0 (ANSI doubles error on x/0):
    # p_pool = 1 (zero variance) and an empty arm (degenerate corpus) both
    # make z undefined -> NULL in both engines
    z = (
        "(CAST(conv_a AS DOUBLE) / nullif(n_a, 0) - CAST(conv_b AS DOUBLE) / nullif(n_b, 0))"
        " / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / nullif(n_a + n_b, 0))"
        " * (1.0D - CAST(conv_a + conv_b AS DOUBLE) / nullif(n_a + n_b, 0))"
        " * (1.0D / nullif(n_a, 0) + 1.0D / nullif(n_b, 0))), 0.0D)"
    )
    return wide.select(
        F.col("et").alias("event_type"),
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr(stable_round(z, 6)).alias("z_score"),
    )


def revenue_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year growth —
    the seasonality readout of any revenue/volume monitoring stack.
    Formulated WITHOUT a global window: the corpus aggregates to the
    month domain first (partial-aggregated groupBy on ~|months| keys),
    then MoM/YoY attach by equi-JOIN on add_months(month, -1/-12) — the
    lag-as-join idiom that keeps the plan free of single-partition
    Exchanges at any scale.

    Exactness: revenue sums as half-up integer cents (order-independent);
    growth is a rational of two exact integers -> stable_round(6); the
    month key is an ISO yyyy-MM string in both engines."""
    from ..functions.vector import stable_round

    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month_ts"))
        .agg(
            F.expr(
                "SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
            ).alias("rev_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .transform(checkpoint, eager=False)  # fans into self-joins below
    )
    prev = m.select(
        F.expr("add_months(month_ts, 1)").cast("timestamp").alias("month_ts"),
        F.col("rev_cents").alias("prev_cents"),
    )
    yoy = m.select(
        F.expr("add_months(month_ts, 12)").cast("timestamp").alias("month_ts"),
        F.col("rev_cents").alias("yoy_cents"),
    )
    growth = "CAST(rev_cents - {p} AS DOUBLE) / {p}"
    return (
        m.join(prev, "month_ts", "left")
        .join(yoy, "month_ts", "left")
        .select(
            F.date_format("month_ts", "yyyy-MM").alias("month"),
            "n_orders",
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
            F.expr(stable_round(growth.format(p="prev_cents"), 6)).alias("mom_pct"),
            F.expr(stable_round(growth.format(p="yoy_cents"), 6)).alias("yoy_pct"),
        )
    )


AC_LAGS = (1, 24)


def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1 h and 24 h) of the zero-filled hourly
    event-count series per type — the seasonality detector that justifies
    (or kills) the daily-cycle assumption behind anomaly fences and
    capacity plans. Gaps are materialized as zeros first (a missing hour
    is a real 0, not an absent row — events_gap_fill's contract), so
    lag-k always means k hours.

    Exactness: the series is integer counts, so all five sufficient
    statistics accumulate as DECIMAL(38,0) (order-independent — the
    corr_pricing discipline) and only the closed-form Pearson division is
    floating point; zero-variance series yield NULL via nullif. The
    lag is an equi-join on (type, bucket + k hours) over the aggregated
    hourly domain — never a corpus-sized window."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").select(
        F.coalesce("event_type", F.lit("unknown")).alias("et"), "ts"
    )
    hourly = ev.groupBy("et", F.date_trunc("hour", "ts").alias("b")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = (
        hourly.groupBy("et")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("et", F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("b"))
    )
    filled = (
        spine.join(hourly, ["et", "b"], "left")
        .select("et", "b", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
        .transform(checkpoint, eager=False)  # fans into one pair join per lag
    )
    lagged = None
    for k in AC_LAGS:
        shifted = filled.select(
            "et",
            F.expr(f"b + INTERVAL {k} HOURS").alias("b"),
            F.col("n").alias("y"),
        )
        pairs = (
            filled.join(shifted, ["et", "b"])
            .select(
                "et",
                F.lit(k).cast("long").alias("lag_hours"),
                F.col("n").cast("decimal(38,0)").alias("x"),
                F.col("y").cast("decimal(38,0)").alias("y"),
            )
        )
        lagged = pairs if lagged is None else lagged.unionAll(pairs)
    s = lagged.groupBy("et", "lag_hours").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    return s.select(
        F.col("et").alias("event_type"),
        "lag_hours",
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            stable_round(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 0.0D)"
                " / nullif(sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0D)",
                6,
            )
        ).alias("autocorr"),
    )


def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap per event type — the
    weekly-seasonality matrix behind capacity planning and the
    events_autocorr 24 h reading. Pure map projection + one
    partial-aggregated groupBy on a (7 × 24 × |types|)-bounded domain.
    dow follows Spark's dayofweek() convention (1 = Sunday … 7 =
    Saturday; the oracle shifts DuckDB's 0-based value to match)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.coalesce("event_type", F.lit("unknown")).alias("event_type"),
            F.expr("CAST(dayofweek(ts) AS INT)").alias("dow"),
            F.expr("CAST(hour(ts) AS INT)").alias("hour"),
            "value",
        )
        .groupBy("event_type", "dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


RFM_QS = (0.2, 0.4, 0.6, 0.8)


def user_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile scoring per user —
    the standard audience-segmentation statistic: each user's last-event
    time, event count, and value sum are ranked against exact corpus
    quintile boundaries (the value_bucketing discipline: one tiny
    boundary aggregate broadcast back, assignment by comparison —
    map-side at any scale). 5 = top quintile on each axis; the composite
    segment is the 3-digit concatenation.

    Exactness: all three metrics are exact integers (micros / counts /
    half-up cents; NaN values contribute 0 cents BY SPEC so the sum
    stays exact); both engines interpolate percentiles over the same
    integers with the same formula (quantiles_value precedent)."""
    from ..tables import scalar_join

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr("unix_micros(max(ts))").alias("r_metric"),
        F.count(F.lit(1)).alias("f_metric"),
        F.sum(
            F.expr(
                "CASE WHEN value IS NULL OR isnan(value) THEN 0"
                " ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END"
            )
        ).alias("m_metric"),
    ).transform(checkpoint, eager=False)  # boundary agg + assignment share it
    bounds = u.agg(
        *[
            F.expr(f"percentile({m}_metric, {q})").alias(f"{m}q{int(q * 100)}")
            for m in ("r", "f", "m")
            for q in RFM_QS
        ]
    )
    score = lambda m: (  # noqa: E731
        f"CAST(1 + CAST({m}_metric > {m}q20 AS INT) + CAST({m}_metric > {m}q40 AS INT)"
        f" + CAST({m}_metric > {m}q60 AS INT) + CAST({m}_metric > {m}q80 AS INT) AS INT)"
    )
    return scalar_join(u, bounds).select(
        "user_id",
        F.expr(score("r")).alias("r_score"),
        F.expr(score("f")).alias("f_score"),
        F.expr(score("m")).alias("m_score"),
        F.expr(
            f"concat(CAST({score('r')} AS STRING), CAST({score('f')} AS STRING),"
            f" CAST({score('m')} AS STRING))"
        ).alias("rfm_segment"),
    )


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the hour where the
    cumulative deviation from the series mean peaks — the standard
    level-shift locator (Page 1954) behind "when did traffic change?".

    Formulated ENTIRELY in integers: with prefix_t = Σ_{i<=t} x_i and
    totals (n, S), the scaled CUSUM n·prefix_t − t·S equals n²·Σ(x_i −
    S/n) — same argmax, zero floating point, so both engines agree bit
    for bit with no rounding convention at all. The series is the
    zero-filled hourly count (events_gap_fill contract); all windows run
    over the bounded hourly domain per type, never the corpus."""
    ev = load_table(spark, sf_dir, "events").select(
        F.coalesce("event_type", F.lit("unknown")).alias("et"), "ts"
    )
    hourly = ev.groupBy("et", F.date_trunc("hour", "ts").alias("b")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = (
        hourly.groupBy("et")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("et", F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("b"))
    )
    filled = spine.join(hourly, ["et", "b"], "left").select(
        "et", "b", F.coalesce("n", F.lit(0)).cast("long").alias("x")
    )
    w = Window.partitionBy("et").orderBy("b")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scanned = filled.select(
        "et",
        "b",
        F.row_number().over(w).alias("t"),
        F.sum("x").over(wcum).alias("prefix"),
    )
    tot = filled.groupBy("et").agg(
        F.count(F.lit(1)).alias("n_hours"), F.sum("x").alias("s_total")
    )
    scored = scanned.join(tot, "et").select(
        "et",
        "b",
        "n_hours",
        F.expr("abs(n_hours * prefix - t * s_total)").alias("cusum_abs"),
    )
    pick = Window.partitionBy("et").orderBy(F.col("cusum_abs").desc(), F.col("b").asc())
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("et").alias("event_type"),
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("changepoint_hour"),
            "n_hours",
            F.col("cusum_abs").alias("cusum_peak"),
        )
    )


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier ingredients for time-to-second-event: per duration
    hour t, the risk set (users still 'alive' at t) and the event count —
    the survival-analysis readout behind retention/engagement ("how long
    until a user comes back?"), with single-event users right-CENSORED at
    the corpus horizon, which naive averages silently drop. Per-step
    hazard rows rather than the KM product: each row is one rational of
    exact integers (the product over steps would be order-dependent
    double multiplication).

    Durations are integer hours ((second−first) micros DIV 3.6e9 — exact
    integer division in both engines). The suffix risk-set sum runs over
    the duration DOMAIN (span-bounded — hours between corpus min and max,
    thousands at any corpus scale), so the unpartitioned sort is the
    rolling_daily_avg no-hazard; per-user work is one (user) window pass
    truncated to 2 rows."""
    from ..functions.vector import stable_round
    from ..tables import scalar_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(
        # NULLS LAST pinned: Spark default is ASC NULLS FIRST, DuckDB
        # oracle ORDER BY defaults NULLS LAST — NULL-ts rows would get
        # divergent row_number/lag/lead assignments (ADVICE r06)
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    per_user = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max(F.when(F.col("rn") == 2, F.col("ts"))).alias("second_ts"),
        )
        .filter(F.col("first_ts").isNotNull())
    )
    horizon = ev.agg(F.max("ts").alias("h_ts"))
    durs = scalar_join(per_user, horizon).select(
        F.expr(
            "IF(second_ts IS NOT NULL,"
            " (unix_micros(second_ts) - unix_micros(first_ts)) DIV 3600000000,"
            " (unix_micros(h_ts) - unix_micros(first_ts)) DIV 3600000000)"
        ).alias("t_hours"),
        F.expr("CAST(second_ts IS NOT NULL AS LONG)").alias("is_event"),
    )
    steps = durs.groupBy("t_hours").agg(
        F.sum("is_event").alias("d_events"),
        F.sum(F.expr("1 - is_event")).alias("c_censored"),
    )
    ws = Window.orderBy(F.col("t_hours").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        steps.withColumn("n_at_risk", F.sum(F.expr("d_events + c_censored")).over(ws))
        .filter(F.col("d_events") > 0)
        .select(
            "t_hours",
            "n_at_risk",
            "d_events",
            F.expr(
                stable_round("CAST(d_events AS DOUBLE) / n_at_risk", 6)
            ).alias("hazard"),
        )
    )


SEASONAL_HALF_WINDOW = 12  # ±12 h → centered 25-hour trend MA


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event-value
    series: y = trend + seasonal + residual, with trend = centered 25-hour
    moving average, seasonal = hour-of-day mean of the detrended series,
    residual the remainder — the moving-average decomposition (the first
    stage of STL, Cleveland et al. 1990) every metrics/drift stack runs
    before alerting on "anomalous" values that are really rush-hour.

    Exactness: hourly means, the trend MA, and the seasonal means are all
    integer floor-divisions of exact micro-unit sums (values quantize
    once per row); subtraction stays integer; only the final /1e6 display
    conversions are FP. Boundary hours use the partial window (count over
    the same frame) — deterministic on both engines.

    Plan shape at 100 TB: one (hour)-keyed partial-aggregated reduction
    of the corpus, then ALL further work — the MA window, the 24-group
    seasonal aggregate, the re-join — runs on the hour-domain series
    (time-span-bounded, thousands of rows at any corpus size; the
    unpartitioned ordered window is the rolling_daily_avg precedent)."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.expr("CAST(floor(coalesce(value, 0.0) * 1e6 + 0.5) AS BIGINT)").alias("vq"),
    )
    fd = "CAST(({s} - pmod({s}, {n})) div {n} AS BIGINT)"
    hourly = ev.groupBy("hr").agg(
        F.expr(fd.format(s="sum(vq)", n="count(1)")).alias("y_q"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wma = Window.orderBy(F.asc_nulls_last("hr")).rowsBetween(
        -SEASONAL_HALF_WINDOW, SEASONAL_HALF_WINDOW
    )
    trended = hourly.withColumn(
        "trend_q",
        F.expr(
            fd.format(
                s=f"sum(y_q) OVER (ORDER BY hr ASC NULLS LAST ROWS BETWEEN "
                f"{SEASONAL_HALF_WINDOW} PRECEDING AND {SEASONAL_HALF_WINDOW} FOLLOWING)",
                n=f"count(1) OVER (ORDER BY hr ASC NULLS LAST ROWS BETWEEN "
                f"{SEASONAL_HALF_WINDOW} PRECEDING AND {SEASONAL_HALF_WINDOW} FOLLOWING)",
            )
        ),
    ).withColumn("det_q", F.col("y_q") - F.col("trend_q"))
    seasonal = trended.groupBy(F.hour("hr").alias("hod")).agg(
        F.expr(fd.format(s="sum(det_q)", n="count(1)")).alias("seasonal_q")
    )
    return (
        trended.withColumn("hod", F.hour("hr"))
        .join(F.broadcast(seasonal), "hod")
        .select(
            F.date_format("hr", TS_FMT).alias("hour_ts"),
            "n_events",
            F.expr(stable_round("CAST(y_q AS DOUBLE) / 1e6", 6)).alias("y"),
            F.expr(stable_round("CAST(trend_q AS DOUBLE) / 1e6", 6)).alias("trend"),
            F.expr(stable_round("CAST(seasonal_q AS DOUBLE) / 1e6", 6)).alias("seasonal"),
            F.expr(
                stable_round("CAST(det_q - seasonal_q AS DOUBLE) / 1e6", 6)
            ).alias("residual"),
        )
    )


FUNNEL_LATENCY_PS = (0.25, 0.5, 0.75, 0.9)


def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the full view→click→purchase
    funnel: per converting user the first-view→qualifying-purchase delay,
    summarized as exact rank quantiles AT MINUTE RESOLUTION — the binned
    formulation (value_bucketing / drift_ks_value's recipe) that keeps
    every window on the bounded bin domain instead of sorting converters
    globally: quantile p = the smallest delay bin whose cumulative count
    reaches ⌈p·n⌉ (type-1, deterministic; sub-minute precision is noise
    for a funnel metric, and a production run narrows the bin width, not
    the algorithm).

    Plan shape at 100 TB: the funnel_conversion aggregate chain (all
    user-keyed), one (bin) reduction, then prefix sum + grand total as
    TWO frames of the SAME single-partition window over the time-span-
    bounded bin domain (no scalar join), and the 4 quantile probes as an
    exploded array literal (a Generate — no BroadcastNestedLoopJoin
    anywhere in the plan)."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin(*FUNNEL_STAGES))
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t1").alias("t1"))
    )
    delays = t3.select(
        F.expr("(unix_micros(t3) - unix_micros(t1)) div 60000000").alias("delay_min")
    )
    bins = delays.groupBy("delay_min").agg(F.count(F.lit(1)).alias("n_bin"))
    wcum = Window.orderBy(F.asc("delay_min")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.asc("delay_min")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.withColumn("cum", F.sum("n_bin").over(wcum)).withColumn(
        "n_users", F.sum("n_bin").over(wall)
    )
    return (
        cum.withColumn(
            "p", F.explode(F.array(*[F.lit(float(p)) for p in FUNNEL_LATENCY_PS]))
        )
        .filter(F.expr("cum >= CAST(ceil(p * n_users) AS BIGINT)"))
        .groupBy("p")
        .agg(
            F.min("delay_min").alias("delay_minutes"),
            F.min("n_users").alias("n_users"),
        )
        .select(
            F.expr(stable_round("p", 6)).alias("quantile"),
            "n_users",
            "delay_minutes",
        )
    )


BURSTINESS_MIN_GAPS = 2  # need >= 2 inter-event gaps (>= 3 events)


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness coefficient of inter-event times — Goh &
    Barabási's B = (σ − μ)/(σ + μ) over the gap sequence (Europhys. Lett.
    81, 2008), the standard activity-pattern statistic separating
    Poisson-like users (B ≈ 0) from bursty ones (B → 1) and metronomic
    automation (B → −1). A behavioral-analytics staple that doubles as a
    bot-detection signal in corpus curation.

    Exactness: gaps are integer epoch-MICROsecond differences
    (unix_micros / epoch_us — exact BIGINTs in both engines; epoch
    seconds would hit DuckDB's round-half-even CAST on fractional
    timestamps) ordered by (ts ASC NULLS LAST, event_id) — the pinned
    null placement of every ts-ordered per-user window here (ADVICE
    r06). The sufficient statistics (n, Σg, Σg²) are exact integer sums
    promoted to DECIMAL(38,0) before n·Σg² − (Σg)² (µs-scale g² reaches
    10²⁴ — far past BIGINT), so σ's radicand is exact and the only float
    steps — one sqrt, one division, one 6-dp stable round — are per-row
    deterministic IEEE ops any engine reproduces.

    Plan shape at 100 TB: one window (lag) and one aggregate, both
    shuffling on user_id only — a single exchange shared by both stages,
    the sessionize_events shape. Output is one row per qualifying user."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    gaps = (
        ev.select(
            "user_id",
            (
                F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w)
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("q"),
    )
    # radicand n·Σg² − (Σg)² is exact; σ = sqrt(rad)/n, μ = S/n, so
    # B = (sqrt(rad) − S)/(sqrt(rad) + S) — the n's cancel
    return (
        stats.filter(F.col("n_gaps") >= BURSTINESS_MIN_GAPS)
        .select(
            "user_id",
            F.col("n_gaps"),
            F.expr(
                stable_round("CAST(s AS DOUBLE) / (CAST(n_gaps AS DOUBLE) * 1e6)", 6)
            ).alias("mean_gap_s"),
            F.expr(
                stable_round(
                    "(sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) - CAST(s AS DOUBLE))"
                    " / nullif(sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) + CAST(s AS DOUBLE), 0.0)",
                    6,
                )
            ).alias("burstiness"),
        )
    )


def events_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month: distinct daily actives
    averaged over the month's ACTIVE days, divided by the month's distinct
    actives — the engagement ratio product analytics watches (1.0 = every
    monthly user shows up every active day; ~0.05 = drive-by traffic).

    Exactness: all inputs are BIGINT counts (Σ per-day distinct users,
    day count, monthly distinct users); avg_dau and stickiness are single
    stable_round divisions of exact integers. Calendar keys via
    date_format (DuckDB strftime twins); NULL timestamps group under a
    NULL month in both engines.

    Plan shape at 100 TB: one (month, day, user) distinct — partial-
    aggregated, the dominant shuffle — then (month, day) and (month)
    re-aggregates that reuse its partitioning prefix, and a month-keyed
    join of two month-bounded tables."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events")
    mdu = (
        ev.select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .distinct()
        .transform(checkpoint, eager=False)
    )
    daily = mdu.groupBy("month", "day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    per_month = daily.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_days"),
        F.sum("dau").alias("sum_dau"),
    )
    mau = (
        mdu.select("month", "user_id")
        .distinct()
        .groupBy("month")
        .agg(F.count(F.lit(1)).cast("long").alias("mau"))
    )
    return per_month.join(mau, "month").select(
        "month",
        "n_active_days",
        "mau",
        F.expr(
            stable_round("CAST(sum_dau AS DOUBLE) / n_active_days", 6)
        ).alias("avg_dau"),
        F.expr(
            stable_round("CAST(sum_dau AS DOUBLE) / (CAST(n_active_days AS DOUBLE) * mau)", 6)
        ).alias("stickiness"),
    )


def events_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend over daily counts with a one-day-ahead
    forecast: OLS of count on day index, slope (events/day), fit r², and
    forecast_next = intercept + slope·(last_index + 1) — the capacity-
    planning primitive (is traffic growing, and what does tomorrow look
    like) complementing events_seasonal_decompose's cyclic reading.

    Exactness: daily counts and day indices are BIGINTs; all OLS cross
    terms run in DECIMAL(38,0) (HUGEINT oracle-side) so slope, intercept,
    r² and the forecast are divisions of identical exact integers in both
    engines (the token_zipf_fit core, applied per group). Day indices are
    per-type-rebased (x − min x), which leaves slope/r²/forecast invariant
    while keeping the cross terms small. NULL timestamps are filtered
    before counting (a NULL x would desync count(*) from the sums).
    Single-day types yield NULL slope/forecast (zero x-variance), not
    division blow-ups.

    Plan shape at 100 TB: one (type, day) partial-aggregated count, a
    type-partitioned window for the rebase (type-day-bounded), one
    per-type aggregate. No corpus-wide windows."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .select(
            F.coalesce("event_type", F.lit("unknown")).alias("event_type"),
            F.expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").alias("ed"),
        )
        .groupBy("event_type", "ed")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    tw = Window.partitionBy("event_type")
    pts = daily.withColumn("x", F.col("ed") - F.min("ed").over(tw))
    a = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.max("x").alias("mx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    cov = "(CAST(n_days AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
    varx = "(CAST(n_days AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
    vary = "(CAST(n_days AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)"
    icpt = "(CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy)"
    return a.select(
        "event_type",
        "n_days",
        F.expr(
            f"CASE WHEN {varx} = 0 THEN NULL ELSE "
            + stable_round(f"CAST({cov} AS DOUBLE) / CAST({varx} AS DOUBLE)", 6)
            + " END"
        ).alias("slope"),
        F.expr(
            f"CASE WHEN {varx} = 0 OR {vary} = 0 THEN NULL ELSE "
            + stable_round(
                f"CAST({cov} AS DOUBLE) * CAST({cov} AS DOUBLE)"
                f" / (CAST({varx} AS DOUBLE) * CAST({vary} AS DOUBLE))",
                6,
            )
            + " END"
        ).alias("r2"),
        F.expr(
            f"CASE WHEN {varx} = 0 THEN NULL ELSE "
            + stable_round(
                f"(CAST({icpt} AS DOUBLE) + CAST({cov} AS DOUBLE) * (mx + 1))"
                f" / CAST({varx} AS DOUBLE)",
                6,
            )
            + " END"
        ).alias("forecast_next"),
    )


ATTRIB_TOUCHES = ("view", "click", "signup")


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution: for every user
    whose history contains a purchase, credit the touch event (view /
    click / signup) that opened the path and the one that closed it —
    the marketing-attribution primitive whose two models bracket every
    weighted scheme in between. Output: one row per (model, event_type)
    with attributed conversion counts.

    Deterministic by construction: the touch ordering is (ts, event_id)
    with both null placements pinned (the cross-engine window trap), and
    only touches STRICTLY before the user's first purchase count — a NULL
    ts never qualifies (NULL < t is false in both engines).

    Plan shape at 100 TB: first-purchase per user (one partial-aggregated
    min), an equi-join of touches to it, one user-partitioned window over
    pre-conversion touches (user-history-bounded), two tiny aggregates."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp_ts"))
    )
    touches = (
        ev.filter(F.col("event_type").isin(*ATTRIB_TOUCHES))
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("fp_ts"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    ranked = touches.withColumn("rn_first", F.row_number().over(w)).withColumn(
        "rn_last",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.desc_nulls_last("ts"), F.desc_nulls_last("event_id")
            )
        ),
    )
    first = (
        ranked.filter(F.col("rn_first") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
        .select(F.lit("first_touch").alias("model"), "event_type", "n_conversions")
    )
    last = (
        ranked.filter(F.col("rn_last") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
        .select(F.lit("last_touch").alias("model"), "event_type", "n_conversions")
    )
    return first.unionAll(last)
