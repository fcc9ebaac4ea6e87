"""Additional analytic shapes, all oracle-checked: single-agg scan (TPC-H
Q6), decorrelated scalar subquery, running totals, and order-deterministic
string aggregation. Each is a distinct Catalyst planning exercise: pushdown
into a bare scan, subquery decorrelation into a join, an unbounded-preceding
window frame, and a sort-inside-aggregate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ledger import checkpoint
from ..tables import load_table


def agg_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: one filtered scan, one global aggregate, no groups.
    The entire query is a pushed-down scan + partial/final agg — the
    cheapest possible plan; .explain shows PushedFilters on all three
    predicates."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25.0)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def decorrelated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — customers with above-average balance
    within their nation — written as correlated SQL so Catalyst's
    decorrelation rewrites it into an aggregate + join (the plan a
    hand-written join would produce; at 100 TB the rewrite is the
    difference between one pass and a per-row subquery)."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_nationkey,
               ROUND(c_acctbal, 4) AS acctbal
        FROM customer c1
        WHERE c_acctbal > (
            SELECT AVG(c_acctbal) FROM customer c2
            WHERE c2.c_nationkey = c1.c_nationkey
        )
        """
    )


def running_total_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer over their order history — the
    unbounded-preceding window frame (one shuffle on o_custkey, sort within
    partition, single pass)."""
    od = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return od.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc()))
        .alias("order_seq"),
    )


def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-deterministic string aggregation: per nation, the
    comma-joined sorted list of its customer names. collect_list has no
    deterministic order under parallel aggregation — sorting inside the
    aggregate (array_sort before concat) restores determinism; the DuckDB
    twin is string_agg(... ORDER BY ...)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.expr("concat_ws(',', array_sort(collect_list(c_name)))").alias("names"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


def corr_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag —
    numerically EXACT across engines: quantities are integral and prices
    are exact cents in this schema, so all five sufficient statistics
    (n, Σx, Σy, Σx², Σy², Σxy) are accumulated as DECIMAL(38,0) integers
    (order-independent, overflow-free to ~10³⁸), and only the final
    closed-form division happens in floating point. This is the 100 TB
    pattern for second-moment statistics: one partial-aggregated pass, no
    double-summation drift, bit-identical results whatever the partition
    count. (`F.corr` — double accumulators — is the built-in alternative;
    it loses bit-reproducibility under re-partitioning.)"""
    from ..functions.vector import stable_round

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(l_quantity AS DECIMAL(38,0))").alias("x"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(38,0))").alias("y"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.expr(
            stable_round(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                " / sqrt(CAST(n * syy - sy * sy AS DOUBLE))",
                6,
            )
        ).alias("corr_qty_price"),
    )


ROLLING_DAYS = 7


def rolling_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling average of daily order revenue — the RANGE window
    frame (interval-bounded, not row-bounded: days missing from the data
    must not widen the window). The raw table is aggregated to one row
    per day FIRST, so the range window runs over the daily series —
    thousands of rows at ANY corpus scale — and the unpartitioned sort is
    a deliberate no-hazard (the single partition holds days, not orders).
    Daily revenue is rounded before the rolling mean so both engines
    average identical inputs."""
    from ..functions.vector import stable_round

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue")
    )
    w = (
        Window.orderBy(F.col("day_i").asc())
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return (
        daily.withColumn("day_i", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")))
        .withColumn("avg_raw", F.avg("revenue").over(w))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("order_date"),
            "revenue",
            # round(), NOT stable_round: a window aggregate's inputs differ
            # in the last ulp between engines, which is exactly the case
            # stable_round's contract excludes (functions/vector.py)
            F.round("avg_raw", 4).alias("avg_7d"),
            F.count(F.lit(1)).over(w).cast("long").alias("n_days_in_window"),
        )
    )


MAD_K = 3  # the classic 3-MAD outlier fence


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screening per event type: median / MAD (median
    absolute deviation) and the count of points outside the 3-MAD fence —
    the outlier pass that survives the very outliers it hunts (mean/stddev
    fences get dragged by the anomalies; median/MAD have a 50% breakdown
    point). This is the telemetry-sanity operator a 100 TB event pipeline
    runs before trusting its own aggregates.

    Determinism: both medians are exact interpolated percentiles
    (sort + one interpolation — the quantiles_value convention), and the
    fence comparison uses the 6-dp-ROUNDED med/MAD on both engines, so
    the boundary predicate evaluates identically cross-engine. Plan
    shape: two grouped exact percentiles over the same event_type
    partitioning + one broadcast-back join each (the stats tables are
    |event_types| rows)."""
    from pyspark.sql.functions import broadcast

    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr(stable_round("percentile(value, 0.5D)", 6)).alias("med")
    )
    dev = ev.join(broadcast(med), "event_type").select(
        "event_type", "value", "med", F.expr("abs(value - med)").alias("adev")
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr(stable_round("percentile(adev, 0.5D)", 6)).alias("mad"),
    )
    return (
        dev.drop("med")
        .join(broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(f"CASE WHEN abs(value - med) > {MAD_K} * mad THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_outliers"),
        )
        .select("event_type", "n", "med", "mad", "n_outliers")
    )


def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence cells for (o_orderpriority ×
    o_orderstatus): observed count, expected count under independence
    (row·col/n), and the per-cell χ² contribution — the categorical
    association readout (is order priority independent of status?) that
    complements vocab_drift_chi2's token drift and drift_ks_value's
    continuous KS. Per-cell rows rather than the summed statistic: the
    sum over cells would be order-dependent double addition, the cells
    are each a single rational of exact integers -> stable_round. The
    reader (or a one-line follow-up) folds the bounded |priorities|×
    |statuses| cells.

    Shapes: one corpus aggregate to the cell domain, then row/col totals
    re-aggregate the CELLS (not the corpus), attach by equi-join on the
    tiny margins + the 1-row grand total via broadcast scalar_join."""
    from ..functions.vector import stable_round
    from ..tables import scalar_join

    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.groupBy(
            F.coalesce("o_orderpriority", F.lit("unknown")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("unknown")).alias("status"),
        )
        .agg(F.count(F.lit(1)).alias("observed"))
        .transform(checkpoint, eager=False)  # margins + grand total re-read it
    )
    rowt = cells.groupBy("priority").agg(F.sum("observed").alias("row_total"))
    colt = cells.groupBy("status").agg(F.sum("observed").alias("col_total"))
    grand = cells.agg(F.sum("observed").alias("n_total"))
    expected = "CAST(row_total AS DOUBLE) * col_total / n_total"
    return (
        scalar_join(
            cells.join(F.broadcast(rowt), "priority").join(F.broadcast(colt), "status"),
            grand,
        )
        .select(
            "priority",
            "status",
            "observed",
            F.expr(stable_round(expected, 6)).alias("expected"),
            F.expr(
                stable_round(
                    f"(observed - ({expected})) * (observed - ({expected})) / ({expected})",
                    6,
                )
            ).alias("chi2_contrib"),
        )
    )


import math as _math

# Benford expected leading-digit shares, computed ONCE in Python and
# embedded as identical literals in the Spark query and the DuckDB oracle
# (no engine-side log10 at runtime)
BENFORD_EXP = [_math.log10(1 + 1 / d) for d in range(1, 10)]


def values_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law digit audit over lineitem extended prices — the
    classic anomaly screen for value columns (naturally-occurring
    multiplicative amounts follow P(d) = log10(1 + 1/d); fabricated or
    truncated feeds don't — Benford 1938, Hill 1995). Emits per leading
    digit the observed count/share, the Benford expectation, and the chi²
    contribution; a drift monitor thresholds the chi² sum.

    Cross-engine determinism: values are fixed to exact integer cents with
    one per-value IEEE op, the leading digit comes from the BIGINT's
    decimal string (identical in every engine — no log10 anywhere at
    runtime; the expected shares are Python-computed literals), and the
    chi² terms are per-row arithmetic on exact ints + those literals.

    Plan shape at 100 TB: one projected scan + a 9-group partial-aggregated
    count; the total-attach window runs on the 9-row digit frame (domain-
    bounded, not corpus-bounded)."""
    from ..functions.vector import stable_round

    exp_lit = "array(" + ", ".join(
        f"CAST({p!r} AS DOUBLE)" for p in BENFORD_EXP
    ) + ")"
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    digits = (
        li.select(
            F.expr(
                "CAST(substring(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
                " AS STRING), 1, 1) AS INT)"
            ).alias("digit"),
            F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .filter(F.col("cents") > 0)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    expected = f"CAST(n_total AS DOUBLE) * element_at({exp_lit}, digit)"
    return (
        digits.withColumn("n_total", F.sum("n").over(w_all))
        .select(
            "digit",
            "n",
            F.expr(stable_round("CAST(n AS DOUBLE) / n_total", 6)).alias("obs_p"),
            F.expr(stable_round(f"element_at({exp_lit}, digit)", 6)).alias("exp_p"),
            F.expr(
                stable_round(
                    f"(n - ({expected})) * (n - ({expected})) / ({expected})", 6
                )
            ).alias("chi2_term"),
        )
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def agg_winsorized_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%) mean of extended price per return flag — the
    robust-aggregation shape every metrics pipeline needs beside the raw
    mean (one fat-finger order shifts an unwinsorized mean; clamping to
    the empirical percentile bounds doesn't). Tukey's classic treatment,
    computed EXACTLY: prices fix to integer cents (one per-value IEEE op),
    the clamp bounds are the type-1 quantile values at ranks ⌈p·n⌉ of the
    cents-sorted group (rank ties carry equal cents, so the boundary
    VALUE is deterministic regardless of tie permutation), and both means
    are exact-integer sums with one final division each.

    Plan shape at 100 TB: one rank window per group key + two grouped
    aggregates, all sharing the l_returnflag partitioning; no driver
    collect, no approximate sketch (percentile_approx is the documented
    swap when groups outgrow the sort — approx_quantiles_value covers
    that path)."""
    from ..functions.vector import stable_round

    li = load_table(spark, sf_dir, "lineitem").select(
        F.coalesce("l_returnflag", F.lit("?")).alias("flag"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("flag")
    ranked = li.withColumn("r", F.row_number().over(w.orderBy(F.col("cents").asc()))).withColumn(
        "n", F.count(F.lit(1)).over(w)
    )
    bounds = ranked.groupBy("flag").agg(
        F.max(
            F.when(F.expr(f"r = CAST(ceil({WINSOR_LO}D * n) AS BIGINT)"), F.col("cents"))
        ).alias("lo_cents"),
        F.max(
            F.when(F.expr(f"r = CAST(ceil({WINSOR_HI}D * n) AS BIGINT)"), F.col("cents"))
        ).alias("hi_cents"),
    )
    return (
        ranked.join(bounds, "flag")
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lo_cents").alias("_lo"),
            F.min("hi_cents").alias("_hi"),
            F.sum("cents").alias("_sum_raw"),
            F.sum(F.expr("greatest(least(cents, hi_cents), lo_cents)")).alias("_sum_w"),
        )
        .select(
            "flag",
            "n",
            F.expr(stable_round("CAST(_lo AS DOUBLE) / 100", 6)).alias("lo_bound"),
            F.expr(stable_round("CAST(_hi AS DOUBLE) / 100", 6)).alias("hi_bound"),
            F.expr(stable_round("CAST(_sum_raw AS DOUBLE) / n / 100", 6)).alias("raw_mean"),
            F.expr(stable_round("CAST(_sum_w AS DOUBLE) / n / 100", 6)).alias("winsorized_mean"),
        )
    )


BOOTSTRAP_B = 32


def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean event value per
    event type — the bootstrap variant that actually scales (Chamandy,
    Muralidharan, Najmi, Naidu, "Estimating Uncertainty for Massive Data
    Streams", Google 2012): instead of resampling N indices per replicate
    (a B×N shuffle), each row draws an independent Poisson(1) weight per
    replicate, so every replicate's weighted sum is one map-side partial
    aggregate. B = 32 replicates; the CI is the min/max replicate mean
    band (the ranks ⌈0.025·B⌉ and B at this B — a production run raises B
    and reads interior ranks, same plan).

    Cross-engine exactness: the Poisson draw inverts a shared
    Python-literal CDF table on the row's md5-hash uniform (deterministic
    per (replicate, event)); values fix to integer micro-units; every
    replicate sum is exact integer arithmetic; the only FP is one final
    division per replicate (floor-micro rounded).

    Plan shape at 100 TB: one 32× map-side explode feeding a partial-
    aggregated (event_type, b) groupBy — shuffle carries 32·|types| rows
    per partition, NOT 32× the corpus; then a |types|-sized reduce."""
    import math

    from ..functions.vector import stable_round

    # inverse-CDF thresholds for Poisson(1), scaled to the 32-bit hash
    # space: weight = #{thresholds <= u32} (cap at 8 — P(X>8) < 1e-6)
    cdf, acc = [], 0.0
    for k in range(9):
        acc += math.exp(-1.0) / math.factorial(k)
        cdf.append(min(int(acc * 4294967296.0), 4294967295))
    # weight = #{thresholds <= u} via a codegen'd CASE chain: measured 8x
    # faster than size(filter(array_literal, lambda)) at sf0.1 — the
    # higher-order filter evaluates an interpreted lambda per row (26.1 s
    # -> 3.1 s on the 3.2M-row expand); identical values (thresholds are
    # ascending, so the count of t <= u is the index of the first t > u)
    w_case = (
        "CASE "
        + " ".join(f"WHEN u < {v}L THEN {i}" for i, v in enumerate(cdf))
        + f" ELSE {len(cdf)} END"
    )

    from ..tables import spread

    # spread() before the B× expand: the whole 32-replicate md5 draw is
    # map-side work fused above the first exchange, and the sf fixture is
    # ONE parquet split — without the spread the entire 102M-hash expand
    # ran in a single task (r13 stage profile: st216, 2.8 s CPU, 1 task);
    # no-op at real scale where the scan already has >=parallelism splits
    ev = spread(load_table(spark, sf_dir, "events")).select(
        F.coalesce("event_type", F.lit("unknown")).alias("et"),
        "event_id",
        F.expr("CAST(floor(coalesce(value, 0.0) * 1e6 + 0.5) AS BIGINT)").alias("vq"),
    )
    weighted = ev.select(
        "et",
        "event_id",
        "vq",
        F.explode(F.sequence(F.lit(1), F.lit(BOOTSTRAP_B))).alias("b"),
    ).select(
        "et",
        "vq",
        "b",
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(b AS STRING), ':', "
            "CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        ).alias("u"),
    ).select(
        "et",
        "vq",
        "b",
        F.expr(w_case).alias("w"),
    )
    reps = (
        weighted.groupBy("et", "b")
        .agg(F.sum(F.expr("CAST(w AS BIGINT) * vq")).alias("s"), F.sum("w").alias("n"))
        .filter(F.col("n") > 0)
        .select(
            "et",
            "b",
            F.expr("CAST((s - pmod(s, n)) div n AS BIGINT)").alias("mean_q"),
        )
    )
    return reps.groupBy("et").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.expr(stable_round("CAST(min(mean_q) AS DOUBLE) / 1e6", 6)).alias("ci_lo"),
        F.expr(stable_round("CAST(max(mean_q) AS DOUBLE) / 1e6", 6)).alias("ci_hi"),
        F.expr(
            stable_round("CAST(CAST(avg(mean_q) AS BIGINT) AS DOUBLE) / 1e6", 6)
        ).alias("boot_mean"),
    )


def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event TYPES over user behavior sets:
    lift(A,B) = P(user does both) / (P(A)·P(B)) — the co-occurrence
    complement of events_markov_transitions' ADJACENCY view (lift sees
    that viewers also purchase regardless of order or distance). Exact
    scaled-rational scoring: lift_micro = ⌊n_ab·N·10⁶ / (n_a·n_b)⌋ over
    BIGINTs, same bit-equal-ranking recipe as bigram_lift_topk.

    Plan shape: one distinct (user, type) projection, a self-equi-join ON
    USER (bounded: ≤|types|² pairs per user), then a |types|²-sized
    aggregate; N (distinct users) is a scalar broadcast join."""
    from ..functions.vector import stable_round
    from ..tables import scalar_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.coalesce("event_type", F.lit("unknown")).alias("et")
    ).filter(F.col("user_id").isNotNull()).distinct()
    n_users = ev.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_total"))
    per_type = ev.groupBy("et").agg(F.count(F.lit(1)).alias("n_t"))
    a = ev.select("user_id", F.col("et").alias("et_a"))
    b = ev.select("user_id", F.col("et").alias("et_b"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("et_a") < F.col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = per_type.select(F.col("et").alias("et_a"), F.col("n_t").alias("n_a"))
    nb = per_type.select(F.col("et").alias("et_b"), F.col("n_t").alias("n_b"))
    return (
        scalar_join(both.join(F.broadcast(na), "et_a").join(F.broadcast(nb), "et_b"), n_users)
        .select(
            "et_a",
            "et_b",
            "n_ab",
            "n_a",
            "n_b",
            # DECIMAL(38,0) accumulators: n_ab·N·1e6 overflows BIGINT once
            # user counts reach ~1e9 (the bigram_lift_topk lesson)
            F.expr(
                "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_total * 1000000)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .withColumn(
            "lift", F.expr(stable_round("CAST(lift_micro AS DOUBLE) / 1e6", 6))
        )
        .drop("lift_micro")
    )


def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs cumulative distinct users per day — the growth-curve query
    behind every "total users to date" chart, in its SCALABLE shape: a
    naive cumulative COUNT(DISTINCT) re-scans the whole prefix per day
    (quadratic in days at 100 TB); instead, distinct is reduced to
    FIRST-SEEN-HOUR per user (one aggregate ∝ users; hour grain so the
    synthetic corpus, whose users all arrive on day one, still draws a
    curve), hourly new-user counts follow, and the cumulative total is an
    unbounded-preceding window over the HOURLY series — bounded at any
    corpus scale,
    so the unpartitioned sort is the rolling_daily_avg deliberate
    no-hazard."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.date_trunc("hour", "ts")).alias("d"))
    hourly = first.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n_new_users"))
    w = Window.orderBy(F.col("d").asc()).rowsBetween(Window.unboundedPreceding, 0)
    return hourly.select(
        F.date_format("d", "yyyy-MM-dd HH:00").alias("hour"),
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("n_cum_users"),
    )


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: users grouped by signup cohort
    (first-seen day), each cohort's cumulative event value tracked by age
    in days — the standard LTV/retention-revenue matrix. Scalable shape:
    first-seen-day per user (one aggregate), every event keyed to
    (cohort, age) — one join against the per-user cohort (broadcastable:
    ∝ users, not events) — then a cumulative window PER COHORT (partitioned,
    never global). Value is summed as half-up integer cents so the
    cumulative sums are associativity-free and the DuckDB twin matches
    bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.date_trunc("day", "ts")).alias("cohort"))
    keyed = (
        ev.join(first, "user_id")
        .select(
            "cohort",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort")).alias("age_days"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("cohort", "age_days")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("c").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy(F.col("age_days").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return keyed.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "age_days",
        "n_events",
        (F.sum("cents").over(w).cast("double") / 100.0).alias("cum_value"),
    )
