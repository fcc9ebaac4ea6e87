"""Advanced relational shapes: range (interval) self-join, explicit
GROUPING SETS, and the SQL entry surface (spark.sql over registered views).

The range join uses the banded-bucket pattern — the scalable formulation of
an inequality join: bucketize the ordering key, equi-join on (key, bucket)
for the candidate bucket pair, then apply the exact inequality. Catalyst
turns a naive t1.ts BETWEEN t2.ts - d AND t2.ts into a cross/BNL join;
bucketing makes it an equi-join shuffle. The DuckDB oracle states the
inequality directly (its IEJoin handles it) — independent formulations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ledger
from ..ledger import checkpoint, scoped_conf
from ..tables import load_table, register_views

RANGE_WINDOW_S = 120  # pair events of the same user within 2 minutes


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of distinct events by the same user within 120 s of each other
    (event_a < event_b by id; delta_us = ts_b − ts_a, either sign).

    Standard 2-bucket band join on the floor(ts/120s) grid, formulated over
    TIME-ordered roles: the 'early' event keeps its own bucket k; the 'late'
    event is replicated to buckets {k, k−1}. A pair within the window spans
    at most adjacent buckets, so exactly ONE late-copy lands in the early
    event's bucket — every qualifying pair meets exactly once and no
    dedup pass is needed. The strict time order (ts, then id on ties) keeps
    the mirrored orientation out. vs the 3-bucket+distinct formulation:
    2/3 the replicated shuffle volume and one whole shuffle (the distinct)
    removed. One equi-join shuffle on (user_id, bucket) — no cross join at
    any scale."""
    w_us = RANGE_WINDOW_S * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    bucketed = ev.withColumn("bucket", F.expr(f"us div {w_us}"))
    early = bucketed.select(
        F.col("event_id").alias("id_e"), "user_id", F.col("us").alias("us_e"), "bucket"
    )
    late = (
        bucketed.union(bucketed.withColumn("bucket", F.col("bucket") - 1))
    ).select(F.col("event_id").alias("id_l"), "user_id", F.col("us").alias("us_l"), "bucket")
    pairs = early.join(late, ["user_id", "bucket"]).filter(
        (F.col("us_l") - F.col("us_e") <= w_us)
        & (
            (F.col("us_e") < F.col("us_l"))
            | ((F.col("us_e") == F.col("us_l")) & (F.col("id_e") < F.col("id_l")))
        )
    )
    return pairs.select(
        "user_id",
        F.least("id_e", "id_l").alias("event_a"),
        F.greatest("id_e", "id_l").alias("event_b"),
        # delta is signed relative to the id order of the pair
        F.when(F.col("id_e") < F.col("id_l"), F.col("us_l") - F.col("us_e"))
        .otherwise(F.col("us_e") - F.col("us_l"))
        .alias("delta_us"),
    )


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): exactly the
    {(status), (priority)} grain pair — expressed in SQL, which is the
    idiomatic Spark surface for grouping sets."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(1) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


def sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point end-to-end: a TPC-H-Q3-shaped 3-table join +
    aggregation + top-K written as plain SQL over registered views —
    proving the engine's tables and semantics are fully reachable through
    spark.sql, not only the DataFrame API."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
               COUNT(1) AS n_items
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 20
        """
    )


def join_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation for one region — a 6-table join
    graph (lineitem⋈orders⋈customer⋈supplier⋈nation⋈region) with dimension
    broadcasts and a single grouped aggregate. The canonical operator-graph
    stressor: Catalyst must order the joins, broadcast the small sides, and
    keep the fact scan pruned to 4 columns."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter((F.col("r_name") == "AMERICA") & (supp.s_nationkey == cust.c_nationkey))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


N_BUCKETS = 8


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketing — the pre-partitioning
    strategy for joins that repeat on the same key at 100 TB: both sides
    are written bucketed (and sorted) by doc_id into N_BUCKETS buckets, so
    the sort-merge join reads bucket i against bucket i directly — the plan
    contains NO Exchange (asserted in tests/test_plans.py). The
    repartition-before-write aligns write tasks with buckets (one file per
    bucket, which also lets the scan reuse the sort order); the MERGE hint
    pins SMJ so the tiny local tables don't take the broadcast path that
    would hide the demonstration at test scale.

    Tables are external (explicit /tmp path per uid+sf). The sf_dir whose
    tables are on disk is a ledger memo, so repeat calls in one session
    (bench loops, registry sweeps) reuse the bucketed files instead of
    rewriting them."""
    from ..tables import tmp_scratch_dir

    base = tmp_scratch_dir("bucketed", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    memo = ledger.of(spark).memo
    if memo.get("bucketed") != sf_dir:
        sides = {
            "spark_graft_bdocs": docs.select("doc_id", "lang"),
            "spark_graft_bstats": docs.select(
                "doc_id",
                F.expr(
                    "CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)"
                ).alias("n_tokens"),
            ),
        }
        for name, df in sides.items():
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.repartition(N_BUCKETS, "doc_id")
                .write.format("parquet")
                .mode("overwrite")
                .option("path", os.path.join(base, name))
                .bucketBy(N_BUCKETS, "doc_id")
                .sortBy("doc_id")
                .saveAsTable(name)
            )
        memo["bucketed"] = sf_dir
    return (
        spark.table("spark_graft_bdocs")
        .hint("MERGE")
        .join(spark.table("spark_graft_bstats"), "doc_id")
        .select("doc_id", "lang", "n_tokens")
    )


def json_struct_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json with an explicit schema turns the
    props payload into a STRUCT column (scalar_functions covers the
    stringly get_json_object path) — the schema-on-read shape for
    semi-structured event payloads at scale, where a typed struct lets
    Catalyst prune and fold downstream expressions instead of re-parsing
    JSON per reference."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", F.from_json("props", "k INT").alias("p"))
        .select(
            "event_id",
            F.col("p.k").alias("k_val"),
            (F.col("p.k") % 7 == 0).alias("k_div7"),
        )
    )


JOIN_SALT = 16


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual skew-JOIN recipe (complement of url_count_salted's skewed
    AGGREGATION): the fact side's hot keys are spread by a deterministic
    per-row salt, the dim side is replicated SALT ways, and the join runs
    on (key, salt) — every hot key's rows land on 16 reducers instead of
    one. Results are provably identical to the unsalted join (the oracle IS
    the plain join). SHUFFLE_HASH is pinned because the recipe targets the
    case where the dim is too big to broadcast — at test scale the 400-row
    replicated dim would otherwise take the broadcast path and hide the
    mechanism. (AQE's skewJoin handles moderate skew automatically; the
    manual salt is for the pathological keys it can't split, or engines
    without AQE.)"""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dim_key", F.pmod(F.col("user_id"), F.lit(25)).cast("int")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("dim_key"), F.col("n_name").alias("nation")
    )
    fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(JOIN_SALT)).cast("int"))
    dim = nation.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALT - 1))))
    return (
        fact.join(dim.hint("SHUFFLE_HASH"), ["dim_key", "salt"])
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def approx_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per event_type via percentile_approx — the
    mergeable-sketch path (Greenwald & Khanna, "Space-efficient online
    computation of quantile summaries", SIGMOD 2001): map-side partial
    sketches, one small merge, no global sort — what replaces exact
    quantiles at 100 TB. The sketch VALUES are engine-specific, so the
    registered output is the deterministic RANK-ERROR GATE instead: join
    the (tiny, broadcast) per-type estimates back to the values and check
    that each estimate's rank interval [#<est, #≤est] covers the target
    rank q·(n−1) within the GK guarantee (±n/100 here, + 2 slack for the
    sketch returning a data point where the exact quantile interpolates).
    percentile_approx is a pure function of the input multiset, so the
    flags are reproducible facts the DuckDB oracle asserts as the
    expected contract. Exact-value twin: quantiles_value."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    est = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
        F.percentile_approx("value", 0.99, 10000).alias("p99"),
    )
    j = ev.join(F.broadcast(est), "event_type")
    # n counts NON-NULL values only: percentile_approx and the lt/le rank
    # sums all ignore NULLs, so a count(*) n would inflate the target rank
    # q·(n−1) past le+slack on a null-bearing corpus and flip the gate
    # FALSE while the oracle asserts TRUE (ADVICE r08).
    g = j.groupBy("event_type").agg(
        F.count("value").cast("long").alias("n"),
        *[
            s
            for q, col in ((50, "p50"), (90, "p90"), (99, "p99"))
            for s in (
                F.sum((F.col("value") < F.col(col)).cast("long")).alias(f"lt{q}"),
                F.sum((F.col("value") <= F.col(col)).cast("long")).alias(f"le{q}"),
            )
        ],
    )

    def ok(q: float, tag: int):
        target = F.lit(q) * (F.col("n") - 1)
        slack = F.col("n") / 100.0 + 2.0
        return (
            (F.col(f"lt{tag}") - slack <= target) & (target <= F.col(f"le{tag}") + slack)
        ).alias(f"p{tag}_rank_ok")

    return g.select("event_type", "n", ok(0.5, 50), ok(0.9, 90), ok(0.99, 99))


def approx_quantiles_sketch(
    spark: SparkSession, sf_dir: str, gate: bool = True
) -> DataFrame:
    """The 100 TB SHIP PATH for approx quantiles: percentile_approx alone
    — map-side GK partial sketches and one small merge, WITHOUT the
    rank-verification join-back that the gate twin
    `approx_quantiles_value` performs (that second pass over the values
    is the correctness artifact, not the production shape). Sketch VALUES
    are engine-specific; the rank-error bound is asserted by the
    exact-green gate twin and independently in
    tests/test_properties.py::test_approx_quantiles_within_rank_error.

    ``gate`` (default, the REGISTERED form since round 11 — VERDICT r10
    item 4): ship the EXACT-FREE in-pass invariants instead of the raw
    values — min/max/count ride the SAME single aggregation (no second
    pass, no join-back, so the ship plan survives intact) and the output
    is (event_type, n, quantiles_monotonic, quantiles_in_range): p50 ≤
    p90 ≤ p99 and all three inside [min, max]. Deterministic → the
    DuckDB oracle asserts the flags TRUE with the exact n, upgrading the
    verdict from rows-only to a checked contract. ``gate=False`` returns
    the raw estimates (property tests, bench variants)."""
    ev = load_table(spark, sf_dir, "events")
    qs = [
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
        F.percentile_approx("value", 0.99, 10000).alias("p99"),
    ]
    if not gate:
        return ev.groupBy("event_type").agg(*qs)
    agg = ev.groupBy("event_type").agg(
        *qs,
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    return agg.select(
        "event_type",
        "n",
        ((F.col("p50") <= F.col("p90")) & (F.col("p90") <= F.col("p99"))).alias(
            "quantiles_monotonic"
        ),
        ((F.col("p50") >= F.col("lo")) & (F.col("p99") <= F.col("hi"))).alias(
            "quantiles_in_range"
        ),
    )


def hll_rollup_sketch(
    spark: SparkSession, sf_dir: str, gate: bool = True
) -> DataFrame:
    """The 100 TB SHIP PATH for the sketch-rollup table: per-(type, day)
    HLL sketches merged per type — no exact countDistinct pass anywhere
    (the gate twin `hll_sketch_rollup` carries exact + merge-consistency
    + error-bound flags as the correctness artifact). At scale the daily
    frame below is the STORED pre-aggregate and this query is the cheap
    re-aggregation that answers any coarser grain without rescanning raw
    events. Accuracy vs exact is pinned by the gate twin and
    tests/test_properties.py::test_hll_rollup_merge_equals_direct_and_bounds_error.

    ``gate`` (default, the REGISTERED form since round 11 — VERDICT r10
    item 4): ship the EXACT-FREE sketch-consistency invariants — the
    merged estimate must sit between the largest single-day estimate and
    the sum of the daily estimates (distinct-count set algebra, with 5%+2
    sketch-error slack on each side), both derivable from the stored
    rollup alone, i.e. this check RUNS at 100 TB with no exact leg.
    Output (event_type, n_day_sketches, union_ge_max_day,
    union_le_sum_days) is deterministic → the DuckDB oracle asserts the
    flags TRUE with the exact day count, upgrading the verdict from
    rows-only to a checked contract. ``gate=False`` returns the raw
    merged estimate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    if not gate:
        return daily.groupBy("event_type").agg(
            F.round(F.hll_sketch_estimate(F.hll_union_agg("sk")))
            .cast("long")
            .alias("est_users"),
            F.count("day").cast("long").alias("n_day_sketches"),
        )
    agg = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union"),
        F.max(F.hll_sketch_estimate("sk")).alias("max_day"),
        F.sum(F.hll_sketch_estimate("sk")).alias("sum_days"),
        F.count("day").cast("long").alias("n_day_sketches"),
    )
    return agg.select(
        "event_type",
        "n_day_sketches",
        (F.col("est_union") >= F.col("max_day") * 0.95 - 2).alias("union_ge_max_day"),
        (F.col("est_union") <= F.col("sum_days") * 1.05 + 2).alias("union_le_sum_days"),
    )


def url_count_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship count with explicit two-stage salting — the manual
    skew recipe from docs/SCALE.md §3 demonstrated end-to-end: stage 1
    aggregates on (token, salt), stage 2 re-aggregates per token. The salt
    is per-OCCURRENCE (doc_id + within-doc position), so a hot key spreads
    over all 16 reducers even when concentrated in a single giant document.
    Results are identical to url_count by construction — the oracle is
    literally url_count's, proving salting is semantics-free. (For plain
    counts Spark's partial aggregation already absorbs skew; the pattern
    matters for aggregates without map-side combine, e.g. collect_list or
    exact distinct.)"""
    from .core import tokenized_with_position

    tokens = tokenized_with_position(load_table(spark, sf_dir, "documents"))
    salted = tokens.withColumn("salt", F.pmod(F.col("doc_id") + F.col("pos"), F.lit(16)))
    stage1 = salted.groupBy("token", "salt").agg(F.count(F.lit(1)).alias("c"))
    return stage1.groupBy("token").agg(F.sum("c").alias("cnt"))


# Count-min sketch geometry: D independent md5-derived hash rows × W
# buckets. W=8192 >> any bench vocabulary, so estimates are usually exact
# here; the guarantee that matters at scale is ε=e/W overcount with
# probability 1-(1/2)^D, in D·W counters of bounded memory.
CMS_D = 4
CMS_W = 8192


def _cms_bucket(col_expr: str, j: int) -> str:
    """Row-j CMS bucket of a token — md5-derived, so DuckDB reproduces the
    sketch bit-for-bit (same cross-engine-hash trick as MinHash/SimHash)."""
    return (
        f"pmod(CAST(conv(substring(md5(concat('cms{j}:', {col_expr})), 1, 8),"
        f" 16, 10) AS BIGINT), {CMS_W})"
    )


def url_topk_sketch(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Flagship top-K via a mergeable count-min sketch (Cormode &
    Muthukrishnan, J. Algorithms 2005) — the bounded-memory path for when
    the KEY SPACE itself is the problem: billions of distinct URLs make
    the exact groupBy's hash table ∝ distinct keys per partition, while
    the CMS is D×W counters (here 4×8192) per partition no matter how
    many keys exist, merged by plain addition (partial aggregation IS the
    sketch merge — Catalyst gives the map-side combine for free).

    Two bounded passes: (1) tokens → (row, bucket) increments → groupBy
    (j, bucket) builds the sketch; (2) candidate tokens probe the
    BROADCAST sketch (D·W rows, always tiny) and take min over rows —
    the CMS estimate, an overcount with probability ≤ (1/2)^D of
    exceeding ε·N. Candidates here are the distinct keys so the oracle is
    exact and deterministic; a 100 TB deployment feeds a pre-filtered
    candidate stream (per-partition frequent items) instead and skips the
    distinct entirely. Estimates are deterministic md5 arithmetic, so the
    DuckDB oracle rebuilds the identical sketch — exact value match, not
    a tolerance check."""
    from . import core

    # one tokenize pass feeds BOTH the sketch build and the candidate
    # probe (non-eager checkpoint: materialized by the first job, reused
    # by the second) — without it each branch re-scans and re-splits the
    # corpus. At 100 TB this materialization is the same "token stream as
    # shared intermediate" a production frequent-items pass persists.
    toks = core.tokenized(spark, sf_dir).transform(checkpoint, eager=False)
    rows = F.array(*[F.expr(_cms_bucket("token", j)) for j in range(CMS_D)])
    sketch = (
        toks.select(F.posexplode(rows).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = toks.distinct()
    est = (
        cand.select("token", F.posexplode(rows).alias("j", "bucket"))
        .join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("token")
        .agg(F.min("c").alias("est_cnt"))
    )
    return est.orderBy(F.col("est_cnt").desc(), F.col("token").asc()).limit(k)


COGROUP_BUCKETS = 64


def cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/lineitem reconciliation through the cogroup surface
    (`groupBy().cogroup().applyInPandas`): per order, item count, total
    quantity and item revenue — the escape hatch for reconciliation logic
    too imperative for joins (here the logic IS a join+agg, so the DuckDB
    oracle can verify the plumbing exactly).

    Scale shape: cogrouping on the raw key would hand Arrow one pandas
    call per order — 10^9 calls at 100 TB. Instead both sides cogroup on a
    HASH BUCKET of the key (COGROUP_BUCKETS per side), and the pandas fn
    does a vectorized merge+groupby within the bucket: one shuffle per
    side, O(buckets) python invocations, Arrow-batched columns throughout.
    Buckets are pmod(xxhash64(key)) so skew spreads; bucket width is tuned
    so a bucket fits executor memory (the applyInPandas contract)."""
    import pandas as pd

    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    ob = od.withColumn("bucket", F.pmod(F.xxhash64("o_orderkey"), F.lit(COGROUP_BUCKETS)))
    lb = li.withColumn("bucket", F.pmod(F.xxhash64("l_orderkey"), F.lit(COGROUP_BUCKETS)))

    def reconcile(orders_pdf: pd.DataFrame, items_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(items_pdf) > 0:
            g = items_pdf.groupby("l_orderkey", as_index=False).agg(
                n_items=("l_quantity", "size"),
                sum_qty=("l_quantity", "sum"),
                revenue=("l_extendedprice", "sum"),
            )
        else:
            g = pd.DataFrame(
                {"l_orderkey": pd.Series(dtype="int64"),
                 "n_items": pd.Series(dtype="int64"),
                 "sum_qty": pd.Series(dtype="float64"),
                 "revenue": pd.Series(dtype="float64")}
            )
        out = orders_pdf.merge(
            g, left_on="o_orderkey", right_on="l_orderkey", how="left"
        )
        out["n_items"] = out["n_items"].fillna(0).astype("int64")
        out["sum_qty"] = out["sum_qty"].fillna(0.0).round(4)
        out["revenue"] = out["revenue"].fillna(0.0).round(4)
        return out[["o_orderkey", "o_orderstatus", "n_items", "sum_qty", "revenue"]]

    return (
        ob.groupby("bucket")
        .cogroup(lb.groupby("bucket"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, o_orderstatus string, n_items long, "
            "sum_qty double, revenue double",
        )
    )


ZORDER_BITS = 8
ZORDER_BUCKETS = 64


def _z_spark(x: str, y: str) -> str:
    """Morton (z-order) interleave as a Spark SQL expression: bit i of x →
    bit 2i, bit i of y → bit 2i+1."""
    terms = [
        f"shiftleft((shiftright({x}, {i}) & 1), {2 * i})"
        f" + shiftleft((shiftright({y}, {i}) & 1), {2 * i + 1})"
        for i in range(ZORDER_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _scale8(x: str, mn: str, mx: str) -> str:
    """Min/max-scale an integer key to 0..255 — raw-bit interleave would
    let the wider-range key dominate (a key spanning 0..9 contributes 4
    meaningful bits against another's 15, and buckets stop narrowing it);
    scaling gives both keys ZORDER_BITS significant bits. Integer-exact:
    (x−mn)·256 ≤ 2⁶⁴ and the one double division is identical IEEE in
    both engines."""
    return f"CAST(floor(({x} - {mn}) * 256.0 / ({mx} - {mn} + 1)) AS BIGINT)"


def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout summary over (l_partkey, l_suppkey):
    each key is min/max-scaled to 8 bits, the scaled bits interleave into
    a 16-bit z value, rows are assigned to ZORDER_BUCKETS equal z-ranges,
    and each bucket reports its row count and min/max of BOTH keys — the
    data-skipping contract of multi-dimensional clustering (each bucket's
    footer ranges are narrow on part AND supp simultaneously, which
    neither single-column sort achieves; asserted by a property test).

    At 100 TB this is the write path of an OPTIMIZE ZORDER pass:
    `repartitionByRange(z)` + `sortWithinPartitions(z)` and let every
    parquet file's min/max footer prune 2-D predicates. The min/max
    scaling constants come from one tiny aggregate (broadcast back via
    crossJoin), so the bucket assignment is fully deterministic — no
    sampled range boundaries — and the DuckDB oracle replays it exactly;
    the interleave itself is pure integer bit math, JVM-side."""
    # NOTE (r14, measured non-fix): the scale+interleave pass runs on the
    # scan's 3 fixture splits (1.24 s CPU on 3 tasks), but spread()ing the
    # projected keys did NOT move the wall (1.87 → 2.00 s) — the row's
    # remaining cost is driver/planning time, and the extra exchange feeds
    # TWO consumers (bounds aggregate + z pass) that each re-read it.
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("minp"),
        F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"),
        F.max("l_suppkey").alias("maxs"),
    )
    from ..tables import scalar_join

    scaled = scalar_join(li, bounds).select(
        "l_partkey",
        "l_suppkey",
        F.expr(_scale8("l_partkey", "minp", "maxp")).alias("px"),
        F.expr(_scale8("l_suppkey", "mins", "maxs")).alias("py"),
    )
    z = scaled.withColumn("z", F.expr(_z_spark("px", "py")))
    return (
        z.withColumn(
            "bucket",
            F.expr(f"CAST(floor(z * {ZORDER_BUCKETS} / {4 ** ZORDER_BITS}.0) AS INT)"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit — the dbt-test / Deequ-shaped pass a
    pipeline runs before promoting a snapshot: referential integrity
    (orders→customer, lineitem→orders), primary-key uniqueness (orders,
    documents), and completeness (events.ts), reported as one row per
    constraint with checked/violation counts.

    Each check is the cheapest plan of its class: FK checks are ONE left
    join to the (unique-keyed) dimension + a conditional count in the
    same aggregate — not an anti join plus a second count pass;
    uniqueness is COUNT − COUNT(DISTINCT) in one aggregate; completeness
    is a map-side null count. The union of five 1-row aggregates needs no
    driver round-trip."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")

    def fk(name, fact, fk_col, dim, pk_col):
        # dimension keys DISTINCT before the join: if the dim's own PK
        # uniqueness is violated (exactly what the uniq checks catch), a
        # raw left join would fan fact rows out and n_checked would stop
        # meaning "rows scanned". NULL FKs follow SQL/dbt relationship
        # semantics: not a referential violation (not-null is its own
        # check), so the violation predicate requires a non-null FK.
        joined = fact.select(fk_col).join(
            dim.select(F.col(pk_col).alias("_pk")).distinct(),
            F.col(fk_col) == F.col("_pk"),
            "left",
        )
        return joined.agg(
            F.lit(name).alias("constraint"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(
                F.when(F.col(fk_col).isNotNull() & F.col("_pk").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_violations"),
        ).select("constraint", "n_checked", "n_violations")

    def uniq(name, tbl, col):
        return tbl.agg(
            F.lit(name).alias("constraint"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            (F.count(F.lit(1)) - F.countDistinct(col)).cast("long").alias("n_violations"),
        ).select("constraint", "n_checked", "n_violations")

    nn_ts = ev.agg(
        F.lit("events.ts not null").alias("constraint"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).cast("long").alias("n_violations"),
    ).select("constraint", "n_checked", "n_violations")

    return (
        fk("orders.o_custkey -> customer", od, "o_custkey", cu, "c_custkey")
        .unionAll(fk("lineitem.l_orderkey -> orders", li, "l_orderkey", od, "o_orderkey"))
        .unionAll(uniq("orders.o_orderkey unique", od, "o_orderkey"))
        .unionAll(uniq("documents.doc_id unique", docs, "doc_id"))
        .unionAll(nn_ts)
    )


def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches — the pattern behind every
    100 TB "daily uniques, rollable to any range" table: per-(type, day)
    HLL sketches are built ONCE (the stored pre-aggregate; at scale this
    is a materialized table orders of magnitude smaller than the events),
    then merged per type with hll_union_agg — no rescan of raw data to
    answer a coarser grain. Output per event_type: merged-sketch estimate,
    the same estimate computed directly from raw (must agree — union of
    partials ≡ sketch of whole, asserted here and property-tested), the
    exact distinct for error measurement, and the day-sketch count.

    The raw Apache DataSketches estimates are engine-specific (DuckDB
    cannot replay them), so the registered output is the deterministic
    ACCURACY GATE: exact distinct + day-sketch count, plus two
    reproducible flags — merged_within_5pct and direct_within_5pct
    (each estimate within 5%·exact + 1; lgK=12 ⇒ rsd ≈ 1.3%). NOTE the
    contract deliberately does NOT assert merged == direct: in the
    sketch's SPARSE (coupon-exact) regime the union of per-day partials
    estimates exactly what one sketch over the raw stream does (asserted
    in the property test at sparse scale), but once sketches go dense
    (sf0.1: 1500 uniques/type) the union gadget's estimator and the
    direct sketch's estimator diverge by a few counts — the same measured
    finding as stream_hll_uniques. Both flags are pure functions of the
    input set, so the DuckDB oracle asserts them as the contract."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # F.count("day") (not count(*)): a NULL-ts slice would form a NULL-day
    # sketch group that Spark's count(*) would include but the oracle's
    # count(DISTINCT date_trunc('day', ts)) excludes (ADVICE r08).
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        F.count("day").cast("long").alias("n_day_sketches"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.countDistinct("user_id").cast("long").alias("exact_distinct"),
    )
    bound = F.col("exact_distinct") * 0.05 + 1
    return merged.join(direct, "event_type").select(
        "event_type",
        "exact_distinct",
        "n_day_sketches",
        (F.abs(F.col("est_merged") - F.col("exact_distinct")) <= bound).alias(
            "merged_within_5pct"
        ),
        (F.abs(F.col("est_direct") - F.col("exact_distinct")) <= bound).alias(
            "direct_within_5pct"
        ),
    )


def _engaged_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, user_id) membership table for the ENGAGED audience of
    each type: users whose event count of that type is strictly above the
    type's mean count. The predicate is integer-exact (cnt·n_users >
    total), so membership is reproducible in any engine, and it scales
    with data (a raw distinct-user audience is degenerate here — every
    type reaches every user; engagement varies). One aggregation pass:
    per-(type, user) counts (map-side partial) + a tiny per-type stats
    broadcast."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    stats = ut.groupBy("event_type").agg(
        F.sum("cnt").alias("tot"), F.count(F.lit(1)).alias("nu")
    )
    return (
        ut.join(F.broadcast(stats), "event_type")
        .filter(F.col("cnt") * F.col("nu") > F.col("tot"))
        .select("event_type", "user_id")
    )


def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix with a sketch-algebra accuracy gate: for
    every unordered pair of event types, the exact engaged-audience
    intersection and union, plus a flag proving the HLL set-algebra
    estimate (|A∩B| ≈ est(A) + est(B) − est(A ⊎ B), DataSketches lgK=12,
    inclusion–exclusion over hll_union) lands within max(5%·union, 5).
    This is the "campaign/audience overlap" query every event warehouse
    runs: at 100 TB the per-type sketches are a tiny stored pre-aggregate
    and ANY pair's overlap is answered by merging two sketches — no
    re-scan, no user-level self-join. The exact legs here are the GATE
    (the ship path is audience_overlap_sketch); the DuckDB oracle
    recomputes the exact legs and asserts the flag as the contract, the
    same pattern as hll_sketch_rollup."""
    aud = _engaged_audience(spark, sf_dir).transform(checkpoint, eager=False)
    sizes = aud.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # exact pairwise intersection: one self-equi-join on user_id over the
    # (already deduplicated) membership table — shuffle ∝ members
    ov = (
        aud.alias("a")
        .join(
            aud.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("overlap_users"))
    )
    sk = aud.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    est = (
        sk.alias("a")
        .join(sk.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            (
                F.hll_sketch_estimate(F.col("a.sk"))
                + F.hll_sketch_estimate(F.col("b.sk"))
                - F.hll_sketch_estimate(F.hll_union(F.col("a.sk"), F.col("b.sk")))
            ).alias("est_raw"),
        )
    )
    pairs = (
        sizes.alias("a")
        .join(sizes.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("audience_a"),
            F.col("b.n").alias("audience_b"),
        )
    )
    return (
        pairs.join(ov, ["type_a", "type_b"], "left")
        .join(est, ["type_a", "type_b"])
        .withColumn("overlap_users", F.coalesce("overlap_users", F.lit(0)))
        .withColumn(
            "union_users",
            (F.col("audience_a") + F.col("audience_b") - F.col("overlap_users")),
        )
        .select(
            "type_a",
            "type_b",
            "audience_a",
            "audience_b",
            "overlap_users",
            "union_users",
            (
                F.abs(F.col("est_raw") - F.col("overlap_users"))
                <= F.greatest(F.col("union_users") * 0.05, F.lit(5.0))
            ).alias("est_within_bound"),
        )
    )


def audience_overlap_sketch(
    spark: SparkSession, sf_dir: str, gate: bool = True
) -> DataFrame:
    """Ship-path twin of audience_overlap: sketch-only overlap estimates —
    per-type HLL sketches (the stored pre-aggregate) merged pairwise via
    hll_union, inclusion–exclusion, clamped at 0. No exact legs, no
    user-level self-join: the cost profile a 100 TB deployment actually
    pays. Accuracy vs exact is pinned by the exact-green audience_overlap
    gate and the property test on the same pairs.

    ``gate`` (default, the REGISTERED form since round 11 — VERDICT r10
    item 4): ship the EXACT-FREE set-algebra invariants of the estimates
    themselves — the inclusion–exclusion overlap must not exceed the
    smaller audience estimate (with 5%+5 sketch-error slack) and the
    union estimate must cover the larger one (same slack); both derivable
    from the sketches alone, so the check runs at 100 TB with no exact
    leg. Output (type_a, type_b, overlap_le_min_audience,
    union_ge_max_audience) is deterministic → the DuckDB oracle asserts
    TRUE per pair, upgrading the verdict from rows-only to a checked
    contract. ``gate=False`` returns the raw overlap estimates."""
    aud = _engaged_audience(spark, sf_dir)
    sk = aud.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    pairs = (
        sk.alias("a")
        .join(sk.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.hll_sketch_estimate(F.col("a.sk")).alias("est_a"),
            F.hll_sketch_estimate(F.col("b.sk")).alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union(F.col("a.sk"), F.col("b.sk"))
            ).alias("est_union"),
        )
    )
    if not gate:
        return pairs.select(
            "type_a",
            "type_b",
            F.greatest(
                F.lit(0),
                F.round(F.col("est_a") + F.col("est_b") - F.col("est_union")).cast(
                    "long"
                ),
            ).alias("est_overlap_users"),
        )
    overlap = F.col("est_a") + F.col("est_b") - F.col("est_union")
    slack_min = F.greatest(F.least("est_a", "est_b") * 0.05, F.lit(5.0))
    slack_max = F.greatest(F.greatest("est_a", "est_b") * 0.05, F.lit(5.0))
    return pairs.select(
        "type_a",
        "type_b",
        (overlap <= F.least("est_a", "est_b") + slack_min).alias(
            "overlap_le_min_audience"
        ),
        (F.col("est_union") >= F.greatest("est_a", "est_b") - slack_max).alias(
            "union_ge_max_audience"
        ),
    )


def variant_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: semi-structured event payloads carried as
    open-schema VARIANT (parse_json) and read back with typed-path
    extraction (variant_get with nested-object and array-index paths) —
    the shredded-storage posture for heterogeneous JSON at 100 TB, where
    the engine keeps a binary-encoded variant column instead of
    re-parsing strings or committing to one from_json schema
    (json_struct_extract covers the fixed-schema path).

    The payload is synthesized from typed columns (nested object + array)
    so the extraction has an exact oracle: every typed path must
    round-trip to the source column value, and the double survives the
    JSON round trip exactly (shortest-repr printing parses back to the
    identical IEEE value)."""
    from ..tables import spread

    # the whole query is one map pass (parse_json + typed extraction) over
    # events — a single parquet split at fixture scale ran it on ONE task
    # (r14 profile st15: 1.25 s CPU, 1 task); spread() buys full
    # parallelism and is a no-op once the scan has >= parallelism splits
    ev = spread(load_table(spark, sf_dir, "events"))
    payload = (
        "to_json(named_struct("
        "  'meta', named_struct('etype', event_type, 'k', CAST(get_json_object(props, '$.k') AS INT)),"
        "  'vals', array(value, value * 2),"
        "  'uid', user_id))"
    )
    v = ev.select("event_id", F.expr(f"parse_json({payload})").alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.meta.etype', 'string')").alias("etype"),
        F.expr("variant_get(v, '$.meta.k', 'int')").alias("k_val"),
        F.expr("variant_get(v, '$.vals[1]', 'double')").alias("v2"),
        F.expr("variant_get(v, '$.uid', 'bigint')").alias("uid"),
    )


def lineage_resolve_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 WITH RECURSIVE): resolve every document's
    derivation chain to its root. The corpus's lineage DAG is the binary
    tree parent(d) = ⌊d/2⌋ (the chunk→parent→source chain a chunked
    corpus carries; deterministic here so the oracle replays it), roots
    are doc 0 and doc 1. Output (doc_id, root_id, depth).

    Execution shape: Spark runs the recursion as iterative frontier
    joins — ⌈log₂ max_id⌉ rounds (~13 at sf0.1, ~40 for 10¹² docs), each
    a hash join of the surviving frontier against nothing but itself
    (the parent is computed, not looked up), so the per-round cost
    shrinks as chains terminate. The DuckDB oracle runs the IDENTICAL
    recursive SQL — cross-engine parity of the recursion semantics, not
    just the result."""
    load_table(spark, sf_dir, "documents").select("doc_id").createOrReplaceTempView(
        "_lineage_docs"
    )
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, anc, depth) AS (
            SELECT doc_id, doc_id AS anc, 0 AS depth FROM _lineage_docs
            UNION ALL
            SELECT w.doc_id, CAST(floor(w.anc / 2) AS BIGINT), w.depth + 1
            FROM walk w WHERE w.anc > 1
        )
        SELECT doc_id, anc AS root_id, CAST(depth AS INT) AS depth
        FROM walk WHERE anc <= 1
        """
    )


def sql_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (CREATE FUNCTION ... RETURN, Spark 3.5+/4):
    the UDF registry surface where the body is DECLARATIVE — Catalyst
    inlines it into the plan, so unlike the Python udf/udaf/udtf surfaces
    (operators/core.py) these stay inside whole-stage codegen and cost
    nothing at 100 TB. Exercises both forms over the corpus:
      - scalar: tok_count(text), len_bucket(n) (CASE body)
      - TABLE-valued: doc_chunk_ids(n) RETURNS TABLE, consumed via a
        LATERAL join — one row per 100-char chunk of each doc
    Output: per length bucket, doc count, exact token sum, and the chunk
    total the lateral TVF produced. The oracle inlines the identical
    bodies — a wrong inlining or lateral cardinality breaks the hash."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_sqludf_docs")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tok_count(s STRING) RETURNS INT "
        "RETURN size(filter(split(coalesce(s, ''), ' '), t -> t != ''))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION len_bucket(n BIGINT) RETURNS STRING "
        "RETURN CASE WHEN n < 150 THEN 'short' WHEN n < 350 THEN 'mid' ELSE 'long' END"
    )
    spark.sql(
        # greatest(.., 1) + coalesce: a NULL/zero-length doc yields exactly
        # one (empty) chunk, so the TVF is total — the inner comma-LATERAL
        # below never drops a doc, and sequence() never sees an end < start
        # (Spark's sequence(1, 0) would return the DESCENDING [1, 0]).
        "CREATE OR REPLACE TEMPORARY FUNCTION doc_chunk_ids(n BIGINT) RETURNS TABLE(chunk_i INT) "
        "RETURN SELECT explode(sequence(1, greatest(CAST(ceil(coalesce(n, 0) / 100.0) AS INT), 1)))"
    )
    return spark.sql(
        """
        SELECT len_bucket(d.n_chars) AS bucket,
               COUNT(DISTINCT d.doc_id) AS n_docs,
               SUM(CASE WHEN c.chunk_i = 1 THEN tok_count(d.text) ELSE 0 END) AS sum_toks,
               COUNT(1) AS n_chunks
        FROM _sqludf_docs d, LATERAL doc_chunk_ids(d.n_chars) c
        GROUP BY len_bucket(d.n_chars)
        """
    )


# Runtime bloom-filter join (Spark 3.3+ InjectRuntimeFilter): the planner
# builds a bloom filter over the SELECTIVE side's join keys and pushes a
# might_contain() predicate onto the large side's scan — the probe rows
# that cannot match never enter the shuffle. At 100 TB this is the
# difference between shuffling the full fact table and shuffling the ~20%
# that survives the dim predicate. Thresholds are lowered only while this
# query plans/executes (test fixtures sit below the 10 GB default
# application-side gate); on a real cluster the defaults fire on their own.
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # broadcast would bypass the runtime-filter path entirely at fixture
    # scale; pinned off so the demonstrated plan IS the big-join plan
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan (separate so tests can assert might_contain under the
    confs): urgent orders' lineitems, monthly rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    return (
        li.join(dim, li.l_orderkey == dim.o_orderkey)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_extprice"),
        )
    )


def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-table join pre-filtered by a runtime bloom filter on the dim
    keys (monthly lineitem rollup of 1-URGENT orders). The confs are
    scoped around an eager checkpoint so the injected might_contain()
    executes here without leaking threshold overrides into the rest of the
    session. Results are exactly the plain join's — the bloom is a
    may-contain pre-filter, the hash join stays authoritative."""
    with scoped_conf(spark, _BLOOM_CONFS):
        return checkpoint(_bloom_join_frame(spark, sf_dir), eager=True)


def cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: the changefeed
    (inserts / updates / deletes, with before/after images) a lakehouse
    derives when a partner re-delivers a full snapshot and only the delta
    should propagate downstream. Snapshots are derived deterministically
    from orders (old: keys ≢7 mod 10; new: keys ≢3 mod 13, with price +1.0
    on keys ≡0 mod 5 and status flipped to 'X' on keys ≡0 mod 11), so the
    DuckDB oracle replays the same diff declaratively.

    Scale shape: both snapshots are written BUCKETED by the key into the
    same bucket count, so the full-outer sort-merge diff reads bucket i
    against bucket i with NO Exchange in the plan (asserted in
    tests/test_plans.py) — at 100 TB the diff of two bucketed snapshots is
    scan + merge, never a shuffle. Write-once per (session, sf_dir) through
    a ledger memo, like bucketed_join."""
    from ..tables import tmp_scratch_dir

    base = tmp_scratch_dir("cdc_snapshots", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 3).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    memo = ledger.of(spark).memo
    if memo.get("cdc") != sf_dir:
        for name, df in (("spark_graft_cdc_old", old), ("spark_graft_cdc_new", new)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.repartition(N_BUCKETS, "o_orderkey")
                .write.format("parquet")
                .mode("overwrite")
                .option("path", os.path.join(base, name))
                .bucketBy(N_BUCKETS, "o_orderkey")
                .sortBy("o_orderkey")
                .saveAsTable(name)
            )
        memo["cdc"] = sf_dir
    o = spark.table("spark_graft_cdc_old").alias("o")
    n = spark.table("spark_graft_cdc_new").alias("n")
    return (
        o.hint("MERGE")
        .join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
        .select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("n.o_orderkey").isNull(), F.lit("D"))
            .when(F.col("o.o_orderkey").isNull(), F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("change_type"),
            F.col("o.price").alias("old_price"),
            F.col("n.price").alias("new_price"),
            F.col("o.status").alias("old_status"),
            F.col("n.status").alias("new_status"),
        )
        .filter(
            (F.col("change_type") != "U")
            | ~F.col("old_price").eqNullSafe(F.col("new_price"))
            | ~F.col("old_status").eqNullSafe(F.col("new_status"))
        )
    )


SKYLINE_BUCKET = 1024  # x-range per scan bucket; buckets ≤ max_tokens/1024


def skyline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query — the classic OLAP operator
    (Börzsönyi et al., ICDE 2001): document profile points (n_tokens,
    n_uniq_tokens) not dominated by any other point (≥ in both, > in one).
    The front is what corpus-curation dashboards plot to pick
    length/diversity trade-off thresholds.

    Scale shape: the corpus collapses FIRST to one row per distinct
    n_tokens (max diversity + doc count — one partial-aggregated shuffle,
    output bounded by max document length, not corpus size). The
    strict-prefix running max that decides domination then runs BUCKETED
    (x div 1024): per-bucket maxima are collected (≤ max_tokens/1024
    integers), the higher-bucket prefix max is computed driver-side and
    broadcast back — no single-partition window at any scale (the
    _with_prefix_cumsum discipline, specialized to max)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pts = (
        docs.select(
            F.expr(
                "CAST(size(filter(split(coalesce(text, ''), ' '), x -> x != '')) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(size(array_distinct(filter(split(coalesce(text, ''), ' '), x -> x != ''))) AS BIGINT)"
            ).alias("y"),
        )
        .groupBy("x")
        .agg(F.max("y").alias("ymax"), F.count(F.lit(1)).alias("n_docs"))
        .withColumn("bucket", F.expr(f"CAST(x DIV {SKYLINE_BUCKET} AS INT)"))
        .transform(checkpoint, eager=False)  # consumed by the collect AND the join
    )
    sub = pts.groupBy("bucket").agg(F.max("ymax").alias("bmax")).collect()
    # prefix max over STRICTLY HIGHER buckets, driver-side (bounded)
    hb, run = {}, None
    for r in sorted(sub, key=lambda r: -r["bucket"]):
        hb[r["bucket"]] = run
        run = r["bmax"] if run is None else max(run, r["bmax"])
    from ..tables import local_rows_df

    hb_df = local_rows_df(
        spark,
        [(int(b), -1 if m is None else int(m)) for b, m in hb.items()],
        "bucket int, higher_max long",
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.join(F.broadcast(hb_df), "bucket")
        .withColumn("prev_max", F.greatest(F.coalesce(F.max("ymax").over(w), F.lit(-1)), F.col("higher_max")))
        .filter(F.col("ymax") > F.col("prev_max"))
        .select(F.col("x").alias("n_tokens"), F.col("ymax").alias("n_uniq_tokens"), "n_docs")
    )


def incremental_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the per-status
    order count + revenue aggregate is MAINTAINED from the base aggregate
    plus the CDC changefeed (D: −old, I: +new, U: −old +new, across
    status-group moves) instead of rescanning the snapshot — the
    incremental-view-maintenance contract that makes a 100 TB nightly
    refresh touch only the delta. The DuckDB oracle computes the same
    aggregate DIRECTLY from the new snapshot — equality of the two
    formulations is the IVM correctness statement.

    Exactness: money is summed as half-up integer cents (BIGINT), so the
    incremental sum (base + deltas, arbitrary order) and the direct sum
    are the same integer — a double sum would differ in ulps between the
    two formulations. Delta volume ∝ changes; the only corpus-sized scan
    is the memoized snapshot build shared with cdc_changes."""
    cents = "CAST(floor(price * 100 + 0.5) AS BIGINT)"
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 7).select(
        F.col("o_orderstatus").alias("status"),
        F.expr(cents.replace("price", "o_totalprice")).alias("c"),
    )
    base = old.groupBy("status").agg(
        F.count(F.lit(1)).alias("dn"), F.sum("c").alias("dc")
    )
    ch = cdc_changes(spark, sf_dir)
    minus = ch.filter(F.col("change_type").isin("D", "U")).select(
        F.col("old_status").alias("status"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.expr(cents.replace("price", "old_price"))).alias("dc"),
    )
    plus = ch.filter(F.col("change_type").isin("I", "U")).select(
        F.col("new_status").alias("status"),
        F.lit(1).cast("long").alias("dn"),
        F.expr(cents.replace("price", "new_price")).alias("dc"),
    )
    return (
        base.unionAll(minus).unionAll(plus)
        .groupBy("status")
        .agg(F.sum("dn").alias("n_orders"), F.sum("dc").alias("sum_cents"))
        .filter(F.col("n_orders") > 0)
        .select(
            "status",
            "n_orders",
            (F.col("sum_cents").cast("double") / 100.0).alias("sum_price"),
        )
    )


def incremental_join_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the delta-join IVM rule,
    completing incremental_agg_maintain's aggregate-only story): the
    revenue-per-nation view over orders ⋈ customer ⋈ nation is maintained
    by joining ONLY THE DELTA against the (static, broadcast) dimensions —
    Δ(A⋈B) = ΔA⋈B when B is unchanged; the symmetric A⋈ΔB and ΔA⋈ΔB
    terms of the general rule are zero here and noted for the reader.
    At 100 TB this is the nightly-refresh contract for joined marts: the
    fact delta (inserts %10=7, deletes %10=3, price-bump updates %10=5 as
    a +100¢ per-row correction) is the only fact-sized input touched; the
    base view is a stored aggregate.

    Exactness: integer half-up cents (the incremental_agg_maintain
    convention) make base + delta associativity-free, so the maintained
    view equals the DuckDB oracle's DIRECT recompute from the new
    snapshot bit-for-bit — the IVM correctness statement as a hash-exact
    oracle."""
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    orders = load_table(spark, sf_dir, "orders")
    dims = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    mod = F.col("o_orderkey") % 10
    old = orders.filter(mod != 7).select(
        "o_custkey", F.expr(cents).alias("dc"), F.lit(1).cast("long").alias("dn")
    )
    inserts = orders.filter(mod == 7).select(
        "o_custkey", F.expr(cents).alias("dc"), F.lit(1).cast("long").alias("dn")
    )
    deletes = orders.filter(mod == 3).select(
        "o_custkey", (-F.expr(cents)).alias("dc"), F.lit(-1).cast("long").alias("dn")
    )
    updates = orders.filter(mod == 5).select(
        "o_custkey", F.lit(100).cast("long").alias("dc"), F.lit(0).cast("long").alias("dn")
    )
    base = old.join(F.broadcast(dims), old.o_custkey == dims.c_custkey).groupBy(
        "n_name"
    ).agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    delta = (
        inserts.unionAll(deletes)
        .unionAll(updates)
        .join(F.broadcast(dims), F.col("o_custkey") == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    )
    return (
        base.unionAll(delta)
        .groupBy("n_name")
        .agg(F.sum("dn").alias("n_orders"), F.sum("dc").alias("sum_cents"))
        .filter(F.col("n_orders") > 0)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
            (F.col("sum_cents").cast("double") / 100.0).alias("revenue"),
        )
    )


def layout_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding planner statistics: per column, the run count,
    distinct count, mean run length and dictionary ratio that decide
    whether RLE or dictionary encoding wins for a given sort layout — the
    measurement behind layout_zorder-style table-layout tuning (at 100 TB
    the difference between RLE-friendly and shuffled layouts is the
    storage bill). Run boundaries RESET at each l_orderkey (the row-group
    analog: parquet runs never span groups), so the window shuffles on
    orderkey — never a single global sort.

    One window pass computes all three columns' null-safe run-start flags
    (lag IS DISTINCT FROM value); a zero-shuffle stack() melts them long;
    one 3-group aggregate finishes. All outputs are exact integers or
    rationals of integers -> stable_round.

    Determinism: (l_orderkey, l_linenumber) is NOT unique in the fixture,
    so the sort extends to the measured columns themselves — rows still
    tied are identical in every lagged column, making the run flags
    invariant under their permutation (NULLS FIRST pinned on both
    engines)."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
        F.expr("CAST(CAST(l_quantity AS BIGINT) AS STRING)").alias("quantity"),
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.asc_nulls_first("l_linenumber"),
        F.asc_nulls_first("returnflag"),
        F.asc_nulls_first("linestatus"),
        F.asc_nulls_first("quantity"),
    )
    flagged = li.select(
        "l_orderkey",
        "l_linenumber",
        *[
            x
            for c in ("returnflag", "linestatus", "quantity")
            for x in (
                F.col(c),
                (~F.lag(c).over(w).eqNullSafe(F.col(c)))
                .cast("long")
                .alias(f"start_{c}"),
            )
        ],
    )
    long = flagged.select(
        F.expr(
            "stack(3, 'returnflag', returnflag, start_returnflag,"
            " 'linestatus', linestatus, start_linestatus,"
            " 'quantity', quantity, start_quantity)"
        ).alias("col_name", "val", "run_start")
    )
    return (
        long.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum("run_start").alias("n_runs"),
            F.countDistinct("val").alias("n_distinct"),
        )
        .select(
            "col_name",
            "n_values",
            "n_runs",
            "n_distinct",
            F.expr(
                stable_round("CAST(n_values AS DOUBLE) / nullif(n_runs, 0)", 6)
            ).alias("avg_run_len"),
            F.expr(
                stable_round("CAST(n_distinct AS DOUBLE) / nullif(n_values, 0)", 6)
            ).alias("dict_ratio"),
        )
    )


def sql_pipe_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 SQL pipe syntax (|> — SPARK-49555, the GoogleSQL
    'pipe query' form) end-to-end: the sql_surface Q3 shape rewritten as
    a linear FROM |> JOIN |> WHERE |> AGGREGATE |> ORDER BY pipeline.
    Pipe stages compile to the identical Catalyst plan as the nested
    form — this query proves the surface exists and plans the same
    (broadcast joins, partial agg, TakeOrderedAndProject), while the
    oracle runs the classic formulation in DuckDB: syntax parity without
    semantics drift."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM customer c
        |> JOIN orders o ON c.c_custkey = o.o_custkey
        |> JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |> WHERE c.c_mktsegment = 'AUTOMOBILE'
        |> AGGREGATE ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
                     COUNT(1) AS n_items
           GROUP BY o.o_orderkey
        |> ORDER BY revenue DESC, o_orderkey ASC
        |> LIMIT 20
        """
    )


SCRIPT_VOCAB_TARGET = 20
SCRIPT_MAX_MIN_COUNT = 8


def sql_scripting_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 / SQL:2023 PSM: BEGIN…END, DECLARE, WHILE,
    IF, LEAVE) — the procedural control-flow surface, exercised on a real
    tuning task: find the smallest vocabulary min-count whose vocab size
    fits a budget (the vocab_build knob), by iterating min-count 1..8 and
    stopping at the first that satisfies it. Each loop iteration runs a
    full declarative aggregate — the script is ORCHESTRATION (what a
    driver-side Python loop would do), not row-at-a-time logic, so every
    per-iteration query still plans/executes as ordinary Catalyst jobs.

    Output: one row (min_count chosen, vocab_size at it, n_iterations).
    Exact oracle: the DuckDB twin evaluates all candidate min-counts
    set-based and picks the same first-satisfying one — same answer, two
    execution strategies.

    The loop iterates over token COUNTS materialized once (localCheckpoint
    — vocab-sized, lineage-free, ContextCleaner-owned), not the corpus: a
    temp view is lazy, so looping over the raw tokenize would re-scan and
    re-explode the whole corpus per iteration — at 100 TB, eight corpus
    passes to tune one knob. Materialize-the-sufficient-statistic-once is
    the production shape. Measured at sf0.1: 1.89 → ~1.7 s only, because
    per-STATEMENT scripting overhead (~0.13 s × 8 iterations) dominates at
    toy scale — but the corpus-scan count drops 8 → 1, which is the term
    that grows with data."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(F.split(F.coalesce("text", F.lit("")), " "), lambda x: x != "")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    checkpoint(counts, eager=True).createOrReplaceTempView("_script_counts")
    with scoped_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            f"""
            BEGIN
              DECLARE m INT DEFAULT 0;
              DECLARE vs BIGINT DEFAULT -1;
              DECLARE iters INT DEFAULT 0;
              loop_label: WHILE m < {SCRIPT_MAX_MIN_COUNT} DO
                SET m = m + 1;
                SET iters = iters + 1;
                SET vs = (SELECT count(*) FROM _script_counts WHERE cnt >= m);
                IF vs <= {SCRIPT_VOCAB_TARGET} THEN
                  LEAVE loop_label;
                END IF;
              END WHILE;
              SELECT CAST(m AS INT) AS min_count, vs AS vocab_size,
                     CAST(iters AS INT) AS n_iterations;
            END
            """
        )


RECURSIVE_MAX_HOPS = 3  # depth cap: bounds UNION ALL walk enumeration


def sql_recursive_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE query semantics (BFS hop distances ≤
    RECURSIVE_MAX_HOPS from the 'a%' seed hosts over the directed
    within-document host graph), EXECUTED by the frontier/anti-join BFS
    core (graph.khop_bfs_visited) rather than by enumerating paths.

    Why the registered plan is the BFS: Spark 4's WITH RECURSIVE supports
    UNION ALL only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE as of 4.1), so
    the one-statement formulation must enumerate depth-capped PATHS and
    collapse them with MIN(d) — correct at any depth cap, but path count
    grows combinatorially on hub-heavy graphs (k hops through a clique of
    n hubs is n^k paths for n distinct answers). The BFS expands each node
    exactly once, so the same min-distance semantics cost frontier-adjacent
    edges per hop at any density — that is the plan a 100 TB run needs.

    The WITH RECURSIVE surface itself is still exercised end-to-end:
    recursive_cte_statement() runs the one-statement formulation through
    Spark's recursive-CTE machinery (parameterized spark.sql — no session
    temp view is created or clobbered), and
    test_recursive_cte_matches_driver_loop_bfs pins its result set equal
    to this query's. The DuckDB oracle remains the recursive CTE — two
    independent formulations of BFS layering."""
    from .graph import khop_bfs_visited

    return khop_bfs_visited(spark, sf_dir, RECURSIVE_MAX_HOPS)


def recursive_cte_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-statement WITH RECURSIVE formulation (Spark 4 recursive-CTE
    surface) of sql_recursive_surface's semantics — kept as the tested
    surface proof, not the registered plan (see sql_recursive_surface's
    docstring for why path enumeration is the wrong plan at scale).

    The documents frame binds through parameterized spark.sql ({docs}
    placeholder), so no session-level temp view is created, clobbered, or
    left behind — the defect class of the former createOrReplaceTempView
    side channel."""
    from .text import URL_HOST_RE

    docs = load_table(spark, sf_dir, "documents")
    return spark.sql(
        f"""
        WITH RECURSIVE t AS (
            SELECT transform(filter(split(coalesce(text, ''), ' '), x -> x != ''),
                       tk -> coalesce(nullif(regexp_extract(lower(tk), '{URL_HOST_RE}', 1), ''),
                                      lower(tk))) AS hosts
            FROM {{docs}}
        ), edges AS (
            SELECT DISTINCT p.src, p.dst
            FROM (SELECT explode(transform(sequence(0, size(hosts) - 2),
                             i -> named_struct('src', hosts[i], 'dst', hosts[i + 1]))) AS p
                  FROM t WHERE size(hosts) >= 2)
            WHERE p.src <> p.dst
        ), nodes AS (
            SELECT DISTINCT explode(hosts) AS host FROM t
        ), walk(host, d) AS (
            SELECT host, 0 FROM nodes WHERE host LIKE 'a%'
            UNION ALL
            SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.host
            WHERE w.d < {RECURSIVE_MAX_HOPS}
        )
        SELECT host, CAST(MIN(d) AS INT) AS hops FROM walk GROUP BY host
        """,
        docs=docs,
    )


BASKET_TOP = 50


def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over order line items: for the BASKET_TOP
    most co-ordered part pairs, support count, confidence P(b|a), and lift
    — the association-rule primitive (Agrawal/Srikant's Apriori setting)
    restricted to pair itemsets, which at TPC-H's bounded basket width
    (≤ 7 lines per order) needs no candidate pruning at any corpus size:
    the per-order pair explode is C(7,2)-bounded, so the self-join fan-out
    is a constant factor of the lineitem count.

    Exactness: supports are BIGINT counts; confidence and lift are single
    stable_round divisions of exact integers (lift's N attaches via the
    one-row scalar_join, allowlisted). Ordering (support desc, pa, pb) is
    integer-deterministic.

    Plan shape at 100 TB: distinct (order, part) — partial-aggregated —
    then an orderkey equi-join with constant fan-out, a (pa, pb)
    aggregate, and a TakeOrderedAndProject. Per-part supports re-use the
    distinct table; no corpus-wide sort."""
    from ..functions.vector import stable_round
    from ..tables import scalar_join

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct().transform(checkpoint, eager=False)
    b2 = baskets.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb")
    )
    pair_support = (
        baskets.join(b2, (F.col("l_orderkey") == F.col("o2")) & (F.col("l_partkey") < F.col("pb")))
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("s"))
    n_orders = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    sa = item.select(F.col("l_partkey").alias("pa"), F.col("s").alias("sa"))
    sb = item.select(F.col("l_partkey").alias("pb"), F.col("s").alias("sb"))
    return (
        scalar_join(pair_support.join(sa, "pa").join(sb, "pb"), n_orders)
        .select(
            "pa",
            "pb",
            "support",
            F.expr(stable_round("CAST(support AS DOUBLE) / sa", 6)).alias("confidence"),
            F.expr(
                stable_round(
                    "CAST(support AS DOUBLE) * n_orders / (CAST(sa AS DOUBLE) * sb)", 6
                )
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(BASKET_TOP)
    )


def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank parts by
    exact-integer revenue, cumulative revenue share, and the inventory
    classes A (first 80 % of revenue), B (to 95 %), C (tail) — the 80/20
    analysis every catalog/inventory pipeline runs.

    Exactness: revenue is computed per ROW in integer 1e-4 units —
    l_extendedprice and l_discount are 2-dp decimals stored as doubles, so
    floor(·100 + 0.5) recovers exact integers and price_c·(100 − disc_c)
    is an exact BIGINT — making the per-part sums, the ranking, and the
    class predicates (5·cum ≤ 4·total for A, 20·cum ≤ 19·total for B)
    pure integer arithmetic in both engines. Only the display columns
    divide.

    Plan shape at 100 TB: one partial-aggregated (partkey) sum, then a
    window over the PART DIMENSION (catalog-bounded, the skyline_docs
    posture), never over line items."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round

    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            "l_partkey",
            F.expr(
                "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
                " * (100L - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
            ).alias("rc4"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("rc4").alias("rc4"))
    )
    # null placement pinned on both engines (Spark defaults DESC NULLS
    # LAST / ASC NULLS FIRST, DuckDB the reverse on ASC — the cross-engine
    # window-order trap)
    w = Window.orderBy(F.col("rc4").desc_nulls_last(), F.col("l_partkey").asc_nulls_last())
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # cum/total and the class predicates run in DECIMAL(38,0) (HUGEINT
    # oracle-side): rc4 is 1e-4-unit revenue, so at the documented 100 TB
    # lineitem volume total is ~2e19 and the 5x/20x products exceed int64 —
    # Spark (non-ANSI) would wrap silently while DuckDB errors. 38 digits
    # hold 20 * 2e19 with 17 to spare.
    rc4d = F.col("rc4").cast("decimal(38,0)")
    return (
        rev.withColumn("cum", F.sum(rc4d).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("total", F.sum(rc4d).over(tot))
        .select(
            "l_partkey",
            F.expr(stable_round("CAST(rc4 AS DOUBLE) / 1e4", 4)).alias("revenue"),
            F.expr(stable_round("CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)", 6)).alias(
                "cum_share"
            ),
            F.expr(
                "CASE WHEN CAST(5 AS DECIMAL(38,0)) * cum <= CAST(4 AS DECIMAL(38,0)) * total"
                " THEN 'A'"
                " WHEN CAST(20 AS DECIMAL(38,0)) * cum <= CAST(19 AS DECIMAL(38,0)) * total"
                " THEN 'B' ELSE 'C' END"
            ).alias("abc_class"),
        )
    )


LEAD_TIME_LATE_DAYS = 90


def orders_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time per order priority: min/max/mean days from
    o_orderdate to each line item's l_shipdate, plus the late fraction
    (> LEAD_TIME_LATE_DAYS days) — the fulfillment SLA report every
    order-management pipeline runs, and the repo's canonical
    fact-to-fact date arithmetic example (lineitem ⋈ orders on the
    order key, dimension-grouped).

    Exactness: lead times are integer datediff days; mean and late
    fraction are single stable_round divisions of exact BIGINT sums.

    Plan shape at 100 TB: the lineitem→orders equi-join shuffles on the
    order key (both sides partial-pruned to 2–3 columns); one
    |priorities|-row aggregate after it."""
    from ..functions.vector import stable_round

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.coalesce("o_orderpriority", F.lit("unknown")).alias("priority"),
        F.expr(
            "CAST(datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT)"
        ).alias("days"),
    )
    return (
        joined.filter(F.col("days").isNotNull())
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.min("days").alias("min_days"),
            F.max("days").alias("max_days"),
            F.sum("days").alias("_sd"),
            F.sum(F.expr(f"IF(days > {LEAD_TIME_LATE_DAYS}, 1L, 0L)")).alias("_late"),
        )
        .select(
            "priority",
            "n_items",
            "min_days",
            "max_days",
            F.expr(stable_round("CAST(_sd AS DOUBLE) / n_items", 6)).alias("mean_days"),
            F.expr(stable_round("CAST(_late AS DOUBLE) / n_items", 6)).alias("late_frac"),
        )
    )
