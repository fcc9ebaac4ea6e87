"""Entity resolution / record linkage: blocking → multi-attribute match
scoring → duplicate-cluster resolution → survivorship (golden record).

This is the structured-data twin of the document dedup family: where
``dedup_minhash_pairs``/``dedup_groups`` resolve near-duplicate *text*,
these operators resolve near-duplicate *records* (the catalog/CRM/master-
data problem every 100 TB ingestion pipeline hits before joining sources).
The reference's pipeline has no ER stage (its one record type is an
opaque line, main.go:24-26); this extends the §2.4 pipeline surface with
the classic Fellegi–Sunter-shaped flow: candidate generation by blocking,
deterministic pairwise scoring, transitive-closure clustering (reusing
``graph.connected_components`` — driver union-find under the measured
edge gate, pointer-halved label propagation above it), and survivorship
rules that pick one golden record per entity.

Two blocking strategies, each a registered query:

- ``er_golden_record`` — standard (equality) blocking on the normalized
  name key. The match rule REQUIRES name-token-set equality, so the
  blocking is exactly recall-1 by construction (no pair outside a block
  can match) while the DuckDB oracle brute-forces ALL pairs and proves
  it. Scale: one equi-join shuffle keyed by the blocking key; work is
  quadratic only WITHIN a block (the ``block_cap`` knob prunes
  boilerplate-key blocks, same contract as the LSH ``bucket_cap``).
- ``er_sorted_neighborhood`` — Sorted Neighborhood Method (Hernández &
  Stolfo, SIGMOD 1995): order records by a permuted key (noun-first, so
  same-noun records are adjacent regardless of adjective), slide a
  window of ``SNM_WINDOW`` records, score every in-window pair. Rank
  assignment is the two-phase distributed global rank (range partition →
  per-partition row_number + driver offsets — the ``vocab_build``
  decomposition, NOT a single-partition global window); the window join
  is an equi-join on exploded neighbor ranks (shuffle ∝ N·(w−1)).

All match/score arithmetic is integer-exact (score scaled by 1e6 with
integer division), so both engines agree bit-for-bit and the oracles are
exact hash-match, not tolerance checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ledger import checkpoint
from ..tables import load_table, local_rows_df
from .graph import connected_components

# Sorted-neighborhood window: each record is compared with the following
# SNM_WINDOW-1 records in sort order. 5 is the classic small default; the
# method's recall is *defined* by the window (pairs farther apart in sort
# order are non-candidates), so the oracle replays the same window.
SNM_WINDOW = 5

# er_golden_record block-size guard: a boilerplate name key at corpus
# scale ("unknown unknown") would make one block quadratic; the cap keeps
# the ``block_cap`` LOWEST partkeys of each oversize block (the dedup
# posting_cap discipline — deterministic, not a sample), bounding
# per-block pair cost at cap² while keeping every block represented;
# members beyond the cap lose their in-block edges (measured recall
# tradeoff: docs/SCALE.md, probe at `git show 4ab1d46:tools/er_scale_probe.py`).
#
# Default None — NOT "auto", and the round-10 ci leg 3 failure is why:
# er_golden_record's contract is recall-1 blocking (the match rule
# REQUIRES name-key equality, and the DuckDB oracle brute-forces ALL
# pairs to prove the blocking lost nothing). On this catalog the blocks
# are uniformly dense (~N/100 deep; fan-out ratio 156× at sf0.1), so the
# cost trigger correctly detects quadratic fan-out — but here the
# quadratic work is the OPERATOR'S DEFINITION, not boilerplate skew, and
# capping it silently breaks the recall-1 claim (19,990 vs 8,372 golden
# records at sf0.1). This is exactly the §11.9 domain lesson measured in
# round 9: block caps suit catalogs where a FEW blocks are pathological,
# not uniformly dense ones. ``block_cap="auto"`` remains available for
# the former; the posting-join dedups keep auto as their default because
# their fan-out IS boilerplate-driven.
ER_BLOCK_CAP: int | str | None = None


def _part_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized record frame: sorted distinct name tokens (the entity's
    primary identifier), plus the secondary attributes the score weighs."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.array_sort(F.array_distinct(F.split(F.col("p_name"), " "))).alias("toks"),
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    )


def _secondary_score(a: str, b: str):
    """Integer secondary-attribute agreement score, ×1000:
    500·[brand equal] + 300·[type equal] + 20·(10 − min(10, |Δsize|)).
    Max 1000; the er_golden_record match threshold is 700, reachable only
    as brand+type (800+), brand+size-equal (700), or better — brand
    disagreement can never match (≤ 500). Pure integer arithmetic ⇒ both
    engines agree exactly."""
    m = F.least(F.lit(10), F.abs(F.col(f"{a}.p_size") - F.col(f"{b}.p_size")))
    return (
        F.when(F.col(f"{a}.p_brand") == F.col(f"{b}.p_brand"), F.lit(500)).otherwise(F.lit(0))
        + F.when(F.col(f"{a}.p_type") == F.col(f"{b}.p_type"), F.lit(300)).otherwise(F.lit(0))
        + (F.lit(10) - m) * 2
    )


def er_match_edges(
    spark: SparkSession, sf_dir: str, block_cap: int | str | None = ER_BLOCK_CAP
) -> DataFrame:
    """Matched record pairs (doc_a, doc_b) under the golden-record rule:
    identical name token set AND secondary score ≥ 700. Candidate
    generation is equality blocking on the name key — provably recall-1
    because the match rule itself requires name-set equality."""
    rec = _part_records(spark, sf_dir).withColumn(
        "name_key", F.concat_ws(" ", F.col("toks"))
    )
    if block_cap == "auto":
        from .skew_guard import AUTO_BLOCK_CAP, resolve_cap

        block_cap = resolve_cap(
            block_cap,
            rec.groupBy("name_key").agg(F.count(F.lit(1)).alias("n")),
            "n",
            AUTO_BLOCK_CAP,
            name="er-block",
            policy="keep-lowest",  # row_number ≤ cap keeps the lowest p_partkeys
            cache_key=("er-block", sf_dir),
        )
    if block_cap is not None:
        wcap = Window.partitionBy("name_key").orderBy(F.col("p_partkey").asc())
        rec = (
            rec.withColumn("_bi", F.row_number().over(wcap))
            .filter(F.col("_bi") <= block_cap)
            .drop("_bi")
        )
    a, b = rec.alias("a"), rec.alias("b")
    return (
        a.join(
            b,
            (F.col("a.name_key") == F.col("b.name_key"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(_secondary_score("a", "b") >= 700)
        .select(
            F.col("a.p_partkey").alias("doc_a"),
            F.col("b.p_partkey").alias("doc_b"),
        )
    )


def er_golden_record(
    spark: SparkSession, sf_dir: str, block_cap: int | str | None = ER_BLOCK_CAP
) -> DataFrame:
    """Golden records: every part resolved to an entity (transitive closure
    of the match rule; entity_id = min member partkey — singletons keep
    their own key), then one survivor per entity by deterministic
    survivorship: highest retail price wins, partkey breaks ties (the
    "most complete/most valuable record" rule of MDM survivorship, made
    reproducible). price_spread measures intra-entity conflict — the
    quantity a downstream steward reviews.

    Scale: blocking equi-join + CC over the (sparse) match edges + one
    window partitioned BY ENTITY (never global). The oracle brute-forces
    all C(n,2) pairs in DuckDB and must land on identical entities —
    an independent proof the blocking lost nothing."""
    rec = _part_records(spark, sf_dir)
    edges = er_match_edges(spark, sf_dir, block_cap=block_cap)
    labels = connected_components(
        rec.select(F.col("p_partkey").alias("doc_id")), edges
    ).select(F.col("doc_id").alias("p_partkey"), F.col("group_id").alias("entity_id"))
    members = rec.join(labels, "p_partkey")
    w = Window.partitionBy("entity_id").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    ranked = members.withColumn("_rn", F.row_number().over(w))
    stats = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        # floor(x·100 + 0.5)/100 instead of round(): both engines floor the
        # SAME IEEE double, so the result is bit-identical (repo-wide
        # stable-rounding idiom)
        (F.floor((F.max("p_retailprice") - F.min("p_retailprice")) * 100 + F.lit(0.5)) / 100)
        .alias("price_spread"),
    )
    return (
        ranked.filter(F.col("_rn") == 1)
        .select(
            "entity_id",
            F.col("p_partkey").alias("golden_partkey"),
            F.col("p_name").alias("golden_name"),
            F.col("p_brand").alias("golden_brand"),
            F.col("p_retailprice").alias("golden_price"),
        )
        .join(stats, "entity_id")
        .select(
            "entity_id",
            "n_members",
            "golden_partkey",
            "golden_name",
            "golden_brand",
            "golden_price",
            "price_spread",
        )
    )


def _global_rank(df: DataFrame, order_cols: list) -> DataFrame:
    """Two-phase distributed global rank (1-based ``rank`` column added):
    range-partition by the sort key, count per partition on the driver
    (one tiny row per partition), rank locally, add the offset. Identical
    decomposition to vocab_build (pipeline.py:92-142) — a partitionBy-less
    row_number window would single-partition the sort at scale."""
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint, eager=False)
    )
    sizes = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    if not offsets:
        return ranged.select(df.columns).withColumn("rank", F.lit(0).cast("long"))
    off_map = F.map_from_arrays(
        F.array(*[F.lit(int(p)) for p in offsets]),
        F.array(*[F.lit(int(o)) for o in offsets.values()]),
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.withColumn("_lr", F.row_number().over(w))
        .withColumn(
            "rank", (F.element_at(off_map, F.col("_pid")) + F.col("_lr")).cast("long")
        )
        .drop("_pid", "_lr")
    )


def _snm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pair frame shared by the scored SNM
    query and the Fellegi–Sunter trainer: records ordered by the
    noun-first permuted key via the two-phase global rank, every pair
    within SNM_WINDOW joined through exploded neighbor ranks (shuffle ∝
    N·(w−1), never quadratic). Columns: a-side attrs (pk_a, toks_a,
    brand_a, type_a, size_a) + b-side record columns."""
    rec = _part_records(spark, sf_dir).withColumn(
        "snm_key", F.concat_ws(" ", F.reverse(F.split(F.col("p_name"), " ")))
    )
    ranked = _global_rank(
        rec, [F.col("snm_key").asc(), F.col("p_partkey").asc()]
    ).select("p_partkey", "toks", "p_brand", "p_type", "p_size", "rank")
    left = ranked.select(
        F.col("p_partkey").alias("pk_a"),
        F.col("toks").alias("toks_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + (SNM_WINDOW - 1))
        ).alias("nbr_rank"),
    )
    return left.join(ranked, left.nbr_rank == ranked.rank)


def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted Neighborhood candidate pairs with their full weighted match
    score. Sort key is the NOUN-FIRST permuted name ("small ring" sorts as
    "ring small"), so records naming the same object are adjacent even
    when the leading adjective differs — the key-permutation trick that is
    the whole point of SNM. Every pair within the sliding window of
    SNM_WINDOW records is scored:

        score = 0.4·J(name tokens) + 0.25·[brand =] + 0.2·[type =]
              + 0.15·(10 − min(10, |Δsize|))/10

    emitted (×1e6, integer floor division ⇒ engine-exact) for pairs with
    score_e6 ≥ 600000. Unlike er_golden_record this surfaces CROSS-NAME
    candidates (J = 1/3 pairs sharing the noun) — the human-review queue,
    not the auto-merge set. The window join is an equi-join on exploded
    neighbor ranks: shuffle ∝ N·(w−1), never quadratic; recall is by
    definition the window's (the oracle replays rank + window exactly)."""
    cand = _snm_candidates(spark, sf_dir)
    i = F.size(F.array_intersect(F.col("toks_a"), F.col("toks")))
    u = F.size(F.array_union(F.col("toks_a"), F.col("toks")))
    m = F.least(F.lit(10), F.abs(F.col("size_a") - F.col("p_size")))
    score = (
        F.expr("400000 * i div u")
        + F.when(F.col("brand_a") == F.col("p_brand"), F.lit(250000)).otherwise(F.lit(0))
        + F.when(F.col("type_a") == F.col("p_type"), F.lit(200000)).otherwise(F.lit(0))
        + (F.lit(10) - m) * 15000
    )
    return (
        cand.withColumn("i", i.cast("long"))
        .withColumn("u", u.cast("long"))
        .withColumn("score_e6", score.cast("long"))
        .filter(F.col("score_e6") >= 600000)
        .select(
            F.col("pk_a").alias("partkey_a"),
            F.col("p_partkey").alias("partkey_b"),
            "score_e6",
        )
    )


# Fellegi–Sunter EM: iteration count is fixed (deterministic contract, the
# integer-Lloyd convention from similarity.py); 20 rounds converges the
# 16-cell histogram to well past micro-unit resolution.
FS_EM_ITERS = 20
# size agreement band for the size field's comparison vector entry
FS_SIZE_BAND = 2
# initial parameters, micro-units: P(match) prior, per-field
# P(agree | match) and P(agree | unmatch)
FS_INIT = (100000, 900000, 100000)


def _fs_em(hist: list[tuple[tuple[bool, ...], int]], iters: int):
    """Pure-INTEGER Fellegi–Sunter EM over the agreement-pattern histogram
    (conditional independence across the 4 comparison fields; Winkler's EM
    formulation). Probabilities live in micro-units (1e6); every E-step
    posterior is a rounded integer ratio of exact integer products, every
    M-step a rounded integer ratio of exact integer sums — no floating
    point anywhere, so any engine replaying the same integer ops (the
    DuckDB oracle's HUGEINT CTE chain) lands on bit-identical parameters.
    Returns (params, weights): final (p, m[4], u[4]) and the final E-step
    posterior per pattern, micro-units."""
    p0, m0, u0 = FS_INIT
    p, m, u = p0, [m0] * 4, [u0] * 4
    if not hist:
        # empty candidate-pair histogram (e.g. empty part table): return the
        # priors and no patterns, matching the empty-input contract of the
        # other operators instead of dividing by n_tot == 0 below
        return (p, m, u), []

    def estep(p, m, u):
        out = []
        for flags, n in hist:
            pm = pu = 1
            for k in range(4):
                pm *= m[k] if flags[k] else 1_000_000 - m[k]
                pu *= u[k] if flags[k] else 1_000_000 - u[k]
            num = p * pm
            den = num + (1_000_000 - p) * pu
            out.append((flags, n, (2 * num * 1_000_000 + den) // (2 * den)))
        return out

    def clamp(x):
        return max(1, min(999_999, x))

    for _ in range(iters):
        w = estep(p, m, u)
        big_w = sum(n * wi for _, n, wi in w)
        big_nw = sum(n * (1_000_000 - wi) for _, n, wi in w)
        n_tot = sum(n for _, n, _ in w)
        p = clamp((2 * big_w + n_tot) // (2 * n_tot))
        for k in range(4):
            a_k = sum(n * wi for flags, n, wi in w if flags[k])
            b_k = sum(n * (1_000_000 - wi) for flags, n, wi in w if flags[k])
            if big_w > 0:
                m[k] = clamp((2 * a_k * 1_000_000 + big_w) // (2 * big_w))
            if big_nw > 0:
                u[k] = clamp((2 * b_k * 1_000_000 + big_nw) // (2 * big_nw))
    return (p, m, u), estep(p, m, u)


def er_fellegi_sunter(
    spark: SparkSession, sf_dir: str, iters: int = FS_EM_ITERS
) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter, JASA 1969) with
    EM-estimated match weights (Winkler 1988): over the SNM candidate
    pairs, build the agreement-pattern histogram for 4 comparison fields
    (name token-set equality, brand, type, |Δsize| ≤ FS_SIZE_BAND), fit
    the two-class mixture P(pattern) = p·Πm + (1−p)·Πu by EM, and emit
    each observed pattern with its pair count, EM posterior match
    probability (micro-units) and the classic three-way decision
    (link ≥ 0.9 / non-link ≤ 0.1 / possible — the clerical-review band).

    Architecture for 100 TB: the DISTRIBUTED work is candidate generation
    + one aggregation down to the agreement histogram (≤ 2⁴ rows — a
    fixed-size sufficient statistic, the same reduction every production
    linker (Splink et al.) performs); EM then runs driver-side on that
    histogram — the BPE/CC driver-path precedent, except this state is
    CONSTANT-sized, not merely bounded. The EM itself is pure integer
    arithmetic (micro-unit probabilities, exact integer products and
    rounded integer ratios), so the DuckDB oracle replays all
    ``FS_EM_ITERS`` rounds as a HUGEINT CTE chain and must match
    bit-for-bit — an exact oracle for an iterative EM fit."""
    cand = _snm_candidates(spark, sf_dir)
    pat = (
        cand.select(
            (F.col("toks_a") == F.col("toks")).alias("name_eq"),
            (F.col("brand_a") == F.col("p_brand")).alias("brand_eq"),
            (F.col("type_a") == F.col("p_type")).alias("type_eq"),
            (F.abs(F.col("size_a") - F.col("p_size")) <= FS_SIZE_BAND).alias(
                "size_close"
            ),
        )
        .groupBy("name_eq", "brand_eq", "type_eq", "size_close")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hist = [
        ((bool(r.name_eq), bool(r.brand_eq), bool(r.type_eq), bool(r.size_close)), int(r.n))
        for r in pat.collect()
    ]
    _, weights = _fs_em(hist, iters)
    rows = [
        (
            flags[0],
            flags[1],
            flags[2],
            flags[3],
            n,
            w,
            "link" if w >= 900_000 else ("non_link" if w <= 100_000 else "possible"),
        )
        for flags, n, w in weights
    ]
    return local_rows_df(
        spark,
        rows,
        "name_eq boolean, brand_eq boolean, type_eq boolean, size_close boolean, "
        "n_pairs long, posterior_e6 long, decision string",
    )
