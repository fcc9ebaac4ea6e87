"""Similarity search over embedding columns (SURVEY.md §2.3 X12 + north
star): brute-force cosine top-k as the exact baseline, and a sign-bit-LSH
bucketed variant as the scale path.

Shapes are chosen for a 100 TB corpus:
  - brute force broadcasts the (small) query set against the full corpus —
    a BroadcastNestedLoopJoin where the corpus side streams through one
    projection + TakeOrdered per query; exact, O(|Q|·N), the right baseline
    when |Q| is small;
  - the LSH variant equi-joins on a bucket key, reducing the candidate set
    by ~2^bits; recall is tunable via the number of sign bits (and, in a
    multi-probe extension, by also probing neighboring buckets).

All vector math is JVM-side Catalyst expressions (functions/vector.py) —
an Arrow-batched pandas_udf alternative is benchmarked in tests but the
expression form wins by staying inside whole-stage codegen.

The IVF design follows the published inverted-file ANN scheme (Jégou,
Douze, Schmid, "Product quantization for nearest neighbor search", TPAMI
2011 — the coarse-quantizer half, without PQ residual codes); sign-bit LSH
is the hyperplane-rounding family from Charikar (STOC 2002).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from .. import ledger
from ..functions.vector import cosine_expr, finite_norm_pred, sign_bucket_expr, stable_round
from ..tables import load_table, spread

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5


def _scored_pairs(emb: DataFrame, queries: DataFrame) -> DataFrame:
    return (
        broadcast(queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")))
        .join(spread(emb).select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v_emb")))
        .filter(F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            # stable_round, not round(): the cosine is per-row-deterministic
            # (in-order fold), so both engines see the same double and the
            # floor-form rounds it identically (round()'s halfway ties don't)
            F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine"),
        )
    )


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force ANN baseline: top-5 nearest neighbors by cosine for
    each of the 8 query vectors. Ranking uses the *rounded* cosine with a
    vec_id tiebreak so Spark and the DuckDB oracle rank identically."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.expr(finite_norm_pred("embedding")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid").asc())
    return (
        _scored_pairs(emb, queries)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "vid", "cosine", "rank")
    )


def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: candidates restricted to the query's sign-bit LSH
    bucket (8 hyperplane bits → ~2^8 bucket reduction), then exact cosine +
    top-3 within the bucket. At 100 TB the bucket join replaces the full
    scan; recall < 1 by design (measured against brute force in tests)."""
    emb = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .filter(F.expr(finite_norm_pred("embedding")))
        .withColumn("bucket", F.expr(sign_bucket_expr("embedding", 8)))
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid").asc())
    return (
        broadcast(queries)
        .join(
            emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v_emb"), "bucket"),
            F.col("q_bucket") == F.col("bucket"),
        )
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid", F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "vid", "cosine", "rank")
    )


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@3 of the sign-bit-LSH path
    against the exact brute-force top-3 — the measurement every approximate
    index needs before it replaces the exact scan in production (an ANN
    path without a recall harness is an unvalidated lossy filter). Returns
    (qid, n_exact, n_hits, recall); the corpus-level figure is the mean of
    ``recall`` over queries.

    Both sides reuse the registered operators, so this measures exactly
    what ships; the denominator is the exact side's row count (3 unless
    the filtered corpus is smaller). Deterministic because both rankings
    break cosine ties on vec_id — the oracle replays both formulations."""
    return _ann_recall_against(spark, sf_dir, similarity_lsh)


def ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall for the multi-probe LSH path — the shipped measurement of
    what the 9-bucket probe buys over single-bucket (its per-query recall
    can only be ≥ single-probe's: superset candidates, same ranking)."""
    return _ann_recall_against(spark, sf_dir, similarity_lsh_multiprobe)


def _ann_recall_against(spark: SparkSession, sf_dir: str, approx_fn) -> DataFrame:
    exact = similarity_topk(spark, sf_dir).filter(F.col("rank") <= 3).select("qid", "vid")
    approx = approx_fn(spark, sf_dir).select("qid", "vid", F.lit(1).alias("hit"))
    # one left join + one aggregation so the brute-force side (the expensive
    # O(|Q|·N) scorer) is computed exactly once in the plan
    return (
        exact.join(approx, ["qid", "vid"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            "qid",
            "n_exact",
            "n_hits",
            F.expr(stable_round("CAST(n_hits AS DOUBLE) / n_exact", 6)).alias("recall"),
        )
    )


LSH_BITS = 8


def similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query searches its own sign-bit bucket
    PLUS the 8 buckets at Hamming distance 1 (one hyperplane flipped) —
    the standard recall-raising refinement over single-bucket LSH (probe
    the buckets a near-miss vector most likely landed in, instead of
    adding independent hash tables). Candidate volume grows ~(bits+1)×
    while staying a bucket equi-join: the probe table explodes to 9 rows
    per query and broadcasts; the corpus side is untouched. Deterministic
    bucket arithmetic → exact oracle. Recall-vs-single-probe is asserted
    in tests (a superset of buckets can only add candidates)."""
    emb = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .filter(F.expr(finite_norm_pred("embedding")))
        .withColumn("bucket", F.expr(sign_bucket_expr("embedding", LSH_BITS)))
    )
    probe_list = "array(bucket, " + ", ".join(
        f"bucket ^ {1 << i}L" for i in range(LSH_BITS)
    ) + ")"
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.explode(F.expr(probe_list)).alias("probe_bucket"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid").asc())
    return (
        broadcast(queries)
        .join(
            emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v_emb"), "bucket"),
            F.col("probe_bucket") == F.col("bucket"),
        )
        .filter(F.col("qid") != F.col("vid"))
        # probe buckets are distinct by construction (distinct bit flips),
        # and each vector lives in one bucket — pairs are already unique
        .select("qid", "vid", F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "vid", "cosine", "rank")
    )


MRL_DIMS = 16  # matryoshka prefix: rank with the first 16 of 64 dims
MRL_SHORTLIST = 20  # full-dim re-rank depth


def similarity_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka funnel retrieval (Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS 2022 — the retrieval recipe from
    §4.3): MRL-trained embeddings keep their semantics in every prefix,
    so stage 1 ranks ALL candidates by the cosine of the first MRL_DIMS
    dims (4× less arithmetic and memory traffic per comparison — at
    100 TB the scan's cost is exactly proportional to the dims touched,
    and column pruning can't help inside one array column), keeps a
    MRL_SHORTLIST per query, and stage 2 re-ranks only the shortlist at
    full dimension. Both stages are JVM-side Catalyst folds; ranking
    uses rounded cosines + vec_id tiebreaks so the DuckDB oracle replays
    both stages exactly. Output schema matches the other ANN paths
    (qid, vid, cosine, rank) with full-dim cosines."""
    prefix = f"slice(embedding, 1, {MRL_DIMS})"
    emb = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .filter(F.expr(finite_norm_pred("embedding")))
        .filter(F.expr(finite_norm_pred(prefix)))
        .select("vec_id", "embedding", F.expr(prefix).alias("prefix"))
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("prefix").alias("q_prefix"),
    )
    w1 = Window.partitionBy("qid").orderBy(F.col("t_cosine").desc(), F.col("vid").asc())
    shortlist = (
        broadcast(queries)
        .join(
            emb.select(
                F.col("vec_id").alias("vid"),
                F.col("embedding").alias("v_emb"),
                F.col("prefix").alias("v_prefix"),
            )
        )
        .filter(F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            "q_emb",
            "v_emb",
            F.expr(stable_round(cosine_expr("q_prefix", "v_prefix"), 6)).alias("t_cosine"),
        )
        .withColumn("rank1", F.row_number().over(w1))
        .filter(F.col("rank1") <= MRL_SHORTLIST)
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid").asc())
    return (
        shortlist.select(
            "qid", "vid", F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("qid", "vid", "cosine", "rank")
    )


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall for the matryoshka funnel — what truncated-prefix
    shortlisting loses against exact full-dim brute force (recall < 1
    only when a true top-3 neighbor falls outside the 16-dim shortlist)."""
    return _ann_recall_against(spark, sf_dir, similarity_matryoshka)


def _lit_arr(vec: list[float]) -> str:
    """A list of driver-side floats as a Spark SQL array<double> literal.
    repr() round-trips doubles exactly, so the literal is bit-faithful."""
    return "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in vec) + ")"


def _unit(vec: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec] if n > 0 else list(vec)


def _cell_scores_sql(cents: list, col: str) -> str:
    """Per-row array of (cell, sim) structs sorted best-first, with the
    centroids embedded as LITERALS — cell scoring is a pure projection
    (map-only, zero shuffle, no join), the 100 TB shape for quantizer
    assignment. Centroids are pre-normalized on the driver so the score is
    a plain dot product: argmax_cell dot(v, ĉ) == argmax_cell cosine(v, c)
    for any v (the row norm is a shared positive factor)."""
    from ..functions.vector import dot_expr

    structs = ", ".join(
        f"named_struct('cell', {cell}, 'sim', {dot_expr(col, _lit_arr(_unit(c)))})"
        for cell, c in cents
    )
    return (
        f"array_sort(array({structs}), (a, b) -> CASE WHEN a.sim > b.sim THEN -1 "
        f"WHEN a.sim < b.sim THEN 1 WHEN a.cell < b.cell THEN -1 ELSE 1 END)"
    )


def _best_cell_sql(cents: list, col: str) -> str:
    return f"{_cell_scores_sql(cents, col)}[0].cell"


def _probe_cells_sql(cents: list, col: str, nprobe: int) -> str:
    return f"slice(transform({_cell_scores_sql(cents, col)}, s -> s.cell), 1, {nprobe})"


def _l2_cell_scores_sql(cents: list, col: str) -> str:
    """Per-row array of (cell, d) structs sorted best-first under L2,
    centroids as literals. d = |c|² − 2·dot(v, c) — the |v|² term is
    constant across cells for a given row, so argmin d == argmin L2²."""
    from ..functions.vector import dot_expr

    structs = ", ".join(
        f"named_struct('cell', {cell}, "
        f"'d', CAST({sum(x * x for x in c)!r} AS DOUBLE) - 2.0D * {dot_expr(col, _lit_arr(c))})"
        for cell, c in cents
    )
    return (
        f"array_sort(array({structs}), (a, b) -> CASE WHEN a.d < b.d THEN -1 "
        f"WHEN a.d > b.d THEN 1 WHEN a.cell < b.cell THEN -1 ELSE 1 END)"
    )


def _l2_best_cell_sql(cents: list, col: str) -> str:
    return f"{_l2_cell_scores_sql(cents, col)}[0].cell"


# --------------------------------------------------------------------------
# Integer-quantized deterministic k-means (round 7)
#
# Lloyd training over FLOAT vectors depends on Spark's partial-aggregation
# summation order (double addition is not associative), so the trained
# index differs in the last ulp between runs/partitionings and can NEVER be
# replayed by an independent engine. Quantizing each component ONCE to
# integer micro-units (a single per-value IEEE op, identical everywhere)
# makes every training step — L2² distances, argmin assignment, floor-mean
# centroid updates — exact 64-bit integer arithmetic: associative,
# partition-order-independent, bit-reproducible, and expressible in plain
# SQL. That buys (a) reproducible index builds at 1000-executor scale and
# (b) an exact DuckDB oracle for similarity_ivf / similarity_ivf_pq (the
# VERDICT r06 ask), with zero cost to the search path: final ranking still
# re-scores candidates with exact float cosine on the raw vectors.
#
# FAISS trains IVF coarse quantizers under L2 (Jégou et al. 2011 §III);
# the quantized metric here is L2² on micro-units, tie-broken on cell id.
# --------------------------------------------------------------------------

EMB_Q = 1_000_000  # micro-units: |x| ≤ ~0.53 → |xq| ≤ ~5.3e5; 64-dim L2² ≤ 7e13 « 2^63


def _xq_expr(col: str) -> str:
    """array<float> → array<bigint> micro-units: floor(x·1e6 + 0.5) — one
    multiply, one add, one floor, all per-value IEEE double ops that every
    engine evaluates identically (float32 promotes to double exactly)."""
    return f"transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"


def _int_l2_scores_sql(cents: list, col: str) -> str:
    """Per-row array of (cell, d) structs sorted by exact integer L2²
    (micro-units), tie-broken cell ASC. cents = [(cell, [int, ...])];
    centroids ride as bigint literals — map-only projection, no join."""
    structs = ", ".join(
        f"named_struct('cell', {cell}, "
        f"'d', aggregate(zip_with({col}, array({', '.join(str(v) + 'L' for v in c)}), "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v))"
        for cell, c in cents
    )
    return (
        f"array_sort(array({structs}), (a, b) -> CASE WHEN a.d < b.d THEN -1 "
        f"WHEN a.d > b.d THEN 1 WHEN a.cell < b.cell THEN -1 ELSE 1 END)"
    )


def _int_best_cell_sql(cents: list, col: str) -> str:
    return f"{_int_l2_scores_sql(cents, col)}[0].cell"


def _int_probe_cells_sql(cents: list, col: str, nprobe: int) -> str:
    return f"slice(transform({_int_l2_scores_sql(cents, col)}, s -> s.cell), 1, {nprobe})"


def _kmeans_centroids_q(embq: DataFrame, n_cells: int, iters: int) -> list:
    """Deterministic integer Lloyd over a (vec_id, xq: array<bigint>) frame:
    seeds are the vectors with vec_id < n_cells; assignment is exact-integer
    argmin L2² via the literal-centroid projection; the centroid update is
    the per-dimension FLOOR mean — floor(Σxq / n) computed as
    (s − pmod(s, n)) div n, exact at any partitioning. Same driver-side
    O(k·d) collect between iterations as _kmeans_centroids (breaks lineage
    growth); cells that lose all members drop out. Returns
    [(cell, [int centroid micro-units])], bit-identical on every run."""
    cents = [
        (int(r.vec_id), [int(x) for x in r.xq])
        for r in embq.filter(F.col("vec_id") < n_cells).select("vec_id", "xq").collect()
    ]
    for _ in range(iters):
        assigned = embq.withColumn("cell", F.expr(_int_best_cell_sql(cents, "xq")))
        new = (
            assigned.select("cell", F.posexplode("xq").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(named_struct("
                    "'pos', pos, 'm', (s - pmod(s, n)) div n))), t -> t.m)"
                ).alias("c")
            )
            .collect()
        )
        cents = sorted((int(r.cell), [int(x) for x in r.c]) for r in new)
    return cents


def build_ivf_index_q(
    emb: DataFrame, n_cells: int = 8, iters: int = 3, cache_key=None
) -> tuple:
    """build_ivf_index with the integer-quantized deterministic trainer —
    the path similarity_ivf / similarity_ivf_pq ship. Same corpus-pass
    economics (iters training passes + one assignment pass over the cached
    frame, all map-only literal-centroid projections); the assignment
    table additionally carries the quantized vector so probe-cell
    computation reuses it. Memoized like build_ivf_index."""
    full_key = (cache_key, "q", n_cells, iters) if cache_key is not None else None
    cache = _ivf_index(emb)
    if full_key is not None and full_key in cache:
        return cache.get(full_key)
    embq = emb.withColumn("xq", F.expr(_xq_expr("embedding"))).persist()
    cents = _kmeans_centroids_q(embq.select("vec_id", "xq"), n_cells, iters)
    assigned = embq.withColumn("cell", F.expr(_int_best_cell_sql(cents, "xq"))).persist()
    assigned.count()  # materialize the index; training cache no longer needed
    embq.unpersist()
    if full_key is not None:
        cache.put(full_key, (cents, assigned))
    return cents, assigned


def _kmeans_centroids(
    emb: DataFrame, n_cells: int, iters: int, metric: str = "cos"
) -> list:
    """Deterministic Lloyd k-means over an embedding DataFrame: seeds are
    the vectors with vec_id < n_cells; each iteration assigns every vector
    to its best cell via the literal-centroid projection (no join, no
    window — one codegen'd pass over the cached corpus) and recomputes
    per-dimension means. Centroids (k × d floats) are collected to the
    driver between iterations — O(k·d), not O(N) — which breaks the
    exponential lineage growth a pure-DataFrame loop would build. Returns
    [(cell, [centroid])]. Cells that lose all members drop out.

    ``metric``: 'cos' assigns by cosine (the IVF coarse quantizer), 'l2'
    by Euclidean distance (the PQ sub-quantizers — Jégou et al. train
    codebooks under L2).

    The caller is expected to persist() emb — each iteration re-reads it."""
    best = _best_cell_sql if metric == "cos" else _l2_best_cell_sql
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < n_cells).select("vec_id", "embedding").collect()
    ]
    for _ in range(iters):
        assigned = emb.withColumn("cell", F.expr(best(cents, "embedding")))
        new = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias("c"))
            .collect()
        )
        cents = sorted((int(r.cell), [float(x) for x in r.c]) for r in new)
    return cents


def _unpersist_index_entry(entry: tuple) -> None:
    """Release the persisted DataFrame of a cached index entry — entries
    are (centroids, assigned_df) for IVF and (coarse, books, subdim,
    encoded_df) for IVF-PQ; the DataFrame is the last element of both."""
    entry[-1].unpersist()


def _ivf_index(emb: DataFrame) -> ledger.Family:
    """The "ivf-index" ledger family of ``emb``'s session: (caller key,
    n_cells, iters, ...) → (centroids, persisted assignment DataFrame).
    The IVF index is TRAINED AND ASSIGNED ONCE and reused across query
    calls — the 'precomputed and persisted' posture a real deployment has,
    instead of rebuilding the quantizer per query."""
    return ledger.of(emb.sparkSession).family("ivf-index", release=_unpersist_index_entry)


def build_ivf_index(
    emb: DataFrame, n_cells: int = 8, iters: int = 3, cache_key=None
) -> tuple:
    """Train the coarse quantizer and materialize the cell-assignment table.

    Corpus passes: `iters` training passes over the CACHED embedding frame
    + one assignment pass, all map-only projections (literal centroids) —
    no BroadcastNestedLoopJoin, no per-row window. The assignment table is
    persisted and (with cache_key) memoized, so subsequent queries do
    probe + rank only. Without a cache_key (tests, ad-hoc calls) the
    persisted assignment lives until the session ends — short-lived
    processes; long-lived sessions should pass a cache_key so repeat calls
    share one copy."""
    full_key = (cache_key, n_cells, iters) if cache_key is not None else None
    cache = _ivf_index(emb)
    if full_key is not None and full_key in cache:
        return cache.get(full_key)
    emb = emb.persist()
    cents = _kmeans_centroids(emb, n_cells, iters)
    assigned = emb.withColumn("cell", F.expr(_best_cell_sql(cents, "embedding"))).persist()
    assigned.count()  # materialize the index; training cache no longer needed
    emb.unpersist()
    if full_key is not None:
        cache.put(full_key, (cents, assigned))
    return cents, assigned


def ivf_topk(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    iters: int = 3,
    cache_key=None,
) -> DataFrame:
    """IVF search core: probe each query's nprobe nearest cells (computed
    by the same literal-centroid projection — no join), exact cosine +
    top-k within the probed cells. The per-query path is: tiny probe table
    broadcast → hash equi-join on cell against the persisted assignment
    table → rank. No BNL, no corpus pass beyond the probed cells.

    Training and probing run on the integer-quantized index (deterministic
    and DuckDB-replayable, see build_ivf_index_q); ranking is exact float
    cosine on the raw vectors."""
    cents, assigned = build_ivf_index_q(emb, n_cells, iters, cache_key)
    probes = (
        assigned.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.explode(F.expr(_int_probe_cells_sql(cents, "xq", nprobe))).alias("cell"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid").asc())
    return (
        broadcast(probes)
        .join(
            assigned.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v_emb"), "cell"),
            "cell",
        )
        .filter(F.col("qid") != F.col("vid"))
        # each vector lives in exactly one cell and probe cells are distinct,
        # so (qid, vid) pairs are already unique — no dedup pass needed
        .select("qid", "vid", F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "cosine", "rank")
    )


def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic Lloyd k-means (seeds = first k vectors,
    3 iterations) as the coarse quantizer, nprobe=2 cells searched per
    query with exact cosine re-ranking. The index (centroids + persisted
    cell assignments) is built once per (session, sf_dir) and reused, so
    repeat calls are probe + rank only. Training runs in integer
    micro-units (build_ivf_index_q) — bit-reproducible at any partitioning
    and replayed exactly by the DuckDB oracle's unrolled-Lloyd CTE chain,
    so this carries a full exact-hash check despite being iterative.
    Recall is asserted on synthetic *clustered* data in tests (IVF's
    contract); the uniform driver embeddings have no cluster structure to
    exploit (within-label mean cosine ~0.009 vs cross-label ~-0.004)."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.expr(finite_norm_pred("embedding"))
    )
    return ivf_topk(emb, cache_key=sf_dir)


# --------------------------------------------------------------------------
# IVF-PQ (round 4): product quantization on top of the IVF coarse quantizer
# --------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_KS = 16  # codebook size per subspace (4-bit codes)


def _sub_expr(col: str, m: int, subdim: int) -> str:
    return f"slice({col}, {m * subdim + 1}, {subdim})"


def build_pq_index(
    emb: DataFrame, n_cells: int = 8, iters: int = 3, cache_key=None
) -> tuple:
    """Train the IVF-PQ index (Jégou, Douze, Schmid, TPAMI 2011): the IVF
    coarse quantizer for cell routing PLUS per-subspace L2 k-means
    codebooks, and materialize the encoded corpus — per vector its coarse
    cell, M sub-codes, and exact norm. This is the memory story of ANN at
    100 TB: a 64-dim float32 vector is 256 B, its PQ encoding is M=4 codes
    + one norm ≈ 12 B — a ~20× smaller candidate table to shuffle, cache,
    and scan during search; the codebooks (M × Ks × subdim floats) ride
    along as expression literals.

    Codebooks train on raw subvectors (the no-residual PQ variant; the
    IVFADC residual refinement changes the encoding pass, not the plan
    shape). Everything — training assignment, encoding, later ADC scoring
    — is literal-constant Catalyst projections: no BNL, no Python.

    Both the coarse quantizer and the M sub-codebooks train in integer
    micro-units (_kmeans_centroids_q): exact L2² assignment + floor-mean
    updates, bit-reproducible and replayed verbatim by the DuckDB oracle;
    ADC lookup tables dot the raw float query subvectors against the
    dequantized (cq/1e6) codewords."""
    key = (cache_key, "q", n_cells, iters, PQ_M, PQ_KS) if cache_key is not None else None
    cache = _ivf_index(emb)
    if key is not None and key in cache:
        return cache.get(key)
    dim = len(emb.select("embedding").first()["embedding"])
    if dim % PQ_M != 0:
        raise ValueError(f"embedding dim {dim} not divisible by PQ_M={PQ_M}")
    subdim = dim // PQ_M
    embq = emb.withColumn("xq", F.expr(_xq_expr("embedding"))).persist()
    coarse = _kmeans_centroids_q(embq.select("vec_id", "xq"), n_cells, iters)
    books = []
    for m in range(PQ_M):
        sub = embq.select("vec_id", F.expr(_sub_expr("xq", m, subdim)).alias("xq"))
        books.append(_kmeans_centroids_q(sub, PQ_KS, iters))
    codes = F.array(
        *[
            F.expr(_int_best_cell_sql(books[m], _sub_expr("xq", m, subdim)))
            for m in range(PQ_M)
        ]
    )
    from ..functions.vector import norm_expr

    encoded = embq.select(
        "vec_id",
        "embedding",
        "xq",
        F.expr(_int_best_cell_sql(coarse, "xq")).alias("cell"),
        codes.alias("codes"),
        F.expr(norm_expr("embedding")).alias("vnorm"),
    ).persist()
    encoded.count()  # materialize; training cache no longer needed
    embq.unpersist()
    index = (coarse, books, subdim, encoded)
    if key is not None:
        cache.put(key, index)
    return index


def ivf_pq_topk(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    rerank: int = 12,
    iters: int = 3,
    cache_key=None,
) -> DataFrame:
    """IVF-PQ search: route each query to its nprobe nearest coarse cells,
    score every candidate in those cells by the ADC approximation (per
    subspace, look the candidate's code up in the query's precomputed
    dot-product table; approx cosine = Σₘ lut_m[code_m] / (|q|·|v|)), keep
    the top ``rerank`` by approx score, then exact-cosine re-rank those to
    the final top-k — the standard refinement step, so PQ error affects
    which ~dozen candidates get exact scoring, not the returned ordering.

    The lookup tables are computed ONCE per query row (M arrays of Ks
    doubles against literal codebooks) and ride the broadcast probe table;
    candidate scoring is then M element_at + adds per pair — the
    16-byte-code economics that make PQ the 100 TB candidate-scoring
    path."""
    from ..functions.vector import dot_expr, norm_expr

    coarse, books, subdim, encoded = build_pq_index(emb, n_cells, iters, cache_key)
    luts = [
        F.expr(
            "array("
            + ", ".join(
                # codewords dequantized driver-side: cq/1e6 is one exact-int
                # → one IEEE divide, so the literal is the same double the
                # oracle's CAST(cq AS DOUBLE)/1e6 produces
                dot_expr(_sub_expr("embedding", m, subdim), _lit_arr([v / EMB_Q for v in c]))
                for _cell, c in books[m]
            )
            + ")"
        ).alias(f"lut{m}")
        for m in range(PQ_M)
    ]
    probes = encoded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.expr(norm_expr("embedding")).alias("qnorm"),
        *luts,
        F.explode(F.expr(_int_probe_cells_sql(coarse, "xq", nprobe))).alias("cell"),
    )
    # codes index into the codebook's cell ids; cells can drop out during
    # training, so map code -> position in the literal array via the sorted
    # id list per subspace
    code_pos = [
        "CASE codes[%d] %s END"
        % (m, " ".join(f"WHEN {cell} THEN {i + 1}" for i, (cell, _c) in enumerate(books[m])))
        for m in range(PQ_M)
    ]
    approx = " + ".join(f"element_at(lut{m}, {code_pos[m]})" for m in range(PQ_M))
    wa = Window.partitionBy("qid").orderBy(F.col("approx_cosine").desc(), F.col("vid").asc())
    we = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid").asc())
    return (
        broadcast(probes)
        .join(
            encoded.select(
                F.col("vec_id").alias("vid"),
                F.col("embedding").alias("v_emb"),
                "cell",
                "codes",
                "vnorm",
            ),
            "cell",
        )
        .filter(F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            "q_emb",
            "v_emb",
            F.expr(stable_round(f"({approx}) / (qnorm * vnorm)", 6)).alias("approx_cosine"),
        )
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= rerank)
        .select(
            "qid",
            "vid",
            "approx_cosine",
            F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "cosine", "approx_cosine", "rank")
    )


def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN over the embeddings table: coarse-cell routing + product-
    quantized ADC candidate scoring + exact top-k re-rank (see ivf_pq_topk).
    Index built once per (session, sf_dir) and reused. Coarse quantizer and
    sub-codebooks train in integer micro-units — deterministic and replayed
    exactly by the DuckDB oracle (unrolled Lloyd per subspace), so the
    driver check is a full exact hash despite the iterative training. ADC
    error and recall-vs-bruteforce are asserted in tests (on clustered
    synthetic data, where the index has structure to exploit, and on the
    uniform driver embeddings for the error bound)."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.expr(finite_norm_pred("embedding"))
    )
    return ivf_pq_topk(emb, cache_key=(sf_dir, "pq"))


# hard-negative mining knobs: top-K negatives per anchor; candidates with
# cosine >= HN_DUP_T are treated as suspected unlabeled duplicates of the
# anchor (too similar to be a useful — or trustworthy — negative) and
# excluded, the standard contrastive-mining hygiene step
HN_K = 3
HN_DUP_T = 0.98


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data mining: for each anchor (the query
    vectors), the HN_K most-similar CROSS-LABEL vectors — the "hard
    negatives" a contrastive or reranker training loop wants — after
    excluding suspected unlabeled duplicates (cosine ≥ HN_DUP_T), plus
    the anchor's hardest same-label positive and the positive-negative
    margin. A small (or negative) margin flags anchors whose label
    neighborhood is entangled — exactly the examples curriculum/mining
    schedules prioritize.

    Plan shape: one broadcast of the anchor set against the corpus scan
    (the similarity_topk skeleton), one window per anchor, one tiny
    per-anchor max join-back. At 100 TB the corpus side streams through a
    single projection; to avoid the full scan entirely, swap the scored
    candidate source for the IVF shortlist (ivf_topk) and keep the same
    exclusion + margin logic — the ann_recall harness pattern then
    measures what the shortlist loses. Deterministic: rounded cosines
    with vec_id tie-breaks, margins as differences of identically-rounded
    doubles — exact DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.expr(finite_norm_pred("embedding"))
    )
    anchors = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        broadcast(anchors)
        .join(
            spread(emb).select(
                F.col("vec_id").alias("vid"),
                F.col("embedding").alias("v_emb"),
                F.col("label").alias("v_label"),
            )
        )
        .filter(F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            "q_label",
            "v_label",
            F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid").asc())
    negatives = (
        scored.filter(
            (F.col("v_label") != F.col("q_label")) & (F.col("cosine") < HN_DUP_T)
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HN_K)
    )
    hardest_pos = (
        scored.filter(F.col("v_label") == F.col("q_label"))
        .groupBy("qid")
        .agg(F.max("cosine").alias("hardest_pos"))
    )
    return (
        negatives.join(broadcast(hardest_pos), "qid", "left")
        .select(
            "qid",
            "vid",
            "cosine",
            "rank",
            F.coalesce("hardest_pos", F.lit(-1.0)).alias("hardest_pos"),
            F.expr(
                stable_round("coalesce(hardest_pos, -1.0D) - cosine", 6)
            ).alias("margin"),
        )
    )


def retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: per-query reciprocal rank of the TRUE
    nearest neighbor (brute-force rank-1) inside the LSH candidate
    ranking — MRR is the metric retrieval/RAG stacks report alongside
    recall@k, and unlike NDCG its arithmetic is RATIONAL (1/rank in
    floor-micro units), so the oracle is exact with no libm log anywhere
    (the PSI→χ² rationale from streaming/drift.py applied to ranking).

    Output (qid, true_vid, rank_in_approx, rr_e6): rank 0 / rr 0 when the
    LSH bucket missed the true neighbor entirely — the corpus MRR is
    avg(rr_e6)/1e6 over queries. Both rankings tie-break on vec_id, so
    every row is deterministic. Scale shape: the truth side is the
    ann_recall harness's exact baseline (at 100 TB: a sampled query set);
    the approx side ranks only the query's LSH bucket."""
    emb = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .filter(F.expr(finite_norm_pred("embedding")))
        .withColumn("bucket", F.expr(sign_bucket_expr("embedding", 8)))
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    truth = (
        _scored_pairs(emb, emb.filter(F.col("vec_id") < N_QUERIES))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("cosine").desc(), F.col("vid").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("qid", F.col("vid").alias("true_vid"))
    )
    approx_ranked = (
        broadcast(queries)
        .join(
            emb.select(
                F.col("vec_id").alias("vid"),
                F.col("embedding").alias("v_emb"),
                "bucket",
            ),
            F.col("q_bucket") == F.col("bucket"),
        )
        .filter(F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            F.expr(stable_round(cosine_expr("q_emb", "v_emb"), 6)).alias("cosine"),
        )
        .withColumn(
            "arank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("cosine").desc(), F.col("vid").asc()
                )
            ),
        )
    )
    return (
        truth.join(
            approx_ranked.select(
                F.col("qid").alias("a_qid"),
                F.col("vid").alias("a_vid"),
                "arank",
            ),
            (F.col("qid") == F.col("a_qid")) & (F.col("true_vid") == F.col("a_vid")),
            "left",
        )
        .select(
            "qid",
            "true_vid",
            F.coalesce("arank", F.lit(0)).cast("long").alias("rank_in_approx"),
        )
        .withColumn(
            "rr_e6",
            F.expr(
                "CAST(CASE WHEN rank_in_approx = 0 THEN 0 "
                "ELSE floor(1e6 / rank_in_approx + 0.5) END AS BIGINT)"
            ),
        )
    )
