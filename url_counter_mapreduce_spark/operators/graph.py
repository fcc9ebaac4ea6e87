"""Duplicate-cluster resolution: connected components over the near-dup
pair graph. Pairwise dedup (dedup_minhash_pairs) finds EDGES; an actual
corpus dedup pass must resolve them into CLUSTERS (A~B, B~C ⇒ {A,B,C} keep
one representative) — transitive closure, which no single join expresses.

Implemented as iterative min-label propagation on DataFrames: each round
every node takes the min label among itself and its neighbors; fixpoint in
O(diameter) rounds. Near-dup cluster diameters are tiny (dups of dups of a
common source), so convergence is fast; iterations are driver-controlled
with per-round persist + count (the count is simultaneously the
materialization barrier and the convergence check) and lineage truncation
via localCheckpoint so the plan doesn't grow per round. At real scale the
same loop holds — the per-round cost is one join + one aggregate on the
EDGE set (candidates, not corpus); the large-star/small-star alternative
(Kiveris et al., "Connected components in MapReduce and beyond", SoCC
2014) is implemented below as connected_components_star — equivalence-
tested and A/B-measured (tools/bench_variants.py); the propagation form
stays the default because near-dup graphs have tiny diameters, where its
fewer/cheaper rounds win, and both are shuffle-proportional to the dup
graph, not the corpus.

Deterministic end state (min doc_id of the component) → exact DuckDB
oracle via a recursive CTE over the same edge set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ledger
from ..ledger import checkpoint, scoped_conf
from ..tables import load_table
from .dedup import _verified_pairs_for


def _fixed_plan_loop(spark: SparkSession, anchor: DataFrame):
    """Disable AQE around a fixed-size iteration loop (optimization r14,
    guide §2.2: AQE is per-stage-job overhead on tiny iterations).

    Each eagerly-checkpointed round under AQE runs one scheduler JOB per
    adaptive stage materialization — host_hits spent 49 jobs/call, ~50-70 ms
    of fixed driver cost each, on ~1 s of executor work. With AQE off the
    same rounds plan statically: 19 jobs/call, measured 3.08 → 2.22 s
    (host_hits) and 2.18 → 1.55 s (host_pagerank) at sf0.1 in an
    interleaved same-session A/B.

    The static shuffle partition count for the loop's joins/aggregates is
    derived from ``anchor`` — the loop's eagerly-checkpointed edge frame,
    whose partition count IS AQE's bytes-derived coalescing decision for
    this graph (1 at sf0.1, ~bytes/64MB at 100 TB) — floored by
    SPARK_GRAFT_GRAPH_LOOP_PARTITIONS (default 4; a local-mode idle-cores
    floor that is irrelevant at scale where the derived count dominates).
    Conf-only and restored on exit: the loop's arithmetic, and therefore
    every oracle hash, is untouched."""
    floor = int(os.environ.get("SPARK_GRAFT_GRAPH_LOOP_PARTITIONS", "4"))
    parts = max(anchor.rdd.getNumPartitions(), floor, 1)
    return scoped_conf(
        spark,
        {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": str(parts)},
    )

# with pointer halving each round roughly halves remaining path lengths:
# 50 rounds covers components of astronomically large diameter; hitting the
# cap indicates a genuine bug, not long input chains
MAX_CC_ITERS = 50

# Edge sets at or under this size are resolved with a driver-side
# union-find instead of the iterative DataFrame loop — the connected-
# components analog of the broadcast-join threshold. 1M (doc_a, doc_b)
# long pairs is ~16 MB on the driver; the union-find with path
# compression is effectively linear, and the resulting label table
# broadcasts back for the singleton-attach join. A verified near-dup
# graph is shuffle/collect ∝ DUPLICATE PAIRS, not corpus size, so even
# 100 TB corpora commonly fit this path; boilerplate-heavy corpora that
# blow past it fall through to the distributed propagation loop, whose
# per-round cost stays ∝ the edge set.
CC_COLLECT_MAX_EDGES = 1_000_000


def _unionfind_labels(doc_a, doc_b):
    """Union-find with path compression over two int64 numpy arrays (the
    Arrow-collected edge columns) → (ids, group_ids) numpy arrays covering
    every node that appears in an edge. Roots are the component minima by
    construction: np.unique sorts, so index order equals doc_id order and
    the smaller-index root always absorbs the larger — matching the
    distributed loop's min-label fixpoint exactly.

    Memory at the 1M-edge gate: ids/parent are flat int64 arrays (~16 MB
    for 2M nodes) plus two transient Python index lists for the union loop
    — NOT 1M PySpark Row objects + a 2M-entry dict (~100 B/entry), which
    near the gate would pressure a 4g test driver."""
    import numpy as np

    ids = np.unique(np.concatenate([doc_a, doc_b]))
    # list-of-int indices: plain-list indexing is the fastest hot loop
    # available without a compiled extension
    ai = np.searchsorted(ids, doc_a).tolist()
    bi = np.searchsorted(ids, doc_b).tolist()
    parent = list(range(len(ids)))

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(ai, bi):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # vectorized final compression: pointer-jump to fixpoint (≤ log2 n
    # rounds thanks to path compression above)
    p = np.asarray(parent, dtype=np.int64)
    while True:
        pp = p[p]
        if np.array_equal(pp, p):
            break
        p = pp
    return ids, ids[p]


def connected_components(
    nodes: DataFrame, edges: DataFrame, collect_max_edges: int = CC_COLLECT_MAX_EDGES
) -> DataFrame:
    """(doc_id) nodes + (doc_a, doc_b) undirected edges → (doc_id, group_id)
    where group_id = min doc_id reachable. Singletons keep their own id.

    Two physical strategies behind one contract, chosen by the MEASURED
    edge count (one cheap count on the checkpointed edge set):
    - edge set ≤ ``collect_max_edges``: driver union-find + broadcast-back
      (see CC_COLLECT_MAX_EDGES) — a handful of milliseconds where the
      iterative loop pays many shuffle stages of fixed overhead.
    - larger: iterative min-label propagation with pointer halving. The
      loop runs ONLY over nodes that appear in an edge: on a real corpus
      the dup graph is orders of magnitude smaller than the node set, so
      iterating over all nodes would shuffle the whole corpus once per
      round for no reason.
    Singletons are attached at the end with one left join + coalesce
    (their label is trivially their own id)."""
    edges = edges.select("doc_a", "doc_b").transform(checkpoint, eager=False)
    if edges.count() <= collect_max_edges:
        # Arrow-batched collect: two int64 columns (~16 MB at the gate), not
        # a list of Row objects (~100+ B each)
        pdf = edges.toPandas()
        import pandas as pd

        ids, gids = _unionfind_labels(
            pdf["doc_a"].to_numpy(dtype="int64"), pdf["doc_b"].to_numpy(dtype="int64")
        )
        spark = nodes.sparkSession
        labels = spark.createDataFrame(
            pd.DataFrame({"doc_id": ids, "group_id": gids}),
            schema="doc_id long, group_id long",
        )
        return (
            nodes.select("doc_id")
            .join(
                F.broadcast(labels.withColumnRenamed("doc_id", "_lbl_id")),
                nodes.doc_id == F.col("_lbl_id"),
                "left",
            )
            .select("doc_id", F.coalesce("group_id", F.col("doc_id")).alias("group_id"))
        )
    return _connected_components_distributed(nodes, edges)


def _connected_components_distributed(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Iterative min-label propagation with pointer halving — the scale
    path behind connected_components for edge sets too large to collect."""
    sym = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    touched = sym.select(F.col("src").alias("doc_id")).distinct()
    # self-loop per touched node folds the node's OWN label into the
    # neighborhood min, so each round's new label is one aggregate over the
    # edge relation — no separate "least(own, neighbor-min)" left join
    symplus = sym.union(
        touched.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst"))
    ).transform(checkpoint)
    labels = touched.select("doc_id", F.col("doc_id").alias("group_id"))
    prev_sig: tuple | None = None
    for _ in range(MAX_CC_ITERS):
        stepped = (
            symplus.join(labels, symplus.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("group_id").alias("gid"))
            .withColumnRenamed("src", "doc_id")
        )
        # pointer halving: label(v) ← min(label(v), label(label(v))) — labels
        # chase their own parents one hop per round, so a length-d dup chain
        # converges in O(log d) rounds instead of O(d) (the practical core of
        # the alternating-algorithm family; a plain neighbor-min loop would
        # hard-fail on 20+-deep edit chains)
        parents = stepped.select(F.col("doc_id").alias("p_id"), F.col("gid").alias("p_gid"))
        halved = stepped.join(parents, F.col("gid") == F.col("p_id"), "left").select(
            "doc_id",
            F.least(F.col("gid"), F.coalesce("p_gid", F.col("gid"))).alias("group_id"),
        )
        # non-eager checkpoint: the convergence aggregate below is the ONLY
        # action per round — it materializes this round's labels (truncating
        # lineage for the next round) and reads the convergence signature in
        # the same job, vs. the two jobs of an eager checkpoint + count.
        labels = halved.transform(checkpoint, eager=False)
        # labels are monotone non-increasing (the neighborhood min includes
        # self), so Σ(group_id) strictly decreases whenever ANY node changed:
        # an unchanged (count, sum) pair across a round proves the fixpoint —
        # no old-vs-new comparison column, no extra count job
        row = labels.agg(
            F.count(F.lit(1)).alias("n"), F.sum("group_id").alias("s")
        ).first()
        sig = (row["n"], row["s"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {MAX_CC_ITERS} rounds")
    return (
        nodes.select("doc_id")
        .join(labels.withColumnRenamed("doc_id", "_lbl_id"), nodes.doc_id == F.col("_lbl_id"), "left")
        .select("doc_id", F.coalesce("group_id", F.col("doc_id")).alias("group_id"))
    )


def dedup_groups(
    spark: SparkSession, sf_dir: str, bucket_cap: int | str | None = "auto"
) -> DataFrame:
    """Near-duplicate clusters over the whole corpus: every document labeled
    with its cluster representative (min doc_id connected via MinHash-LSH-
    verified Jaccard ≥ 0.5 edges); singletons label themselves. This is the
    operator whose output actually drives deletion: keep rows where
    doc_id = group_id. Edges come from the shared per-(session, corpus)
    signature index, so pair mining here never re-hashes the corpus.
    ``bucket_cap`` defaults to ``"auto"`` — the measured cost trigger
    (operators/skew_guard.py) engages the LSH bucket-size skew guard only
    when the banded join's candidate fan-out exceeds 64× its input rows,
    so oracle-scale corpora stay exact while boilerplate/clone-heavy
    corpora self-defend; capping only prunes edges WITHIN oversize
    buckets, and cluster membership survives as long as any small-bucket
    path connects the docs. The same default keeps this operator sharing
    one cached pair table with dedup_minhash_pairs (the cache is keyed on
    the knob)."""
    docs = load_table(spark, sf_dir, "documents")
    edges = _verified_pairs_for(spark, sf_dir, 0.5, bucket_cap=bucket_cap).select(
        "doc_a", "doc_b"
    )
    return connected_components(docs.select("doc_id"), edges)


def connected_components_star(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected components in MapReduce and beyond", SoCC 2014) — the
    published refinement the default label-propagation loop's docstring
    points at, kept as a measured VARIANT beside it
    (tools/bench_variants.py; equivalence-tested in tests).

    Each round rewrites the EDGE SET itself (two groupBy-min + re-emit
    passes) instead of propagating labels over a static edge set:
    large-star hangs every neighbor larger than u off u's minimum
    neighbor; small-star re-hangs the smaller neighborhood. Endpoints
    only ever decrease, components contract toward stars rooted at their
    minima in O(log²) rounds. The practical difference vs the default: the
    shuffled relation SHRINKS as chains collapse (good when the dup graph
    has long chains / big components), at the cost of two aggregates per
    round instead of one join — on near-dup graphs (tiny diameters) the
    default's fewer, cheaper rounds win; both are shuffle ∝ edge set.
    Measured (sf0.1 verified-pair graph, local[32], best of 3):
    propagation 1.19 s vs star 1.52 s — the default stays the default.

    Fixpoint detection: endpoints never increase, so the (edge count,
    Σ(u+v)) pair strictly decreases in sum whenever anything changed at
    equal count — equality of the pair across a round proves convergence
    (one tiny aggregate per round, no set-difference join)."""
    e = (
        edges.select(
            F.col("doc_a").cast("long").alias("u"), F.col("doc_b").cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(checkpoint)
    )
    prev: tuple | None = None
    for _ in range(MAX_CC_ITERS):
        # large-star: m = min over full neighborhood ∪ self; (v, m) for v > u
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.union(sym.select("u", F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: direct every edge to its smaller endpoint, m = min of
        # that in-neighborhood ∪ self; re-hang neighborhood and u on m
        d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins2 = (
            d.union(d.select("u", F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        e = (
            d.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(checkpoint)
        )
        row = e.agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("u") + F.col("v")).alias("s")).first()
        sig = (row["n"], row["s"])
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(f"connected_components_star did not converge in {MAX_CC_ITERS} rounds")
    labels = e.select(F.col("u").alias("_lbl_id"), F.col("v").alias("group_id"))
    return (
        nodes.select("doc_id")
        .join(labels, nodes.doc_id == F.col("_lbl_id"), "left")
        .select("doc_id", F.coalesce("group_id", F.col("doc_id").cast("long")).alias("group_id"))
    )


# ---------------------------------------------------------------------------
# Host-graph PageRank — the URL-authority pass of web-corpus curation
# (crawl frontiers and corpus quality weights both rank domains by link
# authority; Common Crawl publishes exactly this artifact as its host-level
# ranking). Nodes are normalized hosts (the url_host_stats normalization),
# edges are consecutive-host adjacencies within a document (the flagship
# fixture's URL-token stream), and the rank is PR_ITERS rounds of damped
# power iteration.
#
# Exactness across engines: edge weights and out-degrees are exact
# integers; each iteration's rank is re-quantized to 9 dp (stable floor
# rounding) in BOTH engines, clamping the order-dependent float-sum drift
# every round instead of letting it compound over iterations. Dangling-node
# mass is dropped (the simplified PageRank variant) — a deterministic,
# SQL-replayable choice, documented here.
# ---------------------------------------------------------------------------

PR_ITERS = 8
PR_DAMPING = 0.85
PR_TOP = 50


def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PR_TOP hosts by damped PageRank over the within-document host
    adjacency graph. Driver-controlled iteration (the CC/BPE pattern): the
    edge table — with out-degree attached — is built once, checkpointed,
    and reused every round; each round is ONE join + ONE aggregate keyed on
    the node id, shuffle ∝ edges (hosts, not corpus). The DuckDB oracle
    replays all PR_ITERS rounds as generated unrolled CTE stages."""
    from ..functions.vector import stable_round
    from .text import URL_HOST_RE

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(coalesce(text, ''), ' '), x -> x != '')").alias("toks")
    )
    hosts = toks.select(
        F.transform(
            "toks",
            lambda t: F.coalesce(
                F.nullif(F.regexp_extract(F.lower(t), URL_HOST_RE, 1), F.lit("")),
                F.lower(t),
            ),
        ).alias("hosts")
    ).transform(checkpoint, eager=False)
    pairs = (
        hosts.filter(F.expr("size(hosts) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(hosts) - 2),"
                    " i -> named_struct('src', hosts[i], 'dst', hosts[i + 1]))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    edges = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("w"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    e = edges.join(outw, "src").transform(checkpoint)  # built once, reused PR_ITERS times
    nodes = (
        hosts.select(F.explode("hosts").alias("host")).distinct().transform(checkpoint)
    )
    n_nodes = nodes.count()
    # Integer nano-unit ranks (r = R / 1e9) with PER-EDGE quantization:
    # each edge contributes w · (R·1000 div outw) — BIGINT floor division,
    # so every accumulator is an exact integer and the round's sum is
    # order-independent. (A double sum re-quantized to 9 dp — the previous
    # formulation — diverges between engines when a sum lands within an
    # ulp of a floor boundary; integers cannot.) Bounds: R·1000 ≤ 1e12 and
    # w ≤ outw give per-edge c ≤ 1e12; the per-node sum is accumulated as
    # DECIMAL(38,0) (DuckDB: HUGEINT), overflow-free to ~1e38. Only the
    # final damped update touches doubles, on identical integer inputs.
    import math

    base_nano = (1.0 - PR_DAMPING) / n_nodes * 1e9
    r0 = int(math.floor(1e9 / n_nodes + 0.5))
    ranks = nodes.withColumn("R", F.lit(r0).cast("long"))
    with _fixed_plan_loop(spark, e):
        for it in range(PR_ITERS):
            contrib = (
                e.join(ranks.withColumnRenamed("host", "src"), "src")
                .select(
                    "dst",
                    F.expr("CAST(w * (R * 1000L DIV outw) AS DECIMAL(38,0))").alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            ranks = nodes.join(
                contrib.withColumnRenamed("dst", "host"), "host", "left"
            ).select(
                "host",
                F.expr(
                    f"CAST(floor({base_nano!r}D + {PR_DAMPING!r}D"
                    " * (CAST(coalesce(s, CAST(0 AS DECIMAL(38,0))) AS DOUBLE) / 1e3)"
                    " + 0.5) AS BIGINT)"
                ).alias("R"),
            )
            # checkpoint every SECOND round: two joins+aggregates per job
            # keeps the plan shallow while halving the fixed per-job cost
            # that dominates iterative graph passes (identical arithmetic —
            # the checkpoint cadence is physical only)
            if it % 2 == 1 or it == PR_ITERS - 1:
                ranks = ranks.transform(checkpoint)
    return (
        ranks.select(
            "host", F.expr(stable_round("CAST(R AS DOUBLE) / 1e9", 6)).alias("rank")
        )
        .orderBy(F.col("rank").desc(), F.col("host").asc())
        .limit(PR_TOP)
    )


def host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the undirected within-document host adjacency
    graph — the clustering-structure statistic of web-graph analysis
    (spam farms and mirror clusters show up as anomalous triangle
    density). One summary row: nodes, undirected edges, triangles.

    Algorithm: degree-ordered edge orientation (the standard distributed
    triangle count). Every undirected edge is oriented from the endpoint
    that is SMALLER under the total order (degree, host) to the larger;
    each triangle then has exactly one source vertex with two outgoing
    oriented edges, so `oriented ⋈ oriented` on the source + one
    membership join on the closing edge counts every triangle once.
    Orientation bounds out-degree by O(sqrt(edges)) on skewed graphs —
    the hub host with degree 10^6 contributes paths by its LOW-degree
    neighbors' fan-out, not its own square. Shuffles are all equi-joins
    keyed on host; no global sort, no driver materialization."""
    return triangle_census(_host_undirected_edges(spark, sf_dir))


def _host_undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected host adjacency edges (a < b, distinct,
    non-eagerly checkpointed): the shared edge build behind
    host_triangles and host_degree_histogram — same host normalization as
    host_pagerank's weighted directed build. The checkpoint matters:
    consumers fan the edge set into multiple plan branches (degree
    union, wedge self-join), and without truncation each branch would
    re-run the corpus explode+distinct."""
    from .text import URL_HOST_RE

    docs = load_table(spark, sf_dir, "documents")
    hosts = docs.select(
        F.expr(
            "transform(filter(split(coalesce(text, ''), ' '), x -> x != ''),"
            f" t -> coalesce(nullif(regexp_extract(lower(t), '{URL_HOST_RE}', 1), ''),"
            " lower(t)))"
        ).alias("hosts")
    )
    return (
        hosts.filter(F.expr("size(hosts) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(hosts) - 2),"
                    " i -> named_struct('a', least(hosts[i], hosts[i + 1]),"
                    "                   'b', greatest(hosts[i], hosts[i + 1])))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(checkpoint, eager=False)
    )


def triangle_census(und: DataFrame) -> DataFrame:
    """Degree-ordered triangle count over a canonical undirected edge set
    (columns a < b, distinct). Split out from host_triangles so the
    counting core is property-testable against brute force on arbitrary
    graphs."""
    deg = (
        und.select(F.col("a").alias("h"))
        .unionAll(und.select(F.col("b").alias("h")))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    withdeg = (
        und.join(deg.withColumnRenamed("h", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("h", "b").withColumnRenamed("deg", "db"), "b")
    )
    lt = "(da < db) OR (da = db AND a < b)"
    oriented = withdeg.select(
        F.expr(f"IF({lt}, a, b)").alias("u"),
        F.expr(f"IF({lt}, b, a)").alias("v"),
    ).transform(checkpoint, eager=False)
    e2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    # each unordered wedge pair appears twice in the self-join; keep the
    # lexicographic half, which is exactly the (a, b) canonical form of the
    # closing edge — so the membership join probes `und` directly
    wedges = oriented.join(e2, F.col("u") == F.col("u2")).filter(F.col("v") < F.col("w"))
    tri = wedges.join(und, (F.col("v") == F.col("a")) & (F.col("w") == F.col("b")))
    from ..tables import scalar_join

    return scalar_join(
        scalar_join(
            tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")),
            und.agg(F.count(F.lit(1)).cast("long").alias("n_edges")),
        ),
        deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")),
    ).select("n_nodes", "n_edges", "n_triangles")


def host_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the undirected host adjacency graph: how many
    hosts have each degree — the one-glance skew diagnostic that decides
    whether the triangle/CC passes need the degree-ordered and salted
    variants. Shares _host_undirected_edges with host_triangles (the
    checkpoint keeps the degree unionAll from re-running the corpus
    explode+distinct per branch); two cheap aggregates after it."""
    und = _host_undirected_edges(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("h"))
        .unionAll(und.select(F.col("b").alias("h")))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return deg.groupBy("deg").agg(F.count(F.lit(1)).cast("long").alias("n_hosts"))


KHOP_K = 3  # BFS radius; each hop is one equi-join + one anti-join


def host_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability: minimum hop distance (≤ KHOP_K) from the seed
    set (hosts starting with 'a') over the directed within-document host
    adjacency graph — the neighborhood-expansion primitive behind crawl
    frontier scheduling and graph feature extraction.

    Driver-controlled BFS (the PageRank/CC pattern): the distinct edge
    table is checkpointed once; each hop is ONE equi-join frontier→edges
    plus ONE left-anti against the visited set, so a host's distance is
    fixed the first time it is reached (= the minimum) and the frontier
    never re-expands settled nodes. Shuffle per hop ∝ frontier-adjacent
    edges, not the graph. The DuckDB oracle walks the same graph with a
    depth-bounded recursive CTE and takes MIN(d) — independent
    formulations of BFS layering."""
    return khop_bfs_visited(spark, sf_dir, KHOP_K)


def khop_bfs_visited(spark: SparkSession, sf_dir: str, max_hops: int) -> DataFrame:
    """Shared frontier/anti-join BFS core behind host_khop and
    sql_recursive_surface: (host, hops) = min hop distance ≤ max_hops from
    the 'a%' seed hosts over the directed within-document host graph.
    Scale-safe by construction — each node is expanded exactly once, so
    cost is edges-adjacent-to-frontier per hop, never path enumeration."""
    from .text import URL_HOST_RE

    docs = load_table(spark, sf_dir, "documents")
    hosts = (
        docs.select(F.expr("filter(split(coalesce(text, ''), ' '), x -> x != '')").alias("toks"))
        .select(
            F.transform(
                "toks",
                lambda t: F.coalesce(
                    F.nullif(F.regexp_extract(F.lower(t), URL_HOST_RE, 1), F.lit("")),
                    F.lower(t),
                ),
            ).alias("hosts")
        )
        .transform(checkpoint, eager=False)
    )
    edges = (
        hosts.filter(F.expr("size(hosts) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(hosts) - 2),"
                    " i -> named_struct('src', hosts[i], 'dst', hosts[i + 1]))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(checkpoint)  # built once, probed KHOP_K times
    )
    nodes = hosts.select(F.explode("hosts").alias("host")).distinct()
    frontier = nodes.filter(F.col("host").startswith("a")).select(
        "host", F.lit(0).alias("hops")
    ).transform(checkpoint)
    visited = frontier
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.host == edges.src)
            .select(F.col("dst").alias("host"))
            .distinct()
            .join(visited, "host", "left_anti")
            .select("host", F.lit(k).alias("hops"))
            .transform(checkpoint)
        )
        visited = visited.unionAll(nxt).transform(checkpoint, eager=False)
        frontier = nxt
    return visited.select("host", F.col("hops").cast("int").alias("hops"))


JACCARD_HUB_CAP = 256  # wedge centers above this degree are skipped (see doc)
JACCARD_MIN = 0.2
JACCARD_TOP = 100


def host_similar_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-pair neighborhood similarity: Jaccard of the undirected
    adjacency sets, for pairs sharing at least one neighbor — the
    co-citation mirror/alias detector of web-graph curation (two hosts
    linked from the same pages are usually mirrors, CDNs, or the same
    site under two names). Top-JACCARD_TOP pairs with J >= JACCARD_MIN.

    Scale shape: common-neighbor pairs come from the wedge self-join on
    the center vertex, whose cost is sum(deg(n)^2). Centers with deg >
    JACCARD_HUB_CAP are excluded from wedge generation BY SPECIFICATION
    (a directory hub linking everything asserts no similarity between its
    10^6 spokes; keeping it costs 10^12 wedges) — degrees in the Jaccard
    denominator stay uncapped. The oracle replays the identical cap, so
    the gate is exact. Everything else is equi-joins keyed on host; the
    shared checkpointed edge build (_host_undirected_edges) is reused."""
    from ..functions.vector import stable_round

    und = _host_undirected_edges(spark, sf_dir)
    sym = und.select(F.col("a").alias("h"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("h"), F.col("a").alias("n"))
    )
    deg = sym.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    centers = deg.filter(F.col("deg") <= JACCARD_HUB_CAP).select(F.col("h").alias("n"))
    symc = sym.join(centers, "n")
    e2 = symc.select(F.col("h").alias("h2"), F.col("n").alias("n"))
    inter = (
        symc.join(e2, "n")
        .filter(F.col("h") < F.col("h2"))
        .groupBy(F.col("h").alias("x"), F.col("h2").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    withdeg = inter.join(
        deg.select(F.col("h").alias("x"), F.col("deg").alias("dx")), "x"
    ).join(deg.select(F.col("h").alias("y"), F.col("deg").alias("dy")), "y")
    jac = "CAST(n_common AS DOUBLE) / (dx + dy - n_common)"
    return (
        withdeg.withColumn("jaccard", F.expr(stable_round(jac, 6)))
        .filter(F.col("jaccard") >= JACCARD_MIN)
        .select(
            F.col("x").alias("host_a"),
            F.col("y").alias("host_b"),
            "n_common",
            F.col("dx").alias("deg_a"),
            F.col("dy").alias("deg_b"),
            "jaccard",
        )
        .orderBy(F.col("jaccard").desc(), "host_a", "host_b")
        .limit(JACCARD_TOP)
    )


def host_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the host graph (Newman 2002): the Pearson
    correlation of endpoint degrees over all edges — negative for
    hub-and-spoke webs (big sites link small ones), positive for
    peer-meshes; the one-number structural fingerprint that decides
    whether hub-aware mitigations (degree-ordered orientation, wedge
    caps) are load-bearing on a given corpus. One summary row.

    Each undirected edge contributes both orientations (the standard
    symmetric formulation). All sufficient statistics accumulate as
    DECIMAL(38,0) integers over the edge set (corr_pricing discipline);
    only the final closed form is floating point. Reuses the shared
    checkpointed edge build + one degree aggregate; the degree attach is
    two equi-joins keyed on host."""
    from ..functions.vector import stable_round

    und = _host_undirected_edges(spark, sf_dir)
    sym = und.select(F.col("a").alias("h"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("h"), F.col("a").alias("n"))
    )
    deg = sym.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    pairs = (
        sym.join(deg.select(F.col("h"), F.col("deg").alias("dx")), "h")
        .join(
            deg.select(F.col("h").alias("n"), F.col("deg").alias("dy")),
            "n",
        )
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_edge_ends"),
        F.expr(
            stable_round(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 0.0D)"
                " / nullif(sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0D)",
                6,
            )
        ).alias("assortativity"),
    )


def host_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the DIRECTED host adjacency graph: the fraction of
    distinct directed edges whose reverse edge also exists — the
    link-exchange / mutual-citation fingerprint (spam rings reciprocate;
    organic authority links mostly don't). One summary row.

    The directed edge set is the consecutive-host pair stream distincted
    (the host_pagerank edge domain without weights); the reverse check is
    one self-equi-join on the swapped key. Both aggregates are then 1-row
    frames combined by the broadcast scalar_join; the fraction is a
    rational of two exact counts."""
    from ..functions.vector import stable_round
    from ..tables import scalar_join
    from .text import URL_HOST_RE

    docs = load_table(spark, sf_dir, "documents")
    hosts = docs.select(
        F.expr(
            "transform(filter(split(coalesce(text, ''), ' '), x -> x != ''),"
            f" t -> coalesce(nullif(regexp_extract(lower(t), '{URL_HOST_RE}', 1), ''),"
            " lower(t)))"
        ).alias("hosts")
    )
    e = (
        hosts.filter(F.expr("size(hosts) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(hosts) - 2),"
                    " i -> named_struct('src', hosts[i], 'dst', hosts[i + 1]))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(checkpoint, eager=False)  # total count + reverse join share it
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    return scalar_join(
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")),
        recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocated")),
    ).select(
        "n_edges",
        "n_reciprocated",
        F.expr(
            stable_round("CAST(n_reciprocated AS DOUBLE) / nullif(n_edges, 0)", 6)
        ).alias("reciprocity"),
    )


KCORE_K = 3
KCORE_ROUNDS = 6


def host_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction over the host co-occurrence graph (k = 3): the
    standard graph-density filter (Seidman 1983; Batagelj–Zaveršnik's
    peeling algorithm) — link-farm/community cores survive, tendrils and
    isolated mentions peel away. The sequential algorithm removes one
    min-degree node at a time; the DISTRIBUTED form peels EVERY sub-k
    node per round and repeats — each round is one degree aggregate + two
    semi-joins on host keys, and the round count needed is the peel
    DEPTH, not the node count. KCORE_ROUNDS = 6 is fixed (fixture graphs
    converge in ≤ 3 — asserted in tests; a production run raises it and
    early-exits on a stable edge count), which is what lets the DuckDB
    oracle replay the peeling as unrolled CTE rounds exactly.

    Output: hosts of the k-core with their within-core degree.

    Plan shape at 100 TB: the edge set is the replication-invariant
    distinct host graph (~hosts², the host_triangles bound); per round
    everything shuffles on host keys; lineage is truncated per round."""
    edges = _host_undirected_edges(spark, sf_dir)
    cur = edges
    for _ in range(KCORE_ROUNDS):
        deg = (
            cur.select(F.col("a").alias("h"))
            .unionAll(cur.select(F.col("b").alias("h")))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= KCORE_K).select("h")
        cur = (
            cur.join(keep.withColumnRenamed("h", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("h", "b"), "b", "left_semi")
            .transform(checkpoint, eager=False)
        )
    return (
        cur.select(F.col("a").alias("host"))
        .unionAll(cur.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


LPA_ROUNDS = 4


def host_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the host co-occurrence graph by SYNCHRONOUS
    label propagation (Raghavan–Albert–Kumara 2007), the near-linear-time
    community algorithm every graph stack ships: labels start as the host
    name itself; each round every node adopts the most frequent label among
    its neighbors, ties broken by smallest label. The asynchronous original
    is order-dependent (update order changes results — useless for an
    oracle and irreproducible across cluster runs); the synchronous
    fixed-round variant here is fully deterministic, so the DuckDB oracle
    replays the identical LPA_ROUNDS rounds as unrolled CTEs and must match
    bit-for-bit (the host_kcore discipline; a production run raises the
    round count and early-exits when the label table stops changing).

    The per-round argmax is one partial-aggregated groupBy(h, lbl) count
    followed by min(struct(−count, label)) per node — struct ordering IS
    (count DESC, label ASC), so no window/rank shuffle is needed; both
    stages plus the adjacency join shuffle on host keys only. Lineage is
    truncated per round. Output: (host, community, community_size).

    Plan shape at 100 TB: state per round is one (host, label) row per
    node + the static symmetric adjacency — each round two shuffles on
    hosts (join, count), nothing proportional to round number."""
    und = _host_undirected_edges(spark, sf_dir)
    sym = (
        und.select(F.col("a").alias("h"), F.col("b").alias("n"))
        .unionAll(und.select(F.col("b").alias("h"), F.col("a").alias("n")))
        .transform(checkpoint, eager=False)
    )
    labels = sym.select("h").distinct().withColumn("lbl", F.col("h"))
    for _ in range(LPA_ROUNDS):
        nb = sym.join(
            labels.select(F.col("h").alias("n"), "lbl"), "n"
        )  # neighbor labels per node
        counts = nb.groupBy("h", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.groupBy("h")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("l"))
                ).alias("m")
            )
            .select("h", F.col("m.l").alias("lbl"))
            .transform(checkpoint, eager=False)
        )
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("h").alias("host"),
        F.col("lbl").alias("community"),
        "community_size",
    )


def host_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering coefficients of the undirected host adjacency graph —
    global transitivity (3·triangles / wedges) and the mean local
    coefficient over nodes with degree ≥ 2 — the web-graph cohesion
    summary that separates organically-linked neighborhoods from hub-spoke
    link farms (triangle-free stars have coefficient 0 at any density).
    One row: n_nodes, n_wedges, n_triangles, global_coeff, avg_local_coeff.

    Exactness: wedge counts are C(deg, 2) in BIGINT; per-node local
    ratios 2·tᵢ/(dᵢ(dᵢ−1)) are floored integer micro-division (Spark DIV =
    DuckDB //), so the cross-node SUM is exact integer arithmetic — no
    float accumulation order anywhere; the two final divisions are
    stable_round over identical exact operands.

    Plan shape at 100 TB: the host_triangles degree-ordered census
    (orientation bounds the wedge self-join fan-out by O(√E) on skewed
    graphs) plus one explode of the triangle set to per-node counts —
    every shuffle an equi-join or aggregate on host keys; the final
    aggregate is one row. scalar_join attaches the 1-row global census
    (allowlisted category 2)."""
    from ..functions.vector import stable_round
    from ..tables import scalar_join

    und = _host_undirected_edges(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("h"))
        .unionAll(und.select(F.col("b").alias("h")))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .transform(checkpoint, eager=False)
    )
    withdeg = (
        und.join(deg.withColumnRenamed("h", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("h", "b").withColumnRenamed("deg", "db"), "b")
    )
    lt = "(da < db) OR (da = db AND a < b)"
    oriented = withdeg.select(
        F.expr(f"IF({lt}, a, b)").alias("u"),
        F.expr(f"IF({lt}, b, a)").alias("v"),
    ).transform(checkpoint, eager=False)
    e2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = oriented.join(e2, F.col("u") == F.col("u2")).filter(F.col("v") < F.col("w"))
    tri = wedges.join(und, (F.col("v") == F.col("a")) & (F.col("w") == F.col("b")))
    per_node_tri = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    local = (
        deg.join(per_node_tri, "h", "left")
        .select(
            "deg",
            F.coalesce("t", F.lit(0)).alias("t"),
            F.expr(
                "IF(deg >= 2, (2L * coalesce(t, 0L) * 1000000L) DIV (deg * (deg - 1L)), NULL)"
            ).alias("lc_micro"),
        )
    )
    summary = local.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("IF(deg >= 2, (deg * (deg - 1L)) DIV 2, 0L)")).alias("n_wedges"),
        F.sum(F.expr("IF(deg >= 2, 1L, 0L)")).alias("_n2"),
        F.sum("lc_micro").alias("_lc_sum"),
    )
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return scalar_join(summary, n_tri).select(
        "n_nodes",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges = 0 THEN NULL ELSE "
            + stable_round("3.0D * n_triangles / CAST(n_wedges AS DOUBLE)", 6)
            + " END"
        ).alias("global_coeff"),
        F.expr(
            "CASE WHEN _n2 = 0 THEN NULL ELSE "
            + stable_round("CAST(_lc_sum AS DOUBLE) / (CAST(_n2 AS DOUBLE) * 1e6)", 6)
            + " END"
        ).alias("avg_local_coeff"),
    )


HITS_ITERS = 4
HITS_TOP = 20


def host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-HITS_TOP hosts by HITS authority (Kleinberg, JACM 1999) over the
    weighted directed within-document host graph, hub scores alongside —
    the link-analysis complement of host_pagerank (PageRank rewards being
    pointed AT by important pages; HITS separates directories/hubs from
    destinations/authorities, the split crawl schedulers use).

    Driver-controlled power iteration (the PageRank pattern), HITS_ITERS
    rounds of auth[d] = Σ w·hub[s]; hub[s] = Σ w·auth[d], each followed by
    MAX-normalization (valid for HITS convergence like any norm, and —
    unlike the L2 norm — exactly computable in integers): scores are
    BIGINT nano-units, the weighted sums run in DECIMAL(38,0) (HUGEINT in
    the oracle), and renormalization is (s·10⁹) DIV max — integer floor
    division whose quotient is ≤ 10⁹ by construction (Spark's DECIMAL DIV
    silently wraps only when the QUOTIENT overflows BIGINT; bounded here).
    Zero floating point in the loop — bit-exact cross-engine by
    construction; the oracle replays the rounds as unrolled CTE stages.

    Plan shape at 100 TB: edge table built once and checkpointed; each
    half-round is one equi-join + one aggregate keyed on host; the max is
    a window over the NODE table (host-bounded, the token_gini posture).
    Shuffles ∝ edges per round, never corpus."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round
    from .text import URL_HOST_RE

    docs = load_table(spark, sf_dir, "documents")
    hosts = docs.select(
        F.expr(
            "transform(filter(split(coalesce(text, ''), ' '), x -> x != ''),"
            f" t -> coalesce(nullif(regexp_extract(lower(t), '{URL_HOST_RE}', 1), ''),"
            " lower(t)))"
        ).alias("hosts")
    ).transform(checkpoint, eager=False)
    pairs = (
        hosts.filter(F.expr("size(hosts) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(hosts) - 2),"
                    " i -> named_struct('src', hosts[i], 'dst', hosts[i + 1]))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .transform(checkpoint)  # built once, probed 2·HITS_ITERS times
    )
    nodes = hosts.select(F.explode("hosts").alias("host")).distinct().transform(checkpoint)
    allw = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scores = nodes.select(
        "host", F.lit(10**9).alias("hub"), F.lit(10**9).alias("auth")
    )
    renorm = (
        "CAST(CAST(coalesce(s, CAST(0 AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        " * 1000000000L DIV mx AS BIGINT)"
    )
    with _fixed_plan_loop(spark, edges):
        for it in range(HITS_ITERS):
            a_raw = (
                edges.join(
                    scores.select(F.col("host").alias("src"), "hub"), "src"
                )
                .select("dst", F.expr("CAST(w AS DECIMAL(38,0)) * hub").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            scores = (
                scores.join(a_raw.withColumnRenamed("dst", "host"), "host", "left")
                .withColumn("mx", F.max("s").over(allw))
                .select("host", "hub", F.expr(renorm).alias("auth"))
            )
            h_raw = (
                edges.join(
                    scores.select(F.col("host").alias("dst"), "auth"), "dst"
                )
                .select("src", F.expr("CAST(w AS DECIMAL(38,0)) * auth").alias("c"))
                .groupBy("src")
                .agg(F.sum("c").alias("s"))
            )
            scores = (
                scores.join(h_raw.withColumnRenamed("src", "host"), "host", "left")
                .withColumn("mx", F.max("s").over(allw))
                .select("host", F.expr(renorm).alias("hub"), "auth")
                .transform(checkpoint)
            )
    return (
        scores.select(
            "host",
            F.expr(stable_round("CAST(auth AS DOUBLE) / 1e9", 6)).alias("authority"),
            F.expr(stable_round("CAST(hub AS DOUBLE) / 1e9", 6)).alias("hub_score"),
        )
        .orderBy(F.col("authority").desc(), F.col("host").asc())
        .limit(HITS_TOP)
    )


def _tarjan_scc_labels(pairs: list[tuple[str, str]], nodes: list[str]) -> dict[str, str]:
    """Iterative Tarjan over string node ids (explicit stack — no
    recursion limit), labeling every node with the lexicographic MIN
    member of its strongly connected component. The driver-side strategy
    behind strongly_connected_components for edge sets under the measured
    gate — the union-find/CC precedent applied to the directed case."""
    adj: dict[str, list[str]] = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    label: dict[str, str] = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            advanced = False
            neighbors = adj.get(v, ())
            while pi < len(neighbors):
                w = neighbors[pi]
                pi += 1
                work[-1] = (v, pi)
                if w not in index:
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                rep = min(comp)
                for w in comp:
                    label[w] = rep
    return label


# Outer-round failsafe for the randomized FW-BW loop (round 12 — VERDICT
# r11 item 5 removed the old 64-round condensation boundary). The r11
# Orzan coloring resolved only each color's ROOT component per outer
# round, so a chain of k SCCs genuinely needed k rounds and the 64 cap
# was a semantic limit a path-of-100-SCCs graph would hit. The FW-BW
# quadrant loop below resolves one pivot SCC per BLOCK per round while
# splitting every block three ways, and with hash-randomized pivot
# priorities the recursion depth is O(log n) in expectation (Fleischer/
# Hendrickson/Pinar 2000 divide-and-conquer SCC; Blelloch et al. 2016
# round analysis) — a path of 100 SCCs measures ~7 rounds, and even 2^500
# expected-case nodes sit far under this cap, which remains fail-loud
# because silently returning partial labels would corrupt downstream
# dedup groups.
MAX_SCC_OUTER_ITERS = 512

# Both reachability phases shortcut with pointer halving (VERDICT r10
# item 7), so inner rounds ∝ log2(longest remaining path), not the path
# length itself. Halving is sound because each phase is a min-label
# propagation whose invariant is REACHABILITY, and reachability is
# transitive: lab(v)=u means u →* v, so lab(u)=w (w →* u) implies w →* v
# and v may adopt w. The cap stays high as a pure failsafe (2000 halving
# rounds cover paths beyond 2^1000 nodes); the earlier one-hop
# formulation measured 2000 rounds ∝ diameter on a path graph —
# docs/SCALE.md §11.12 records the measured before/after.
MAX_SCC_PROP_ITERS = 2_000


def strongly_connected_components(
    nodes: DataFrame, edges: DataFrame, collect_max_edges: int = CC_COLLECT_MAX_EDGES
) -> DataFrame:
    """(id) nodes + directed (src, dst) edges → (id, scc_id) where scc_id
    is the MIN member id of the node's strongly connected component
    (singletons label themselves). The directed twin of
    connected_components, same two-strategy contract:

    - edge set ≤ ``collect_max_edges``: driver-side iterative Tarjan
      (linear time; a verified link graph's edge set is collect-sized
      long before the corpus is). The gate counts edge ROWS — exactly
      what ``toPandas`` ships — so a multigraph of many rows between few
      nodes is still bounded: driver memory is ≤ cap × ~16 B regardless
      of how few distinct pairs or endpoints those rows collapse to.
    - larger: randomized two-sided FW-BW (_scc_distributed, round 12 —
      replaced the r11 Orzan coloring whose outer rounds grew with the
      longest chain of SCCs): per round, every node learns its minimum
      md5-priority ancestor f(v) and descendant b(v) within its block;
      f(v)==b(v) proves mutual reachability and resolves the node, the
      remainder splits by the (f, b) pair, and the loop recurses on all
      blocks in parallel — expected O(log n) rounds on chains AND flat
      component fields alike. Per-round cost is joins keyed on node ids,
      shuffle ∝ edges — never an all-pairs product.

    Both strategies label every member with the component's min id, so
    they land on the identical labeling — equivalence-tested by forcing
    the gate."""
    edges = edges.select("src", "dst").transform(checkpoint, eager=False)
    if edges.count() <= collect_max_edges:
        pdf = edges.toPandas()
        # Tarjan runs over EDGE-ENDPOINT nodes only, so driver memory is
        # bounded by the same gate that admitted the edge collect. Hosts
        # with no edges — potentially the overwhelming majority of a
        # sparse 100 TB corpus — never reach the driver; they are
        # trivially their own SCC and label themselves through the
        # left-join coalesce below (the connected_components singleton
        # pattern at graph.py:~130).
        node_list = sorted(set(pdf["src"]).union(pdf["dst"]))
        label = _tarjan_scc_labels(list(zip(pdf["src"], pdf["dst"])), node_list)
        spark = nodes.sparkSession
        import pandas as pd

        labels = spark.createDataFrame(
            pd.DataFrame(
                {"_lbl_id": list(label) or [None], "scc_id": list(label.values()) or [None]}
            ).dropna(),
            schema="_lbl_id string, scc_id string",
        )
        return (
            nodes.select("id")
            .join(F.broadcast(labels), nodes.id == F.col("_lbl_id"), "left")
            .select("id", F.coalesce("scc_id", F.col("id")).alias("scc_id"))
        )
    return _scc_distributed(nodes, edges)


_SCC_SEQ = 0


def _scc_barrier(df: DataFrame) -> tuple[DataFrame, str]:
    """Materialization barrier for the SCC loops: write the frame to
    session-scoped parquet scratch and read it back — each round then
    starts from a COMPLETELY fresh QueryExecution over a file scan.

    Why not localCheckpoint: chained Dataset.localCheckpoint frames
    degrade Catalyst in this Spark build — measured on the path-of-100
    fixture, per-round optimizer+planning time over a CONSTANT-size plan
    (constant text, constant JSON, constant RDD lineage, stages
    sub-100 ms throughout) grows from 0.05 s to >30 s by the fourth
    outer round, with execution, GC, codegen, and AQE all ruled out by
    direct phase timing (optimizedPlan() alone reaches 13 s). The
    parquet round-trip is the standard reliable-checkpoint pattern for
    iterative jobs and keeps every round's planning cost flat; the
    written frames are label tables (id, block, lab) — a fraction of
    edge data — and stale generations are pruned by the callers as soon
    as no live plan reads them. Returns (frame, path)."""
    import os

    from ..tables import tmp_scratch_dir

    global _SCC_SEQ
    spark = df.sparkSession
    base = tmp_scratch_dir("scc_barrier", spark.sparkContext.applicationId)
    _SCC_SEQ += 1
    path = os.path.join(base, f"g{_SCC_SEQ}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), path


def _drop_scratch(paths: list[str]) -> None:
    import shutil

    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    paths.clear()


def _scc_reach_fixpoint(
    er: DataFrame, init: DataFrame, from_col: str, to_col: str
) -> tuple[DataFrame, list[str]]:
    """Min-label reachability to fixpoint WITHIN blocks, with pointer
    halving — the shared inner engine of both FW-BW phases.

    ``er`` is (src, dst, block); ``init`` is (id, block, lab) where lab is
    an orderable struct whose ``lab.id`` names the node that originated
    it. Labels flow ``from_col`` → ``to_col`` along same-block edges
    (pass src→dst for forward reachability, dst→src for backward), each
    node keeping the MIN label that reached it. The halving jump
    lab(v) ← min(lab(v), lab(lab(v).id)) is sound because reachability is
    transitive; it cuts rounds to O(log path).

    Returns (labels, owned_paths): every scratch file still on disk that
    this fixpoint created, INCLUDING the one backing the returned frame —
    the caller sweeps them once the labels are consumed by its next
    barrier (ADVICE r12: the final two label files per fixpoint were
    never on any stale list, leaking scratch across invocations)."""
    labels, prev_path = _scc_barrier(init)
    stale: list[str] = []
    for _round in range(MAX_SCC_PROP_ITERS):
        stepped = (
            er.join(
                labels.select(
                    F.col("id").alias(from_col), "block", "lab"
                ),
                [from_col, "block"],
            )
            .select(F.col(to_col).alias("id"), "block", "lab")
            .unionAll(labels)
            .groupBy("id", "block")
            .agg(F.min("lab").alias("lab"))
        )
        jump = stepped.select(
            F.col("id").alias("_jid"),
            F.col("block").alias("_jblock"),
            F.col("lab").alias("lab2"),
        )
        stepped, new_path = _scc_barrier(
            stepped.join(
                jump,
                (F.col("lab.id") == F.col("_jid")) & (F.col("block") == F.col("_jblock")),
                "left",
            ).select(
                "id",
                "block",
                F.least(F.col("lab"), F.coalesce("lab2", F.col("lab"))).alias("lab"),
            )
        )
        changed = (
            stepped.alias("n")
            .join(labels.alias("o"), ["id", "block"])
            .filter(F.col("n.lab") != F.col("o.lab"))
            .count()
        )
        # generation g-1's file is unread once this round's changed-count
        # finished; drop it before the next write (bounded scratch)
        _drop_scratch(stale)
        stale.append(prev_path)
        labels, prev_path = stepped, new_path
        if changed == 0:
            return labels, stale + [prev_path]
    raise RuntimeError("SCC reachability did not converge")  # pragma: no cover


def _scc_distributed(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Randomized FW-BW SCC — the scale path behind
    strongly_connected_components (round 12; replaces the r11 Orzan
    coloring whose outer rounds grew ∝ the longest chain of SCCs, the
    64-round boundary VERDICT r11 item 5 flagged).

    Each remaining node carries a ``block`` tag (initially one block).
    Per outer round, EVERY block advances in parallel:

    1. f(v) = the minimum-(md5-priority, id) node REACHING v within its
       block; b(v) = the minimum-priority node v REACHES — two min-label
       propagations of the (priority, id) struct, pointer-halved, so
       inner rounds ∝ log(diameter). The md5 priority is the random
       pivot ordering of divide-and-conquer SCC (Fleischer et al. 2000),
       so adversarial id orderings (a path numbered along its edges)
       can't force linear recursion the way min-id labels did in the r11
       coloring.
    2. Every node with f(v).id == b(v).id == u resolves: u →* v and
       v →* u, so v ∈ SCC(u) — and all of SCC(u) shares both labels
       (members have identical reachability closures). MANY components
       resolve per round: each block's priority-min member always
       qualifies, and every disjoint substructure resolves around its
       own local two-sided minimum (a flat graph of k independent
       cycles finishes in ONE round — the shape where a single-pivot
       FW-BW would need k).
    3. The remainder splits by the (f.id, b.id) PAIR — quadrant classes
       no SCC ever straddles, md5-hashed into the next round's block
       tags. On a chain, f changes at every prefix minimum and b at
       every suffix minimum of the priority sequence, so a path of n
       SCCs shatters into ~2·H(n) blocks immediately — O(log n)
       expected recursion depth.

    Every round is equi-joins keyed on node ids with shuffle ∝ remaining
    edges — never an all-pairs product.
    The loop runs ONLY over edge-endpoint nodes (the CC-twin discipline,
    `_connected_components_distributed`): non-edge nodes are trivially
    singleton SCCs, so iterating them would shuffle the whole corpus once
    per round for no reason. They are attached at the end with one left
    join + coalesce."""
    remaining, rem_path = _scc_barrier(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("block", F.lit("r"))
    )
    done: DataFrame | None = None
    done_path: str | None = None
    stale: list[str] = []
    for _ in range(MAX_SCC_OUTER_ITERS):
        if remaining.count() == 0:
            break
        er, er_path = _scc_barrier(
            edges.join(
                remaining.select(F.col("id").alias("src"), "block"), "src"
            )
            .join(
                remaining.select(
                    F.col("id").alias("dst"), F.col("block").alias("_bd")
                ),
                "dst",
            )
            .filter(F.col("block") == F.col("_bd"))
            .select("src", "dst", "block")
        )
        # self-labels carry the hash priority; min over a block IS the pivot
        init = remaining.select(
            "id",
            "block",
            F.struct(F.md5(F.col("id")).alias("prio"), F.col("id").alias("id")).alias(
                "lab"
            ),
        )
        fw, fw_paths = _scc_reach_fixpoint(er, init, "src", "dst")  # min reaching v
        bw, bw_paths = _scc_reach_fixpoint(er, init, "dst", "src")  # min v reaches
        tagged, tag_path = _scc_barrier(
            fw.withColumnRenamed("lab", "f")
            .join(bw.withColumnRenamed("lab", "b"), ["id", "block"])
            .select(
                "id",
                "block",
                F.col("f.id").alias("f_id"),
                F.col("b.id").alias("b_id"),
            )
        )
        resolved = tagged.filter(F.col("f_id") == F.col("b_id")).select(
            "id", "block", F.col("f_id").alias("anchor")
        )
        found = resolved.join(
            resolved.groupBy("block", "anchor").agg(F.min("id").alias("scc_id")),
            ["block", "anchor"],
        ).select("id", "scc_id")
        done, new_done_path = _scc_barrier(
            found if done is None else done.unionAll(found)
        )
        # pair refinement: each (f, b) class becomes its own block; md5
        # keeps the tag width constant across rounds
        remaining, new_rem_path = _scc_barrier(
            tagged.filter(F.col("f_id") != F.col("b_id"))
            .select(
                "id",
                F.md5(F.concat_ws("|", "block", "f_id", "b_id")).alias("block"),
            )
        )
        # everything this round's barriers superseded is now unread —
        # including both fixpoints' label files (their frames were
        # consumed by the `tagged` barrier above, ADVICE r12)
        _drop_scratch(stale)
        stale += fw_paths + bw_paths
        stale += [p for p in (rem_path, er_path, tag_path, done_path) if p]
        rem_path, done_path = new_rem_path, new_done_path
    else:  # pragma: no cover
        raise RuntimeError("SCC outer loop did not converge")
    # final sweep: only `done`'s backing file is still read by the frame
    # we return; the last remaining/er/tag generations and every pending
    # stale entry are dead (ADVICE r12 — they used to accumulate in /tmp
    # across SCC invocations in a long session)
    _drop_scratch(stale)
    _drop_scratch([rem_path])
    if done is None:
        # no edges at all: every node is a singleton SCC
        return nodes.select("id", F.col("id").alias("scc_id"))
    return (
        nodes.select("id")
        .join(done.withColumnRenamed("id", "_lbl_id"), nodes.id == F.col("_lbl_id"), "left")
        .select("id", F.coalesce("scc_id", F.col("id")).alias("scc_id"))
    )


def _host_directed_graph(spark: SparkSession, sf_dir: str):
    """(nodes, edges) of the directed host adjacency graph — shared by
    host_scc and host_condensation."""
    from .text import URL_HOST_RE

    docs = load_table(spark, sf_dir, "documents")
    hosts = docs.select(
        F.expr(
            "transform(filter(split(coalesce(text, ''), ' '), x -> x != ''),"
            f" t -> coalesce(nullif(regexp_extract(lower(t), '{URL_HOST_RE}', 1), ''),"
            " lower(t)))"
        ).alias("hosts")
    ).transform(checkpoint, eager=False)
    nodes = hosts.select(F.explode("hosts").alias("id")).distinct()
    edges = (
        hosts.filter(F.expr("size(hosts) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(hosts) - 2),"
                    " i -> named_struct('src', hosts[i], 'dst', hosts[i + 1]))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return nodes, edges


# "scc-labels" ledger family: host_scc and host_condensation share the
# labeling, so the second caller pays one cache hit instead of a full
# Tarjan/coloring pass
def _scc_labels_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        nodes, edges = _host_directed_graph(spark, sf_dir)
        return strongly_connected_components(nodes, edges)

    return ledger.of(spark).family("scc-labels").get_or_build(sf_dir, build)


def host_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED host adjacency graph
    (consecutive-host pairs, the host_reciprocity edge domain): every host
    labeled with the lexicographic min member of its mutually-reachable
    group — the condensation prerequisite (link farms show up as
    non-trivial SCCs; the DAG of SCCs is the crawl-frontier ordering).
    Oracle: mutual-reachability closure as a recursive CTE (scc_id =
    min{u : v →* u AND u →* v})."""
    return _scc_labels_for(spark, sf_dir).select(F.col("id").alias("host"), "scc_id")


MAX_DAG_LEVEL_ITERS = 64


def host_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation of the directed host graph: collapse every SCC (from
    host_scc's labeling) to one node, keep the distinct cross-SCC edges —
    by construction a DAG — and assign each SCC its LONGEST-PATH level
    (0 = source; level(v) = 1 + max level over predecessors), the
    topological layering that orders crawl/refresh scheduling and makes
    link-farm SCCs visible as heavy nodes at a level. Output per SCC:
    scc_id, n_members, level.

    Levels are computed by iterative max-relaxation over the CONDENSED
    edge set (fixpoint in longest-path-length rounds — the condensed DAG
    of a web-scale graph is shallow; each round is one join + one max
    aggregate keyed on SCC ids, shuffle ∝ condensed edges). The DuckDB
    oracle enumerates path depths with a recursive CTE over the same
    condensation and takes the max per node — definitionally the same
    level."""
    _nodes, edges = _host_directed_graph(spark, sf_dir)
    labels = _scc_labels_for(spark, sf_dir)
    members = labels.groupBy("scc_id").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    cond = (
        edges.join(labels.select(F.col("id").alias("src"), F.col("scc_id").alias("c_src")), "src")
        .join(labels.select(F.col("id").alias("dst"), F.col("scc_id").alias("c_dst")), "dst")
        .filter(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
        .transform(checkpoint, eager=False)
    )
    levels = checkpoint(
        members.select("scc_id", F.lit(0).cast("long").alias("level")), eager=False
    )
    for _ in range(MAX_DAG_LEVEL_ITERS):
        stepped = (
            cond.join(levels.withColumnRenamed("scc_id", "src"), "src")
            .select(F.col("dst").alias("scc_id"), (F.col("level") + 1).alias("level"))
            .unionAll(levels)
            .groupBy("scc_id")
            .agg(F.max("level").alias("level"))
            .transform(checkpoint, eager=False)
        )
        # levels are monotone non-decreasing and bounded by the longest
        # condensed path, so an unchanged sum proves the fixpoint
        changed = (
            stepped.alias("n")
            .join(levels.alias("o"), "scc_id")
            .filter(F.col("n.level") != F.col("o.level"))
            .count()
        )
        levels = stepped
        if changed == 0:
            break
    else:  # pragma: no cover - a cycle would mean the SCC labeling is wrong
        raise RuntimeError("condensation level relaxation did not converge (cycle?)")
    return members.join(levels, "scc_id").select("scc_id", "n_members", "level")
