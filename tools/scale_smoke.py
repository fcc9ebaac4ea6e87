#!/usr/bin/env python
"""Scaling-curve smoke: replicate the sf0.1 documents table K× (with
remapped doc_ids and a per-replica token so replicas are not trivial
duplicates), run the document-only headline pipelines at each factor, and
print time-vs-factor. Near-linear growth is the evidence that the plans
are shuffle- and compute-proportional to input size, not super-linear —
the local[32] stand-in for "would this hold at 1000×".

Usage: python tools/scale_smoke.py            # factors 1, 4, 16
       SCALE_FACTORS=1,8,64 python tools/scale_smoke.py
       SCALE_PIPELINES=quality_gopher,lm_bigram_quality python tools/scale_smoke.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from url_counter_mapreduce_spark import QUERIES, get_spark  # noqa: E402
from url_counter_mapreduce_spark.operators.pipeline import decontaminate_ngrams  # noqa: E402

# df_cap=8: on the replicated corpus a source doc's shared windows occur in
# ~0.8·K train-side replicas, so the cap stays inert at small factors and
# kicks in at 16× (df≈13>8) — exactly the boilerplate-crossing-the-threshold
# behavior the guard exists for
QUERIES = dict(QUERIES)
QUERIES["decontaminate_capped"] = lambda spark, d: decontaminate_ngrams(spark, d, df_cap=8)


def _semantic_scaledcells(spark, d):
    """dedup_semantic with n_cells scaled to the replicated corpus size —
    the SemDeDup production knob (k ∝ N keeps cells, and so the per-cell
    quadratic verify, bounded)."""
    from url_counter_mapreduce_spark.functions.vector import finite_norm_pred
    from url_counter_mapreduce_spark.operators.dedup import (
        SEMDEDUP_CELLS,
        semantic_dedup_frame,
    )
    from url_counter_mapreduce_spark.tables import load_table, spread

    factor = int(os.path.basename(d.rstrip("/")).rsplit("_", 1)[-1].rstrip("x") or 1)
    emb = spread(load_table(spark, d, "embeddings").select("vec_id", "embedding")).filter(
        F.expr(finite_norm_pred("embedding"))
    )
    return semantic_dedup_frame(
        emb,
        n_cells=SEMDEDUP_CELLS * factor,
        cache_key=(d, "semdedup-scaled"),
    )


QUERIES["dedup_semantic_scaledcells"] = _semantic_scaledcells

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTORS = [int(x) for x in os.environ.get("SCALE_FACTORS", "1,4,16").split(",")]
PIPELINES = [
    "url_count",
    "url_topk",
    "text_token_stats",
    "quality_score",
    "dedup_minhash",
    # the two plans whose cost model differs most from the aggregation
    # pipelines: iterative connected components and a full-outer MERGE.
    # NOTE on dedup_groups growth: K× replication makes every replica a
    # near-dup of its siblings, so the dup-graph edge count grows ~K²·N by
    # construction — wall should track the EDGE count (the scaling law the
    # operator is designed for: cost ∝ dup graph, not corpus).
    "dedup_groups",
    "merge_upsert",
    # round-3: the decontamination shingle join. The K× replicas share all
    # their 5-grams across splits by construction, so this doubles as the
    # hot-shingle stress; decontaminate_capped shows the df_cap guard's
    # effect on the same corpus.
    "decontaminate_ngrams",
    "decontaminate_capped",
    # round-4: the two new n-gram-aggregate shapes — the Gopher rule
    # battery (two per-doc n-gram aggregates + re-joins) and the bigram-LM
    # scorer (corpus-wide model counts joined back per occurrence; the
    # bigram join output grows with corpus size, the model tables with
    # vocabulary²-ish — sub-linear growth expected once past overhead)
    "quality_gopher",
    "lm_bigram_quality",
    # round-5: the four batch-3/4 heavy shapes not yet on the curve.
    # bm25_topk: corpus stats + per-term joins, df-bounded. host_pagerank:
    # driver-loop power iteration — the DISTINCT host graph is invariant
    # under replication (links repeat, hosts don't), so edge-agg grows K×
    # and the per-iteration join cost with it, rank table fixed.
    # dedup_semantic: replicas are SIGN-FLIP transforms (pairwise cosines
    # preserved within a replica, scrambled across), so true dup pairs grow
    # K× (linear), not K²; dedup_semantic_scaledcells also scales n_cells
    # with the corpus — the production knob that keeps cells bounded.
    # layout_zorder: Morton interleave + range-partitioned sort, pure
    # sort-shuffle growth.
    "bm25_topk",
    "host_pagerank",
    "dedup_semantic",
    "dedup_semantic_scaledcells",
    "layout_zorder",
    # round-4: exact-substring span mining. The K× replicas share ALL
    # their 8-token windows across replica groups by construction, so
    # every window hash is "shared" — the worst case for the shared-hash
    # join, which stays 1:1 by design (distinct hashes joined back).
    "dedup_substring_spans",
]

_sel = os.environ.get("SCALE_PIPELINES")
if _sel:
    PIPELINES = [q for q in _sel.split(",") if q]


def replicated_dir(spark, factor: int) -> str:
    import hashlib

    uid = os.getuid() if hasattr(os, "getuid") else 0
    # keyed by SOURCE as well as factor — switching SPARK_GRAFT_SF_DIR must
    # not silently reuse replicas built from a different corpus
    src_tag = hashlib.md5(SRC.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_scale_{uid}_{src_tag}_{factor}x")
    marker = os.path.join(d, "documents.parquet", "_SUCCESS")
    if not os.path.exists(marker):
        docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        (
            docs.withColumn("replica", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
            .withColumn("doc_id", F.col("doc_id") * factor + F.col("replica"))
            .withColumn("text", F.concat("text", F.lit(" rep"), F.col("replica").cast("string")))
            .drop("replica")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(d, "documents.parquet"))
        )
    ev_marker = os.path.join(d, "events.parquet", "_SUCCESS")
    if not os.path.exists(ev_marker):
        # events replicate along the USER dimension (event_id/user_id
        # remapped per replica, timestamps untouched): sessionization /
        # SCD2 / retention group counts grow K×, per-group sizes stay
        # fixed — the realistic growth mode for an event stream
        from url_counter_mapreduce_spark.tables import load_table

        ev = load_table(spark, SRC, "events")
        (
            ev.withColumn("replica", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
            .withColumn("event_id", F.col("event_id") * factor + F.col("replica"))
            .withColumn("user_id", F.col("user_id") * factor + F.col("replica"))
            .drop("replica")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(d, "events.parquet"))
        )
    emb_marker = os.path.join(d, "embeddings.parquet", "_SUCCESS")
    if not os.path.exists(emb_marker):
        # embeddings replicate via a per-replica SIGN-FLIP transform
        # (component i flipped when bit i%8 of the replica index is set):
        # pairwise cosines WITHIN a replica are exactly preserved (signs
        # square away), cross-replica cosines are scrambled — so the true
        # dup-pair population grows K× (linear), not K² as raw copies would
        emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
        (
            emb.withColumn("replica", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
            .withColumn("vec_id", F.col("vec_id") * factor + F.col("replica"))
            .withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, i) -> x * CAST(1 - 2 * pmod(shiftright(replica, pmod(i, 8)), 2) AS FLOAT))"
                ),
            )
            .drop("replica")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(d, "embeddings.parquet"))
        )
    li_marker = os.path.join(d, "lineitem.parquet", "_SUCCESS")
    if not os.path.exists(li_marker):
        # lineitem replicates by plain row explosion: the z-order layout
        # pass reads only (l_partkey, l_suppkey), so K× rows over the same
        # key space is exactly the sort-shuffle growth being measured
        li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
        (
            li.withColumn("replica", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
            .drop("replica")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(d, "lineitem.parquet"))
        )
    return d


def main() -> None:
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup
    QUERIES["url_count"](spark, SRC).write.format("noop").mode("overwrite").save()

    results: dict[str, dict[int, float]] = {q: {} for q in PIPELINES}
    for factor in FACTORS:
        d = replicated_dir(spark, factor)
        for q in PIPELINES:
            t0 = time.perf_counter()
            QUERIES[q](spark, d).write.format("noop").mode("overwrite").save()
            results[q][factor] = round(time.perf_counter() - t0, 3)

    base = FACTORS[0]
    print(json.dumps({"factors": FACTORS, "seconds": results}))
    print(f"\n{'pipeline':<22}" + "".join(f"{f}x".rjust(10) for f in FACTORS) + "   growth@max")
    for q in PIPELINES:
        times = [results[q][f] for f in FACTORS]
        growth = (times[-1] / times[0]) / (FACTORS[-1] / base)
        print(f"{q:<22}" + "".join(f"{t:>10.2f}" for t in times) + f"   {growth:>6.2f}x/linear")
    spark.stop()


if __name__ == "__main__":
    main()
