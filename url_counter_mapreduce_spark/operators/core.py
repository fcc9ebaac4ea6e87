"""The reference's own capability surface (SURVEY.md §2.1, O1–O12), Spark-first.

The reference pipeline is: read text files whole (common_map.go:19-22) →
split on the space character dropping empty tokens (main.go:24-26) → emit one
{url,""} pair per token (main.go:28-31) → FNV-hash shuffle (common_map.go:34)
→ groupByKey (common_reduce.go:24-35) → count = len(values) as a *string*
(main.go:47-49) → per-partition then global lexicographic sort
(common_reduce.go:37-41, master_splitmerge.go:34-49) → shell-side numeric
top-100 (main.sh:3).

Here each stage is one declarative DataFrame op; the hash shuffle, partial
aggregation (the map-side combine the reference *lacks*, common_map.go:33-37),
spill, and top-K-without-global-sort (TakeOrderedAndProject) all come from
Catalyst/Tungsten. Deliberate semantic fixes vs the reference, documented per
SURVEY.md §7.2:
  - counts are LongType, not the reference's stringly-typed strconv.Itoa;
  - top-K ties (unspecified in the reference, main.sh:3) are made
    deterministic with a secondary ascending token key.

Token source: the reference tokenizes URL text files; the engine's tables are
parquet, so the flagship queries tokenize ``documents.text`` (FIXTURES.md) —
identical semantics (space-split, drop empties), columnar input.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..tables import load_table

TOPK = 100


def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 text scan (common_map.go:19-22) — a raw projection-only scan.

    The reference reads each input file wholly into memory; Spark's FileScan
    streams parquet pages with column pruning (ReadSchema shows only
    doc_id, text).
    """
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


# The same rule as one array-valued SQL expression over ``text``: every
# array tokenizer in the package spells it with these two strings.
TOKS = "filter(split(text, ' '), x -> x != '')"
# NULL-safe variant: split(NULL) propagates NULL and size(NULL) = -1 in
# Spark while DuckDB yields NULL — coalescing to '' gives an EMPTY token
# array in both engines, so counts stay meaningful (0, not -1) on
# NULL-text rows.
TOKS_SAFE = "filter(split(coalesce(text, ''), ' '), x -> x != '')"


def tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 tokenize/flatten (main.go:22-33): split on ' ', drop empty tokens.

    ``strings.FieldsFunc(contents, r==' ')`` drops empty tokens, so the
    post-explode filter is required for faithfulness (SURVEY.md O2).
    """
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )


def tokenize_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenized(spark, sf_dir)


def tokenized_with_position(docs: DataFrame) -> DataFrame:
    """Tokenizer variant keeping (doc_id, pos, token) — same split-on-space /
    drop-empties semantics as ``tokenized`` (main.go:24-26), with the
    within-document position for consumers that need per-occurrence
    identity (e.g. the salted aggregation's row-level salt)."""
    return (
        docs.select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"))
        .filter(F.col("token") != "")
    )


def url_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3–O5: hash-partitioned count per key (main.go:47-49 via common_reduce.go:52).

    groupBy+count compiles to partial HashAggregate → Exchange
    hashpartitioning → final HashAggregate: the reference's ihash()%nReduce
    shuffle (common_map.go:34) *plus* the map-side combine it lacks.
    """
    return tokenized(spark, sf_dir).groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))


def sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6–O8: global lexicographic sort of counts by key
    (master_splitmerge.go:34-49) — a range-partitioned distributed SortExec,
    not the reference's single-threaded master-side merge."""
    return url_count(spark, sf_dir).orderBy("token")


def url_topk(spark: SparkSession, sf_dir: str, k: int = TOPK) -> DataFrame:
    """O9 top-K by count (main.sh:3: ``sort -n -k2 | tail -100``).

    Catalyst compiles orderBy+limit to TakeOrderedAndProjectExec — per-
    partition heaps + driver merge, no global sort (SURVEY.md §4.2 P6).
    Ties are broken by ascending token (deterministic; the reference leaves
    tie order unspecified).
    """
    return url_count(spark, sf_dir).orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)


def union_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 merge/union of partition outputs (master_splitmerge.go:13-33).

    A DataFrame is already the union of its partitions; the explicit analog
    is unionByName of two disjoint halves — Catalyst plans a zero-shuffle
    Union of the two scans with the filters pushed down.
    """
    docs = load_table(spark, sf_dir, "documents")
    even = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    odd = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    return even.unionByName(odd)


def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 UDF surface (main.go:22-49): the reference's only extensibility
    point is injecting mapF/reduceF. Spark's analog for a scalar mapF is an
    Arrow-batched pandas_udf (never row-at-a-time Python in the hot path).

    Counts non-empty space-split tokens per document — the same tokenizer as
    mapF (main.go:24-26) — as a vectorized pandas_udf.
    """

    @pandas_udf("long")
    def n_tokens(text: pd.Series) -> pd.Series:
        # non-empty space-split tokens == maximal runs of non-space chars;
        # str.count stays inside pandas' string engine (no per-row lambda)
        return text.str.count("[^ ]+").astype("int64")

    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", n_tokens(F.col("text")).alias("n_tokens"))
    )


def udaf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12's reduceF slot (main.go:47-49; signature master.go:57-59): the
    reference's second injection point is a per-key aggregation function.
    Spark's analog for a custom aggregate is an Arrow-batched GROUPED_AGG
    pandas_udf — here a median over each language group (not expressible as
    len(values) to show a genuinely custom reducer)."""

    @pandas_udf("double")
    def median_chars(n: pd.Series) -> float:
        return float(n.median())

    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.round(median_chars(F.col("n_chars")), 4).alias("median_chars"))
    )


def udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12's third extensibility shape: a table FUNCTION (1 row → N rows
    with computed columns), which the reference cannot express at all (its
    mapF emits a fixed KeyValue list, main.go:28-31). Spark's analog is a
    Python UDTF used as a LATERAL correlated relation — here a sentence
    splitter, the simplest 1→N text transform a curation pipeline uses.
    Python UDTFs are the slow path (row-at-a-time) — appropriate for the
    API-surface demo; the hot-path equivalents are explode/posexplode
    (see tokenize_explode)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            for i, s in enumerate((text or "").split(". ")):
                yield i, s

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT doc_id, s.sentence_idx, s.sentence "
        "FROM _udtf_docs, LATERAL split_sentences(text) s"
    )


def sink_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 text sink format (master_splitmerge.go:46): ``"<key>: <value>"``
    lines. Returned as a single-column DataFrame (the driver collects;
    ``df.write.text`` would materialize the same bytes)."""
    return url_count(spark, sf_dir).select(
        F.concat(F.col("token"), F.lit(": "), F.col("cnt").cast("string")).alias("line")
    )


def topk_per_group(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Grouped top-K: the flagship ranking per language — per-group heaps
    via a rank window rather than one global TakeOrdered. At 100 TB this is
    the 'top URLs per domain/shard' query: one shuffle on the group+key
    count, one shuffle on the group for the window."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = tokens.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("lang", "token", "cnt", "rn")
    )


def arrow_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow surface: per-document character and separator counts
    computed with pure pyarrow compute kernels — no pandas conversion, no
    per-row Python, vectorized C++ over Arrow batches. This is the fourth
    and lowest-overhead rung of the Python-extension ladder (UDF → pandas
    UDF → mapInPandas → mapInArrow): for binary/text bulk transforms the
    Arrow path skips even the pandas block-construction cost.

    reference parity: the UDF surface of main.go:24-33 (mapF/reduceF as
    user-supplied functions) — realized here at the Arrow batch level."""
    from ..tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                ],
                names=["doc_id", "n_chars_utf8", "n_spaces"],
            )

    return docs.mapInArrow(stats, schema="doc_id long, n_chars_utf8 long, n_spaces long")


def udf_iter_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12's fourth UDF shape: the ITERATOR-of-Series pandas UDF
    (SCALAR_ITER) — same Arrow batching as udf_surface's scalar form but
    the function owns the batch loop, the variant used when per-executor
    one-time setup (a model handle, a compiled automaton) must amortize
    across batches instead of re-running per batch. The "expensive
    initialization" here is a compiled regex + a byte-cost table, built
    once per partition iterator, then applied to every batch: per-doc
    UTF-8 byte count and a tokens-per-100-bytes density score.

    Exactness: byte length and token count are integers; density is one
    stable-rounded division — exact oracle via DuckDB's strlen/octet
    semantics (ASCII fixture: octet_length)."""
    import re

    @pandas_udf("struct<n_bytes: long, n_tokens: long>")
    def doc_stats(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # (annotated Iterator[Series] for the SCALAR_ITER eval-type
        # inferencer; a struct-typed UDF yields DataFrames at runtime)
        token_re = re.compile(r"[^ ]+")  # one-time setup, amortized
        for text in batches:
            filled = text.fillna("")
            yield pd.DataFrame(
                {
                    "n_bytes": filled.str.encode("utf-8").str.len().astype("int64"),
                    "n_tokens": filled.str.count(token_re).astype("int64"),
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", doc_stats(F.col("text")).alias("s")
    ).select(
        "doc_id",
        F.col("s.n_bytes").alias("n_bytes"),
        F.col("s.n_tokens").alias("n_tokens"),
        F.expr(
            "CASE WHEN s.n_bytes = 0 THEN 0.0D ELSE"
            " floor(CAST(s.n_tokens AS DOUBLE) * 100 / s.n_bytes * 1e6 + 0.5) / 1e6 END"
        ).alias("tokens_per_100b"),
    )
