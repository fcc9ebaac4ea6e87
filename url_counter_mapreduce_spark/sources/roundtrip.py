"""Interchange-format sources/sinks: JSONL and CSV round-trips.

The reference reads exactly one format (whitespace-URL text files,
src/main/common_map.go:19-22); a corpus engine must also move data through
the interchange formats crawls and labeling vendors actually deliver. Each
round-trip query WRITES the documents table in the format (Spark
distributed writer, one file per partition), READS it back with an explicit
schema, and aggregates the result — verified against a DuckDB oracle that
reads the original parquet, so any lossy escaping/quoting/encoding in
either direction breaks the value hash.

Write target is a per-(uid, sf_dir) /tmp directory, mode=overwrite, so
repeat calls are idempotent and read-only testdata is never touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table, refresh_scratch, tmp_scratch_dir


def _rt_dir(kind: str, sf_dir: str) -> str:
    return tmp_scratch_dir("rt", f"{kind}:{sf_dir}")


def _doc_summary(back: DataFrame) -> DataFrame:
    """Aggregate sensitive to every field surviving the round-trip: counts,
    n_chars sum, recomputed text lengths, and an order-insensitive md5 XOR
    over (doc_id, text, lang, source) — one flipped byte anywhere changes
    the digest."""
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
        F.expr(
            "CAST(bit_xor(CAST(conv(substring(md5(concat_ws('|', CAST(doc_id AS STRING), text, source)), 1, 15), 16, 10) AS BIGINT)) AS BIGINT)"
        ).alias("content_sig"),
    )


def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSON Lines → back → per-lang summary. JSONL is the
    de-facto crawl interchange format; Spark's json writer/reader is the
    distributed path (one task per partition both ways)."""
    docs = load_table(spark, sf_dir, "documents")
    path = _rt_dir("jsonl", sf_dir)
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(docs.schema).json(path)
    return _doc_summary(back)


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC → back → per-lang summary. ORC is the other columnar
    interchange format warehouse exports arrive in (Hive/Trino lineage);
    Spark's writer/reader is native JVM (no extra package), with the same
    predicate-pushdown/column-pruning surface as parquet."""
    docs = load_table(spark, sf_dir, "documents")
    path = _rt_dir("orc", sf_dir)
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(docs.schema).orc(path)
    return _doc_summary(back)


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → CSV (RFC-4180 double-quote escaping) → back → per-lang
    summary. Free text with commas/quotes is exactly what breaks naive CSV
    handling; escape='\"' on both sides makes the writer and reader agree on
    the standard convention (Spark's default escape is backslash, which
    round-trips with itself but is not what other tools emit)."""
    docs = load_table(spark, sf_dir, "documents")
    path = _rt_dir("csv", sf_dir)
    docs.write.mode("overwrite").option("header", "true").option("quote", '"').option(
        "escape", '"'
    ).csv(path)
    back = (
        spark.read.schema(docs.schema)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(path)
    )
    return _doc_summary(back)


def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → XML (Spark 4 built-in xml data source, one <doc> row
    element per record) → back → per-lang summary. XML is the interchange
    format of the oldest crawl/feed archives (ARC-era metadata, sitemaps,
    vendor exports); the writer/reader pair is the same distributed
    one-task-per-partition path as JSONL. The reader gets the explicit
    schema — inference over XML is a full extra pass and type-guesses.

    Caveat pinned by the oracle: XML 1.0 cannot represent most control
    characters, so a corpus containing them needs escaping before this
    sink — the fixture corpus is control-free, and a lossy write would
    break the content signature."""
    docs = load_table(spark, sf_dir, "documents")
    path = _rt_dir("xml", sf_dir)
    docs.write.mode("overwrite").format("xml").option("rowTag", "doc").save(path)
    back = (
        spark.read.schema(docs.schema).format("xml").option("rowTag", "doc").load(path)
    )
    return _doc_summary(back)


BINARYFILE_MAX_DOCS = 200


def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-per-record binary ingest via the `binaryFile` data source —
    the path image/audio corpora actually take into Spark (a directory of
    media files, one row per file with path/length/content). A bounded
    sample of documents (doc_id < BINARYFILE_MAX_DOCS) is materialized as
    one .bin file each (UTF-8 text bytes — the stand-in for image bytes;
    the write is a bounded driver artifact, the READ is the distributed
    path under test), then scanned back and digested per file.

    At 100 TB the reader's partitioning knobs (maxPartitionBytes,
    filesMinPartitionNum) batch small files into tasks — the same
    small-files story as sink_compacted_parquet, on the ingest side."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    sample = docs.filter(F.col("doc_id") < BINARYFILE_MAX_DOCS).select("doc_id", "text")
    d = _rt_dir("binfiles", sf_dir)

    def write() -> None:
        for stale in os.listdir(d):
            if stale.endswith(".bin"):
                os.unlink(os.path.join(d, stale))
        pdf = sample.toPandas()  # bounded: BINARYFILE_MAX_DOCS rows
        for _, row in pdf.iterrows():
            with open(os.path.join(d, f"{int(row.doc_id):06d}.bin"), "wb") as f:
                f.write((row.text or "").encode("utf-8"))

    # a changed cap or regenerated fixture re-materializes, or the scan
    # would read stale files while the oracle reads fresh parquet
    refresh_scratch(d, os.path.join(sf_dir, "documents.parquet"), BINARYFILE_MAX_DOCS, write)
    scanned = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(d)
    return scanned.select(
        F.regexp_extract(F.col("path"), r"(\d{6})\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("digest"),
    )


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across ingest generations — the lakehouse reality
    that a long-lived 100 TB dataset is written by MANY pipeline versions:
    generation 1 lands (doc_id, text), generation 2 adds a column
    (n_chars_x2). `mergeSchema` unifies the footers at read time; rows
    from old files surface the new column as NULL, and the partition
    column (gen) is discovered from the directory layout, so per-
    generation audits stay partition-pruned.

    The added column is kept integral (2·n_chars) so the per-generation
    sums are exact BIGINTs — the oracle replays the generation split and
    NULL semantics from the original parquet. Scratch is refreshed from
    the source's fingerprint (tables.refresh_scratch)."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    d = _rt_dir("evol", sf_dir)

    def write() -> None:
        (
            docs.filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "text")
            .write.mode("overwrite")
            .parquet(os.path.join(d, "gen=1"))
        )
        (
            docs.filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "text", (F.col("n_chars") * 2).alias("n_chars_x2"))
            .write.mode("overwrite")
            .parquet(os.path.join(d, "gen=2"))
        )

    refresh_scratch(d, os.path.join(sf_dir, "documents.parquet"), "v2", write)
    back = spark.read.option("mergeSchema", "true").parquet(d)
    return back.groupBy("gen").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("n_chars_x2").alias("n_with_extra"),
        F.sum(F.coalesce("n_chars_x2", F.lit(0))).alias("sum_extra"),
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("sum_text_len"),
    )
