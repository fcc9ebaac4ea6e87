"""Whitespace-URL text-file source — the reference's actual input format
(O1: whole-file read at common_map.go:19-22; files of space-separated URL
tokens like src/main/data0..7.txt, ≤128 MB each per README.md:19-20).

Spark replaces whole-file materialization with streamed line reading
(FileScan text); spark.sql.files.maxPartitionBytes defaults to the same
128 MB constant the reference adopts, so the task granularity matches the
reference's one-task-per-file design without its whole-file memory cost
(SURVEY.md §4.2 P2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_url_text(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """O1: scan text file(s) to one row per line, column ``value``.

    ``input_file_name()`` is available if per-file attribution is needed;
    the reference's mapF ignores its filename argument (main.go:17-19).
    """
    return spark.read.text(paths)


def tokenize_urls(lines: DataFrame) -> DataFrame:
    """O2 on raw text (main.go:22-33): split each line on the space
    character, drop empty tokens (strings.FieldsFunc semantics), one ``url``
    per row. The reference splits whole files; splitting per line is
    equivalent because newlines terminate tokens in its fixtures."""
    return (
        lines.select(F.explode(F.split(F.col("value"), " ")).alias("url"))
        .filter(F.col("url") != "")
    )


def url_topk_from_text(spark: SparkSession, paths: str | list[str], k: int = 100) -> DataFrame:
    """The reference's complete user-facing query (main.sh:2-3) from its
    native input format: scan → tokenize → count → top-K, returning
    (url, cnt) with deterministic tie order."""
    return (
        tokenize_urls(read_url_text(spark, paths))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("url").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# The same format through Spark 4's PYTHON DATA SOURCE API — the modern
# extension point for formats Spark lacks a native reader for. The class
# below is the reference's input model made literal: ONE InputPartition per
# data file (master_splitmerge.go splits work file-per-map-task), each task
# streaming its file's lines. Registration is per-session
# (spark.dataSource.register); executors unpickle the reader and read their
# partition's file locally.
# ---------------------------------------------------------------------------

PYDS_FILES = 8


def _pyds_classes():
    """Define the DataSource classes lazily: pyspark.sql.datasource exists
    only on Spark 4+, and module import must not require it."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class UrlTextDataSource(DataSource):
        """`format("urltext")`: directory of whitespace-URL text files →
        one row per line, one partition per file."""

        @classmethod
        def name(cls) -> str:
            return "urltext"

        def schema(self) -> str:
            return "value string"

        def reader(self, schema):
            return UrlTextReader(self.options)

    class UrlTextReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")

        def partitions(self):
            import glob as _glob
            import os as _os

            files = sorted(_glob.glob(_os.path.join(self.path, "*.txt")))
            return [InputPartition(f) for f in files]

        def read(self, partition):
            # yield Arrow RecordBatches, not per-row tuples: the tuple path
            # pickles every row across the Python↔JVM boundary (measured
            # 3.6 s for the sf0.1 corpus); Arrow moves 8k-line columnar
            # batches instead (same contract, ~4× less scan wall)
            import pyarrow as pa

            buf: list[str] = []
            with open(partition.value, encoding="utf-8") as f:
                for line in f:
                    buf.append(line.rstrip("\n"))
                    if len(buf) >= 8192:
                        yield pa.record_batch([pa.array(buf, pa.string())], names=["value"])
                        buf = []
            if buf:
                yield pa.record_batch([pa.array(buf, pa.string())], names=["value"])

    return UrlTextDataSource


def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's data0..7.txt layout end-to-end through a CUSTOM
    PYTHON DATA SOURCE: the documents corpus is materialized once as
    PYDS_FILES round-robin text files (the reference's exact input
    layout), read back via `spark.read.format("urltext")` — one Spark
    task per file, the reference's split model — and reduced to the
    flagship (token, cnt) table, oracle-identical to url_count over the
    original parquet.

    At 100 TB the partitions() list is the only driver-side state (one
    entry per file); each executor streams its file line-by-line — the
    whole-file materialization the reference needed (common_map.go:19-22)
    never happens."""
    import os

    from ..tables import load_table, refresh_scratch, tmp_scratch_dir
    from .bucketed_files import write_bucketed_files

    docs = load_table(spark, sf_dir, "documents")
    d = tmp_scratch_dir("pyds", sf_dir)
    # Distributed write of the reference's dataN.txt layout: bucket by
    # doc_id % N — no per-row driver loop, scales with the corpus. NULL
    # text rows become empty lines (coalesce), matching the
    # tokenizer/oracle convention.
    refresh_scratch(
        d,
        os.path.join(sf_dir, "documents.parquet"),
        PYDS_FILES,
        lambda: write_bucketed_files(
            docs.select(
                F.coalesce(F.col("text"), F.lit("")).alias("value"),
                (F.col("doc_id") % PYDS_FILES).alias("bucket"),
            ),
            d,
            PYDS_FILES,
            "txt",
        ),
    )
    try:
        spark.dataSource.register(_pyds_classes())
    except Exception:
        pass  # already registered in this session
    lines = spark.read.format("urltext").option("path", d).load()
    return (
        lines.select(F.explode(F.split("value", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
