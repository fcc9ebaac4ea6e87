"""Streaming variant of the flagship query (the reference's one and only
query, main.sh:2-3, as a stream): tokenize a document stream → running
count per token → top-100.

Complete-mode aggregation keeps the full count state (the streaming analog
of the reference's merged mrtmp result, master_splitmerge.go:13-33); sort +
limit is applied on the in-memory sink table (complete-mode sorting before a
memory sink re-sorts the whole state every micro-batch — cheaper to rank
once after draining, and identical for a bounded source)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructType

from .event_count import _stream_dir_for
from . import memory_drain


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = (
        StructType()
        .add("doc_id", LongType())
        .add("text", StringType())
        .add("lang", StringType())
        .add("source", StringType())
        .add("n_chars", LongType())
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_stream_dir_for(sf_dir, "documents"))
    )


def stream_url_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running token counts over a documents stream, top-100 after drain.
    Matches the batch url_topk exactly on bounded input (checked in tests)."""
    counts = (
        _documents_stream(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        memory_drain(counts, "stream_url_count_sink", "complete")
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(100)
    )
