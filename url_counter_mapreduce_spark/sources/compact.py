"""Small-file compaction — the table-maintenance pass every 100 TB lake
runs continuously. Streaming ingests, dynamic-partition writes and
fine-grained upserts all leave datasets as thousands of tiny files; reads
then pay one task + one footer fetch per file, and the NameNode/object
store pays the metadata. Compaction rewrites a dataset into
~target-byte-sized files without changing a row — Delta's OPTIMIZE /
Iceberg's rewrite_data_files, expressed as plain Spark.

Mechanics here: measure the dataset's on-disk bytes, derive
n_files = clamp(ceil(bytes / target), 1, current_file_count), rewrite
through a round-robin repartition(n_files) (each output file ~equal
bytes — a range partitioning by a sort key would instead co-locate values
for downstream pruning; both are one shuffle). Correctness = row count +
order-insensitive content signature over every column, verified against
the DuckDB oracle on the ORIGINAL table — compaction must be a physical
no-op. The file-count collapse itself is asserted in tests (the oracle
can't see the filesystem).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table, refresh_scratch, tmp_scratch_dir

COMPACT_TARGET_BYTES = 4 * 1024 * 1024  # small target so the fixture corpus still yields >1 file
SMALL_FILE_SHARDS = 64  # the "bad" pre-state: one tiny file per shard


def _dir_bytes_and_files(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def compact_dataset(spark: SparkSession, src_path: str, dst_path: str, target_bytes: int) -> int:
    """Rewrite src_path parquet into ~target_bytes files at dst_path;
    returns the output file count. At scale the byte measurement comes
    from the table catalog / file listing the driver already holds — it
    is metadata, not a data pass."""
    total, n_files = _dir_bytes_and_files(src_path)
    n_out = max(1, min(n_files, -(-total // target_bytes)))
    df = spark.read.parquet(src_path)
    df.repartition(n_out).write.mode("overwrite").parquet(dst_path)
    return _dir_bytes_and_files(dst_path)[1]


def sink_compacted_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction round-trip as a verifiable query: shatter documents
    into SMALL_FILE_SHARDS tiny files (the ingest-debris pre-state), compact
    to ~COMPACT_TARGET_BYTES files, then prove the rewrite changed nothing:
    per-lang row counts and an order-insensitive xor-style content
    signature (sum of per-row md5 prefixes — associative + commutative, so
    file layout and row order cannot affect it) computed from the COMPACTED
    dataset, verified by the oracle against the original table."""
    docs = load_table(spark, sf_dir, "documents")
    shattered = tmp_scratch_dir("shatter", sf_dir)
    compacted = tmp_scratch_dir("compact", sf_dir)
    # a regenerated fixture at the same path must re-shatter, or the query
    # would silently compact stale data while the oracle reads the live table
    refresh_scratch(
        shattered,
        os.path.join(sf_dir, "documents.parquet"),
        SMALL_FILE_SHARDS,
        lambda: docs.repartition(SMALL_FILE_SHARDS).write.mode("overwrite").parquet(shattered),
    )
    compact_dataset(spark, shattered, compacted, COMPACT_TARGET_BYTES)
    back = spark.read.parquet(compacted)
    row_sig = (
        "CAST(conv(substring(md5(concat_ws('|', CAST(doc_id AS STRING), text, lang,"
        " source, CAST(n_chars AS STRING))), 1, 12), 16, 10) AS BIGINT)"
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr(row_sig)).alias("content_sig"),
    )
