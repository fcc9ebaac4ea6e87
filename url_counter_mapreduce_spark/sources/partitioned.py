"""Partitioned parquet sink + partition-pruned re-read.

Hive-style directory partitioning is THE layout decision at 100 TB: a query
filtered on the partition column must read only the matching directories
(PartitionFilters in the scan), not the whole dataset. This operator writes
the documents table partitioned by lang, reads it back with a lang filter,
and aggregates — correctness via a DuckDB oracle over the original parquet,
the pruning itself asserted on the physical plan in tests/test_plans.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table, refresh_scratch, tmp_scratch_dir


def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → parquet partitioned by lang → filtered re-read → per-source
    summary of the 'en' partition. The write is the distributed dynamic-
    partition writer (one directory per lang); the read-back filter becomes
    a PartitionFilter, so only lang=en files are opened."""
    docs = load_table(spark, sf_dir, "documents")
    path = tmp_scratch_dir("part", sf_dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


# (lang, weight) dimension rows; the weight < DPP_WEIGHT_CUT filter is the
# SELECTIVE dimension predicate DPP keys on — it excludes 'es' at runtime,
# so the fact scan must skip that partition without a literal in the query
DPP_DIM_ROWS = (("en", 1), ("de", 2), ("es", 99))
DPP_WEIGHT_CUT = 50


def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the lang-partitioned dataset joined to a
    small dimension carrying a SELECTIVE filter on a non-join column —
    Catalyst injects `dynamicpruningexpression(lang IN dynamicpruning#N)`
    into the fact scan's PartitionFilters, so which partitions are read
    is decided at RUNTIME from the dimension's surviving keys. This is
    the star-schema analog of static PartitionFilters
    (sink_partitioned_parquet): there the pruning literal is in the
    query; here it comes out of the joined dimension — at 100 TB the
    difference between scanning 2 of 200 date/lang partitions and all of
    them whenever the predicate lives on the dim. (Probed: WITHOUT the
    dim-side filter Catalyst skips DPP — the join keys alone are not a
    selective predicate.)

    Plan asserted in tests/test_plans.py; correctness via the DuckDB
    oracle over the original parquet with the same inline dimension."""
    docs = load_table(spark, sf_dir, "documents")
    path = tmp_scratch_dir("part_dpp", sf_dir)
    # the partitioned dataset is written once per source fingerprint; a
    # regenerated fixture forces a rewrite
    refresh_scratch(
        path,
        os.path.join(sf_dir, "documents.parquet"),
        "lang",
        lambda: docs.write.mode("overwrite").partitionBy("lang").parquet(path),
    )
    fact = spark.read.parquet(path)
    # deliberately createDataFrame, NOT local_rows_df: a LocalRelation dim
    # constant-folds and the PartitionPruning rule no longer injects the
    # runtime dynamicpruningexpression this operator exists to demonstrate
    # (tests/test_plans.py::test_dynamic_partition_pruning_injected)
    dim = spark.createDataFrame(
        list(DPP_DIM_ROWS), "lang string, weight int"
    ).filter(F.col("weight") < DPP_WEIGHT_CUT)
    return (
        fact.join(dim, "lang")
        .groupBy("lang", "weight")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
