"""SparkSession factory with scale-minded defaults.

The reference hard-codes its parallelism knobs (nReduce=3 at
src/main/main.go:61,64; ≤128 MB per map task at README.md:20). Spark's
equivalents are config, not code — we centralize them here so every entry
point (tests, bench, driver harness) runs the same way.

Scale posture (designed for ~100 TB on a 1000-executor cluster, tested on
local[32]):
  - AQE on: runtime partition coalescing + skew-join splitting replaces the
    reference's fixed nReduce and its unhandled-skew gap (SURVEY.md §4.2 P10).
  - shuffle.partitions: small for local test scale; at 100 TB you want
    ~2-3× total executor cores with AQE coalescing down (docs/SCALE.md).
  - files.maxPartitionBytes left at the 128 MB default — the same constant the
    reference adopts as its per-map-task input cap (README.md:20).
  - Arrow enabled: every Python-side exchange (pandas_udf, mapInPandas,
    toPandas) is columnar-batched, never row-at-a-time pickling.
  - Session timezone UTC: the driver testdata's parquet timestamps are
    timezone-naive; a fixed UTC session makes Spark's TIMESTAMP_LTZ
    read/collect round-trip the naive values bit-for-bit, matching DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import ledger

# AQE coalescing policy (optimization round 13): keep the Spark default,
# parallelismFirst=true. An earlier commit this round flipped it to false on
# the strength of a 12-query sf0.01 sample, reasoning that honoring the 64 MB
# advisory size would kill per-task dispatch overhead on tiny reduce stages.
# The FULL sf0.1 bench disproved it: coalescing by BYTES serializes shuffles
# whose cost is CPU per byte, not bytes — dedup_mllib_minhash 7.1→19.9 s,
# dedup_prefix_filter 5.3→15.9 s, +45 s over the batch set (clean-load,
# reproduced in a same-session A/B; see OPTIMIZATION_r13.md). The default is
# also the scale-correct policy: AQE's target size is
# max(min(advisory, totalBytes/defaultParallelism), minPartitionSize), so at
# 100 TB (bytes/parallelism >> 64 MB) it honors the advisory exactly as
# `false` would, and only drops below it for small shuffles where idle cores
# cost more than dispatch. Env override kept for A/B measurement.
_PARALLELISM_FIRST = os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true")

# AQE coalescing floor (optimization round 13, guide §2.5's "bytes are a bad
# proxy for CPU-dense work" in its mildest form). With parallelismFirst=true
# the coalesce target is max(min(advisory, bytes/defaultParallelism),
# minPartitionSize); the 1 MB default floor squeezes every 1-8 MB shuffle
# onto 1-8 cores, which serializes reduce stages whose cost is CPU per byte:
# MLlib's MinHash join verify ran 62.7 s of CPU on 5 tasks, the PPJoin
# Jaccard verify 17.4 s on 5 tasks (r13 stage profiles). Interleaved
# same-session A/B at sf0.1: 256k gives dedup_mllib_minhash 5.6→4.0 s,
# dedup_prefix_filter 4.0→2.2 s with no measurable loss on shuffle-cheap
# queries (64k was marginally faster on the winners but cost
# orders_market_basket +0.33 s). Scale-neutral: at 100 TB the target is the
# 64 MB advisory (bytes/parallelism >> any floor); the floor only bites when
# a shuffle is small relative to the cluster — exactly when idle cores cost
# more than small fetches.
_AQE_MIN_PARTITION_SIZE = os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "256k")


def get_spark(app_name: str = "spark-graft", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark-default coalescing policy; see the module comment above for
        # why the bytes-first variant (false) regressed the full bench
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", _PARALLELISM_FIRST)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", _AQE_MIN_PARTITION_SIZE)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    return builder.getOrCreate()


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-created session.

    The driver harness creates its own SparkSession and hands it to
    ``__spark_entry__.entry``/``queries()`` callables; those can't choose
    JVM-startup configs, but the semantics-relevant ones (timezone, AQE,
    shuffle partitions) are runtime-settable and applied here. Also ships
    this package to executor Python workers (addPyFile) so UDF closures
    resolve regardless of the driver process's cwd/sys.path.

    Memoized in the session's ledger: every registry builder calls prep()
    (the driver invokes builders one at a time against its own session),
    so without the guard a 200+-query gate pays five py4j conf round-trips
    per call for confs that are already set — measurable aggregate drift
    on a suite dominated by sub-second queries. Every other in-package
    conf change goes through ledger.scoped_conf, which restores its keys,
    so re-applying is never needed within one session.
    """
    memo = ledger.of(spark).memo
    if memo.get("prepped"):
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", _PARALLELISM_FIRST
    )
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", _AQE_MIN_PARTITION_SIZE
    )
    # (events.parquet's TIMESTAMP(NANOS) column needs no conf: tables.
    # load_table branches on the observed ts dtype, covering both the
    # native NTZ read of Spark >= 4.1 and legacy nanosAsLong sessions)
    # InferFiltersFromGenerate synthesizes size(e)>0 pre-filters for every
    # explode; with computed arrays (shingles, token lists) the filter
    # inlines the whole array expression below the exchange and re-evaluates
    # it per row on the scan side (measured 5× slowdown on the MinHash
    # pipeline). Our exploded arrays are non-empty by construction.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    try:
        spark.conf.set("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    except Exception:
        pass  # immutable under some configs; harmless
    _ship_package(spark)
    memo["prepped"] = True
    return spark


def _ship_package(spark: SparkSession) -> None:
    memo = ledger.of(spark).memo
    if memo.get("shipped"):
        return
    import hashlib
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        # key the archive by source content so a stale zip from a previous
        # run of older code can never be shipped to executors
        digest = hashlib.md5()
        for root, _dirs, files in sorted(os.walk(pkg_dir)):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(root, f), "rb") as fh:
                        digest.update(fh.read())
        zip_base = os.path.join(
            tempfile.gettempdir(), f"url_counter_mapreduce_spark_pkg_{digest.hexdigest()[:12]}"
        )
        zip_path = zip_base + ".zip"
        if not os.path.exists(zip_path):
            shutil.make_archive(
                zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir=os.path.basename(pkg_dir)
            )
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Spark Connect without SparkContext; closures are self-contained anyway
    memo["shipped"] = True
