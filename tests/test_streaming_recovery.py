"""Streaming restart/recovery semantics (SURVEY.md §5; reference
src/mapreduce/test_test.go:173-227): the reference's fault-injection tests
kill workers mid-job and assert the final output is still exactly correct —
its guarantee comes from idempotent task retry. Structured Streaming's
analog is the CHECKPOINT: a restarted query must resume from the recorded
source offsets and produce each input record's effect exactly once, never
reprocessing what a previous incarnation already committed.

The test drives two incarnations of the same file-source query against the
same checkpoint: incarnation 1 sees batch A and terminates (AvailableNow —
a clean stand-in for "the driver died after committing"); batch B arrives;
incarnation 2 starts from the same checkpoint and must emit ONLY B's rows.
Output is a parquet file sink (also offset-tracked), so double-processing
would be visible as duplicate rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F


def _write_batch(spark, path: str, lo: int, hi: int) -> None:
    (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 10).alias("value"))
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


def _run_incarnation(spark, src: str, sink: str, chk: str) -> None:
    stream = (
        spark.readStream.schema("id long, value long")
        .parquet(src)
        .withColumn("doubled", F.col("value") * 2)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_checkpoint_resume_is_exactly_once(spark):
    base = tempfile.mkdtemp(prefix="spark_graft_recovery_")
    src, sink, chk = (os.path.join(base, d) for d in ("src", "sink", "chk"))
    os.makedirs(src)
    try:
        _write_batch(spark, src, 0, 100)
        _run_incarnation(spark, src, sink, chk)
        first = spark.read.parquet(sink)
        assert first.count() == 100

        _write_batch(spark, src, 100, 150)
        _run_incarnation(spark, src, sink, chk)  # same checkpoint: resumes
        out = spark.read.parquet(sink)
        # exactly once: 150 distinct ids, no reprocessed duplicates of A
        assert out.count() == 150
        assert out.select("id").distinct().count() == 150
        assert out.agg(F.sum("doubled")).collect()[0][0] == sum(i * 20 for i in range(150))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fresh_checkpoint_reprocesses_everything(spark):
    """Control: withOUT the old checkpoint the same query re-reads the full
    directory — proving the exactly-once behavior above comes from the
    checkpoint, not from the file source ignoring old files. (Fresh sink
    as well: the parquet sink's own _spark_metadata transaction log is
    checkpoint-scoped, so two incarnations with different checkpoints
    must not share a sink directory — itself a recovery-semantics fact
    worth pinning.)"""
    base = tempfile.mkdtemp(prefix="spark_graft_recovery2_")
    src, sink1, sink2, chk1, chk2 = (
        os.path.join(base, d) for d in ("src", "sink1", "sink2", "chk1", "chk2")
    )
    os.makedirs(src)
    try:
        _write_batch(spark, src, 0, 40)
        _run_incarnation(spark, src, sink1, chk1)
        assert spark.read.parquet(sink1).count() == 40
        _write_batch(spark, src, 40, 60)
        _run_incarnation(spark, src, sink2, chk2)  # FRESH checkpoint + sink
        out = spark.read.parquet(sink2)
        assert out.count() == 60  # the fresh incarnation re-reads everything
        assert out.filter(F.col("id") < 40).count() == 40
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _write_docs(spark, path: str, rows: list) -> None:
    """rows = [(doc_id, text)] — the columns first_seen_dedup needs."""
    (
        spark.createDataFrame(rows, "doc_id long, text string")
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


def _run_dedup_incarnation(spark, src: str, sink_dir: str, chk: str) -> list:
    """One checkpointed incarnation of the stateful first-seen dedup over
    the file-source directory; returns the (fp, keeper_id) rows THIS
    incarnation emitted. Sink is foreachBatch → parquet append (the memory
    sink refuses checkpoint recovery); sink_dir is per-incarnation so
    emissions across restarts are observable separately."""
    from url_counter_mapreduce_spark.streaming.stateful_v2 import first_seen_dedup

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)

    def _sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(sink_dir)

    q = (
        first_seen_dedup(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return [(r.fp, r.keeper_id) for r in spark.read.parquet(sink_dir).collect()]
    except Exception:
        return []  # incarnation emitted nothing → sink dir never created


def _dedup_restart_scenario(spark) -> None:
    """Mid-stream kill + resume for the stateful dedup (reference
    test_test.go:193-227's fault-injection spirit): incarnation 1 sees
    fingerprints A and B and dies after committing; batch 2 carries
    LOWER-doc_id duplicates of A/B plus a new fingerprint C; incarnation 2
    must restore the seen-state from the checkpoint and emit ONLY C —
    first-seen keepers are exactly-once across the restart boundary, and
    a recovered key's keeper is never re-opened (the late lower id does
    not re-emit A)."""
    base = tempfile.mkdtemp(prefix="spark_graft_dedup_restart_")
    src, chk = os.path.join(base, "src"), os.path.join(base, "chk")
    os.makedirs(src)
    try:
        _write_docs(spark, src, [(10, "alpha text"), (11, "alpha text"), (20, "beta text")])
        got1 = _run_dedup_incarnation(spark, src, os.path.join(base, "sink1"), chk)
        # batch 1: A keeps min(10,11)=10, B keeps 20
        assert sorted(k for _, k in got1) == [10, 20]

        _write_docs(spark, src, [(5, "alpha text"), (6, "beta text"), (30, "gamma text")])
        got2 = _run_dedup_incarnation(spark, src, os.path.join(base, "sink2"), chk)
        # incarnation 2: state recovered — A and B are already-seen keys and
        # must NOT re-emit (even though doc 5 < keeper 10); only C emits
        assert sorted(k for _, k in got2) == [30]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stateful_dedup_restart(spark):
    """Exactly-once first-seen keepers across a restart (default state
    store provider)."""
    _dedup_restart_scenario(spark)


def test_stateful_dedup_restart_rocksdb_provider(spark):
    """Same kill+resume scenario under the RocksDB state store provider —
    the production backend at 100 TB state sizes (HDFS-backed keeps every
    key in executor heap; RocksDB spills to local SSD and checkpoints
    changelogs). Asserting the scenario under both providers pins that
    the operator's exactly-once contract doesn't depend on the default
    in-memory provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        _dedup_restart_scenario(spark)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
