"""Scratch/artifact base-path knob (VERDICT r12 item 4): every scratch
location routes through tables.tmp_scratch_dir, and the base resolves
SPARK_GRAFT_SCRATCH_DIR (env) > spark.graft.scratchDir (session conf) >
system temp — so a cluster deployment can point the SCC barrier, the
stored minhash index, sinks, and stream checkpoints at a shared FS with
one setting."""

from __future__ import annotations

import os
import tempfile

from tests.conftest import SF_SMOKE
from url_counter_mapreduce_spark import tables


def test_env_var_overrides_base(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    assert tables.scratch_base_dir() == str(tmp_path)
    for prefix in ("scc_barrier", "mh_index", "stream", "sink"):
        p = tables.tmp_scratch_dir(prefix, "k")
        assert p.startswith(str(tmp_path) + os.sep), p


def test_session_conf_used_when_env_unset(monkeypatch, spark, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    old = spark.conf.get("spark.graft.scratchDir", None)
    spark.conf.set("spark.graft.scratchDir", str(tmp_path))
    try:
        assert tables.scratch_base_dir() == str(tmp_path)
        assert tables.tmp_scratch_dir("x", "y").startswith(str(tmp_path))
    finally:
        if old is None:
            spark.conf.unset("spark.graft.scratchDir")
        else:
            spark.conf.set("spark.graft.scratchDir", old)


def test_default_is_system_tempdir(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    # no active session consulted here beyond whatever conftest created;
    # if the suite session has no scratchDir conf, the default must be
    # the system temp dir
    base = tables.scratch_base_dir()
    assert base in (tempfile.gettempdir(),) or os.path.isdir(base)


def test_env_precedes_session_conf(monkeypatch, spark, tmp_path):
    env_dir = tmp_path / "env"
    conf_dir = tmp_path / "conf"
    env_dir.mkdir()
    conf_dir.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(env_dir))
    old = spark.conf.get("spark.graft.scratchDir", None)
    spark.conf.set("spark.graft.scratchDir", str(conf_dir))
    try:
        assert tables.scratch_base_dir() == str(env_dir)
    finally:
        if old is None:
            spark.conf.unset("spark.graft.scratchDir")
        else:
            spark.conf.set("spark.graft.scratchDir", old)


def test_real_artifact_lands_under_knob(monkeypatch, spark, tmp_path):
    """End-to-end: with the knob set, a stored-index build writes its
    whole artifact tree under the knob directory and nothing under the
    would-be default path for the same key."""
    from url_counter_mapreduce_spark.operators import index_store

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    root = index_store.index_dir(SF_SMOKE)
    assert root.startswith(str(tmp_path) + os.sep)
    index_store.minhash_index_build(spark, SF_SMOKE)
    assert os.path.exists(os.path.join(root, "_INDEX_META.json"))
    assert os.path.isdir(os.path.join(root, "bands"))
    assert os.path.isdir(os.path.join(root, "sigs"))
    # the identically-keyed default-path artifact was not (re)written
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR")
    default_root = index_store.index_dir(SF_SMOKE)
    assert default_root != root


def test_refresh_scratch_rewrites_only_when_the_source_changes(tmp_path):
    """The write runs once per source fingerprint: an untouched source is
    skipped, and a 1 µs mtime move within the same second rewrites."""
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    t_ns = 1_700_000_000 * 10**9 + 500_000_000
    os.utime(src, ns=(t_ns, t_ns))
    d = str(tmp_path / "derived")
    writes = []

    def refresh(tag=8):
        return tables.refresh_scratch(d, str(src), tag, lambda: writes.append(tag))

    assert refresh() == d and refresh() == d
    assert writes == [8]
    os.utime(src, ns=(t_ns, t_ns + 1000))  # same size, same whole second
    refresh()
    assert writes == [8, 8]
    refresh(tag=16)  # a changed layout parameter rewrites too
    assert writes == [8, 8, 16]
