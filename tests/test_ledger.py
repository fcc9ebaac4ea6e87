"""The per-session resource ledger (url_counter_mapreduce_spark/ledger.py)
on a real session: artifact and checkpoint release, conf scopes, the
stale-handle and two-thread contracts, and a source guard that keeps every
piece of session state in the ledger. The artifact LRU itself is covered
with fakes in tests/test_session_cache.py."""

import hashlib
import inspect
import io
import os
import re
import threading
import tokenize

import pytest

from tests.conftest import REPO_ROOT, SF_SMOKE
from url_counter_mapreduce_spark import QUERIES, clear_caches
from url_counter_mapreduce_spark.ledger import scoped_conf


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _hash(df) -> str:
    rows = sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in df.collect()
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()


def test_local_checkpoint_is_not_patched(spark):
    """DataFrame.localCheckpoint is PySpark's own method, storageLevel and
    all, after the package is imported (ADVICE r14 medium)."""
    import url_counter_mapreduce_spark  # noqa: F401
    from pyspark import StorageLevel
    from pyspark.sql.classic.dataframe import DataFrame

    assert DataFrame.localCheckpoint.__module__ == "pyspark.sql.classic.dataframe"
    assert "storageLevel" in inspect.signature(DataFrame.localCheckpoint).parameters
    df = spark.range(10).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    assert df.count() == 10


def test_clear_caches_releases_every_family(spark):
    """host_scc fills the SCC-label family and dedup_image_dhash_pairs the
    perceptual-fingerprint family; clear_caches returns the session's
    persistent-RDD count to where it was before either call."""
    clear_caches(spark)
    before = _persisted(spark)
    QUERIES["host_scc"](spark, SF_SMOKE).count()
    QUERIES["dedup_image_dhash_pairs"](spark, SF_SMOKE).count()
    assert _persisted(spark) > before
    clear_caches(spark)
    assert _persisted(spark) == before


def test_repeat_calls_release_superseded_checkpoints(spark):
    """Re-invoking a query releases the checkpoints of its previous
    invocation: the persistent-RDD count stays flat across calls."""
    counts = []
    for _ in range(3):
        QUERIES["host_communities_lpa"](spark, SF_SMOKE).count()
        counts.append(_persisted(spark))
    assert counts[2] == counts[0], counts


def test_stale_handle_contract(spark):
    """Re-invoking query X invalidates the frame from X's previous call
    (its checkpoints are released); a frame of another query Y stays
    usable, and so does X's new frame."""
    old = QUERIES["host_communities_lpa"](spark, SF_SMOKE)
    n = old.count()
    other = QUERIES["host_pagerank"](spark, SF_SMOKE)
    n_other = other.count()
    new = QUERIES["host_communities_lpa"](spark, SF_SMOKE)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        old.count()
    assert other.count() == n_other
    assert new.count() == n


def test_scoped_conf_scopes_never_interleave(spark):
    """Force the interleaving that left AQE off for good with copied
    snapshot/restore blocks: A saves its confs, B saves A's borrowed
    values, A restores, then B restores. With the session lock B cannot
    enter while A's scope is open, and every conf ends where it began."""
    confs = {"spark.sql.adaptive.enabled": "false", "spark.graft.test.borrowed": "1"}
    before = {k: spark.conf.get(k, None) for k in confs}
    assert before["spark.graft.test.borrowed"] is None
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def a():
        with scoped_conf(spark, confs):
            a_in.set()
            seen["b_entered_inside_a"] = b_in.wait(timeout=2)
        a_out.set()

    def b():
        a_in.wait(timeout=30)
        with scoped_conf(spark, confs):
            b_in.set()
            a_out.wait(timeout=2)

    threads = [threading.Thread(target=a), threading.Thread(target=b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"b_entered_inside_a": False}
    assert {k: spark.conf.get(k, None) for k in confs} == before


def test_two_threads_run_queries_on_one_session(spark):
    """host_hits and host_pagerank (each disables AQE around its loop)
    started together from two threads on one session give the serial
    results, and leave the session confs as they were."""
    names = ("host_hits", "host_pagerank")
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    serial = {q: _hash(QUERIES[q](spark, SF_SMOKE)) for q in names}
    start = threading.Barrier(len(names))
    got, errors = {}, []

    def run(q):
        try:
            start.wait(timeout=30)
            got[q] = _hash(QUERIES[q](spark, SF_SMOKE))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(q,)) for q in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors and got == serial
    assert {k: spark.conf.get(k) for k in keys} == before


# -- source guard -------------------------------------------------------------

PKG = os.path.join(REPO_ROOT, "url_counter_mapreduce_spark")
# the two modules that own session state; everything else goes through them
_OWNERS = {"ledger.py", "session.py"}
_FORBIDDEN = {
    "conf.set": re.compile(r"\bconf\.set\("),
    "conf.unset": re.compile(r"\bconf\.unset\("),
    ".localCheckpoint(": re.compile(r"\.localCheckpoint\("),
    "SessionFrameCache": re.compile(r"SessionFrameCache"),
    "_spark_graft_* attribute": re.compile(r"(?<!\w)_spark_graft_\w+"),
}
# applicationId may only name a scratch dir; any other use is a cache key
_APP_ID_ALLOWED = {
    "operators/graph.py": 'tmp_scratch_dir("scc_barrier", spark.sparkContext.applicationId)'
}


def _package_sources():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def _code_lines(src: str) -> list[str]:
    """Source lines with comments and string literals blanked out."""
    lines = src.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in (tokenize.COMMENT, tokenize.STRING):
            (r0, c0), (r1, c1) = tok.start, tok.end
            for r in range(r0, r1 + 1):
                line = lines[r - 1]
                a = c0 if r == r0 else 0
                b = c1 if r == r1 else len(line)
                lines[r - 1] = line[:a] + " " * (b - a) + line[b:]
    return lines


def test_session_state_lives_only_in_the_ledger():
    hits = []
    for rel, src in _package_sources():
        if os.path.basename(rel) not in _OWNERS:
            for what, pat in _FORBIDDEN.items():
                hits += [f"{rel}: {what}" for _ in pat.finditer(src)]
        raw = src.splitlines()
        for i, line in enumerate(_code_lines(src)):
            if "applicationId" in line and _APP_ID_ALLOWED.get(rel, "\0") not in raw[i]:
                hits.append(f"{rel}:{i + 1}: applicationId outside a scratch-dir name")
    assert not hits, hits
