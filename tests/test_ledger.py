"""The per-session resource ledger (url_counter_mapreduce_spark/ledger.py)
on a real session: artifact and checkpoint release, conf scopes, the
stale-handle and two-thread contracts, and a source guard that keeps every
piece of session state in the ledger. The artifact LRU itself is covered
with fakes in tests/test_session_cache.py."""

import ast
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
from url_counter_mapreduce_spark.session import SQL_CONFS, prep


def _persisted(spark) -> set[int]:
    """Ids of the session's persisted RDDs. The tests compare id sets, not
    counts: an RDD some earlier test left unreferenced can be released by
    the context cleaner at any moment, which moves a count but not the
    ids a query added."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


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
    perceptual-fingerprint family; clear_caches releases every RDD the
    two calls persisted."""
    clear_caches(spark)
    before = _persisted(spark)
    QUERIES["host_scc"](spark, SF_SMOKE).count()
    QUERIES["dedup_image_dhash_pairs"](spark, SF_SMOKE).count()
    assert _persisted(spark) - before
    clear_caches(spark)
    assert not _persisted(spark) - before


def test_uncached_ivf_indexes_are_ledger_owned(spark):
    """An IVF index built without a cache key lives in the ledger's
    "ivf-index" family, so clear_caches releases every RDD five uncached
    ivf_topk calls persisted. Each call trains a different cell count, so
    no two indexes share one cached plan."""
    from url_counter_mapreduce_spark.operators.similarity import ivf_topk

    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clear_caches(spark)
    before = _persisted(spark)
    for n_cells in range(2, 7):
        ivf_topk(emb, n_queries=4, k=2, n_cells=n_cells).count()
    assert _persisted(spark) - before
    clear_caches(spark)
    assert not _persisted(spark) - before


def test_repeat_calls_release_superseded_checkpoints(spark):
    """Re-invoking a query releases the checkpoints of its previous
    invocation: the number of RDDs the calls hold persisted stays flat."""
    base = _persisted(spark)
    counts = []
    for _ in range(3):
        QUERIES["host_communities_lpa"](spark, SF_SMOKE).count()
        counts.append(len(_persisted(spark) - base))
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


def test_prep_gives_a_plain_session_the_conf_table(spark):
    """A session built elsewhere (here: one whose SQL confs were reset to
    Spark's defaults) reads every SQL_CONFS value once prep() has run."""
    plain = spark.newSession()
    for key in SQL_CONFS:
        plain.conf.unset(key)
    assert {k: plain.conf.get(k, None) for k in SQL_CONFS} != SQL_CONFS
    prep(plain)
    assert {k: plain.conf.get(k, None) for k in SQL_CONFS} == SQL_CONFS
    assert plain.conf.get("spark.sql.shuffle.partitions") == os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    )


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


_MEMORY_SINK = re.compile(r"""\.format\(\s*["']memory["']\s*\)""")


def test_one_memory_sink_drain_and_one_stateful_dedup_api():
    """Every memory-sink streaming query drains through
    streaming.memory_drain, and first-seen dedup has the one
    applyInPandasWithState formulation."""
    sinks = [
        f"{rel}:{src.count(chr(10), 0, m.start()) + 1}"
        for rel, src in _package_sources()
        for m in _MEMORY_SINK.finditer(src)
    ]
    assert len(sinks) == 1 and sinks[0].startswith("streaming/__init__.py:"), sinks
    tws = [
        f"{rel}:{i + 1}"
        for rel, src in _package_sources()
        for i, line in enumerate(_code_lines(src))
        if "transformWithStateInPandas" in line
    ]
    assert not tws, tws


_PNG_WRITER = re.compile(r'b"\\x89PNG\\r\\n\\x1a\\n"\s*\+')
_RIFF_WRITER = re.compile(r'b"RIFF"\s*\+')
# the array tokenizer over the text column, NULL-safe or not
_ARRAY_TOKENIZER = re.compile(r"filter\(split\((?:coalesce\()?text\b")


def test_one_blob_kernel_one_codec_per_container_one_tokenizer_spelling():
    """The multimodal leg's only mapInPandas is the per-row kernel
    (multimodal.flatmap_blobs), each container has one writer, graph.py
    applies the host regex once, and the array tokenizer over ``text`` is
    spelled only in operators/core.py."""
    from url_counter_mapreduce_spark.operators import multimodal

    srcs = dict(_package_sources())
    maps = [
        (rel, i + 1)
        for rel in ("operators/multimodal.py", "streaming/fingerprint.py")
        for i, line in enumerate(_code_lines(srcs[rel]))
        if ".mapInPandas(" in line
    ]
    assert len(maps) == 1, maps
    assert maps[0][0] == "operators/multimodal.py", maps
    lines, first = inspect.getsourcelines(multimodal.flatmap_blobs)
    assert first <= maps[0][1] < first + len(lines), maps
    ops = {rel: src for rel, src in srcs.items() if rel.startswith("operators/")}
    for writer in (_PNG_WRITER, _RIFF_WRITER):
        hits = [rel for rel, src in ops.items() for _ in writer.finditer(src)]
        assert hits == ["operators/multimodal.py"], (writer.pattern, hits)
    host_re = [
        line for line in srcs["operators/graph.py"].splitlines()
        if "URL_HOST_RE" in line and "import" not in line
    ]
    assert len(host_re) == 1, host_re
    toks = [
        f"{rel}:{src.count(chr(10), 0, m.start()) + 1}"
        for rel, src in ops.items()
        if rel != "operators/core.py"
        for m in _ARRAY_TOKENIZER.finditer(src)
    ]
    assert not toks, toks


TOOLS = os.path.join(REPO_ROOT, "tools")
# a session is built in session.get_spark only; drive_contract.py imitates
# the driver's plain session on purpose
_BUILDER = re.compile(r"\.builder\b")
_BUILDER_ALLOWED = {"url_counter_mapreduce_spark/session.py", "tools/drive_contract.py"}
# deployment settings; every tuning conf lives in session.SQL_CONFS
_ENV_ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_SCRATCH_DIR",
}


def test_sessions_are_built_only_by_get_spark():
    sources = [(f"url_counter_mapreduce_spark/{rel}", src) for rel, src in _package_sources()]
    for f in sorted(os.listdir(TOOLS)):
        if f.endswith(".py"):
            with open(os.path.join(TOOLS, f)) as fh:
                sources.append((f"tools/{f}", fh.read()))
    hits = [
        f"{rel}:{src.count(chr(10), 0, m.start()) + 1}"
        for rel, src in sources
        if rel not in _BUILDER_ALLOWED
        for m in _BUILDER.finditer(src)
    ]
    assert not hits, hits


def _env_reads(tree: ast.AST):
    """(line, setting name) for every os.environ / os.getenv use; the name
    is None where the use is not a read of one constant name."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv")):
            continue
        up = parents[node]
        if isinstance(up, ast.Attribute) and up.attr == "get":
            up = parents[up]  # os.environ.get(...): the call
        if isinstance(up, ast.Subscript):
            arg = up.slice
        else:
            arg = up.args[0] if isinstance(up, ast.Call) and up.args else None
        yield node.lineno, arg.value if isinstance(arg, ast.Constant) else None


def test_package_reads_only_deployment_env_settings():
    hits = [
        f"{rel}:{line}: {key}"
        for rel, src in _package_sources()
        for line, key in _env_reads(ast.parse(src))
        if key not in _ENV_ALLOWED
    ]
    assert not hits, hits
