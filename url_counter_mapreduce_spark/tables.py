"""Table loading for the driver testdata (TESTDATA.md / FIXTURES.md §B).

One parquet file per table per scale factor under
``/root/testdata/sf{0.001,0.01,0.1}``. Loads are plain ``spark.read.parquet``
so Catalyst gets full predicate pushdown + column pruning on every query
(verify with ``plans.explain_str`` — scans must show PushedFilters/ReadSchema).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ledger

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def file_fingerprint(path: str) -> str:
    """Content fingerprint of a source file or directory of part files
    (sorted name:size:mtime_ns triples). Folded into scratch/artifact keys
    so regenerated fixture data at the same path never resumes a stale
    checkpoint or reads a stale stored index (ADVICE r11)."""
    files = (
        sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
        if os.path.isdir(path)
        else [path]
    )
    parts = []
    for f in files:
        st = os.stat(f)
        parts.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def scratch_base_dir() -> str:
    """Base directory for every scratch/stored artifact (VERDICT r12 item
    4). Resolution order:

    1. ``SPARK_GRAFT_SCRATCH_DIR`` environment variable;
    2. ``spark.graft.scratchDir`` on the active SparkSession, if any;
    3. the system temp dir (the historical default).

    On local[*] the default is fine; on a real cluster this MUST point at
    a shared filesystem mount (NFS/FUSE-mounted object store) — the SCC
    parquet barrier, the stored minhash index, sinks, and stream
    checkpoints all live under it, and executors re-read what the driver
    wrote. The value is a directory path as seen by every node."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        return env
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            conf = active.conf.get("spark.graft.scratchDir", None)
            if conf:
                return conf
    except Exception:
        pass
    return tempfile.gettempdir()


def tmp_scratch_dir(prefix: str, key: str) -> str:
    """Deterministic per-(user, key) scratch directory under
    :func:`scratch_base_dir` — the single helper behind every
    sink/roundtrip/stream/index scratch location. The uid keeps fixed
    paths from colliding across users of a shared base; the md5 tag keys
    the directory to its logical content (e.g. the source sf_dir) so
    different inputs never share a path."""
    uid = os.getuid() if hasattr(os, "getuid") else 0
    tag = hashlib.md5(key.encode()).hexdigest()[:8]
    return os.path.join(scratch_base_dir(), f"spark_graft_{prefix}_{uid}_{tag}")


def refresh_scratch(d: str, src: str, tag, write: Callable[[], None]) -> str:
    """The one freshness rule for scratch data derived from ``src``: run
    ``write`` (which fills ``d``) only when ``d/_DONE`` differs from
    ``f"{tag}:{file_fingerprint(src)}"``, then write that marker last, so
    an interrupted write is redone. ``tag`` carries the layout parameters
    (file counts, sample caps), so changing one rewrites too. The
    fingerprint's nanosecond mtime catches a same-size fixture rewritten
    within one second. Returns ``d``."""
    stamp = f"{tag}:{file_fingerprint(src)}"
    marker = os.path.join(d, "_DONE")
    try:
        with open(marker) as f:
            if f.read() == stamp:
                return d
    except FileNotFoundError:
        pass  # never written
    os.makedirs(d, exist_ok=True)
    write()
    with open(marker, "w") as f:
        f.write(stamp)
    return d


# (sf_dir, name) → (fingerprint, inferred StructType). Schema-metadata
# cache, NOT a data or DataFrame cache: what's skipped on repeat calls is
# spark.read.parquet's schema inference, which launches a ~100 ms
# single-task footer-read job per call (measured 96-185 ms at sf0.1; a
# 283-query gate/bench pays it 300+ times) — spark.read.schema(cached)
# skips that job identically while the per-call DataFrame is rebuilt lazily
# (driver-side analysis only, no job). Round 13 cached the lazy DataFrame
# itself, keyed weakly on the session, but a DataFrame holds a strong
# reference back to its SparkSession, so the weak key could never die and
# sessions + stale fingerprints accumulated for process lifetime (ADVICE
# r13, medium). A StructType is plain data with no session reference, so
# no weak keying is needed; keeping the fingerprint INSIDE the value (one
# slot per (sf_dir, name)) evicts superseded fingerprints of a regenerated
# fixture automatically, and a mismatched fingerprint re-infers — a stale
# schema is never served.
_TABLE_SCHEMAS: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    fp = file_fingerprint(path) if os.path.exists(path) else None
    # Per-session lazy-relation memo in the session's ledger, so a dropped
    # session takes it along (ADVICE r13). Repeat calls return the
    # identical lazy frame (~0 ms vs ~20 ms to rebuild the reader +
    # driver-side file index). One slot per (sf_dir, name) with the
    # fingerprint inside: a regenerated fixture at the same path evicts
    # its predecessor rather than piling up beside it.
    memo = ledger.of(spark).memo
    hit = memo.get(("table", sf_dir, name))
    if hit is not None and hit[0] == fp and fp is not None:
        return hit[1]
    cached = _TABLE_SCHEMAS.get((sf_dir, name))
    if fp is not None and cached is not None and cached[0] == fp:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)  # infers schema: one footer-read job
        if fp is not None:
            _TABLE_SCHEMAS[(sf_dir, name)] = (fp, df.schema)
    if name == "events":
        df = _normalize_events_ts(df)
    if fp is not None:
        memo[("table", sf_dir, name)] = (fp, df)
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    # events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md). How Spark
    # surfaces that column depends on the runtime: Spark >= 4.1 reads it
    # natively as TIMESTAMP_NTZ truncated to micros (verified identical
    # to DuckDB's NANOS → TIMESTAMP(us) truncation); older runtimes — or
    # any externally-created session with the static
    # spark.sql.legacy.parquet.nanosAsLong conf — surface the raw int64
    # nanos. Branch on the OBSERVED dtype rather than on session conf so
    # every caller (driver harness included) gets the same TimestampType
    # (LTZ; session tz is pinned UTC) whatever its session settings.
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition a compute-dense-per-byte input to full parallelism —
    ONLY when the input is under-split.

    A small parquet file arrives as ONE input split (≤128 MB ⇒ 1 task), so
    hash/shingle/vector pipelines would run single-threaded regardless of
    core count; there a round-robin shuffle of the raw rows buys N-way
    parallelism for everything downstream. At 100 TB the scan already has
    ~820k splits and an unconditional ``repartition()`` would be a full
    extra exchange of the raw corpus — so the shuffle is gated on the
    actual split count: with >= defaultParallelism input partitions the
    DataFrame is returned untouched (no Exchange in the plan; asserted in
    tests/test_plans.py)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too.
    Idempotent per (session, sf_dir); switching sf_dir re-registers.
    The registered sf_dir is a ledger memo: temp views are per session,
    and so is the ledger (sibling sessions from ``spark.newSession()``
    share an applicationId but not a view catalog)."""
    memo = ledger.of(spark).memo
    if memo.get("views") == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    memo["views"] = sf_dir


class _LocalRowsFallback(Exception):
    """Internal signal: this input can't be rendered as a VALUES literal
    with createDataFrame-identical semantics — use createDataFrame."""


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        import math

        if not math.isfinite(v):
            # repr() would render 'nanD'/'infD' — a parse error, where
            # createDataFrame produces a valid NaN/Infinity double
            # (ADVICE r13). Rare enough that the fallback is the fix.
            raise _LocalRowsFallback("non-finite float")
        return repr(v) + "D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    # dict/list/Decimal/datetime...: createDataFrame handles these natively
    raise _LocalRowsFallback(f"non-scalar literal type {type(v).__name__}")


def _split_schema(schema: str) -> list[tuple[str, str]]:
    """Split 'name type, name type' respecting parens (decimal(38,0)) and
    angle brackets (map<string,int>, array<struct<...>>) — ADVICE r13."""
    cols, depth, cur = [], 0, []
    for ch in schema:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            cols.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    cols.append("".join(cur))
    out = []
    for c in cols:
        c = c.strip()
        if c.startswith("`"):
            # backtick-quoted name (may contain spaces; `` = literal `):
            # find the closing quote, then the type is the remainder
            i = 1
            while i < len(c):
                if c[i] == "`":
                    if i + 1 < len(c) and c[i + 1] == "`":
                        i += 2
                        continue
                    break
                i += 1
            parts = (c[: i + 1], c[i + 1 :].strip()) if i < len(c) else (c,)
        else:
            parts = tuple(c.split(None, 1))
        if len(parts) != 2 or not parts[1]:  # malformed entry: don't guess
            raise _LocalRowsFallback(f"unsplittable schema entry {c!r}")
        out.append(parts)
    return out


# past this row count a VALUES literal stops being "small driver state"
# and SQL-parsing cost overtakes the task savings — fall back to the
# regular distributed createDataFrame path
LOCAL_ROWS_MAX = 20_000


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Build a DataFrame from a SMALL driver-side row list as a
    LocalRelation (SQL ``VALUES`` literal) instead of
    ``spark.createDataFrame`` (guide §4: eliminate the Python boundary).

    Classic PySpark's ``createDataFrame(list)`` always parallelizes the
    rows into ``defaultParallelism`` pickled-RDD slices, so materializing
    a few hundred integers costs a 32-task job whose every task is a
    Python-worker round trip (measured ~240 ms/task, ~0.3 s wall per
    call on local[32]) — and a ``broadcast()`` over it runs that whole
    job before the build. A ``VALUES`` literal plans as a LocalRelation:
    zero tasks, and broadcast builds driver-side. Falls back to
    ``createDataFrame`` for empty input (VALUES needs ≥1 row) and for
    row counts past LOCAL_ROWS_MAX (the literal's parse cost grows with
    text size; bounded offset/label tables never get there).

    ``schema`` is the usual DDL string (values are cast per column, so
    int/str/bool/float/None literals land with exactly the types
    ``createDataFrame`` would have inferred against that schema), or a
    bare list of column names, in which case each column's type is
    inferred by scanning ALL its non-None values the way
    ``createDataFrame`` merges them (int→long, str→string, bool→boolean,
    float or int+float mix→double — ADVICE r13: a first-value-only probe
    silently CAST a mixed int/float column to long). A column whose
    values don't fit those combinations (all-NULL, exotic or mixed types),
    a non-finite float anywhere, a malformed schema entry, or any string
    value under ``spark.sql.parser.escapedStringLiterals=true`` (which
    reads the generated backslash escapes literally) falls back to
    ``createDataFrame``."""
    rows = list(rows)
    if not rows or len(rows) > LOCAL_ROWS_MAX:
        return spark.createDataFrame(rows, schema)
    names_only = isinstance(schema, (list, tuple))
    try:
        ddl = schema
        if names_only:
            types = []
            for i in range(len(schema)):
                seen = {type(r[i]) for r in rows if r[i] is not None}
                if seen == {int}:
                    t = "long"
                elif seen == {str}:
                    t = "string"
                elif seen == {bool}:
                    t = "boolean"
                elif seen == {float}:
                    t = "double"
                else:
                    # all-NULL, exotic, or mixed (incl. int+float, which
                    # PySpark's createDataFrame REFUSES to merge —
                    # CANNOT_MERGE_TYPE): fall back so the caller gets
                    # createDataFrame's exact behavior, error included,
                    # instead of r13's silent CAST-to-first-type (ADVICE)
                    raise _LocalRowsFallback("unmergeable column types")
                types.append(t)
            # backtick-quoted so a name with a space or a reserved word
            # splits as one name, not as name + start of the type
            ddl = ", ".join(
                "`" + n.replace("`", "``") + f"` {t}" for n, t in zip(schema, types)
            )
        cols = _split_schema(ddl)
        if any(
            isinstance(v, str) for row in rows for v in row
        ) and spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") == "true":
            raise _LocalRowsFallback("escapedStringLiterals session")
        vals = ",".join(
            "(" + ",".join(_sql_literal(v) for v in row) + ")" for row in rows
        )
    except _LocalRowsFallback:
        return spark.createDataFrame(rows, list(schema) if names_only else schema)
    anon = ",".join(f"c{i}" for i in range(len(cols)))
    # re-quote every output name (reserved words, spaces — ADVICE r13);
    # a DDL name that arrived already backtick-quoted is unwrapped first
    # so it isn't double-wrapped
    raw = [
        name[1:-1].replace("``", "`")
        if len(name) >= 2 and name.startswith("`") and name.endswith("`")
        else name
        for name, _typ in cols
    ]
    bq = [name.replace("`", "``") for name in raw]
    proj = ", ".join(
        f"CAST(c{i} AS {typ}) AS `{bq[i]}`" for i, (_name, typ) in enumerate(cols)
    )
    return spark.sql(f"SELECT {proj} FROM (VALUES {vals}) AS _local_rows({anon})")


def scalar_join(df: DataFrame, scalar_df: DataFrame) -> DataFrame:
    """Attach a single-row statistics frame (bounds, totals, zmax …) to
    every row of ``df``. Plans as a BroadcastNestedLoopJoin with a 1-row
    build side — the exact data movement of a scalar subquery (broadcast
    one row, no shuffle), safe at any scale; the plan guard
    (tests/test_plans.py) allowlists the ops that use this helper under
    that justification. (A constant-key equi-join does NOT avoid the BNL:
    Catalyst constant-folds the condition to true.)"""
    return df.crossJoin(F.broadcast(scalar_df))
