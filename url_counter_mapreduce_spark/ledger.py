"""One resource ledger per Spark session: the only package state stored on
a session, and the one way an artifact lives and dies.

A ledger holds four things:

- **Persisted artifacts**, in named families (:meth:`Ledger.family`), each
  a bounded LRU. A production pipeline materializes its heavy shared
  artifacts — the MinHash signature table, the verified dup-pair set, the
  positional window table, the CDC chunk index, the SCC labeling, the
  perceptual fingerprints, the IVF indexes — ONCE per corpus snapshot and
  lets every consumer read the persisted table; a family keys each
  artifact by ``(sf_dir, *params)`` and returns the persisted frame on
  every later call. LRU, not FIFO: the recall harnesses cache parameter
  variants beside the full-corpus artifact, and FIFO would drop the hot
  full-corpus table just because it was built first. An evicted artifact
  is released (``unpersist``).
- **Checkpoint RDDs.** ``Dataset.localCheckpoint`` persists its RDD and
  nothing frees those blocks until the session dies, so repeated calls of
  one query would pile up every superseded checkpoint (8 back-to-back
  ``host_communities_lpa`` calls held 42 RDDs). Builders checkpoint
  through :func:`checkpoint`, which records the RDD in the open registry
  :meth:`Ledger.invocation`; the next invocation with the same
  ``(query, sf_dir)`` key releases them before it builds anew.
  :func:`clear_caches` releases all artifacts and checkpoints at once —
  a session sweeping many corpora calls it between corpora, since each
  sf_dir keys checkpoints of its own.
- **Memos** (:attr:`Ledger.memo`): plain per-session values — the prep
  and ship flags, table relations, the sf_dir of the registered views,
  the write-once markers of bucketed/CDC tables, skew-guard decisions.
- **A reentrant lock**, held by the registry wrapper for a build and by
  :func:`scoped_conf`.

Contracts:

- *Stale handles.* An unpersisted local checkpoint cannot be recomputed
  (its blocks ARE its truncated lineage), so once query X is called again
  with the same sf_dir, a frame from X's earlier call that reads one of
  its checkpoints fails its next action with
  ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` — whether or not it ran before.
  Frames from other queries are untouched. After :func:`clear_caches`
  every frame built before it may fail the same way. Build, run, discard;
  rebuild rather than re-run an old handle.
- *One query at a time.* Builds and conf scopes on one session are
  serialized by the lock, so a concurrent build never plans under
  another's borrowed confs; actions on built frames run concurrently.
  Structured Streaming ``foreachBatch`` callbacks run on py4j threads
  while the starting build holds the lock, so they must never take it:
  no registry call and no :func:`scoped_conf` inside a callback.

A dropped session takes its ledger along; nothing here is process-wide.
"""

from __future__ import annotations

import contextlib
import threading
from typing import Any, Callable, Hashable

# Session attribute holding the ledger, derived from the package name so a
# renamed copy of the package imported beside this one (bench.py --paired)
# keeps a ledger of its own.
_ATTR = f"_{__name__.rpartition('.')[0]}_ledger"


def _unpersist(value: Any) -> None:
    value.unpersist()


class Family:
    """Bounded LRU of persisted values (anything with ``persist``/``count``
    /``unpersist``). ``release`` overrides how an evicted entry is freed —
    the IVF indexes store tuples whose last element is the persisted
    frame. Releasing swallows errors: unpersisting through a stopped
    session raises, and its storage died with it anyway."""

    def __init__(
        self, max_entries: int = 4, release: Callable[[Any], None] | None = None
    ) -> None:
        if max_entries < 1:
            raise ValueError("max_entries must be >= 1")
        self.max_entries = max_entries
        self._release = release if release is not None else _unpersist
        # dict order is recency order: a hit re-inserts, oldest first
        self._entries: dict[Hashable, Any] = {}

    def get_or_build(self, key: Hashable, build_fn: Callable[[], Any]) -> Any:
        """The cached frame for ``key``; on a miss, evict down to capacity,
        then build, persist and materialize it (one ``count()``)."""
        if key in self._entries:
            return self.get(key)
        self._make_room()
        frame = build_fn().persist()
        frame.count()
        self._entries[key] = frame
        return frame

    def get(self, key: Hashable, default: Any = None) -> Any:
        """Cached value (refreshing its recency) or ``default`` — for call
        sites that persist themselves and store with :meth:`put`."""
        if key not in self._entries:
            return default
        value = self._entries[key] = self._entries.pop(key)
        return value

    def put(self, key: Hashable, value: Any) -> Any:
        """Store an already-persisted value; returns it."""
        self._entries.pop(key, None)
        self._make_room()
        self._entries[key] = value
        return value

    def _make_room(self) -> None:
        while len(self._entries) >= self.max_entries:
            self._drop(next(iter(self._entries)))

    def _drop(self, key: Hashable) -> None:
        value = self._entries.pop(key)
        try:
            self._release(value)
        except Exception:
            pass  # session already stopped; its storage is gone

    def clear(self) -> None:
        """Release and drop every entry."""
        for key in list(self._entries):
            self._drop(key)

    def __len__(self) -> int:
        return len(self._entries)

    def __contains__(self, key: Hashable) -> bool:
        return key in self._entries

    def keys(self) -> list:
        """Recency-ordered keys, oldest first."""
        return list(self._entries)


class Ledger:
    """What the package keeps for one session (see the module docstring)."""

    def __init__(self) -> None:
        self.lock = threading.RLock()
        self.memo: dict = {}
        self._families: dict[str, Family] = {}
        self._checkpoints: dict[Hashable, list] = {}
        # (thread id, RDD list) of each open invocation, innermost last
        self._open: list[tuple[int, list]] = []

    def family(
        self, name: str, max_entries: int = 4, release: Callable[[Any], None] | None = None
    ) -> Family:
        """The named artifact family, created with these bounds on first use."""
        fam = self._families.get(name)
        if fam is None:
            fam = self._families[name] = Family(max_entries, release)
        return fam

    def clear(self) -> None:
        """Release every persisted artifact and every recorded checkpoint."""
        with self.lock:
            for fam in self._families.values():
                fam.clear()
            for key in list(self._checkpoints):
                self._release_checkpoints(key)

    def _release_checkpoints(self, key: Hashable) -> None:
        for jrdd in self._checkpoints.pop(key, ()):
            try:
                jrdd.unpersist(False)
            except Exception:
                pass  # session stopped or RDD already gone

    @contextlib.contextmanager
    def invocation(self, key: Hashable):
        """Hold the lock for one build: release the checkpoint RDDs the
        previous invocation under ``key`` recorded, then record this one's."""
        with self.lock:
            self._release_checkpoints(key)
            rdds: list = []
            self._open.append((threading.get_ident(), rdds))
            try:
                yield
            finally:
                self._open.pop()
                if rdds:
                    self._checkpoints[key] = rdds


def of(spark) -> Ledger:
    """The session's ledger, created on first use."""
    led = spark.__dict__.get(_ATTR)
    if led is None:
        led = spark.__dict__.setdefault(_ATTR, Ledger())
    return led


def checkpoint(df, eager: bool = True):
    """``df.localCheckpoint(eager)``, recorded in the calling thread's open
    registry invocation (if any) so the query's next invocation releases
    it. Chains as ``frame.transform(checkpoint, eager=False)``."""
    out = df.localCheckpoint(eager)
    open_ = of(df.sparkSession)._open
    if open_ and open_[-1][0] == threading.get_ident():
        try:
            # the checkpointed Dataset's analyzed plan is a LogicalRDD
            # wrapping exactly the RDD whose blocks hold the checkpoint
            open_[-1][1].append(out._jdf.queryExecution().analyzed().rdd())
        except Exception:
            pass  # plan shape surprise: skip tracking, never break the query
    return out


@contextlib.contextmanager
def scoped_conf(spark, confs: dict):
    """Set session confs for the scope, then restore each previous value
    (or unset a key that had none). Holds the session lock, so two scopes
    never interleave their save and restore."""
    with of(spark).lock:
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def clear_caches(spark) -> None:
    """Release every persisted artifact and checkpoint ``spark``'s ledger
    holds. Frames built before the call may no longer run; rebuild them."""
    of(spark).clear()
