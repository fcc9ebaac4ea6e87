"""The per-session artifact cache: a ledger family is a bounded LRU of
persisted frames (url_counter_mapreduce_spark/ledger.py).

Pure-Python fakes stand in for DataFrames: a family only needs
persist/count/unpersist, so these tests run without a SparkSession."""

import pytest

from url_counter_mapreduce_spark.ledger import Family, Ledger


class FakeFrame:
    def __init__(self, name, alive=True):
        self.name = name
        self.alive = alive
        self.persisted = False
        self.counted = 0
        self.unpersisted = False

    def persist(self):
        self.persisted = True
        return self

    def count(self):
        self.counted += 1
        return 0

    def unpersist(self):
        if not self.alive:
            raise RuntimeError("SparkSession stopped")
        self.unpersisted = True
        return self


def test_build_once_then_hit():
    cache = Ledger().family("t", max_entries=2)
    builds = []

    def build():
        f = FakeFrame("a")
        builds.append(f)
        return f

    f1 = cache.get_or_build("sf", build)
    f2 = cache.get_or_build("sf", build)
    assert f1 is f2
    assert len(builds) == 1
    assert f1.persisted and f1.counted == 1  # materialized exactly once


def test_lru_eviction_unpersists_least_recently_used():
    """The round-9 minhash-regression mechanism: FIFO would evict the hot
    full-corpus entry because it was built first; LRU must evict the
    least recently USED instead."""
    cache = Ledger().family("t", max_entries=2)
    a = cache.get_or_build("a", lambda: FakeFrame("a"))
    b = cache.get_or_build("b", lambda: FakeFrame("b"))
    # touch "a" — now "b" is the LRU entry
    assert cache.get_or_build("a", lambda: FakeFrame("a2")) is a
    cache.get_or_build("c", lambda: FakeFrame("c"))
    assert "a" in cache and "c" in cache and "b" not in cache
    assert b.unpersisted and not a.unpersisted
    assert len(cache) == 2


def test_eviction_swallows_stopped_session_unpersist():
    """An entry built through a session that has since stopped raises on
    unpersist; eviction must swallow that and keep going."""
    cache = Ledger().family("t", max_entries=1)
    dead = FakeFrame("old-session", alive=False)
    cache.get_or_build("sf-old", lambda: dead)
    fresh = cache.get_or_build("sf-new", lambda: FakeFrame("new"))
    assert "sf-new" in cache and "sf-old" not in cache
    assert fresh.persisted
    # clearing a dead entry is equally safe
    cache.get_or_build("sf-old", lambda: FakeFrame("dead-again", alive=False))
    cache.clear()
    assert len(cache) == 0


def test_get_put_with_custom_evict_fn():
    """The IVF shape: tuple entries, only the last element is released."""
    released = []
    led = Ledger()
    cache = led.family("ivf", max_entries=1, release=lambda e: released.append(e[-1]))
    assert led.family("ivf") is cache  # one family per name per ledger
    cache.put("k1", ("cents1", FakeFrame("df1")))
    assert cache.get("k1")[0] == "cents1"
    cache.put("k2", ("cents2", FakeFrame("df2")))
    assert [f.name for f in released] == ["df1"]
    assert cache.get("k1") is None and cache.get("k1", "dflt") == "dflt"
    # re-put same key replaces without double-evicting others
    cache.put("k2", ("cents2b", FakeFrame("df2b")))
    assert cache.get("k2")[0] == "cents2b"
    assert len(cache) == 1


def test_put_refreshes_recency_and_clear_releases_all():
    led = Ledger()
    cache = led.family("t", max_entries=3)
    other = led.family("u")
    frames = {k: FakeFrame(k) for k in "abc"}
    for k, f in frames.items():
        cache.put(k, f.persist())
    other.put("x", FakeFrame("x"))
    assert cache.keys() == ["a", "b", "c"]
    cache.get("a")
    assert cache.keys() == ["b", "c", "a"]  # recency order, oldest first
    led.clear()  # every family of the ledger
    assert len(cache) == 0 and len(other) == 0
    assert all(f.unpersisted for f in frames.values())


def test_max_entries_validated():
    with pytest.raises(ValueError):
        Family(max_entries=0)
    with pytest.raises(ValueError):
        Ledger().family("t", max_entries=0)
