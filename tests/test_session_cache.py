"""The one session cache (operators/_session_cache.py): LRU order
under the single cap, one entry per plan under a thread race,
stale-application entries dropped without unpersist, ``hold``
releasing an owner's previous frames, and counts kept in the entry."""

from __future__ import annotations

import random
import sys
import threading
import time

import pytest
from conftest import jobs_run

from crypto_price_tracker_with_etl_dashboard_spark.operators import (
    _session_cache as sc,
)


class Frame:
    """Stands in for a cached DataFrame: records its unpersist."""

    def __init__(self, name):
        self.name = name
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


@pytest.fixture()
def registry(spark, monkeypatch):
    """An empty registry for the test; the session's own entries are
    left alone."""
    monkeypatch.setattr(sc, "_ENTRIES", [])
    yield sc._ENTRIES
    for entry in sc._ENTRIES:
        for df in entry.frames:
            df.unpersist()


def _keys(registry):
    return [e.key for e in registry]


def _run_threads(target, n):
    threads = [threading.Thread(target=target, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()


def test_alternating_access_over_cap_plus_one_keys_keeps_hot_entries(registry):
    """Two hot keys are read between every new cold key.  Once cap+1
    keys exist, the entry evicted is a cold one (FIFO would evict the
    oldest hot key), and no hot key is ever rebuilt."""
    builds = []

    def get(key):
        def build():
            builds.append(key)
            return Frame(key)

        return sc.session_get_or_build(key, build)

    hot = [get("hot-0"), get("hot-1")]
    cold = []
    for i in range(sc.MAX_ENTRIES - 1):
        cold.append(get(f"cold-{i}"))
        assert [get("hot-0"), get("hot-1")] == hot
    assert len(registry) == sc.MAX_ENTRIES
    assert builds.count("hot-0") == builds.count("hot-1") == 1
    assert not any(f.unpersisted for f in hot)
    assert [f.name for f in cold if f.unpersisted] == ["cold-0"]
    assert "cold-0" not in _keys(registry)


def test_threads_racing_on_one_new_plan_share_one_entry(spark, registry):
    barrier = threading.Barrier(2)
    got = [None, None]

    def run(i):
        df = spark.range(50).selectExpr("id * 7 AS x")  # one plan, two objects
        barrier.wait()
        got[i] = sc.session_plan_cache(df)

    _run_threads(run, 2)
    assert got[0] is got[1]
    assert len(registry) == 1 and registry[0].frames == (got[0],)


def test_threads_racing_on_one_key_keep_the_first_build(registry):
    """The build runs outside the lock, so both threads may build;
    one entry survives and both callers get its frame."""
    barrier = threading.Barrier(2)
    got = [None, None]

    def build():
        time.sleep(0.05)
        return Frame("built")

    def run(i):
        barrier.wait()
        got[i] = sc.session_get_or_build("shared", build)

    _run_threads(run, 2)
    assert got[0] is got[1]
    assert _keys(registry) == ["shared"]


def test_stale_application_entry_dropped_without_unpersist(registry):
    stale = Frame("stale")
    registry.append(sc._Entry("finished-app", "old", (stale,)))
    sc.session_get_or_build("new", lambda: Frame("new"))
    assert _keys(registry) == ["new"]
    assert not stale.unpersisted


def test_hold_unpersists_the_owners_previous_frames(registry):
    a, b, c, other = Frame("a"), Frame("b"), Frame("c"), Frame("other")
    sc.hold("owner", a, b)
    sc.hold("someone-else", other)
    sc.hold("owner", c)
    assert a.unpersisted and b.unpersisted and not c.unpersisted
    sc.hold("owner")
    assert c.unpersisted and not other.unpersisted
    assert _keys(registry) == [("hold", "someone-else")]


def test_count_kept_in_the_entry_and_not_on_unowned_frames(spark, registry):
    df = sc.session_plan_cache(spark.range(30).selectExpr("id + 1 AS y"), materialize=True)
    n, jobs = jobs_run(spark, "owned-count", lambda: sc.cached_count(df))
    assert (n, jobs) == (30, 0)
    unowned = spark.range(20)
    for i in range(2):
        n, jobs = jobs_run(spark, f"unowned-count-{i}", lambda: sc.cached_count(unowned))
        assert n == 20 and jobs >= 1


def test_rename_only_variant_shares_the_entry(spark, registry):
    """Plans that differ only in column names are one Spark cache
    entry, so they are one registry entry: the second variant gets the
    stored frame under its own names, and its count is the entry's."""
    base = spark.range(40).selectExpr("id", "id * 3 AS v")
    plain = sc.session_plan_cache(base.select("id", "v"), materialize=True)
    named = sc.session_plan_cache(base.selectExpr("id AS node", "v"), materialize=True)
    assert len(registry) == 1 and registry[0].frames == (plain,)
    assert named.columns == ["node", "v"]
    assert "InMemoryRelation" in named._jdf.queryExecution().withCachedData().toString()
    assert sc.session_plan_cache(base.selectExpr("id AS node", "v")) is named
    n, jobs = jobs_run(spark, "renamed-count", lambda: sc.cached_count(named))
    assert (n, jobs) == (40, 0)


def test_many_threads_keep_one_entry_per_key_and_one_hold_per_owner(registry):
    """More threads than cores, a short switch interval: every caller
    of a key gets the one stored frame, and every held frame but each
    owner's last is unpersisted exactly when it is replaced."""
    keys = [f"k{i}" for i in range(16)]  # 16 keys + 3 owners stay under the cap
    got = {k: set() for k in keys}
    held = []

    def worker(i):
        rng = random.Random(i)
        for _ in range(200):
            k = rng.choice(keys)
            got[k].add(id(sc.session_get_or_build(k, lambda: Frame(k))))
            frame = Frame(f"held-{i}")
            held.append(frame)
            sc.hold(f"owner-{i % 3}", frame)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_threads(worker, 8)
    finally:
        sys.setswitchinterval(old)
    assert all(len(ids) == 1 for ids in got.values())
    owners = {("hold", f"owner-{i}") for i in range(3)}
    assert len(registry) == len(keys) + len(owners)
    assert set(_keys(registry)) == set(keys) | owners
    live = {id(f) for f in held if not f.unpersisted}
    assert live == {id(e.frames[0]) for e in registry if e.key in owners}
