"""The one session cache: every DataFrame a query family keeps alive
between calls in one Spark application lives in this registry.

One policy for all of them ("Incremental Based Framework for
Efficient Top-K Similarity Search in Interactive Data Analysis
Sessions", EDBT 2020: reuse a session's intermediates through one
bounded store):

- Entries belong to the live applicationId.  An entry recorded under
  any other application is dropped WITHOUT unpersist: its
  SparkContext is stopped, the JVM cache died with it, and only the
  Python handle remains.
- One LRU order over every entry; a hit moves the entry to the back.
  Past ``MAX_ENTRIES`` the front entry is evicted and unpersisted.
- One lock guards the entry list.  It also spans the ``sameResult``
  scan and the ``cache()`` registration of a new plan (driver-side
  plan calls, never a Spark job), so two threads racing on one new
  plan get one entry and the same object.  Builds, counts and
  unpersists run outside it.

Three call shapes:

- :func:`session_plan_cache` keys an entry by its analyzed plan,
  matched with Catalyst's ``sameResult`` (the check Spark's own
  CacheManager uses), so expression-id drift between calls never
  defeats a match and different parameters or inputs simply miss.
  ``sameResult`` erases alias names, so a rename-only variant shares
  the entry and gets the stored frame renamed to its own names.  One
  entry per Spark cache entry: Spark's ``cache()``/``unpersist()``
  match plans by ``sameResult`` too, so two registry entries for one
  plan would share storage, and evicting either would uncache both.
- :func:`session_get_or_build` keys an entry explicitly, for builds
  that run Spark jobs while they build (a trained index, a
  materialized edge list).
- :func:`hold` keeps an operator's per-call frames alive until the
  operator's next call, which releases them.

Entries hold inputs that queries share, never query results.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# tools/cache_census.py over bench.HEADLINE at sf0.01 peaks at 18 live
# entries, and perfbench's analytics slice needs 8, so the cap never
# binds on registered traffic: it only bounds a parameter sweep.
MAX_ENTRIES = 32


@dataclass(eq=False)
class _Entry:
    app: str
    key: object  # explicit key, ("hold", owner), or None when plan-keyed
    frames: tuple[DataFrame, ...]
    plan: object = None  # analyzed JVM plan of a plan-keyed entry
    count: int | None = None
    # column names -> frames[0] renamed to them (plan-keyed entries)
    renamed: dict = field(default_factory=dict)


_LOCK = threading.Lock()
_ENTRIES: list[_Entry] = []  # LRU order: the front is evicted first


def _app() -> str:
    return SparkSession.active().sparkContext.applicationId


def _live(app: str) -> None:
    """Drop other applications' entries, without unpersist.  Caller
    holds ``_LOCK``."""
    _ENTRIES[:] = [e for e in _ENTRIES if e.app == app]


def _hit(entry: _Entry | None) -> _Entry | None:
    """Move ``entry`` to the back of the LRU order.  Caller holds
    ``_LOCK``."""
    if entry is not None:
        _ENTRIES.remove(entry)
        _ENTRIES.append(entry)
    return entry


def _insert(entry: _Entry) -> list[_Entry]:
    """Append ``entry``; return the entries evicted past the cap, for
    the caller to unpersist once it has released ``_LOCK``."""
    _ENTRIES.append(entry)
    evicted = _ENTRIES[: max(0, len(_ENTRIES) - MAX_ENTRIES)]
    del _ENTRIES[: len(evicted)]
    return evicted


def _unpersist(entries: list[_Entry]) -> None:
    for entry in entries:
        for df in entry.frames:
            df.unpersist()


def _keyed(key: object) -> _Entry | None:
    return next((e for e in _ENTRIES if e.key == key), None)


def _counted(entry: _Entry | None, df: DataFrame) -> int:
    if entry is not None and entry.count is not None:
        return entry.count
    n = df.count()
    if entry is not None:
        entry.count = n
    return n


def cached_count(df: DataFrame) -> int:
    """``df.count()``, kept in the registry entry that owns ``df`` so
    a repeat call runs no job.  A frame the registry does not own is
    simply counted."""
    with _LOCK:
        entry = next(
            (
                e
                for e in _ENTRIES
                if len(e.frames) == 1
                and (e.frames[0] is df or any(f is df for f in e.renamed.values()))
            ),
            None,
        )
    return _counted(entry, df)


def session_plan_cache(df: DataFrame, materialize: bool = False) -> DataFrame:
    """The cached entry whose analyzed plan ``sameResult``-matches
    ``df``, else ``df.cache()`` newly stored, under ``df``'s column
    names.  With ``materialize=True`` a new entry is populated with
    one count job (kept for :func:`cached_count`); a hit runs zero
    jobs."""
    plan, names = df._jdf.queryExecution().analyzed(), tuple(df.columns)
    app = _app()
    with _LOCK:
        _live(app)
        entry = _hit(
            next(
                (e for e in _ENTRIES if e.plan is not None and e.plan.sameResult(plan)),
                None,
            )
        )
        evicted = []
        if entry is None:
            entry = _Entry(app, None, (df.cache(),), plan=plan)
            evicted = _insert(entry)
        frame = entry.frames[0]
        if tuple(frame.columns) != names:
            if names not in entry.renamed:
                entry.renamed[names] = frame.toDF(*names)
            frame = entry.renamed[names]
    _unpersist(evicted)
    if materialize:
        _counted(entry, entry.frames[0])
    return frame


def session_get_or_build(key: object, build: Callable[[], DataFrame]) -> DataFrame:
    """The frame stored under ``key``, else ``build()`` stored there.
    The build runs outside the lock; if a racing thread stored ``key``
    first, its frame wins and this build is dropped."""
    app = _app()
    with _LOCK:
        _live(app)
        entry = _hit(_keyed(key))
    if entry is not None:
        return entry.frames[0]
    df = build()
    with _LOCK:
        _live(app)
        entry = _hit(_keyed(key))
        evicted = []
        if entry is None:
            entry = _Entry(app, key, (df,))
            evicted = _insert(entry)
    _unpersist(evicted)
    return entry.frames[0]


def hold(owner: str, *dfs: DataFrame) -> None:
    """Replace ``owner``'s held frames with ``dfs``, unpersisting the
    previous ones.  Operators call ``hold(owner)`` on entry, so a
    repeat call's identical ``cache()`` never shares storage with a
    frame about to be unpersisted, and ``hold(owner, *frames)`` once
    the frames their lazy result reads are cached."""
    app = _app()
    key = ("hold", owner)
    with _LOCK:
        _live(app)
        prev = _keyed(key)
        evicted = []
        if prev is not None:
            _ENTRIES.remove(prev)
            evicted.append(prev)
        if dfs:
            evicted += _insert(_Entry(app, key, dfs))
    _unpersist(evicted)
