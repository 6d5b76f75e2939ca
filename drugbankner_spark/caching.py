"""Driver-side state of the engine, scoped to the Spark object it
belongs to. Every memo and every registered persist lives here; no
operator keeps a process-global table of its own.

**Session memo.** :func:`session_memo` is a dict per SparkSession
object, held weakly by its SparkContext, so it lives and dies with
that session (Spark SQL makes the session the scope of a query: its
conf, catalog and temp views). A DataFrame memoized there is served
only to the session it is bound to — ``spark.newSession()`` gets a
fresh memo — and no id or applicationId can alias a dead or sibling
session. Each memo table is one entry,
``session_memo(spark).setdefault(<table>, {})``, holding the rest of
its key, its size cap and its invalidation; :func:`forget` drops a key
from that table in every session of the SparkContext (an index rebuilt
through one session must not be served stale to another).

**Shared-subtree persists** (ADVICE r04). Several operators persist a
subtree that feeds BOTH sides of a self-join (band keys, shingles,
bucketed vectors) — without the persist Catalyst plans the sides as
independent subtrees and the corpus is scanned/hashed twice. Those
operators return LAZY DataFrames, so they cannot unpersist before the
caller's action; a long-lived driver would otherwise accumulate cached
partitions with no release path. ``shared_persist`` is a drop-in for
``.persist()`` that records the handle with the SparkContext (whose
cache manager every session shares); ``release_shared_caches()``
unpersists everything recorded — call it after the consuming action
(bench.py does between queries). Operators that consume their own
persists before returning wrap that work in :func:`cache_scope`, which
releases exactly the persists registered inside it in the current
thread, even when the body raises. One-shot pipelines can ignore all
of it: caches die with the session, and the storage level is evictable
(memory+disk, recomputable on loss).
"""

from __future__ import annotations

import weakref
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

#: The cache scopes open in this thread, innermost last. A context
#: variable, so a scope never collects another thread's persists.
_OPEN_SCOPES: ContextVar[tuple[CacheScope, ...]] = ContextVar(
    "open_cache_scopes", default=()
)


def _context_state(sc: SparkContext, name: str, factory):
    """Engine state stored on the SparkContext object, whose cache
    manager every session of the application shares."""
    return sc.__dict__.setdefault(f"_drugbankner_{name}", factory())


def _memos(sc: SparkContext) -> weakref.WeakKeyDictionary:
    return _context_state(sc, "memos", weakref.WeakKeyDictionary)


def session_memo(spark: SparkSession) -> dict:
    """The engine's memo for ``spark``: one dict per SparkSession
    object, created on first use and collected with the session."""
    return _memos(spark.sparkContext).setdefault(spark, {})


def forget(spark: SparkSession, table: str, key) -> None:
    """Drop ``key`` from memo table ``table`` in every live session of
    ``spark``'s SparkContext."""
    for memo in list(_memos(spark.sparkContext).values()):
        memo.get(table, {}).pop(key, None)


def _registry(sc: SparkContext) -> dict[int, DataFrame]:
    return _context_state(sc, "persists", dict)


def _release(df: DataFrame) -> int:
    _registry(df.sparkSession.sparkContext).pop(id(df), None)
    try:
        df.unpersist()
        return 1
    except Exception:
        return 0  # session already stopped — nothing to release


class CacheScope:
    """The persists registered through one :func:`cache_scope` block."""

    def __init__(self, outer: CacheScope | None):
        self._outer = outer
        self._dfs: list[DataFrame] = []

    def release(self) -> int:
        """Unpersist (and unregister) this scope's persists now;
        returns how many were released."""
        dfs, self._dfs = self._dfs, []
        return sum(_release(df) for df in dfs)

    def keep(self) -> None:
        """Hand this scope's persists to the enclosing scope — or,
        outside any, to :func:`release_shared_caches` — for an output
        that still reads them after the block ends."""
        if self._outer is not None:
            self._outer._dfs.extend(self._dfs)
        self._dfs = []


@contextmanager
def cache_scope() -> Iterator[CacheScope]:
    """Collect every :func:`shared_persist` made in the body by this
    thread, and unpersist exactly those on exit, even when the body
    raises. Persists registered by other threads, or outside the
    block, are left alone. Scopes nest: a persist belongs to the
    innermost open one."""
    opened = _OPEN_SCOPES.get()
    scope = CacheScope(opened[-1] if opened else None)
    token = _OPEN_SCOPES.set(opened + (scope,))
    try:
        yield scope
    finally:
        _OPEN_SCOPES.reset(token)
        scope.release()


def shared_persist(df: DataFrame) -> DataFrame:
    """Persist (default evictable memory+disk level) and register the
    handle with the innermost open :func:`cache_scope` and for
    :func:`release_shared_caches`."""
    out = df.persist()
    _registry(out.sparkSession.sparkContext)[id(out)] = out
    opened = _OPEN_SCOPES.get()
    if opened:
        opened[-1]._dfs.append(out)
    return out


def cache_mark() -> int:
    """How many shared caches are registered and not yet released —
    0 right after :func:`release_shared_caches`."""
    sc = SparkContext._active_spark_context
    return len(_registry(sc)) if sc is not None else 0


def release_shared_caches() -> int:
    """Unpersist every registered shared subtree; returns how many were
    released. Safe to call at any time — caches are recomputable, so a
    release mid-consumption only costs recompute, never correctness."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return 0
    reg = _registry(sc)
    n = 0
    while reg:
        n += _release(reg.popitem()[1])
    return n
