"""Cache lifetimes for query builders: session memos and persist scopes.

Two kinds of value are cached while a plan is built, and each has one
lifetime and one owner.

*Session lifetime* — ``expr_memo``. Pure plan-build values: Column
expression trees (minhash banding, Hilbert chains, the public-suffix
list) and resolved fixture tables (``sources/parquet.py:load_table``).
Each is a pure function of its key, so reusing it can never change a
result; it only saves py4j round trips (thousands per ingest-tick
build). Entries are keyed by the SparkContext's ``applicationId``, so a
restarted session never sees another application's entries; the memo is
cleared wholesale past 1024 entries (entries of dead
sessions are never hit again). Nobody releases it.

*Scope lifetime* — ``managed_persist`` and ``probe_memo``. Values that
depend on the data:

- persists: a builder often persists an intermediate that its returned,
  still lazy DataFrame reads (the shingle table a near-dup join reuses,
  q21's pair table). It cannot unpersist before returning, so the
  persist is registered with the current scope instead;
- sizing probes: ``plan_width``'s partition count and
  ``similarity._bounded_count``. They are memoized by plan fingerprint,
  which is only sound while the inputs do not change.

Releasing a scope unpersists its persists and forgets its probes. The
default scope is the session's, released by ``release_persists()`` at a
query boundary: ``bench.py``, the benchmark and the tests call it
between queries. ``persist_scope()`` opens a nested scope for one unit
of work, such as a streaming ingest tick (``streaming/ingest.py``),
and releases it on exit. The current scope is a ``ContextVar``, so a
foreachBatch callback thread that opens a scope never releases another
thread's persists; a new thread starts in the session scope.

A persist of a plan that is already cached (Spark matches cached plans
by equivalence) is not registered again: the scope that cached it first
owns it, and a nested scope cannot release its parent's table.
Unpersisting early only ever costs recompute, never a wrong result.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class _Scope:
    """The persists and sizing probes of one query, tick or session."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.persists: list[DataFrame] = []
        self.probes: dict[tuple, object] = {}

    def release(self) -> None:
        with self.lock:
            drop, self.persists = self.persists, []
            self.probes.clear()
        for df in drop:
            try:
                df.unpersist()
            except Exception:
                # Session already stopped / executor gone — nothing to release.
                pass


_SESSION = _Scope()
_CURRENT: ContextVar[_Scope] = ContextVar("persist_scope", default=_SESSION)


def managed_persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released with the current scope."""
    if df.storageLevel != StorageLevel.NONE:
        return df.persist()  # already cached: its first persister owns it
    persisted = df.persist()
    scope = _CURRENT.get()
    with scope.lock:
        scope.persists.append(persisted)
    return persisted


def release_persists() -> None:
    """Release the session scope: unpersist its intermediates and forget
    its sizing probes (query-boundary hook)."""
    _SESSION.release()


@contextmanager
def persist_scope() -> Iterator[_Scope]:
    """Persists and probes made inside the block are released on exit."""
    scope = _Scope()
    token = _CURRENT.set(scope)
    try:
        yield scope
    finally:
        _CURRENT.reset(token)
        scope.release()


def _app_key(key: tuple) -> tuple | None:
    sc = SparkContext._active_spark_context
    return None if sc is None else (sc.applicationId,) + key


def probe_memo(key: tuple, probe):
    """``probe()``, memoized in the current scope under ``key`` — a sizing
    probe keyed by plan fingerprint, forgotten when the scope is released."""
    k = _app_key(key)
    if k is None:
        return probe()
    probes = _CURRENT.get().probes
    value = probes.get(k)
    if value is None:
        value = probes[k] = probe()
    return value


#: (applicationId,) + key -> a pure plan-build value (module docstring).
#: Memoized trees must reference columns by FIXED names only —
#: data-dependent literals (quantization bounds, counts) stay OUT of the
#: memoized fragment and ride separate placeholder columns at the call site.
_MEMO: dict[tuple, object] = {}


def expr_memo(key: tuple, build):
    """``build()``, memoized for the life of the session under ``key``."""
    k = _app_key(key)
    if k is None:
        return build()
    value = _MEMO.get(k)
    if value is None:
        if len(_MEMO) > 1024:
            _MEMO.clear()
        value = _MEMO[k] = build()
    return value
