"""Bookkeeping for operator-internal persists.

Several operators persist an intermediate (MEMORY_AND_DISK) because a
sizing count or a multi-consumer plan would otherwise recompute an
expensive upstream (CosineLSHJoin / MinHashLSHPairs / SemDeDup auto
modes, SimHashDedup's partitioned edge copies).  They must NOT
unpersist eagerly: the operator's output is a lazy plan reading the
cache, and an unpersist before the caller materializes it would force
the recompute straight back in.

Spark's LRU eviction keeps this safe, but a long-lived session running
many auto operators accumulates disk-backed blocks until memory
pressure evicts them.  The fix is a session-level registry: operators
persist through :func:`pin`, which registers the frame, and the driver
program calls :func:`release_caches` at its natural pipeline-end
points (after a sink materialized, between sweep queries) to drop
everything in one call without each operator guessing when its cache
is dead.
"""

from __future__ import annotations

from pyspark import StorageLevel

_TRACKED: list = []


def pin(df):
    """Persist ``df`` at MEMORY_AND_DISK and register it for
    :func:`release_caches`.  Returns the persisted frame, so call sites
    stay one-liners (``df = pin(df)`` or ``.transform(pin)``) — the one
    persist primitive every operator uses.

    The registry holds a STRONG reference on purpose: the JVM-side
    cache entry outlives the thin Python wrapper, so a weak reference
    would die with the operator's local variable and orphan the very
    blocks this registry exists to free.  The wrapper itself is a few
    hundred bytes — negligible next to the cached data."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(df)
    return df


def release_caches(blocking: bool = False) -> int:
    """Unpersist every tracked frame that is still cached; returns how
    many were released.  Call at pipeline-end — after the outputs you
    care about are materialized — NOT between building a flow and
    collecting it (that would force recomputes).  Safe to call
    repeatedly; the registry drains on each call."""
    released = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            lvl = df.storageLevel
            if lvl.useMemory or lvl.useDisk:
                df.unpersist(blocking)
                released += 1
        except Exception:
            pass  # session already stopped, or frame from a dead session
    return released
