"""Bookkeeping for operator-internal persists and lineage cuts.

Two primitives share one registry, and :func:`release_caches` frees
both:

* :func:`pin` persists an intermediate (MEMORY_AND_DISK) because a
  sizing count or a multi-consumer plan would otherwise recompute an
  expensive upstream (CosineLSHJoin / MinHashLSHPairs / SemDeDup auto
  modes, SimHashDedup's partitioned edge copies).
* :func:`cut` truncates lineage with ``localCheckpoint``: every round
  of a driver loop (Iterate, ConnectedComponents, PageRank,
  SimHashDedup), and small results that several consumers read.
  ``localCheckpoint`` persists the checkpointed RDD, and Spark frees
  it only when a JVM garbage collection happens to collect the RDD.

Neither may be released eagerly: the operator's output is a lazy plan
reading the cache, so the driver program calls :func:`release_caches`
at its natural pipeline-end points (after a sink materialized, between
sweep queries) to drop everything in one call without each operator
guessing when its cache is dead.

A released pin and a released cut behave differently.  A frame read
after its pin is released is recomputed from its lineage.  A frame
read after its cut is released fails with Spark's
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``: the cut *is* its lineage.  So
never release in the middle of a build (Iterate's output reads the
cuts of earlier rounds), and never keep a frame that reads a cut
across :func:`release_caches`.

Two process memos live outside this registry by design, because they
hold no Spark cache: ``similarity._TRAIN_MEMO`` (k-means centroids,
weakly keyed on the corpus frame object) and
``__spark_entry__._CEP_STREAM_CACHE`` (reads of drained memory-sink
tables, whose rows stay on the driver).  :func:`release_caches` frees
neither.  The CEP memo must survive it, since the next call returns
the memoized frame; ``test_cep_stream_memo_survives_release_caches``
checks that.
"""

from __future__ import annotations

from pyspark import StorageLevel

_TRACKED: list = []
_CUTS: list = []


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


def cut(df, eager: bool = True):
    """``df.localCheckpoint(eager)``, with the checkpointed RDD
    registered for :func:`release_caches` — the one lineage-cut
    primitive every operator uses.

    The registry holds the RDD's id, not the frame: Spark's persistent
    RDD map holds RDDs weakly, so a loop round's cut can still be
    collected once the next round replaces it, where a strong
    reference would keep every round alive until the release.  A lazy
    cut (``eager=False``) is registered as persisted when it is
    created, and its blocks are written by the first action."""
    df = df.localCheckpoint(eager)
    rdd_id = df._jdf.queryExecution().logical().rdd().id()
    _CUTS.append((df.sparkSession.sparkContext, rdd_id))
    return df


def release_caches(blocking: bool = False) -> int:
    """Unpersist every pinned frame that is still cached and every cut
    whose RDD is still persisted; returns how many were released.
    Call at pipeline-end — after the outputs you care about are
    materialized — NOT between building a flow and collecting it (a
    released pin is recomputed, a released cut cannot be read at all).
    Safe to call repeatedly; the registry drains on each call."""
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
    while _CUTS:
        sc, rdd_id = _CUTS.pop()
        if sc._jsc is None:
            continue  # context already stopped: its blocks went with it
        rdd = sc._jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:
            rdd.unpersist(blocking)
            released += 1
    return released
