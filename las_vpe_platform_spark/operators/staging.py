"""Staging for multi-reference subtrees.

Several operators (CMS heavy hitters, IVF/IVF2 ANN, n-gram Jaccard,
PPJoin, DSIR, bloom blocks) reference an expensive subtree more than
once and stage it through :func:`persist_disk`, so the corpus-sized
work runs once, not once per reference (the multi-reference rule in
SCALE.md).  The stage is lazy (zero jobs until an action) and
lineage-recoverable (a lost block recomputes from source — every
staged subtree here is deterministic), unlike ``localCheckpoint()``,
which runs jobs at plan construction, keeps no lineage and cannot
appear under a streaming plan.  Staged frames are registered so a
harness calls :func:`unpersist_all` between queries instead of letting
DISK_ONLY blocks accumulate over a long session.

``localCheckpoint`` remains the right call *inside iterative loops*
(connected components, PageRank), where lineage must be truncated
each round to keep the plan from growing superlinearly — those sites
keep it deliberately (reference analog: the staging tables the
reference writes between Kafka hops, DataManagingApp.java:422-473).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Frames persisted via persist_disk since the last unpersist_all().
# Deliberately STRONG references (review r5 considered GC-triggered
# unpersist via weakref.finalize and rejected it): a staged frame is
# usually a function local whose Python object dies before the query
# executes, while the JVM-side cache entry must survive until the
# consuming plan runs — GC-based release would unpersist the cache
# before first use and silently defeat the multi-reference
# materialization. The contract is therefore explicit: harnesses call
# unpersist_all() between queries; a caller that never does holds at
# most its session's staged frames, the same bound Spark's own
# CacheManager imposes on any df.persist() user.
_PERSISTED: list[DataFrame] = []


def persist_disk(df: DataFrame) -> DataFrame:
    """Stage ``df`` with a lazy ``persist(DISK_ONLY)`` so its
    recomputation cost is paid at most once across all downstream
    references.

    Lazy (no job until the first action), recoverable (lost blocks
    recompute from lineage), and memory-safe for corpus-sized
    intermediates (shingle explodes) while costing little for the
    sketch-sized ones (count tables).  Registered for
    :func:`unpersist_all`.
    """
    out = df.persist(StorageLevel.DISK_ONLY)
    _PERSISTED.append(out)
    return out


@contextmanager
def scoped_persists():
    """Release only the frames persisted INSIDE this scope.

    For callers that invoke persist_disk-materializing operators in a
    loop (e.g. a foreachBatch body running ivf_topk per micro-batch):
    unpersist_all() between catalog queries is too coarse there — it
    would also drop frames staged by the enclosing query. The scope
    snapshots the registry length on entry and, on exit, unpersists
    and deregisters exactly the tail added within, leaving outer
    stages untouched. Same stopped-context tolerance as
    unpersist_all."""
    mark = len(_PERSISTED)
    try:
        yield
    finally:
        tail = _PERSISTED[mark:]
        del _PERSISTED[mark:]
        for df in tail:
            sc = df.sparkSession.sparkContext
            if sc._jsc is None:
                continue
            df.unpersist()


def unpersist_all() -> int:
    """Drop every frame persisted through :func:`persist_disk` since
    the last call. Harness-level lifecycle: bench/tests call this
    between catalog queries so a multi-query session doesn't accrete
    DISK_ONLY blocks. Returns the number of frames released.

    Tolerates exactly one failure mode silently — a stopped
    SparkContext (interpreter teardown ordering) — and re-raises
    anything else: a real unpersist failure must not be reported as a
    release (review r5: the old blanket ``except Exception`` hid
    genuine errors behind an inflated count)."""
    n = 0
    try:
        for df in _PERSISTED:
            sc = df.sparkSession.sparkContext
            if sc._jsc is None:  # context stopped: nothing left to free
                continue
            df.unpersist()
            n += 1
    finally:
        _PERSISTED.clear()
    return n
