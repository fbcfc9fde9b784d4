"""Session-scoped registry for operator-persisted DataFrames.

Library operators (large FlatFrame inputs, dedup shingle/MinHash frames,
recall baselines) persist intermediates that the *returned* lazy DataFrame
still reads, so they cannot unpersist before the caller materializes the
result. Left alone, those cached frames accumulate for the lifetime of a
long-running driver (ADVICE r2). Every such persist now goes through
:func:`pin`, which records the handle here; callers (or a session janitor)
reclaim executor memory with :func:`release` once results are
materialized/written.

Usage::

    import flatbread_spark as fb
    result = fb.minhash_lsh_pairs(docs, "id", "text")
    result.write.parquet(...)        # materialize
    fb.release_caches()              # drop all operator caches
    fb.release_caches("dedup")       # or just one operator family

Tags in use: ``dedup`` (hashed-shingle frames, MinHash signatures and
chunk hashes — SimHash pairs pin nothing; also used by the events
operator's per-key frame), ``graph`` (edge frames), ``sketch``,
``curation`` (tokenized gate input + outlier medians), ``linkage``
(the distinct-name vocab), ``lm``
(the unigram count table — the bigram table is corpus-tailed and
deliberately NOT cached, ADVICE r10), ``skew`` (join_estimate's per-key
counts), ``pca`` (the moment aggregate — pca_train releases it itself
with :func:`unpin` after collecting), ``frame`` (a
``FlatFrame.from_df`` input — e.g. a pivot output — too large to
re-enter the plan as a local relation, pinned after its bounded collect
and kept for its window or ranged positions; a smaller one is never
pinned),
plus the entry module's ``knn_recall``/``ivf_sweep`` memoized baselines.
"""
from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_PINNED: list[tuple[str, DataFrame]] = []
# guards every read-modify-write of _PINNED; unpersist runs after the lock
# is released, so a frame pinned meanwhile (another thread, or a callback
# inside unpersist) lands in the registry instead of being overwritten
_LOCK = threading.Lock()


def pin(df: DataFrame, tag: str = "") -> DataFrame:
    """Persist ``df`` (if not already persisted) and register the handle
    under ``tag`` for later :func:`release`. Returns the persisted frame."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df = df.persist()
    with _LOCK:
        _PINNED.append((tag, df))
    return df


def register(df: DataFrame, tag: str = "") -> DataFrame:
    """Record an ALREADY-persisted frame for later :func:`release` (for
    operators that manage persistence inline but whose final cached frame
    outlives the call)."""
    with _LOCK:
        _PINNED.append((tag, df))
    return df


def _unpersist(frames: list[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass


def release(tag: str | None = None) -> int:
    """Unpersist every pinned frame (optionally only those matching ``tag``).
    Returns the number of frames released. Safe to call with a stopped
    SparkSession (errors are swallowed — nothing to reclaim then anyway)."""
    with _LOCK:
        dropped = [df for t, df in _PINNED if tag in (None, t)]
        _PINNED[:] = [(t, df) for t, df in _PINNED if tag not in (None, t)]
    _unpersist(dropped)
    return len(dropped)


def unpin(df: DataFrame) -> bool:
    """Unpersist one SPECIFIC pinned frame and drop it from the registry
    (identity match on the handle). For operators that pin an intermediate
    but return only driver-side values (e.g. ``pca_train`` collects the
    covariance table and returns numpy arrays): no returned lineage reads
    the cache, so the caller releases it immediately rather than leaking
    it until a manual :func:`release` — and releasing by handle, not by
    tag, cannot drop a sibling frame pinned under the same tag by a
    concurrent call whose result is still lazy. Returns True if the frame
    was registered."""
    with _LOCK:
        idx = next((i for i, (_t, fr) in enumerate(_PINNED) if fr is df), None)
        if idx is None:
            return False
        del _PINNED[idx]
    _unpersist([df])
    return True


def pinned_tags() -> list[str]:
    """Tags of currently pinned frames (observability/testing)."""
    with _LOCK:
        return [t for t, _ in _PINNED]


def local_checkpoint_fully_cached(df: DataFrame) -> bool:
    """True when ``df`` is a ``localCheckpoint`` whose RDD reports EVERY
    partition cached — the precondition for releasing a predecessor
    checkpoint it was derived from (ADVICE r11 #3): a lazy checkpoint is
    only safe to cut loose from its lineage source once all of its own
    blocks exist, because a partially-materialized successor whose source
    was unpersisted cannot back-fill (the lineage is gone) and fails
    irrecoverably at the next action. Best-effort like
    :func:`release_local_checkpoint`: returns False (never raises) when
    the plan is not a LogicalRDD or the internal surface moved — callers
    then skip the release and memory degrades to the accumulate-as-before
    status quo."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        rid = plan.rdd().id()
        jsc = df.sparkSession.sparkContext._jsc.sc()
        for info in jsc.getRDDStorageInfo():
            if info.id() == rid:
                return info.numCachedPartitions() == info.numPartitions()
        return False
    except Exception:
        return False


def release_local_checkpoint(df: DataFrame, blocking: bool = False) -> bool:
    """Best-effort release of the blocks a ``localCheckpoint`` pinned.

    ``DataFrame.localCheckpoint`` persists the computed rows and replaces
    the plan with a ``LogicalRDD`` over them, but exposes no public handle
    to unpersist — ``df.unpersist()`` is a no-op there (the DATASET was
    never marked cached, only the underlying RDD), so iterative operators
    that cut every step (``fps_select``) would otherwise accumulate one
    corpus-sized block set per iteration for the session's lifetime.
    This reaches the ``LogicalRDD``'s RDD through the analyzed plan and
    unpersists it (non-blocking). Call ONLY when the checkpointed frame —
    and everything derived from it that has not itself been cut — is
    finished: a later action on a released checkpoint recomputes nothing
    (the lineage is gone) and fails loudly, which is the same
    lost-block contract the checkpoint already had.

    Returns True when blocks were released; False (never raises) when the
    plan is not a LogicalRDD or the internal surface moved — the caller's
    memory behavior then degrades to the pre-release status quo.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(blocking)
        return True
    except Exception:
        return False
