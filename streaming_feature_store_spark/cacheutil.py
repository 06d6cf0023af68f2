"""Tracked persists and local checkpoints for bounded intermediates.

Several operators persist small, bounded intermediate frames because the
persist is load-bearing (Spark gives zero ReusedExchange for shared
subplans consumed by multiple branches — without the persist the lineage
rebuilds once per consumer; measured 104 s vs 50 s on bigram_pmi at 100 k
docs).  A long-lived session that calls them repeatedly would accumulate
cached lineage until LRU pressure, so every such persist is registered
here and released explicitly after the consuming action.

A local checkpoint's blocks are out of ``DataFrame.unpersist``'s reach,
but the frame an eager ``localCheckpoint`` returns is a ``LogicalRDD``
over exactly the RDD that holds them; ``local_checkpoint_tracked``
registers that RDD's id when it makes the checkpoint.

Release functions with DIFFERENT safety contracts:

- ``release_cached_intermediates()`` — persists only.  Always safe: a
  released persist merely recomputes on the next action.
- ``release_checkpoints()`` — local-checkpoint blocks.  INVALIDATES the
  frames built on them (truncated lineage cannot recompute), so call it
  only after checkpoint-backed results — e.g. ``negative_sample`` /
  ``dedup_clusters`` / ``pagerank`` output — are fully consumed.
- ``release_checkpoint(frame)`` — one checkpoint, same caveat.
- ``release_all()`` — persists and checkpoints, same caveat.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_CACHED_INTERMEDIATES: list[DataFrame] = []
_CHECKPOINTED: list[tuple["object", int]] = []  # (SparkContext, rdd id)


def persist_tracked(frame: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    out = frame.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _CACHED_INTERMEDIATES.append(out)
    return out


def release_cached_intermediates() -> int:
    """Unpersist every tracked PERSIST since the last release.

    Always safe: a released persist recomputes on the next action.
    Checkpoint blocks are NOT touched (they would invalidate their
    consumers) — release those explicitly with ``release_checkpoints()``
    or ``release_all()`` once their results are fully consumed.  Returns
    the number of frames released."""
    n = 0
    while True:
        with _LOCK:
            if not _CACHED_INTERMEDIATES:
                break
            f = _CACHED_INTERMEDIATES.pop()
        try:
            f.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


def release_checkpoints() -> int:
    """Free every tracked local-checkpoint block.

    INVALIDATES the frames built on those checkpoints — truncated
    lineage cannot recompute, so any later action on them throws.  Call
    only after checkpoint-backed results (``negative_sample``,
    ``dedup_clusters``, ``pagerank`` outputs) are fully consumed.
    Returns the number of checkpoint RDDs freed."""
    n = 0
    while True:
        with _LOCK:
            if not _CHECKPOINTED:
                break
            entry = _CHECKPOINTED.pop()
        n += _unpersist(*entry)
    return n


def release_all() -> int:
    """``release_cached_intermediates()`` + ``release_checkpoints()`` —
    carries the checkpoint functions' invalidation caveat."""
    return release_cached_intermediates() + release_checkpoints()


def local_checkpoint_tracked(frame: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` whose materialized blocks are released
    by ``release_checkpoints()`` / ``release_all()``; until then they are
    left to JVM GC, as an untracked checkpoint's are.

    Releasing INVALIDATES the returned frame — unlike a released
    persist, which merely recomputes, a freed checkpoint CANNOT (its
    lineage is truncated), so any later action on the frame throws.
    Consume (write/collect) checkpoint-backed results fully before
    releasing.
    """
    out = frame.localCheckpoint(eager=True)
    entry = (frame.sparkSession.sparkContext, _checkpoint_rdd_id(out))
    with _LOCK:
        _CHECKPOINTED.append(entry)
    return out


def release_checkpoint(frame: DataFrame) -> int:
    """Free the blocks of ``frame``, a frame ``local_checkpoint_tracked``
    returned, and stop tracking them.  Invalidates ``frame`` and every
    frame built on it.  Returns 1 if blocks were freed, else 0."""
    entry = (frame.sparkSession.sparkContext, _checkpoint_rdd_id(frame))
    with _LOCK:
        if entry in _CHECKPOINTED:
            _CHECKPOINTED.remove(entry)
    return _unpersist(*entry)


def rolling_local_checkpoint(
    frame: DataFrame, superseded: DataFrame | None
) -> DataFrame:
    """Iteration form of ``local_checkpoint_tracked``: checkpoint the
    round's frame, then free ``superseded`` (the previous round's
    checkpoint, or None).  Once the new checkpoint is materialized (data
    copied, not derived) the superseded round can never be read again,
    so waiting for JVM GC to reclaim it just multiplies peak storage by
    the round count (measured: 10-iteration PageRank left 9 superseded
    (node, rank) checkpoints cached — O(rounds × nodes) where O(nodes)
    suffices).  The returned checkpoint stays tracked."""
    out = local_checkpoint_tracked(frame)
    if superseded is not None:
        release_checkpoint(superseded)
    return out


def _checkpoint_rdd_id(frame: DataFrame) -> int:
    """Id of the RDD holding an eager local checkpoint's blocks: the
    checkpointed frame's plan is a ``LogicalRDD`` over it."""
    return frame._jdf.logicalPlan().rdd().id()


def _unpersist(sc, rid: int) -> int:
    """Best-effort unpersist of RDD ``rid`` via the persistent-RDD
    registry; an RDD already cleaned (or a stopped session) counts 0."""
    try:
        opt = sc._jsc.sc().getPersistentRDDs().get(rid)
        if opt.isEmpty():
            return 0
        opt.get().unpersist(False)
        return 1
    except Exception:
        return 0
