"""Checkpoint ownership and release.

``localCheckpoint(eager=True)`` blocks have truncated lineage, are never
evicted by storage pressure, and are NOT released by
``DataFrame.unpersist()``: that call goes to the cache manager, which knows
nothing of checkpoint RDDs.  Release must go through the JVM-side
``getPersistentRDDs`` registry.

The paper's pipelines (V1 QA, V2 survey, the V3 host) make every cut
through :func:`checkpoint`, which reads the checkpoint's RDD id from the
returned frame's own plan (a ``LogicalRDD``) and adds it to every
:func:`owned` scope open on the calling thread.  A call therefore owns
exactly the frames it cut, never a caller's cache that first materializes
inside the cut, nor a frame another driver thread registers meanwhile::

    with owned() as ids:               # ids this block checkpoints
        df = checkpoint(df)
    ...                                # once superseded:
    release(sc, ids)

Scopes nest: an outer ``owned()`` (a request wrapper, the V3 host's
per-tool window) also sees the ids of every checkpoint an inner call cuts,
and so can release whatever the call leaves pinned.

An id set is released only once the frame that replaces it is eagerly
materialized, so the old blocks have provably had their last read
(truncated lineage means they could never be recomputed).  Multi-pass
loops release their tracked ids on the error path as well (try/except and
re-raise), so an exception mid-loop does not pin every intermediate for the
session.

The operator library outside the paper's modules (labelprop, pagerank,
corpus_prep, media_prep) still finds its checkpoints by diffing
:func:`pinned_ids` around each cut, keeping its first cut pinned as a
shield for caller caches that register inside it.  That diff assumes one
driver thread submits jobs while a window is open.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

__all__ = ["checkpoint", "owned", "pinned_ids", "release"]

_scopes = threading.local()


def _open_scopes() -> list[set]:
    if not hasattr(_scopes, "stack"):
        _scopes.stack = []
    return _scopes.stack


@contextmanager
def owned():
    """Yield the set of RDD ids that :func:`checkpoint` cuts on this thread
    while the block runs (nested calls included)."""
    ids: set = set()
    stack = _open_scopes()
    stack.append(ids)
    try:
        yield ids
    finally:
        stack.pop()


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, its id recorded in every open
    :func:`owned` scope of this thread."""
    cp = df.localCheckpoint(eager=True)
    rid = cp._jdf.queryExecution().logical().rdd().id()
    for ids in _open_scopes():
        ids.add(rid)
    return cp


def pinned_ids(sc) -> set:
    """Ids of every RDD currently registered persistent on the JVM side
    (caches AND local checkpoints)."""
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def release(sc, ids: set) -> None:
    """Unpersist the given RDD ids (no-op for ids no longer registered).
    Safe only for ids whose frames are provably never read again — a
    released localCheckpoint block cannot be recomputed."""
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist()
