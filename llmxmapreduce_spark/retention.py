"""Checkpoint ownership and release.

``localCheckpoint(eager=True)`` blocks have truncated lineage, are never
evicted by storage pressure, and are NOT released by
``DataFrame.unpersist()``: that call goes to the cache manager, which knows
nothing of checkpoint RDDs.  Release must go through the JVM-side
``getPersistentRDDs`` registry.

The paper's pipelines (V1 QA, V2 survey, the V3 host) make every cut
through :func:`checkpoint`, which reads the checkpoint's RDD id from the
returned frame's own plan (:func:`frame_id`) and adds it to every
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

An id is released only once every frame that reads it is eagerly
materialized (truncated lineage means its blocks could never be
recomputed).  V1 and V2 keep that rule in one place,
:class:`~llmxmapreduce_spark.operators.stage_metrics.StageRun`: a call
leaves exactly its returned frame pinned on success, nothing on failure.
The V3 host keeps its tool calls' ids until ``close()``.

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

__all__ = ["checkpoint", "frame_id", "owned", "pinned_ids", "release"]

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
    rid = frame_id(cp)
    for ids in _open_scopes():
        ids.add(rid)
    return cp


def frame_id(cp: DataFrame) -> int:
    """The RDD id of a :func:`checkpoint` frame, read from its plan."""
    return cp._jdf.queryExecution().logical().rdd().id()


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
