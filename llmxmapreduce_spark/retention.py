"""Checkpoint-block release helpers (the r12 retention discipline).

``localCheckpoint(eager=True)`` blocks have truncated lineage, are never
evicted by storage pressure, and — the trap this module exists to
prevent — are NOT released by ``DataFrame.unpersist()``: that call goes
to the cache manager, which knows nothing of checkpoint RDDs (one tiny
``connected_components`` call measurably leaked 4 pinned frames while
dutifully calling it).  Release must go through the JVM-side
``getPersistentRDDs`` registry.

Usage pattern (labelprop.py / pagerank.py / components.py /
v1_qa.py / v2_survey.py / corpus_prep.py / media_prep.py)::

    pinned = pinned_ids(sc)            # snapshot before a checkpoint
    df = df.localCheckpoint(eager=True)
    new_ids = pinned_ids(sc) - pinned  # ids this checkpoint created
    ...                                 # once superseded:
    release(sc, old_ids)

Two invariants every call site keeps:

- **Caller-cache shield.**  A DataFrame cache registers in
  ``getPersistentRDDs`` lazily, at first materialization — which for a
  caller's cache happens INSIDE the callee's first scan of its input.
  The first checkpoint's id-diff therefore may contain caller caches
  and must never be released; every loop keeps its first
  materialization's ids pinned (the shield) and only sweeps ids
  created after it.
- **Release after supersede.**  An id set is released only once the
  frame that replaces it is eagerly materialized, so the old blocks
  have provably had their last read (truncated lineage means they
  could never be recomputed).

**Concurrency assumption (IMPORTANT).**  The snapshot-diff protocol
assumes a SINGLE driver thread is submitting jobs on the
SparkContext while a tracked window is open.  Spark explicitly
supports concurrent job submission from multiple driver threads (and
a running Structured Streaming query is such a thread): any cache or
localCheckpoint another thread registers between a call site's
``snap`` and its post-materialization diff is attributed to the call
and later released — and a released localCheckpoint block has
truncated lineage, so the other workload fails with an unrecoverable
"checkpoint block not found" instead of recomputing.  Call sites must
therefore never subtract from the GLOBAL registry (track only
snapshot diffs around their own stages — the r13 media_prep fix), and
callers running these pipelines concurrently with other
cache-registering driver threads should pass their pipeline's
``checkpoint=False`` / release-disabling knob or serialize the calls.

**Error paths.**  Wrap multi-pass release loops in try/finally (or
except+re-raise) and release the tracked non-shield, non-returned ids
on the error path: an exception mid-loop (executor loss, OOM,
interrupted action) must not leave every not-yet-superseded
intermediate pinned for the session — that silently reinstates the
leak exactly when memory pressure is highest.

**Adding a NEW iterative operator?**  Copy the pagerank template:
``operators/pagerank.py`` (release per-round + setup checkpoints once
superseded, inside try/except) and its retention gate
``tests/test_pagerank.py::test_pagerank_releases_checkpoints`` (assert
<=N pinned frames after k iterations, plus a caller-cache-survival
test).  Every iterative loop in this repo either releases through this
module or carries a documented boundedness argument — keep that
invariant.
"""

from __future__ import annotations

__all__ = ["pinned_ids", "release"]


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
