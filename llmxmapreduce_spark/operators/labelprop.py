"""Label-propagation community detection (scale extension).

Connected components (operators/components.py) answers "which docs are
transitively linked"; label propagation answers the finer question a
curation pipeline asks of a link or near-dup-pair graph: "which DENSE
groups exist inside a blob" — a hub page or boilerplate template links
two otherwise-unrelated clusters into one component, while LPA keeps
them apart because membership needs a *majority* of your neighbors, not
one stray edge.  Used as the domain-clustering signal (group hosts by
who links whom) and as the splitter for over-merged near-dup components.

Algorithm (synchronous, deterministic — the module CONTRACT, which the
DuckDB twin unrolls verbatim in SQL):

- node set = distinct(src) ∪ distinct(dst); initial label(v) = v.
- one round: every edge row (s, d) casts one vote of label(s) onto d
  (multi-edges = repeated votes = integer weights), and every node
  casts one self-vote of its own current label (the standard
  oscillation damper for synchronous LPA — without it a bipartite
  graph flips sides forever).
- new label(v) = the label with the MAX total votes; ties break to the
  MIN label.  All updates apply simultaneously.

Raghavan et al. (2007) run this asynchronously with random visit order
and random tie-breaks; the synchronous min-tie variant trades a little
convergence speed for bit-determinism — the property every operator in
this repo holds so results are engine-replayable (cf. kmeans.py,
pagerank.py).

Directed-vote convention: an edge row votes src→dst only.  For the
usual undirected semantics pass both directions (``union`` of the
reversed frame), exactly like pagerank.

Scale notes (100 TB case):
- Per round: one join keyed on src (edges × labels), one aggregate on
  (node, label), one argmax aggregate on node — all partial-agg
  friendly, no window function in the hot path (the argmax is
  ``min(struct(-cnt, label))``, a two-level hash aggregate, NOT a
  row_number sort).
- The edge frame is reused every round → persisted once up front,
  unpersisted on exit.
- Labels are localCheckpoint'ed per round: iterative self-referential
  plans otherwise grow exponentially (same lineage cut as
  components.py / pagerank.py).
- Shuffles carry (id, id) / (id, label, cnt) only — never payload text.
- Convergence mode detects a fixpoint with an O(n) changed-count
  aggregate, never a driver-side collect of labels.

Correctness: tests/test_labelprop.py pins a pure-python reference on
planted two-clique graphs, multi-edge weighting, the self-vote damper
on a bipartite graph, determinism under repartition, and 3 rounds
against an unrolled DuckDB replay (values-grade, integer-only — the
pagerank oracle pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from llmxmapreduce_spark.retention import pinned_ids, release


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int | None = None,
    max_iter: int = 20,
    node_out: str = "node",
    label_out: str = "label",
    checkpoint: bool = True,
    combine_votes: bool = False,
) -> DataFrame:
    """→ (node_out, label_out): one row per node appearing in ``edges``.

    ``n_iter`` fixed runs exactly that many synchronous rounds (the
    oracle-replayable mode); ``n_iter=None`` iterates to a fixpoint
    (no label changed) bounded by ``max_iter``.

    ``combine_votes`` picks the per-round shuffle shape (r13 verdict
    task #6 — the guard for the r13 one-exchange trade).  Both shapes
    compute the identical labels:

    - ``False`` (default): ONE exchange per round carrying the RAW vote
      stream, hash-partitioned on the node so both downstream
      aggregates reuse it (the r13 shape — measured 1.5-2× faster on
      the lineitem bipartite graph, where exchange/stage count
      dominates).
    - ``True``: the (node, label) count aggregate keeps its own
      exchange, which restores Catalyst's MAP-SIDE PARTIAL COMBINE
      below it — the first exchange then carries combined partials
      (≤ distinct (node, label) pairs per map partition) and the argmax
      exchange carries the globally combined pairs.  Two exchanges, but
      strictly fewer shuffled BYTES whenever vote duplication is heavy:
      pick it when |votes| / |distinct (node, label)| is large — heavy
      multi-edge graphs, or late rounds of dense communities where most
      neighbors vote the same label.  Break-even: the raw-vote exchange
      ships |E|+|V| rows; this shape ships ~(combined partials +
      distinct pairs) rows across two exchanges.
    """
    if n_iter is not None and n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    # Persist edges HASH-PARTITIONED on the join key: at gate scale the
    # label table broadcasts (AQE picks BroadcastHashJoin, edges never
    # shuffle), but once labels outgrow the broadcast threshold the
    # join falls back to a shuffled strategy — and a pre-partitioned
    # cached edge frame keeps that fallback zero-Exchange on the big
    # side for EVERY round instead of re-shuffling |E| per iteration.
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")) \
        .repartition("__s")
    e.persist()
    sc = e.sparkSession.sparkContext
    prev_ids: set = set()   # set before try: the except handler reads it
    new_ids: set = set()    # ditto: covers the round whose checkpoint is
    try:                    # already pinned but not yet rotated into prev_ids
        nodes = (
            e.select(F.col("__s").alias("__n"))
            .union(e.select(F.col("__d").alias("__n")))
            .distinct()
        )
        # Materialize the edge cache BEFORE the first id snapshot: a
        # DataFrame cache registers its RDD in getPersistentRDDs only
        # when a job first materializes it, which would otherwise happen
        # INSIDE the initial eager checkpoint below — putting the edge
        # cache (and any lazily-registering caller cache upstream) into
        # prev_ids and releasing it after round 1, silently re-shuffling
        # |E| every remaining round (r11 review finding).
        e.count()
        base = pinned_ids(sc)
        labels = nodes.select("__n", F.col("__n").alias("__l"))
        if checkpoint:
            labels = labels.localCheckpoint(eager=True)
        prev_ids = pinned_ids(sc) - base

        rounds = n_iter if n_iter is not None else max_iter
        for _ in range(rounds):
            base = pinned_ids(sc)
            new_labels = _one_round(e, labels, combine_votes)
            if checkpoint:
                new_labels = new_labels.localCheckpoint(eager=True)
            new_ids = pinned_ids(sc) - base
            converged = False
            if n_iter is None:
                n_changed = (
                    labels.withColumnRenamed("__l", "__prev")
                    .join(new_labels, "__n")
                    .filter(F.col("__prev") != F.col("__l"))
                    .count()
                )
                converged = n_changed == 0
            # The new round's checkpoint is materialized (eager=True) and
            # the convergence count above was the LAST read of the old
            # round's blocks — release them now, or every call leaks |V|
            # storage-memory blocks per round for the session's lifetime
            # (r10 advice; the verify-sweep fix only covered the gate
            # harness, not library callers).  Only ids this loop's own
            # localCheckpoint created are touched, so caller/session
            # caches are safe; the old frame is never read again, so the
            # truncated-lineage caveat doesn't bite.  Only the FINAL
            # frame's blocks stay alive for the caller.
            release(sc, prev_ids)
            prev_ids = new_ids
            labels = new_labels
            if converged:
                break
        return labels.select(
            F.col("__n").alias(node_out), F.col("__l").alias(label_out)
        )
    except BaseException:
        # r13 ADVICE: an exception mid-loop must not leave the current
        # round's checkpoint blocks pinned for the session — nothing is
        # returned on the error path, so the tracked ids are releasable.
        # new_ids is included because in fixpoint mode the convergence
        # count runs BETWEEN the round's checkpoint and the
        # prev_ids = new_ids rotation: a failure there would otherwise
        # leak the just-pinned round (r13 review finding).
        release(sc, prev_ids | new_ids)
        raise
    finally:
        e.unpersist()


def _one_round(e: DataFrame, labels: DataFrame,
               combine_votes: bool = False) -> DataFrame:
    """One synchronous vote round (contract in the module docstring)."""
    edge_votes = (
        e.join(labels, e["__s"] == labels["__n"])
        .select(F.col("__d").alias("__n"), "__l")
    )
    all_votes = edge_votes.unionByName(labels.select("__n", "__l"))
    if combine_votes:
        # r14 guard shape: let the (n,l) aggregate insert its own
        # exchange so Catalyst plans a map-side partial_count below it —
        # the exchange carries per-partition-combined (n,l) partials
        # instead of raw votes, and the argmax exchange carries the
        # globally distinct pairs.  Right when vote duplication is
        # heavy (see label_propagation docstring for the break-even).
        votes = all_votes.groupBy("__n", "__l").agg(
            F.count(F.lit(1)).alias("__cnt"))
    else:
        # r13: ONE exchange per round instead of two — hash-partitioning
        # the raw votes by __n satisfies the ClusteredDistribution of
        # BOTH downstream aggregates ((n,l) count and the per-n argmax),
        # so neither inserts its own exchange.  Trade: the single
        # exchange carries raw votes (|E|+|V| rows) where the old first
        # exchange carried map-side-combined (n,l) partials — a loss
        # only on graphs whose multi-edge duplication is heavy enough
        # that the combine shrank below |E|+|pairs| combined across both
        # old exchanges (measured 1.5-2x faster on the lineitem
        # bipartite graph).
        votes = (
            all_votes
            .repartition("__n")
            .groupBy("__n", "__l")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
    # argmax(cnt), ties -> min label: a hash aggregate over a struct
    # whose lexicographic MIN is (max cnt, min label).  No window sort.
    return (
        votes.groupBy("__n")
        .agg(F.min(F.struct((-F.col("__cnt")).alias("nc"),
                            F.col("__l").alias("l"))).alias("__m"))
        .select("__n", F.col("__m.l").alias("__l"))
    )


def community_sizes(
    labels: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """Datasheet companion (cf. components.component_size_report): one
    row per community size with how many communities have it."""
    per_label = labels.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_members"))
    return (
        per_label.groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_communities"))
        .orderBy(F.col("n_members").desc())
    )
