"""PageRank over an edge DataFrame — the link-graph centrality signal a
crawl-curation pipeline ranks domains and pages with (Common Crawl
publishes exactly this kind of ranking for its host/domain graph; a
curation stack joins it as a keep/weight signal next to the URL filters
in operators/url_filter.py).

The reference engine has no graph operator; this extends the engine the
same way components.py (connected components) does, and shares its
iteration discipline: each round is plain joins/aggregations keyed by
node id, no driver-side graph state, lineage cut per round with an eager
``localCheckpoint``.

**Exact-integer determinism contract.**  Ranks live on a fixed-point
grid (``scale`` units per node, default 1e9 — the "ranks sum to N"
convention).  One iteration is::

    outdeg(v)   = number of edge rows leaving v        (multi-edges act
                                                        as weights)
    contrib(e)  = rank(src) DIV outdeg(src)            (integer floor)
    S_in(v)     = Σ contrib over in-edges              (exact int sum)
    share       = (Σ rank over dangling nodes) DIV N   (uniform
                                                        redistribution)
    rank'(v)    = (scale·(den−num)) DIV den
                  + (num·(S_in(v) + share)) DIV den

with damping num/den (default 17/20 = 0.85) kept rational so every step
is int64 arithmetic: reduction-order independent, bit-identical under
any partitioning, and replayable in DuckDB (the `pagerank_bipartite`
oracle unrolls the iterations in SQL).  Floor losses bias each rank down
by < 1 unit per term per iteration — at scale=1e9 that is 1e-9 of a
node's mass, far below anything a ranking consumer can see.

Overflow bound: num·N·scale must stay < 2^63, so the defaults support
~5·10⁸ nodes; drop ``scale`` to 1e6 for graphs up to ~5·10¹¹ nodes.
Checked at runtime from the node count.

Scale design (100 TB graph):
- Shuffles carry (node_id, int64) pairs only.  The edge table is joined
  once per iteration against the rank table on ``src`` and aggregated on
  ``dst`` — the same two-shuffle round as every vertex-centric BSP step
  (Pregel/GraphX do this with RDD machinery; this is the DataFrame
  formulation, so AQE handles skewed hubs).
- The degree table is computed ONCE and reused across iterations.
- Dangling mass is one scalar aggregate per iteration (bounded collect).
- Hot-key caveat: a node with huge in-degree concentrates its S_in
  aggregation; AQE skew-join splitting covers the join side, and the
  aggregation is a partial-agg (map-side combine) shape by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from llmxmapreduce_spark.retention import pinned_ids, release

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 1_000_000_000,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """→ ``(node, rank_q)`` — fixed-point PageRank after ``n_iter``
    exact-integer iterations (see module contract).  ``rank_q`` is in
    ``scale`` units; ranks sum to ≈ N·scale.  Multi-edges weight the
    walk by multiplicity; self-loops are legal; dangling-node mass is
    redistributed uniformly each round.

    ``checkpoint=False`` skips every lineage cut — ONLY for plan
    auditing (explain() then shows the one-iteration operator
    pipeline; checkpointed results collapse to a Scan ExistingRDD) or
    tiny n_iter."""

    def _ck(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if checkpoint else df

    # Checkpoint release (labelprop.py:105-155 pattern, r11 verdict task
    # #3): localCheckpoint blocks have truncated lineage and are never
    # evicted, so without this every call pins n_iter × |V| rows of
    # storage memory for the session's lifetime.  Round N's dangling-mass
    # collect and S_in join are the LAST reads of round N−1's blocks;
    # once round N's eager checkpoint materializes, the old blocks are
    # released.  The setup frames (nodes/deg/ed) are reused every round
    # and released together after the LAST round.  Only ids created by
    # this call's own checkpoints are touched — caller caches predate
    # the snapshots and stay pinned; the FINAL frame's blocks stay alive
    # for the caller.
    sc = edges.sparkSession.sparkContext


    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # Snapshot ordering: the FIRST eager checkpoint below (deg) is the
    # first full scan of `e`, so a caller cache whose registration is
    # lazy (labelprop r11 review finding) registers during it and stays
    # OUT of every diff below.  The price is that the deg checkpoint
    # itself is never released — a bounded ≤2 pinned frames per call
    # (deg + final ranks) instead of 3 + n_iter.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    deg = _ck(deg)
    # snapshot AFTER the deg checkpoint: ids registered during that
    # first materialization (deg itself + lazy caller caches) must stay
    # out of the releasable setup diff
    snap1 = pinned_ids(sc) if checkpoint else set()
    # r13: dangling membership is STATIC (a node either has out-edges or
    # it doesn't), so it is joined onto the node table ONCE here — same
    # checkpoint count as before, deg is simply built first — and
    # carried through every round as a boolean: the per-round dangling
    # mass becomes a filter+agg over the rank frame instead of a
    # |V|-vs-|V_out| anti-join per iteration (same rows selected, same
    # nonneg-int64 sum; at scale this deletes one node-table join and
    # its hash build from every round's critical path).
    nodes_f = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(deg.select(F.col("src").alias("node"),
                         F.lit(True).alias("__out")),
              "node", "left")
        .select("node", F.coalesce("__out", F.lit(False)).alias("__out"))
    )
    nodes_f = _ck(nodes_f)
    n = nodes_f.count()
    if n == 0:
        return nodes_f.select("node").withColumn(
            "rank_q", F.lit(0).cast("long"))
    if damping_num * n * scale >= 2**63:
        raise ValueError(
            "pagerank: num*N*scale overflows int64 — lower `scale` "
            f"(N={n}, scale={scale})"
        )
    # pre-join outdeg onto the edge table once — reused every iteration
    ed = _ck(e.join(deg, "src"))
    setup_ids = (pinned_ids(sc) - snap1) if checkpoint else set()

    base = (scale * (damping_den - damping_num)) // damping_den
    ranks = nodes_f.withColumn("rank_q", F.lit(int(scale)).cast("long"))

    prev_ids: set = set()   # round 0's frame is unmaterialized: no blocks
    # try/except (r13 ADVICE): an exception mid-loop (executor loss,
    # OOM, interrupted action) must not leave the tracked intermediates
    # pinned for the session — nothing is returned on the error path,
    # so everything this call checkpointed (current round's blocks AND
    # the setup frames) is releasable.
    try:
        for _ in range(n_iter):
            # dangling mass as a broadcast 1-row scalar instead of a
            # driver collect: one job per round (the checkpoint action)
            # instead of two, one pass over `ranks` saved — the DIV
            # arithmetic is identical (nonneg int64 floor division)
            dang = (
                ranks.filter(~F.col("__out"))
                .agg(F.coalesce(F.sum("rank_q"), F.lit(0)).alias("__dang"))
            )
            s_in = (
                ed.join(ranks, ed["src"] == ranks["node"])
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank_q DIV outdeg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("s_in"))
            )
            new_ranks = (
                nodes_f.join(s_in, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "node",
                    "__out",
                    (
                        F.lit(int(base))
                        + F.expr(
                            f"({damping_num} * (coalesce(s_in, 0)"
                            f" + (__dang DIV {n}))) DIV {damping_den}"
                        )
                    ).cast("long").alias("rank_q"),
                )
            )
            if checkpoint:
                snap = pinned_ids(sc)
                new_ranks = _ck(new_ranks)
                new_ids = pinned_ids(sc) - snap
                release(sc, prev_ids)
                prev_ids = new_ids
            ranks = new_ranks
    except BaseException:
        if checkpoint:
            release(sc, prev_ids | setup_ids)
        raise
    if checkpoint and n_iter > 0:
        # the final ranks frame is its own checkpoint — nodes/deg/ed are
        # never read again (n_iter=0 keeps them: ranks still reads nodes)
        release(sc, setup_ids)
    return ranks.select("node", "rank_q")
