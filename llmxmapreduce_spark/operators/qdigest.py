"""q-digest: mergeable quantile sketch over a bounded integer universe
(scale extension).

Completes the mergeable-sketch family: Misra-Gries says WHICH keys are
heavy (sketches.heavy_hitters), HLL says HOW MANY keys (hll.py),
Count-Min says HOW OFTEN is this key (sketches.cms_sketch) — q-digest
says WHERE the distribution sits (rank/quantile queries), as a bounded
table of (heap node, count) you can persist per partition/day/shard and
roll up with :func:`qdigest_merge`.  ``group_quantiles`` stays the
exact one-shot path; the sketch is the INCREMENTAL path — per-shard
state that merges without re-reading the data.

Model (Shrivastava et al., "Medians and Beyond", SenSys'04): values live
in the integer universe [0, 2^k); tree nodes are heap-indexed (root 1,
children 2v/2v+1, leaves 2^k + value).  This implementation uses the
deterministic bottom-up SIBLING-PAIR compression rule — one pass from
leaves to root; at each level every sibling family with combined count
<= tau collapses into its parent, otherwise its members are RETAINED in
the digest.  Compared to the paper's asynchronous 3-way rule this is a
pure function of the value multiset (no visit-order dependence), which
is what makes the sketch values-grade: the DuckDB twin replays the
identical recurrence unrolled in DuckDB (the pagerank/LPA pattern).

Accuracy contract (tested): every NON-LEAF node a single build retains
or carries holds <= tau count, and a rank boundary can cut at most one
node per level, so quantile rank error <= k * tau.  Merging m digests
then recompressing can leave non-leaf counts up to m * tau, so the
composed bound is m * k * tau — the caller trades merge fan-in against
precision via tau, exactly like CMS width.

Scale notes (100 TB case):
- The ONLY corpus-scale shuffle is the leaf groupBy (partial-agg
  friendly, output bounded by min(n_distinct, 2^k) rows regardless of
  corpus size).  The k compression levels shuffle tables bounded by the
  universe, shrinking geometrically.
- The digest is pure (node, cnt) bigints: persistable, unionable,
  engine-portable.
- The quantile estimator runs a cumulative window over the DIGEST
  (bounded by construction, <= 2^{k+1} rows) — the one place a global
  window is safe by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _check_universe(k: int, tau: int) -> None:
    if not 1 <= k <= 24:
        raise ValueError(f"k must be in [1, 24], got {k}")
    if tau < 1:
        raise ValueError(f"tau must be >= 1, got {tau}")


def qdigest(
    df: DataFrame,
    col: str,
    k: int = 12,
    tau: int = 64,
    clamp: bool = True,
) -> DataFrame:
    """Build a q-digest over integer values in [0, 2^k) → (node, cnt).

    ``clamp`` folds out-of-range values onto the universe edges (the
    CMS/HLL convention for PRESENT values); with ``clamp=False``
    out-of-range rows raise at execution time via a failing cast —
    callers who pre-validate keep an exact surface.  NULL values are
    dropped first on BOTH paths (the SQL-aggregate convention, and the
    only NULL semantics both engines express identically: Spark's
    least/greatest SKIP nulls where DuckDB's return the other operand,
    so a clamped NULL would land on OPPOSITE universe edges — review
    repro).
    """
    _check_universe(k, tau)
    top = (1 << k) - 1
    df = df.filter(F.col(col).isNotNull())
    v = F.col(col).cast("long")
    if clamp:
        v = F.greatest(F.lit(0), F.least(F.lit(top), v))
    else:
        v = F.when((v >= 0) & (v <= top), v).otherwise(
            F.raise_error(F.concat(
                F.lit(f"qdigest: value out of universe [0, {top}]: "),
                F.col(col).cast("string")))
        )
    leaves = (
        df.select((v + F.lit(1 << k)).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _compress(leaves, k, tau)


def _compress(nodes: DataFrame, k: int, tau: int) -> DataFrame:
    """Deterministic bottom-up sibling-pair compression of any
    (node, cnt) table with nodes in heap positions [1, 2^{k+1}) —
    handles digests-of-digests (merge path), where counts already sit
    at internal nodes."""
    # Lazy universe guard (zero extra jobs): any node outside
    # [1, 2^{k+1}) — e.g. a digest built with a LARGER k merged under
    # the wrong one — would silently vanish from the level filters
    # below; instead it raises at execution time (review repro:
    # k-mismatch merges lost counts with no error).
    bad = nodes.filter(
        (F.col("node") < 1) | (F.col("node") >= F.lit(1 << (k + 1))))
    guard = bad.select(
        F.raise_error(F.concat(
            F.lit(f"qdigest: node outside universe for k={k}: "),
            F.col("node").cast("string"))).cast("long").alias("node"),
        F.lit(0).cast("long").alias("cnt"))
    kept: list[DataFrame] = [guard]
    carry = None
    for lvl in range(k, 0, -1):
        lo, hi = 1 << lvl, 1 << (lvl + 1)
        cur = nodes.filter((F.col("node") >= lo) & (F.col("node") < hi))
        if carry is not None:
            cur = cur.unionByName(carry).groupBy("node").agg(
                F.sum("cnt").alias("cnt"))
        parent = F.shiftright(F.col("node"), 1)
        fam = cur.groupBy(parent.alias("p")).agg(F.sum("cnt").alias("s"))
        joined = cur.join(fam, parent == F.col("p"))
        kept.append(joined.filter(F.col("s") > tau)
                    .select("node", "cnt"))
        carry = (fam.filter((F.col("s") <= tau) & (F.col("s") > 0))
                 .select(F.col("p").alias("node"), F.col("s").alias("cnt")))
    root = nodes.filter(F.col("node") == 1)
    if carry is not None:
        root = root.unionByName(carry).groupBy("node").agg(
            F.sum("cnt").alias("cnt"))
    kept.append(root.filter(F.col("cnt") > 0))
    out = kept[0]
    for part in kept[1:]:
        out = out.unionByName(part)
    return out.select(F.col("node").cast("long"),
                      F.col("cnt").cast("long"))


def qdigest_merge(
    *digests: DataFrame,
    k: int,
    tau: int,
) -> DataFrame:
    """Union digests and recompress — the rollup step.  Counts add
    exactly (linear sketch); precision degrades to m·k·tau rank slack
    for m-way merges (module contract)."""
    _check_universe(k, tau)
    if not digests:
        raise ValueError("qdigest_merge needs at least one digest")
    u = digests[0]
    for d in digests[1:]:
        u = u.unionByName(d)
    summed = u.groupBy("node").agg(F.sum("cnt").alias("cnt"))
    # Materialize before recompressing: each input digest is already a
    # k-level join/union plan, and stacking another k compression
    # levels on top sends Catalyst optimization time superlinear
    # (measured: the un-cut merge plan wedged for minutes at k=8).
    # The digest is bounded by the universe, so the checkpoint is tiny.
    summed = summed.localCheckpoint(eager=True)
    return _compress(summed, k, tau)



def _compress_py(counts: dict, k: int, tau: int) -> list:
    """The identical sibling-pair compression as a pure-Python function
    of a {node: cnt} map — one in-memory pass, used by the production
    build path (and directly testable against _compress)."""
    by_level: dict[int, dict[int, int]] = {}
    for node, c in counts.items():
        node = int(node)
        if not 1 <= node < (1 << (k + 1)):
            raise ValueError(
                f"qdigest: node outside universe for k={k}: {node}")
        by_level.setdefault(node.bit_length() - 1, {})[node] = int(c)
    kept: list[tuple] = []
    carry: dict[int, int] = {}
    for lvl in range(k, 0, -1):
        cur = by_level.get(lvl, {})
        for node, c in carry.items():
            cur[node] = cur.get(node, 0) + c
        fam: dict[int, int] = {}
        for node, c in cur.items():
            fam[node >> 1] = fam.get(node >> 1, 0) + c
        kept.extend((node, c) for node, c in cur.items()
                    if fam[node >> 1] > tau)
        carry = {p: s for p, s in fam.items() if 0 < s <= tau}
    root = by_level.get(0, {}).get(1, 0) + carry.get(1, 0)
    if root > 0:
        kept.append((1, root))
    return kept


def qdigest_fast(
    df: DataFrame,
    col: str,
    k: int = 12,
    tau: int = 64,
    clamp: bool = True,
) -> DataFrame:
    """Production build path — IDENTICAL output to :func:`qdigest`
    (pytest-pinned), one Spark stage cheaper by construction.

    The Catalyst build chains k levels of filter→union→groupBy→join
    into one plan: ~3k tiny stages whose scheduling latency dominates
    the build at EVERY scale (6.5 s at sf0.1 and 7.6 s at sf5 for
    k=10 — the table being compressed is universe-bounded, so the cost
    never amortizes).  Here the corpus-scale work stays identical (the
    partial-agg leaf groupBy, the only shuffle that sees the data);
    the bounded (≤ min(n_distinct, 2^k) rows) leaf table is then
    repartition(1)-ed and compressed in ONE Arrow pass running the
    same deterministic sibling-pair rule in Python.  Keep the Catalyst
    path for the oracle twin (DuckDB replays its unrolled recurrence);
    use this for production builds and k ≤ 24 universes (2^24 leaf
    rows ≈ 256 MB single-partition worst case — the same bound the
    quantile window already accepts)."""
    _check_universe(k, tau)
    import pandas as pd

    top = (1 << k) - 1
    df = df.filter(F.col(col).isNotNull())
    v = F.col(col).cast("long")
    if clamp:
        v = F.greatest(F.lit(0), F.least(F.lit(top), v))
    else:
        v = F.when((v >= 0) & (v <= top), v).otherwise(
            F.raise_error(F.concat(
                F.lit(f"qdigest: value out of universe [0, {top}]: "),
                F.col(col).cast("string")))
        )
    leaves = (
        df.select((v + F.lit(1 << k)).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def run(batches):
        counts: dict[int, int] = {}
        for pdf in batches:
            for node, c in zip(pdf["node"], pdf["cnt"]):
                node = int(node)
                counts[node] = counts.get(node, 0) + int(c)
        kept = _compress_py(counts, k, tau)
        yield pd.DataFrame(kept or [], columns=["node", "cnt"],
                           dtype="int64")

    return leaves.repartition(1).mapInPandas(run, "node long, cnt long")

def _node_bounds(k: int) -> tuple:
    """(lo, hi) value interval of each heap node — pure integer: level
    = bit_length(node) - 1 via the binary-string length (no float
    log2 on the exact-surface path)."""
    width = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST({k} - (length(bin(node)) - 1) AS INT))")
    lo = F.col("node") * width - F.lit(1 << k)
    hi = lo + width - 1
    return lo, hi


def qdigest_quantiles(
    digest: DataFrame,
    qs: list[float],
    k: int,
) -> DataFrame:
    """→ (q, est, rank_target): est = upper bound of the first node, in
    increasing (hi, lo) order, whose cumulative count reaches
    ceil(q · n).  Window over the digest only — bounded by
    construction (module scale notes)."""
    from pyspark.sql import Window

    # r10 advice: q > 1 makes rank_target exceed n so the filter never
    # matches and that quantile SILENTLY disappears from the output;
    # q <= 0 is silently coerced to rank 1.  Both are caller bugs —
    # fail loudly instead of dropping/bending the request.
    bad = [q for q in qs if not (0.0 < float(q) <= 1.0)]
    if bad:
        raise ValueError(
            f"qdigest_quantiles: quantiles must satisfy 0 < q <= 1, got {bad}")

    lo, hi = _node_bounds(k)
    b = digest.select("node", "cnt", lo.alias("lo"), hi.alias("hi"))
    w = Window.orderBy("hi", "lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    b = b.withColumn("cum", F.sum("cnt").over(w))
    n = b.agg(F.sum("cnt").alias("n"))
    qf = b.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double")
    targets = qf.crossJoin(n).select(
        "q", F.ceil(F.col("q") * F.col("n")).cast("long").alias("rank_target"))
    hits = (
        b.crossJoin(F.broadcast(targets))
        .filter(F.col("cum") >= F.greatest(F.col("rank_target"), F.lit(1)))
        .groupBy("q", "rank_target")
        .agg(F.min(F.struct(F.col("hi"), F.col("lo"))).alias("m"))
    )
    return hits.select("q", F.col("m.hi").alias("est"), "rank_target") \
        .orderBy("q")
