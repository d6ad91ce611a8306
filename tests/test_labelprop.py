"""Label propagation — pure-python reference equivalence, planted
two-clique recovery, self-vote oscillation damping on bipartite graphs,
multi-edge weighting, determinism under repartition, DuckDB unrolled
twin."""

from collections import Counter

import duckdb
import pytest

from llmxmapreduce_spark.operators import labelprop as lp


def _lpa_oracle_sql(edges_sql: str, n_iter: int = 3) -> str:
    """Unrolled n-round synchronous min-tie LPA with self-vote in
    DuckDB — the same integer recurrence as labelprop.label_propagation
    (module contract), one CTE pair per round.  AS MATERIALIZED: without
    it the unrolled self-reference re-evaluates exponentially."""
    parts = [f"""
        WITH e AS MATERIALIZED ({edges_sql}),
        l0 AS MATERIALIZED (
            SELECT node, node AS label FROM (
                SELECT src AS node FROM e
                UNION SELECT dst FROM e))"""]
    for i in range(n_iter):
        parts.append(f""",
        v{i} AS MATERIALIZED (
            SELECT node, label, count(*) AS cnt FROM (
                SELECT e.dst AS node, l.label
                FROM e JOIN l{i} l ON e.src = l.node
                UNION ALL
                SELECT node, label FROM l{i})
            GROUP BY node, label),
        l{i + 1} AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                           ORDER BY cnt DESC, label ASC) AS rn
                FROM v{i}) WHERE rn = 1)""")
    parts.append(f"""
        SELECT node, CAST(label AS BIGINT) AS label
        FROM l{n_iter} ORDER BY node""")
    return "".join(parts)


def _ref_lpa(edges, n_iter=None, max_iter=20):
    """Synchronous min-tie LPA with self-vote (module contract)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    labels = {v: v for v in nodes}
    rounds = n_iter if n_iter is not None else max_iter
    for _ in range(rounds):
        votes = {v: Counter({labels[v]: 1}) for v in nodes}
        for s, d in edges:
            votes[d][labels[s]] += 1
        new = {
            v: min(c, key=lambda l: (-votes[v][l], l))
            for v, c in votes.items()
        }
        if n_iter is None and new == labels:
            return new
        labels = new
    return labels


def _run(spark, edges, n_parts=None, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    if n_parts:
        df = df.repartition(n_parts)
    return {
        r["node"]: r["label"]
        for r in lp.label_propagation(df, **kw).collect()
    }


def _undirected(pairs):
    return pairs + [(d, s) for s, d in pairs]


# two 4-cliques joined by ONE bridge edge: a single connected
# component, but two communities
CLIQUE_A = [(a, b) for a in range(4) for b in range(4) if a != b]
CLIQUE_B = [(a, b) for a in range(10, 14) for b in range(10, 14) if a != b]
TWO_CLIQUES = CLIQUE_A + CLIQUE_B + _undirected([(3, 10)])


@pytest.mark.parametrize("edges,iters", [
    (TWO_CLIQUES, 1),
    (TWO_CLIQUES, 3),
    (_undirected([(1, 2), (2, 3), (3, 4)]), 4),     # path
    (_undirected([(i, i + 10) for i in range(5)]), 3),  # bipartite
    ([(1, 2), (1, 2), (1, 3), (3, 1)], 3),          # multi-edge weight
    ([(7, 7)], 2),                                   # self-loop
])
def test_matches_reference(spark, edges, iters):
    assert _run(spark, edges, n_iter=iters) == _ref_lpa(edges, iters)


def test_two_cliques_split_where_cc_merges(spark):
    out = _run(spark, TWO_CLIQUES, n_iter=None, max_iter=10)
    # one connected component, but LPA keeps two communities:
    # the bridge is outvoted by each side's clique majority
    assert {out[v] for v in range(4)} == {0}
    assert {out[v] for v in range(10, 14)} == {10}


def test_self_vote_reaches_bipartite_fixpoint(spark):
    # without the self-vote, synchronous LPA on K_{1,n} oscillates;
    # with it, convergence mode must terminate before max_iter
    star = _undirected([(0, i) for i in range(1, 6)])
    out = _run(spark, star, n_iter=None, max_iter=8)
    assert out == _ref_lpa(star, n_iter=None, max_iter=8)
    assert len(set(out.values())) == 1  # star collapses to one label


def test_zero_iters_is_identity_labeling(spark):
    out = _run(spark, TWO_CLIQUES, n_iter=0)
    assert out == {v: v for v in out}


def test_deterministic_under_repartition(spark):
    a = _run(spark, TWO_CLIQUES, n_iter=3, n_parts=1)
    b = _run(spark, TWO_CLIQUES, n_iter=3, n_parts=7)
    assert a == b


def test_combine_votes_identical_labels_and_partial_agg_plan(spark):
    """r14 guard shape (combine_votes=True): identical labels on a
    HEAVY-multi-edge graph (every edge duplicated 5×, so the map-side
    combine has real work), and the one-round plan shows a partial
    count BELOW its exchange — the shuffle carries combined partials,
    not raw votes — where the default raw-vote shape shows the
    aggregate entirely above a repartition exchange."""
    import io
    from contextlib import redirect_stdout

    heavy = [e for e in TWO_CLIQUES for _ in range(5)]
    assert _run(spark, heavy, n_iter=3, combine_votes=True) == \
        _run(spark, heavy, n_iter=3, combine_votes=False) == \
        _ref_lpa(heavy, 3)

    df = spark.createDataFrame(heavy, "src long, dst long")
    e = df.selectExpr("src as __s", "dst as __d")
    labels = e.selectExpr("__s as __n", "__s as __l").distinct()

    def plan(combine):
        buf = io.StringIO()
        with redirect_stdout(buf):
            lp._one_round(e, labels, combine).explain("formatted")
        return buf.getvalue()

    combined, raw = plan(True), plan(False)
    # partial_count marker: HashAggregate keys (__n, __l) running in
    # partial mode below the exchange
    assert "partial_count" in combined
    assert "REPARTITION_BY_COL" not in combined
    assert "REPARTITION_BY_COL" in raw


def test_community_sizes_partitions_nodes(spark):
    df = spark.createDataFrame(TWO_CLIQUES, "src long, dst long")
    labels = lp.label_propagation(df, n_iter=5)
    sizes = {
        r["n_members"]: r["n_communities"]
        for r in lp.community_sizes(labels).collect()
    }
    assert sum(n * c for n, c in sizes.items()) == labels.count()


def test_duckdb_unrolled_twin(spark):
    """The unrolled DuckDB recurrence reproduces the engine on a
    nontrivial graph (the cross-engine values-grade claim)."""
    edges = TWO_CLIQUES + _undirected([(20, 21), (21, 22)])
    got = _run(spark, edges, n_iter=3)
    con = duckdb.connect()
    rows = ",".join(f"({s},{d})" for s, d in edges)
    sql = _lpa_oracle_sql(
        f"SELECT * FROM (VALUES {rows}) t(src, dst)", n_iter=3)
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_intermediate_checkpoints_released(spark):
    """r10 advice: each round's localCheckpoint must release the previous
    round's blocks — library callers outside the verify sweep would
    otherwise accumulate |V| storage blocks per round per call.  Only
    the FINAL labels frame's blocks (and nothing from earlier rounds or
    the unpersisted edge cache) may stay pinned after a call."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame(TWO_CLIQUES, "src long, dst long")
    labels = lp.label_propagation(df, n_iter=4)
    labels.count()
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    # exactly the final frame's checkpoint (1 RDD), not one per round
    assert len(leaked) <= 1, (
        f"{len(leaked)} RDDs left pinned by a 4-round LPA call; "
        "intermediate round checkpoints are leaking")


def test_caller_cache_survives_rounds(spark):
    """r11 review: a cache whose FIRST materialization happens inside
    the call (DataFrame caches register in getPersistentRDDs lazily, at
    materialization) must not be swept by the per-round checkpoint
    release — the bug released the internal edge cache after round 1,
    re-shuffling |E| every remaining round, and would equally release a
    caller's cache."""
    sc = spark.sparkContext

    def ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    df = spark.createDataFrame(TWO_CLIQUES, "src long, dst long").persist()
    try:
        before = ids()          # not materialized yet -> not registered
        out = lp.label_propagation(df, n_iter=3)
        out.count()
        # the caller cache registered during the call and must still be
        # pinned afterwards (only the call's own intermediate round
        # checkpoints are released)
        caller_new = ids() - before
        assert caller_new, "caller cache was swept by the round release"
    finally:
        df.unpersist()
