"""Exact-integer PageRank — pure-python reference equivalence,
hand-checkable structure, dangling redistribution, determinism under
repartition, DuckDB unrolled twin."""

import duckdb
import pytest

from llmxmapreduce_spark.operators import pagerank as pr


def _pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 3,
    num: int = 17,
    den: int = 20,
    scale: int = 10**9,
) -> str:
    """Unrolled n-iteration fixed-point PageRank in DuckDB — the same
    integer recurrence as pagerank.pagerank (module contract), one CTE
    trio per iteration."""
    base = (scale * (den - num)) // den
    # AS MATERIALIZED: without it DuckDB inlines every CTE reference, and
    # the unrolled recurrence (r_i referenced by both dang_i and sin_i)
    # re-evaluates r_{i-1} twice per level — exponential in n_iter.
    parts = [f"""
        WITH e AS MATERIALIZED ({edges_sql}),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                    (SELECT src AS node FROM e
                     UNION ALL SELECT dst FROM e)),
        nn AS (SELECT count(*) AS n FROM nodes),
        deg AS MATERIALIZED (SELECT src, count(*) AS outdeg
                             FROM e GROUP BY src),
        r0 AS MATERIALIZED (SELECT node, CAST({scale} AS BIGINT) AS rank_q
               FROM nodes)"""]
    for i in range(n_iter):
        p = f"r{i}"
        parts.append(f""",
        dang{i} AS (SELECT coalesce(sum(rank_q), 0) AS m FROM {p}
                    WHERE node NOT IN (SELECT src FROM deg)),
        sin{i} AS MATERIALIZED (SELECT e.dst AS node,
                          sum(r.rank_q // d.outdeg) AS s
                   FROM e JOIN {p} r ON e.src = r.node
                        JOIN deg d ON e.src = d.src
                   GROUP BY e.dst),
        r{i + 1} AS MATERIALIZED (SELECT n.node,
                       CAST({base} + ({num} * (coalesce(s.s, 0)
                             + (dang{i}.m // nn.n))) // {den} AS BIGINT)
                       AS rank_q
                FROM nodes n
                LEFT JOIN sin{i} s ON n.node = s.node
                CROSS JOIN dang{i} CROSS JOIN nn)""")
    parts.append(f"\n        SELECT node, rank_q FROM r{n_iter}")
    return "".join(parts)


def _ref_pagerank(edges, n_iter, num=17, den=20, scale=10**9):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: scale for v in nodes}
    base = (scale * (den - num)) // den
    for _ in range(n_iter):
        dang = sum(r[v] for v in nodes if v not in outdeg)
        share = dang // n
        s_in = {v: 0 for v in nodes}
        for s, d in edges:
            s_in[d] += r[s] // outdeg[s]
        r = {v: base + (num * (s_in[v] + share)) // den for v in nodes}
    return r


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["rank_q"] for r in pr.pagerank(df, **kw).collect()
    }


CYCLE_PLUS_DANGLE = [(1, 2), (2, 3), (3, 1), (1, 4)]  # 4 dangles
STAR = [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)]


@pytest.mark.parametrize("edges,iters", [
    (CYCLE_PLUS_DANGLE, 1),
    (CYCLE_PLUS_DANGLE, 5),
    (STAR, 4),
    ([(1, 1)], 3),                       # self-loop
    ([(1, 2), (1, 2), (1, 3)], 3),       # multi-edge weighting
])
def test_matches_reference(spark, edges, iters):
    assert _run(spark, edges, n_iter=iters) == _ref_pagerank(edges, iters)


def test_star_center_dominates(spark):
    r = _run(spark, STAR, n_iter=6)
    assert r[0] == max(r.values())
    leaves = {r[i] for i in range(1, 6)}
    assert len(leaves) == 1  # symmetric leaves tie exactly


def test_mass_approximately_conserved(spark):
    r = _run(spark, CYCLE_PLUS_DANGLE, n_iter=8)
    total = sum(r.values())
    n, scale = 4, 10**9
    # floor losses only: ≤ a few units per node per iteration
    assert n * scale * 0.999 < total <= n * scale


def test_deterministic_under_repartition(spark):
    df = spark.createDataFrame(STAR + CYCLE_PLUS_DANGLE * 3,
                               "src long, dst long")
    a = sorted(map(tuple, pr.pagerank(df, n_iter=4).collect()))
    b = sorted(map(tuple, pr.pagerank(df.repartition(9),
                                      n_iter=4).collect()))
    assert a == b


def test_overflow_guard(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="overflows"):
        pr.pagerank(df, scale=2**62)


def test_duckdb_unrolled_twin(spark):
    """The generated n-iteration DuckDB SQL replays the Spark fixed-point
    iterations value-for-value."""
    edges = CYCLE_PLUS_DANGLE + STAR  # overlapping node ids on purpose
    got = sorted(_run(spark, edges, n_iter=3).items())
    con = duckdb.connect()
    con.execute("CREATE TABLE edges(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?, ?)", edges)
    sql = _pagerank_oracle_sql("SELECT src, dst FROM edges", n_iter=3)
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want


def test_intermediate_checkpoints_released(spark):
    """r11 verdict task #3 (labelprop.py pattern): each round's
    localCheckpoint must release the previous round's blocks, and the
    setup frames (deg, ed) must be released after the last round —
    library callers would otherwise pin 3 + n_iter RDDs of storage
    memory per call for the session's lifetime.  Only the nodes
    checkpoint (kept so caller caches registering during the first scan
    are never swept) and the final ranks frame may stay."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame(CYCLE_PLUS_DANGLE, "src long, dst long")
    ranks = pr.pagerank(df, n_iter=5)
    ranks.count()
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    assert len(leaked) <= 2, (
        f"{len(leaked)} RDDs left pinned by a 5-iteration pagerank call; "
        "per-round or setup checkpoints are leaking")
    # and the release must not have changed the result
    got = {r["node"]: r["rank_q"] for r in ranks.collect()}
    assert got == _ref_pagerank(CYCLE_PLUS_DANGLE, 5)


def test_caller_cache_survives_call(spark):
    """A caller cache whose registration is lazy (materializes inside
    the call's first scan) must survive the call's checkpoint releases
    (labelprop r11 review class)."""
    sc = spark.sparkContext
    df = spark.createDataFrame(STAR, "src long, dst long").cache()
    try:
        pr.pagerank(df, n_iter=3).count()
        # the cache registered during the call's first scan; if a
        # release diff had swept it, re-reading the frame would register
        # a FRESH persistent RDD id here
        live = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        df.count()
        assert set(sc._jsc.getPersistentRDDs().keySet().toArray()) \
            == live, "caller cache was swept and re-registered"
    finally:
        df.unpersist()
