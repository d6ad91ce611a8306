"""q-digest — pure-python recurrence equivalence, count conservation,
the tau bound on non-leaf nodes, quantile rank-error bounds, merge
rollup, determinism under repartition, DuckDB unrolled twin."""

import random
from collections import Counter, defaultdict

import duckdb
import pytest

from llmxmapreduce_spark.operators import qdigest as qd


def _qdigest_oracle_sql(values_sql: str, k: int = 10, tau: int = 50) -> str:
    """Unrolled bottom-up q-digest compression in DuckDB — the same
    integer recurrence as qdigest._compress (module contract), one CTE
    trio per level; values_sql yields one pre-universe column v (the
    oracle clamps like the engine does)."""
    top = (1 << k) - 1
    parts = [f"""
        WITH vals AS MATERIALIZED ({values_sql}),
        cur{k} AS MATERIALIZED (
            SELECT {1 << k} + least(greatest(CAST(v AS BIGINT), 0), {top})
                       AS node,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM vals WHERE v IS NOT NULL GROUP BY 1)"""]
    for lvl in range(k, 0, -1):
        parts.append(f""",
        fam{lvl} AS MATERIALIZED (
            SELECT node // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS s
            FROM cur{lvl} GROUP BY node // 2),
        keep{lvl} AS (
            SELECT c.node, c.cnt FROM cur{lvl} c
            JOIN fam{lvl} f ON c.node // 2 = f.p WHERE f.s > {tau}),
        cur{lvl - 1} AS MATERIALIZED (
            SELECT p AS node, s AS cnt FROM fam{lvl}
            WHERE s <= {tau} AND s > 0)""")
    union = "\n            UNION ALL ".join(
        [f"SELECT node, cnt FROM keep{lvl}" for lvl in range(k, 0, -1)]
        + ["SELECT node, cnt FROM cur0"])
    parts.append(f"""
        SELECT node, cnt FROM (
            {union}
        ) ORDER BY node""")
    return "".join(parts)


def _ref_qdigest(values, k, tau):
    """Sibling-pair bottom-up compression (module contract)."""
    top = (1 << k) - 1
    nodes = Counter((1 << k) + min(max(int(v), 0), top) for v in values)
    return _ref_compress(nodes, k, tau)


def _ref_compress(nodes, k, tau):
    kept = Counter()
    carry = Counter()
    for lvl in range(k, 0, -1):
        cur = Counter({n: c for n, c in nodes.items()
                       if (1 << lvl) <= n < (1 << (lvl + 1))})
        cur.update(carry)
        fams = defaultdict(int)
        for n, c in cur.items():
            fams[n >> 1] += c
        for n, c in cur.items():
            if fams[n >> 1] > tau:
                kept[n] += c
        carry = Counter({p: s for p, s in fams.items() if 0 < s <= tau})
    root = nodes.get(1, 0) + carry.get(1, 0)
    if root > 0:
        kept[1] += root
    return dict(kept)


def _build(spark, values, k, tau, n_parts=None, **kw):
    df = spark.createDataFrame([(int(v),) for v in values], "v long")
    if n_parts:
        df = df.repartition(n_parts)
    d = qd.qdigest(df, "v", k=k, tau=tau, **kw)
    return {r["node"]: r["cnt"] for r in d.collect()}


RNG = random.Random(42)
ZIPFISH = [min(int(RNG.paretovariate(1.2)), 255) for _ in range(2000)]
UNIFORM = [RNG.randrange(256) for _ in range(500)]


@pytest.mark.parametrize("values,k,tau", [
    (UNIFORM, 8, 16),
    (ZIPFISH, 8, 50),
    ([0] * 100, 4, 8),              # single hot leaf > tau
    ([0, 15], 4, 100),              # everything collapses to the root
    (list(range(16)), 4, 1),        # tau=1: nothing merges above leaves
    ([7], 3, 5),                    # singleton
])
def test_matches_reference(spark, values, k, tau):
    assert _build(spark, values, k, tau) == _ref_qdigest(values, k, tau)


def test_count_conserved_and_tau_bound(spark):
    k, tau = 8, 30
    d = _build(spark, ZIPFISH, k, tau)
    assert sum(d.values()) == len(ZIPFISH)
    nonleaf = {n: c for n, c in d.items() if n < (1 << k)}
    assert nonleaf, "compression should produce internal nodes"
    assert all(c <= tau for c in nonleaf.values())


def test_quantile_rank_bounds(spark):
    k, tau = 8, 20
    df = spark.createDataFrame([(v,) for v in ZIPFISH], "v long")
    dig = qd.qdigest(df, "v", k=k, tau=tau)
    qs = [0.1, 0.5, 0.9, 0.99]
    out = {r["q"]: (r["est"], r["rank_target"])
           for r in qd.qdigest_quantiles(dig, qs, k=k).collect()}
    svals = sorted(min(max(v, 0), 255) for v in ZIPFISH)
    for q in qs:
        est, target = out[q]
        at_most = sum(1 for v in svals if v <= est)
        assert at_most >= target          # digest never under-covers
        below = sum(1 for v in svals if v < est)
        assert below <= target + k * tau  # ...and overshoots boundedly


def test_merge_rollup(spark):
    k, tau = 8, 25
    a, b = ZIPFISH[:1200], ZIPFISH[1200:]
    da = qd.qdigest(spark.createDataFrame([(v,) for v in a], "v long"),
                    "v", k=k, tau=tau)
    db = qd.qdigest(spark.createDataFrame([(v,) for v in b], "v long"),
                    "v", k=k, tau=tau)
    m = qd.qdigest_merge(da, db, k=k, tau=tau)
    rows = {r["node"]: r["cnt"] for r in m.collect()}
    assert sum(rows.values()) == len(ZIPFISH)
    # merged estimates stay within the composed 2-way bound
    est = {r["q"]: (r["est"], r["rank_target"]) for r in
           qd.qdigest_quantiles(m, [0.5, 0.9], k=k).collect()}
    svals = sorted(min(max(v, 0), 255) for v in ZIPFISH)
    for q, (e, target) in est.items():
        at_most = sum(1 for v in svals if v <= e)
        assert at_most >= target
        below = sum(1 for v in svals if v < e)
        assert below <= target + 2 * k * tau


def test_deterministic_under_repartition(spark):
    a = _build(spark, ZIPFISH, 8, 30, n_parts=1)
    b = _build(spark, ZIPFISH, 8, 30, n_parts=13)
    assert a == b


def test_clamp_folds_and_strict_raises(spark):
    d = _build(spark, [-5, 999], 4, 100)          # folds to leaves 0, 15
    assert sum(d.values()) == 2
    with pytest.raises(Exception, match="out of universe"):
        _build(spark, [999], 4, 100, clamp=False)


def test_null_values_dropped_both_paths(spark):
    """NULLs drop (SQL-aggregate convention) — the one semantics both
    engines share: Spark least/greatest SKIP nulls, DuckDB's return the
    other operand, so a clamped NULL would land on OPPOSITE edges."""
    df = spark.createDataFrame([(0,), (None,), (15,), (None,)], "v long")
    d = {r["node"]: r["cnt"]
         for r in qd.qdigest(df, "v", k=4, tau=1).collect()}
    assert sum(d.values()) == 2
    strict = {r["node"]: r["cnt"]
              for r in qd.qdigest(df, "v", k=4, tau=1,
                                  clamp=False).collect()}
    assert strict == d
    # and the DuckDB recurrence agrees (NULL never reaches the clamp)
    sql = _qdigest_oracle_sql(
        "SELECT v FROM (VALUES (0),(NULL),(15),(NULL)) t(v)", k=4, tau=1)
    assert dict(duckdb.connect().execute(sql).fetchall()) == d


def test_merge_with_wrong_k_raises(spark):
    """A digest built under a larger universe must ERROR under a
    smaller k, not silently drop its deep leaves."""
    df = spark.createDataFrame([(3000,)] * 5 + [(3001,)] * 5, "v long")
    d12 = qd.qdigest(df, "v", k=12, tau=4)
    assert max(r["node"] for r in d12.collect()) >= 1 << 12  # leaves kept
    with pytest.raises(Exception, match="outside universe for k=10"):
        qd.qdigest_merge(d12, k=10, tau=4).collect()


def test_bad_params_raise(spark):
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="k must be"):
        qd.qdigest(df, "v", k=0, tau=4)
    with pytest.raises(ValueError, match="tau must be"):
        qd.qdigest(df, "v", k=4, tau=0)
    with pytest.raises(ValueError, match="at least one"):
        qd.qdigest_merge(k=4, tau=4)


def test_duckdb_unrolled_twin(spark):
    """The unrolled DuckDB recurrence reproduces the engine."""
    k, tau = 6, 9
    vals = [min(v, 63) for v in ZIPFISH[:800]]
    got = _build(spark, vals, k, tau)
    rows = ",".join(f"({v})" for v in vals)
    sql = _qdigest_oracle_sql(
        f"SELECT v FROM (VALUES {rows}) t(v)", k=k, tau=tau)
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_quantiles_rejects_out_of_range_qs(spark):
    """r10 advice: q outside (0, 1] must raise, not silently vanish
    (q > 1: rank_target > n so the filter never matches) or be coerced
    (q <= 0 used to clamp to rank 1)."""
    import pytest

    from llmxmapreduce_spark.operators.qdigest import (qdigest,
                                                       qdigest_quantiles)

    df = spark.range(100).selectExpr("id AS x")
    d = qdigest(df, "x", k=16, tau=8)
    for bad in ([1.5], [0.0], [-0.1], [0.5, 2.0]):
        with pytest.raises(ValueError, match="0 < q <= 1"):
            qdigest_quantiles(d, bad, k=16)


def test_fast_build_identical_to_catalyst(spark):
    """r11: qdigest_fast (single Arrow-pass compression of the
    universe-bounded leaf table) must emit EXACTLY the Catalyst build's
    digest — on real data, a skewed multiset, clamp edges, and empty
    input."""
    from pyspark.sql import functions as F

    from llmxmapreduce_spark import load_table
    from llmxmapreduce_spark.operators.qdigest import qdigest, qdigest_fast

    def rows(df):
        return sorted((r["node"], r["cnt"]) for r in df.collect())

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.floor(F.col("value")).alias("v"))
    assert rows(qdigest_fast(ev, "v", k=10, tau=50)) == \
        rows(qdigest(ev, "v", k=10, tau=50))

    skew = spark.createDataFrame(
        [(i % 7,) for i in range(500)] + [(900,), (1200,), (-3,), (None,)],
        "v long")
    for k, tau in ((10, 50), (4, 3), (6, 1)):
        assert rows(qdigest_fast(skew, "v", k=k, tau=tau)) == \
            rows(qdigest(skew, "v", k=k, tau=tau))

    empty = spark.createDataFrame([], "v long")
    assert rows(qdigest_fast(empty, "v", k=6, tau=4)) == []


def test_fast_build_python_twin_direct():
    """_compress_py over a raw count map equals the documented rule on
    a hand-checked case: tau=2, leaves 8..11 (k=3 universe)."""
    from llmxmapreduce_spark.operators.qdigest import _compress_py

    # family (8,9) sums 5 > tau -> retained; family (10,11) sums 2 <= tau
    # -> carried to 5; at level 2, family (4,5) has only node 5 with 2
    # <= tau -> carried to 2; level 1 family (2,3) sums 2 <= tau ->
    # carried to root.
    got = sorted(_compress_py({8: 3, 9: 2, 10: 1, 11: 1}, k=3, tau=2))
    assert got == [(1, 2), (8, 3), (9, 2)]

    import pytest
    with pytest.raises(ValueError, match="outside universe"):
        _compress_py({99: 1}, k=3, tau=2)
