"""Distributed Lloyd k-means — planted-cluster recovery, exact
equivalence vs a pure-numpy reference with the same quantized rules,
bit-determinism under repartition, empty-cell retention, DuckDB
iteration twin."""

import duckdb
import numpy as np
import pytest

from llmxmapreduce_spark.operators import kmeans


def _ref_assign(xq, cq):
    d2 = (
        np.einsum("ij,ij->i", xq, xq)[:, None]
        - 2 * (xq @ cq.T)
        + np.einsum("ij,ij->i", cq, cq)[None, :]
    )
    return np.argmin(d2, axis=1), d2


def _ref_refine(xq, cq, n_iter):
    cq = cq.copy()
    for _ in range(n_iter):
        cell, _ = _ref_assign(xq, cq)
        for j in range(len(cq)):
            m = cell == j
            if m.any():
                s = xq[m].sum(axis=0)
                c = int(m.sum())
                cq[j] = np.floor((2.0 * s + c) / (2.0 * c)).astype(np.int64)
    return cq


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(7)
    centers = np.array([[1.0, 1.0, 0.0], [-1.0, 0.5, 0.5], [0.0, -1.0, -1.0]])
    pts = np.concatenate(
        [c + 0.05 * rng.standard_normal((40, 3)) for c in centers]
    )
    rows = [(i, [float(v) for v in p]) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, pts, centers


def test_refine_matches_numpy_reference(spark, planted):
    df, pts, centers = planted
    # deliberately poor init: three corpus points
    c0 = kmeans.quantize_np(pts[[0, 1, 2]])
    got = kmeans.kmeans_refine(df, c0, n_iter=4)
    want = _ref_refine(kmeans.quantize_np(pts), c0, 4)
    assert np.array_equal(got, want)


def test_refine_recovers_planted_centers(spark, planted):
    df, pts, centers = planted
    c0 = kmeans.quantize_np(pts[[0, 50, 100]])  # one seed per true cluster
    cq = kmeans.kmeans_refine(df, c0, n_iter=5)
    rec = cq.astype(np.float64) / 1e6
    for c in centers:
        assert np.min(np.linalg.norm(rec - c, axis=1)) < 0.05


def test_assign_matches_reference_and_is_exact(spark, planted):
    df, pts, _ = planted
    cq = kmeans.quantize_np(pts[[0, 50, 100]])
    out = kmeans.kmeans_assign(df, cq).orderBy("vec_id").collect()
    xq = kmeans.quantize_np(pts)
    cell, d2 = _ref_assign(xq, cq)
    assert [r["cell"] for r in out] == cell.tolist()
    assert [r["d2_q"] for r in out] == d2[np.arange(len(cell)), cell].tolist()


def test_bit_deterministic_under_repartition(spark, planted):
    df, pts, _ = planted
    c0 = kmeans.quantize_np(pts[[3, 4, 5]])
    a = kmeans.kmeans_refine(df, c0, n_iter=3)
    b = kmeans.kmeans_refine(df.repartition(13), c0, n_iter=3)
    assert np.array_equal(a, b)


def test_empty_cell_keeps_centroid(spark, planted):
    df, pts, _ = planted
    far = np.array([[50_000_000, 50_000_000, 50_000_000]], dtype=np.int64)
    c0 = np.concatenate([kmeans.quantize_np(pts[[0, 50]]), far])
    cq = kmeans.kmeans_refine(df, c0, n_iter=2)
    assert np.array_equal(cq[2], far[0])


def test_overflow_guard(spark):
    df = spark.createDataFrame(
        [(0, [2.0e3])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="lower `scale`"):
        kmeans.kmeans_assign(
            df, np.array([[0]], dtype=np.int64), scale=1e6
        ).collect()


def test_quantize_half_away():
    x = np.array([1.0000005, -1.0000005, 0.4999995e-6, -2.5e-6])
    assert kmeans.quantize_np(x).tolist() == [1000001, -1000001, 0, -3]


def test_duckdb_iteration_twin(spark, planted):
    """assign → update → assign replayed in DuckDB matches the module
    value-for-value."""
    df, pts, _ = planted
    seeds = kmeans.quantize_np(pts[[0, 50, 100]])
    c1 = kmeans.kmeans_refine(df, seeds, n_iter=1)
    got = [
        (r["vec_id"], r["cell"], r["d2_q"])
        for r in kmeans.kmeans_assign(df, c1).orderBy("vec_id").collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE e(vec_id BIGINT, v DOUBLE[])")
    con.executemany(
        "INSERT INTO e VALUES (?, ?)",
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
    )
    want = con.execute("""
        WITH q AS (SELECT vec_id,
                [CAST(round(x * 1000000.0, 0) AS BIGINT) for x in v] AS v
            FROM e),
        seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                         AS cell, v
                  FROM q WHERE vec_id IN (0, 50, 100)),
        d1 AS (SELECT q.vec_id, s.cell,
                      list_sum([(q.v[i]-s.v[i])*(q.v[i]-s.v[i])
                                for i in range(1, len(q.v)+1)]) AS d2
               FROM q CROSS JOIN seeds s),
        a1 AS (SELECT vec_id, cell FROM
                 (SELECT vec_id, cell,
                         row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cell ASC) AS rn
                  FROM d1) WHERE rn = 1),
        mem AS (SELECT a1.cell, q.v FROM a1 JOIN q USING (vec_id)),
        sums AS (SELECT cell, u.pos, sum(u.val) AS s, count(*) AS c
                 FROM (SELECT cell,
                          unnest([{'pos': i, 'val': v[i]}
                                  for i in range(1, len(v)+1)]) AS u
                       FROM mem)
                 GROUP BY cell, u.pos),
        cent AS (SELECT s0.cell, s0.pos,
                        coalesce(CAST(floor((2.0*su.s + su.c)
                                            / (2.0*su.c)) AS BIGINT),
                                 s0.sv) AS cv
                 FROM (SELECT cell, u.pos, u.val AS sv
                       FROM (SELECT cell,
                                unnest([{'pos': i, 'val': v[i]}
                                        for i in range(1, len(v)+1)]) AS u
                             FROM seeds)) s0
                 LEFT JOIN sums su USING (cell, pos)),
        c1 AS (SELECT cell, list(cv ORDER BY pos) AS v
               FROM cent GROUP BY cell),
        d2t AS (SELECT q.vec_id, c.cell,
                       list_sum([(q.v[i]-c.v[i])*(q.v[i]-c.v[i])
                                 for i in range(1, len(q.v)+1)]) AS d2
                FROM q CROSS JOIN c1 c),
        a2 AS (SELECT vec_id, cell, d2 FROM
                 (SELECT vec_id, cell, d2,
                         row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cell ASC) AS rn
                  FROM d2t) WHERE rn = 1)
        SELECT vec_id, cell, CAST(d2 AS BIGINT) AS d2_q
        FROM a2 ORDER BY vec_id
    """).fetchall()
    assert got == [tuple(r) for r in want]
