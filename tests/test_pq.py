"""Product quantization — reconstruction error, recall vs exact search
on clustered data, exact-integer encode determinism, ADC lookup-table
agreement with brute-force decode-and-score, DuckDB encode twin."""

import duckdb
import numpy as np
import pytest

from llmxmapreduce_spark.operators import pq
from llmxmapreduce_spark.operators.kmeans import quantize_np

DIM = 32


def _blobs(n_clusters=10, per_cluster=50, dim=DIM, noise=0.1, seed=11):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    pts = np.concatenate(
        [c + noise * rng.standard_normal((per_cluster, dim))
         for c in centers]
    )
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    return pts


@pytest.fixture(scope="module")
def data(spark):
    pts = _blobs()
    df = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    return df.cache(), pts


def test_train_shapes_and_determinism(spark, data):
    df, _ = data
    a = pq.pq_train(df, m=4, k=16, iters=5)
    b = pq.pq_train(df, m=4, k=16, iters=5)
    assert a.shape == (4, 16, DIM // 4)
    assert np.array_equal(a, b)
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_train(df, m=5)


def test_reconstruction_beats_random_codebooks(spark, data):
    df, pts = data
    books = pq.pq_train(df, m=4, k=16, iters=8)
    codes = np.stack(
        [r["pq_code"] for r in
         pq.pq_encode(df, books).orderBy("vec_id").collect()]
    ).astype(np.int64)
    rec = pq.pq_decode(codes, books)
    err = ((rec - pts) ** 2).sum(1).mean()
    rng = np.random.default_rng(0)
    rand_books = rng.normal(size=books.shape)
    rand_codes = np.stack(
        [r["pq_code"] for r in
         pq.pq_encode(df, rand_books).orderBy("vec_id").collect()]
    ).astype(np.int64)
    rand_err = ((pq.pq_decode(rand_codes, rand_books) - pts) ** 2).sum(1).mean()
    assert err < rand_err * 0.25
    assert err < 0.05  # unit vectors; trained books reconstruct well


def test_encode_deterministic_and_matches_numpy(spark, data):
    df, pts = data
    books = pq.pq_train(df, m=4, k=16, iters=5)
    out = pq.pq_encode(df, books).orderBy("vec_id").collect()
    out2 = pq.pq_encode(df.repartition(7), books).orderBy("vec_id").collect()
    assert [r["pq_code"] for r in out] == [r["pq_code"] for r in out2]
    # numpy replay with the same quantized-int rules
    cq = quantize_np(books)
    xq = quantize_np(pts)
    ds = DIM // 4
    for j in range(4):
        sub = xq[:, j * ds:(j + 1) * ds]
        d2 = (
            np.einsum("ij,ij->i", sub, sub)[:, None]
            - 2 * (sub @ cq[j].T)
            + np.einsum("kd,kd->k", cq[j], cq[j])[None, :]
        )
        want = np.argmin(d2, axis=1)
        got = np.array([r["pq_code"][j] for r in out])
        assert np.array_equal(got, want)


def test_adc_matches_decode_and_score(spark, data):
    """ADC lookup-table scoring must equal brute-force 'decode the codes
    and compute exact int distances' — same math, different layout."""
    df, pts = data
    books = pq.pq_train(df, m=4, k=16, iters=5)
    codes_df = pq.pq_encode(df, books)
    queries = df.filter("vec_id < 5")
    got = pq.pq_adc_topk(codes_df, queries, books, k=8).collect()

    cq = quantize_np(books)
    codes = np.stack(
        [r["pq_code"] for r in codes_df.orderBy("vec_id").collect()]
    ).astype(np.int64)
    ds = DIM // 4
    recq = np.concatenate([cq[j][codes[:, j]] for j in range(4)], axis=1)
    Q = quantize_np(pts[:5])
    for r in got:
        diff = Q[r["query_id"]] - recq[r["vec_id"]]
        assert r["d2_q"] == int((diff * diff).sum())


def test_adc_recall_vs_exact(spark, data):
    """recall@R (the standard PQ metric, Jégou §V): fraction of the
    exact top-10 present in the ADC top-R shortlist — PQ is a shortlist
    generator, with exact re-ranking downstream (as in IVF-PQ)."""
    df, pts = data
    books = pq.pq_train(df, m=8, k=64, iters=8)
    codes_df = pq.pq_encode(df, books)
    queries = df.filter("vec_id % 50 = 0")  # one per cluster
    got = pq.pq_adc_topk(codes_df, queries, books, k=30).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1)
    recalls = []
    for qid, shortlist in by_q.items():
        exact = set(np.argsort(d2[qid])[:10].tolist())
        recalls.append(len(shortlist & exact) / 10)
    assert np.mean(recalls) >= 0.85


def test_duckdb_encode_twin(spark, data):
    """pq_encode with seed-row codebooks replayed in DuckDB: per-subspace
    argmin over quantized-int distances, ties → lowest code."""
    df, pts = data
    # codebooks = subvectors of the first 8 rows (SQL-derivable)
    books = np.stack(
        [pts[:8, j * 8:(j + 1) * 8] for j in range(4)]
    )
    rows = pq.pq_encode(df, books).orderBy("vec_id").collect()
    got = [(r["vec_id"], j, int(r["pq_code"][j]))
           for r in rows for j in range(4)]

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
        books AS (SELECT s.j, CAST(b.vec_id AS INT) AS code,
                         q.v[s.j*8 + 1 : s.j*8 + 8] AS bv
                  FROM (SELECT unnest([0,1,2,3]) AS j) s
                  CROSS JOIN (SELECT vec_id FROM e WHERE vec_id < 8) b
                  JOIN q ON q.vec_id = b.vec_id),
        d AS (SELECT x.vec_id, bk.j, bk.code,
                     list_sum([(x.v[bk.j*8 + i] - bk.bv[i])
                               * (x.v[bk.j*8 + i] - bk.bv[i])
                               for i in range(1, 9)]) AS d2
              FROM q x CROSS JOIN books bk),
        a AS (SELECT vec_id, j, code FROM
                (SELECT vec_id, j, code,
                        row_number() OVER (PARTITION BY vec_id, j
                            ORDER BY d2 ASC, code ASC) AS rn
                 FROM d) WHERE rn = 1)
        SELECT vec_id, j, code FROM a ORDER BY vec_id, j
    """).fetchall()
    assert got == [tuple(r) for r in want]
