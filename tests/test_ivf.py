"""IVF ANN + SemDeDup semantic dedup (operators/ivf.py).

Correctness gates for the IVF scale path:
- quantizer determinism for a fixed (data, seed);
- recall@k vs the exact scorer on clustered data (the setting IVF is
  designed for — on uniform random vectors NO space-partitioning ANN has
  meaningful recall, so blobs are the honest benchmark);
- the small-query (mapInPandas) and large-query (equi-join) paths agree;
- the on-disk inverted-list index round-trips and prunes;
- SemDeDup recovers planted semantic duplicate groups, keeping exactly
  one representative per group;
- the max_cell guardrail fires instead of attempting an unbounded
  in-memory matmul.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators import ivf
from llmxmapreduce_spark.operators.similarity import cosine_topk_np

DIM = 32


def _blobs(n_clusters=12, per_cluster=60, dim=DIM, noise=0.15, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + noise * rng.normal(size=(per_cluster, dim))
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    return rows


@pytest.fixture(scope="module")
def blobs_df(spark):
    df = spark.createDataFrame(_blobs(), "vec_id bigint, embedding array<float>")
    df = df.repartition(4).cache()
    df.count()
    yield df
    df.unpersist()


def test_fit_centroids_deterministic_and_normalized(blobs_df):
    c1 = ivf.fit_centroids(blobs_df, n_cells=8, seed=13)
    c2 = ivf.fit_centroids(blobs_df, n_cells=8, seed=13)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, DIM)
    norms = np.linalg.norm(c1, axis=1)
    assert np.allclose(norms, 1.0)
    # a different seed must still produce 8 live (non-identical) cells
    c3 = ivf.fit_centroids(blobs_df, n_cells=8, seed=14)
    assert len({tuple(np.round(r, 9)) for r in c3}) == 8


def test_fit_centroids_cbo_overestimate_fallback(blobs_df):
    """Review repro: an inflated rowCount estimate (stale catalog stats)
    made frac = 1.2*max_sample/total tiny — a near-empty (or empty)
    training sample and an oversized auto_n_cells.  The corrective
    resample must recover a full-size sample and a sane quantizer."""
    # 720 real rows, estimate claims 50 M → naive frac ≈ 4.7e-6 → ~0 rows
    c = ivf.fit_centroids(blobs_df, max_sample=256, seed=3,
                          est_total=50_000_000)
    # fallback recovered a real sample: all 256 slots trained, and
    # n_cells came from the corrected total, not auto_n_cells(50M)=7071
    assert c.shape[1] == DIM
    assert 8 <= c.shape[0] <= 64        # √(corrected est) scale, not 7071
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0)
    # moderately inflated estimate (within 2×) needs no fallback and
    # stays deterministic
    c1 = ivf.fit_centroids(blobs_df, n_cells=8, max_sample=512, seed=13,
                           est_total=1000)
    c2 = ivf.fit_centroids(blobs_df, n_cells=8, max_sample=512, seed=13,
                           est_total=1000)
    assert np.array_equal(c1, c2)


def test_auto_n_cells_rule(blobs_df):
    assert ivf.auto_n_cells(100) == 10
    assert ivf.auto_n_cells(4) == 8            # clamp floor
    assert ivf.auto_n_cells(10**10) == 65_536  # clamp ceiling
    # n_cells=None → √n quantizer (720 blobs → 26 cells)
    c = ivf.fit_centroids(blobs_df, seed=2)
    assert c.shape[0] == ivf.auto_n_cells(720) == 26


def test_ivf_topk_recall_vs_exact(spark, blobs_df):
    queries = blobs_df.filter(F.col("vec_id") % 37 == 0)  # ~20 queries
    exact = cosine_topk_np(blobs_df, queries, k=10)
    approx = ivf.ivf_topk(blobs_df, queries, k=10, n_cells=12, nprobe=3,
                          seed=3)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # blobs cluster-diameter << inter-cluster distance: probing the 3
    # nearest of 12 cells must capture nearly all true neighbors
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_ivf_join_path_agrees_with_small_path(spark, blobs_df):
    queries = blobs_df.filter(F.col("vec_id") % 53 == 0)
    cents = ivf.fit_centroids(blobs_df, n_cells=10, seed=5)
    small = ivf.ivf_topk(blobs_df, queries, centroids=cents, k=5, nprobe=3)
    joined = ivf.ivf_topk_join(blobs_df, queries, centroids=cents, k=5,
                               nprobe=3)
    s = {(r["qid"], r["vec_id"]) for r in small.collect()}
    j = {(r["qid"], r["vec_id"]) for r in joined.collect()}
    assert len(s) == len(j)
    # identical probe cells + identical candidate sets; only float summation
    # order differs (BLAS vs Catalyst fold), which can swap near-ties at the
    # rank-k boundary — demand near-total agreement, not bit equality
    overlap = len(s & j) / len(s)
    assert overlap >= 0.95, f"path agreement = {overlap}"


def test_ivf_index_roundtrip_and_pruning(spark, blobs_df, tmp_path):
    cents = ivf.fit_centroids(blobs_df, n_cells=8, seed=11)
    path = str(tmp_path / "ivf")
    ivf.write_ivf_index(blobs_df, path, cents)
    lists, cents2 = ivf.read_ivf_index(spark, path)
    assert np.allclose(cents, cents2)
    assert set(lists.columns) == {"vec_id", "embedding", "cell"}

    queries = blobs_df.filter(F.col("vec_id") % 101 == 0)
    mem = ivf.ivf_topk(blobs_df, queries, centroids=cents, k=5, nprobe=2)
    disk = ivf.ivf_topk(lists, queries, centroids=cents, k=5, nprobe=2,
                        cell_col="cell")
    m = {(r["qid"], r["vec_id"]) for r in mem.collect()}
    d = {(r["qid"], r["vec_id"]) for r in disk.collect()}
    assert m == d
    # the cell predicate must reach the scan as a partition filter
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan


def _with_planted_dups(n_base=200, n_groups=10, copies=4, seed=21):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n_base, DIM))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)]
    vid = n_base
    groups = []
    for g in range(n_groups):
        members = [g]  # copy base vector g with tiny perturbations
        for _ in range(copies):
            p = base[g] + 1e-3 * rng.normal(size=DIM)
            rows.append((vid, [float(x) for x in p]))
            members.append(vid)
            vid += 1
        groups.append(members)
    return rows, groups


def test_semantic_dedup_recovers_planted_groups(spark):
    rows, groups = _with_planted_dups()
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    survivors = ivf.semantic_dedup(df, threshold=0.999, n_cells=16, seed=9)
    ids = {r["vec_id"] for r in survivors.select("vec_id").collect()}
    n_base, n_groups, copies = 200, 10, 4
    # every dup group collapses to exactly one member (the min id = the
    # base vector), nothing else is deleted
    assert ids == set(range(n_base))
    for members in groups:
        assert min(members) in ids
        assert all(m not in ids for m in members[1:])


def test_semantic_dedup_pairs_within_cell_only(spark):
    rows, _ = _with_planted_dups()
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = ivf.semantic_dedup_pairs(df, threshold=0.999, n_cells=16, seed=9)
    got = pairs.collect()
    assert all(r["id_a"] < r["id_b"] and r["cosine"] >= 0.999 for r in got)
    assert len(got) >= 10 * (5 * 4) // 2  # each 5-member group: C(5,2) pairs


def test_semantic_dedup_max_cell_guard(spark):
    rows, _ = _with_planted_dups()
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(Exception, match="max_cell"):
        ivf.semantic_dedup_pairs(df, threshold=0.9, n_cells=1, max_cell=50,
                                 seed=9).collect()


def test_refine_centroids_full_corpus_vote(spark, blobs_df):
    """Full-corpus spherical refinement: refined centroids must match a
    driver-side numpy replay of the same iterations exactly-ish (same
    math, different reduction order → allclose), stay unit-norm, and
    land closer to the true cluster means than a deliberately-degraded
    init."""
    rows = _blobs()
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    true_means = np.stack(
        [X[i * 60:(i + 1) * 60].mean(axis=0) for i in range(12)]
    )
    true_means /= np.linalg.norm(true_means, axis=1, keepdims=True)

    # degraded init: true means pushed off-center
    rng = np.random.default_rng(3)
    init = true_means + 0.25 * rng.normal(size=true_means.shape)

    got = ivf.refine_centroids(blobs_df, init, n_iter=3)
    assert np.allclose(np.linalg.norm(got, axis=1), 1.0)

    # numpy replay of the same spherical Lloyd iterations
    C = init / np.linalg.norm(init, axis=1, keepdims=True)
    for _ in range(3):
        a = np.argmax(X @ C.T, axis=1)
        newC = C.copy()
        for j in range(len(C)):
            m = X[a == j]
            if len(m):
                newC[j] = m.mean(axis=0)
        C = newC / np.linalg.norm(newC, axis=1, keepdims=True)
    assert np.allclose(got, C, atol=1e-9)

    # refinement reduced distance to the truth vs the degraded init
    def dist(A):
        return sum(np.min(np.linalg.norm(A - t, axis=1)) for t in true_means)

    assert dist(got) < dist(init / np.linalg.norm(init, axis=1,
                                                  keepdims=True))


def test_refine_centroids_dead_cell_kept(spark):
    # every vector sits in the +e0 hemisphere; the -e0 centroid captures
    # nothing and must survive the update untouched
    rng = np.random.default_rng(5)
    pts = np.abs(rng.normal(size=(50, 4))) + np.array([2.0, 0, 0, 0])
    df = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "vec_id bigint, embedding array<float>",
    )
    init = np.array([[1.0, 0, 0, 0], [-1.0, 0, 0, 0]])
    out = ivf.refine_centroids(df, init, n_iter=2)
    assert np.allclose(out[1], init[1])
    assert not np.allclose(out[0], init[0])  # live cell did move


def test_fit_centroids_refine_iters_wiring(spark, blobs_df):
    base = ivf.fit_centroids(blobs_df, n_cells=8, seed=13)
    refined = ivf.fit_centroids(blobs_df, n_cells=8, seed=13,
                                refine_iters=2)
    assert refined.shape == base.shape
    assert not np.array_equal(base, refined)
    assert np.allclose(np.linalg.norm(refined, axis=1), 1.0)
    # wiring equivalence: fit(refine_iters=2) == refine(fit(), 2)
    assert np.allclose(refined, ivf.refine_centroids(blobs_df, base, 2))
