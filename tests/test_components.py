"""Connected components (large-star/small-star) vs exact union-find."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.components import (
    connected_components,
    dedup_by_components,
)


def uf_components(edges):
    """Exact ground truth: union-find with min-id canonical labels."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def spark_components(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df)
    return {r["id"]: r["component"] for r in out.collect()}


def test_two_components_and_chain(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    assert spark_components(spark, edges) == uf_components(edges)


def test_ring_and_star(spark):
    edges = [(1, 2), (2, 3), (3, 1), (5, 6), (5, 7), (5, 8)]
    got = spark_components(spark, edges)
    assert got == uf_components(edges)
    assert got[3] == 1 and got[8] == 5


def test_long_path_converges_in_log_rounds(spark):
    # a 64-node path is the adversarial case for naive label propagation
    # (64 rounds); the alternating-star scheme needs O(log n).
    edges = [(i, i + 1) for i in range(64)]
    got = spark_components(spark, edges, )
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_duplicate_reversed_and_self_edges(spark):
    edges = [(2, 1), (1, 2), (3, 3), (3, 2), (9, 9)]
    got = spark_components(spark, edges)
    # self-loop-only node 9 drops out (no real edges); 1-2-3 is one cluster
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    n_nodes, n_edges = 200, 150  # sparse: many small components + chains
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert spark_components(spark, edges) == uf_components(edges)


def test_string_ids(spark):
    df = spark.createDataFrame(
        [("docB", "docC"), ("docA", "docB"), ("docX", "docY")],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {
        "docA": "docA", "docB": "docA", "docC": "docA",
        "docX": "docX", "docY": "docX",
    }


def test_dedup_by_components(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string"
    )
    # clusters {0,1,2} (via chain) and {5,6}; 3,4,7 untouched
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = dedup_by_components(docs, pairs)
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 3, 4, 5, 7]


def test_dedup_empty_pairs_keeps_everything(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(4)], "doc_id long, text string"
    )
    pairs = docs.sparkSession.createDataFrame([], "id_a long, id_b long")
    assert dedup_by_components(docs, pairs).count() == 4


def test_minhash_to_clusters_e2e(spark):
    """pairs → components → canonical survivors on a corpus with planted
    near-dup chains A≈A'≈A'' where A~A'' itself may be under threshold —
    the transitivity case pair-dropping gets wrong."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the deep green forest near the old stone bridge tonight"
    )
    rows = [
        (0, base),
        (1, base + " v1"),
        (2, base + " v1 v2"),
        (10, "completely different text about spark dataframe shuffles "
             "and catalyst optimizer plans at terabyte scale with joins"),
        (11, "completely different text about spark dataframe shuffles "
             "and catalyst optimizer plans at terabyte scale with joins x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from llmxmapreduce_spark.operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(docs, threshold=0.5)
    out = dedup_by_components(docs, pairs)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept[0] == 0 and 10 in kept
    assert 1 not in kept and 2 not in kept and 11 not in kept


def test_dedup_by_components_keep_by_quality(spark):
    from llmxmapreduce_spark.operators.components import dedup_by_components

    # two clusters {1,2,3} and {10,11}; 7 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    df = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.1), (11, 0.5), (7, 0.0)],
        "doc_id long, score double",
    )
    # min-id policy: keeps 1, 10, 7
    a = {r["doc_id"] for r in dedup_by_components(df, pairs).collect()}
    assert a == {1, 10, 7}
    # quality policy: cluster 1 has a 0.9 tie (2 vs 3) → lowest id 2 wins;
    # cluster 2 keeps 11 (0.5 > 0.1); untouched 7 survives
    b = {r["doc_id"]
         for r in dedup_by_components(df, pairs, keep_by="score").collect()}
    assert b == {2, 11, 7}


def test_dedup_by_components_keep_by_deterministic(spark):
    from llmxmapreduce_spark.operators.components import dedup_by_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(50)], "doc_id long, score double"
    )
    a = sorted(r["doc_id"] for r in
               dedup_by_components(df, pairs, keep_by="score").collect())
    b = sorted(r["doc_id"] for r in
               dedup_by_components(df.repartition(7), pairs,
                                   keep_by="score").collect())
    assert a == b


def test_component_size_report(spark):
    from llmxmapreduce_spark.operators.components import (
        component_size_report)
    # clusters: {1,2,3} (size 3), {10,11} (size 2), {20,21} (size 2)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long")
    rep = {r.cluster_size: (r.n_clusters, r.n_members, r.n_removed)
           for r in component_size_report(pairs).collect()}
    assert rep == {2: (2, 4, 2), 3: (1, 3, 2)}
    # with the corpus total, singletons complete the partition
    rep2 = {r.cluster_size: (r.n_clusters, r.n_members, r.n_removed)
            for r in component_size_report(pairs, n_total=12).collect()}
    assert rep2 == {1: (5, 5, 0), 2: (2, 4, 2), 3: (1, 3, 2)}
    assert sum(m for _, m, _ in rep2.values()) == 12
    import pytest as _pytest
    with _pytest.raises(ValueError, match="smaller"):
        component_size_report(pairs, n_total=3).collect()


def test_intermediate_checkpoints_released(spark):
    """r12 audit: DataFrame.unpersist() was a no-op for localCheckpoint
    blocks (it talks to the cache manager), so every call leaked
    rounds+1 pinned edge frames.  Now only the initial checkpoint and
    the final fixed-point frame may stay."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6)],
        "src long, dst long")
    out = connected_components(edges, "src", "dst")
    out.count()
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    assert len(leaked) <= 2, (
        f"{len(leaked)} RDDs left pinned by a connected_components call; "
        "per-round checkpoints are leaking")
