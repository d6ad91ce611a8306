"""Tests for dedup (exact/MinHash-LSH/SimHash/Jaccard) and similarity ops."""

from pyspark.sql import functions as F

from llmxmapreduce_spark.operators import dedup, similarity


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unique text")],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup(df).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3]  # normalized dup dropped
    out2 = dedup.exact_dedup(df, normalize=False).collect()
    assert sorted(r["doc_id"] for r in out2) == [1, 2, 3]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], ["text"])
    got = [r[0] for r in df.select(dedup.word_shingles(F.col("text"), 3)).collect()]
    assert sorted(got[0]) == ["a b c", "b c d"]
    assert got[1] == ["x y"]  # shorter than n -> single whole-text shingle


def test_minhash_finds_neardups_not_strangers(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base),
        (2, base.replace("quick", "speedy")),   # near-dup of 1
        (3, "completely different content about spark engines and parquet files "
            "with nothing shared at all in any shingle of this text here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_dedup_pairs(df, threshold=0.4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert all(0.4 <= r["jaccard"] <= 1.0 for r in pairs)


def test_minhash_fast_variant_agrees_on_pairs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [(1, base), (2, base.replace("gamma", "mu")), (3, "q w e r t y u i o p " * 5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    slow = {(r["id_a"], r["id_b"]) for r in
            dedup.minhash_dedup_pairs(df, threshold=0.4).collect()}
    fast = {(r["id_a"], r["id_b"]) for r in
            dedup.minhash_dedup_pairs(df, threshold=0.4, fast=True).collect()}
    assert slow == fast == {(1, 2)}


def test_simhash_similar_docs_close(spark):
    base = "one two three four five six seven eight nine ten " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base + " eleven"), (3, "z9 y8 x7 w6 v5 u4 t3 s2 " * 6)],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[1], got[2]) <= 4
    assert hamming(got[1], got[3]) > hamming(got[1], got[2])
    got64 = {r["doc_id"]: r["simhash"] for r in dedup.simhash64_fast(df).collect()}
    assert bin(got64[1] ^ got64[2]).count("1") < bin(got64[1] ^ got64[3]).count("1")


def _unit_vecs():
    # 64-dim: three clusters along different axes + noise dims
    import numpy as np

    rng = np.random.RandomState(42)
    rows = []
    for i in range(30):
        v = rng.normal(0, 0.05, 64)
        v[i % 3] = 1.0
        rows.append((i, [float(x) for x in v]))
    return rows


def test_cosine_topk_exact(spark):
    import numpy as np

    rows = _unit_vecs()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    out = similarity.cosine_topk(df, df.filter("vec_id < 3"), k=5).collect()
    assert len(out) == 15
    # brute-force check in numpy (on the same quantized ints)
    q = {i: np.round(np.array(v, dtype=np.float64) * 1e6) for i, v in rows}
    for r in out:
        a, b = q[r["qid"]], q[r["vec_id"]]
        expect = float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))
        assert abs(expect - r["cosine"]) < 1e-9
    # same-cluster vectors must dominate the top ranks
    for qid in range(3):
        top1 = next(r for r in out if r["qid"] == qid and r["rank"] == 1)
        assert top1["vec_id"] % 3 == qid % 3


def test_lsh_bucket_topk_recall(spark):
    rows = _unit_vecs()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    queries = df.filter("vec_id < 3")
    exact = similarity.cosine_topk_double(df, queries, k=3).collect()
    approx = similarity.lsh_bucket_topk(df, queries, k=3, n_planes=4).collect()
    exact_set = {(r["qid"], r["vec_id"]) for r in exact}
    approx_set = {(r["qid"], r["vec_id"]) for r in approx}
    # LSH with 4 planes on tight clusters should recover most exact neighbors
    assert len(exact_set & approx_set) >= len(exact_set) // 2
    # and never invent a worse-than-bucket neighbor for rank 1
    for qid in range(3):
        a1 = [r for r in approx if r["qid"] == qid and r["rank"] == 1]
        if a1:
            assert a1[0]["vec_id"] % 3 == qid % 3


def test_no_cartesian_in_lsh_plans(spark):
    """The LSH candidate join must be an equi-join, never a cartesian."""
    df = spark.createDataFrame([(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(10)],
                               ["doc_id", "text"])
    base = df.select("doc_id", dedup.word_shingles(F.col("text")).alias("shingles"))
    base = base.withColumn("signature", dedup.minhash_signature(F.col("shingles"), 8))
    plan = dedup.lsh_candidate_pairs(base, bands=4, rows_per_band=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_lsh_bucket_topk_large_recall_5k(spark):
    """Corpus-vs-corpus ANN (no broadcast): recall vs exact on a sampled
    query subset at 5k x 5k, multi-probe strictly improves recall, and the
    plan is a pure equi-join (no BroadcastNestedLoopJoin / cartesian)."""
    import numpy as np

    rng = np.random.RandomState(11)
    n, dim = 5000, 16
    vecs = rng.randn(n, dim).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    ).repartition(8).cache()
    df.count()

    approx = similarity.lsh_bucket_topk_large(
        df, df, k=5, n_planes=6, multi_probe=6)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # exact ground truth on a 200-query sample (numpy, not a 5k x 5k join)
    sample_ids = list(range(0, n, 25))
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs[sample_ids] @ vecs.T) / np.outer(norms[sample_ids], norms)
    exact = {}
    for row, qid in enumerate(sample_ids):
        order = np.argsort(-cos[row])
        order = order[order != qid]
        exact[qid] = set(int(v) for v in order[:5])

    got = approx.filter(F.col("qid").isin(sample_ids)).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    hits = sum(len(by_q.get(q, set()) & exact[q]) for q in sample_ids)
    recall_probe = hits / (len(sample_ids) * 5)

    single = similarity.lsh_bucket_topk_large(df, df, k=5, n_planes=6)
    got1 = single.filter(F.col("qid").isin(sample_ids)).collect()
    by_q1 = {}
    for r in got1:
        by_q1.setdefault(r["qid"], set()).add(r["vec_id"])
    hits1 = sum(len(by_q1.get(q, set()) & exact[q]) for q in sample_ids)
    recall_single = hits1 / (len(sample_ids) * 5)

    assert recall_probe >= 0.4, (recall_probe, recall_single)
    assert recall_probe > recall_single
    df.unpersist()


def test_cosine_neardup_pairs_plants_and_plan(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 16)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    # twins: tiny scale perturbation preserves every sign -> same bucket
    rows += [(i + 1000, [float(x) * 1.01 for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_neardup_pairs(df, threshold=0.99, sign_bits=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(i, i + 1000) for i in range(40)} <= got
    # random distinct vectors in 16-d essentially never reach cosine 0.99
    assert got == {(i, i + 1000) for i in range(40)}


def test_cosine_neardup_signbits_twin_matches_on_plants(spark):
    """The DuckDB-portable signbits twin finds the same planted twins
    (scale perturbation preserves raw element signs as well)."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(30, 16)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    rows += [(i + 1000, [float(x) * 1.01 for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_neardup_pairs(
        df, threshold=0.99, sign_bits=8, bucket_mode="signbits")
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(i, i + 1000) for i in range(30)}


def test_hyperplane_bucket_balanced_where_sign_bits_collapse(spark):
    """Correlated embeddings (shared dominant principal component, like
    real model embeddings): raw first-8-dim sign bits put nearly everything
    in one mega-bucket (quadratic verify blowup at scale), while the
    hyperplane bucket keeps occupancy near-uniform AND still catches the
    planted near-duplicates."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    n, dim = 400, 32
    # leading 8 dims: consistently positive (a shared component, as in real
    # embedding spectra) -> every vector's first-8 sign pattern is 1111….
    # Angular diversity lives in the remaining 24 dims.
    vecs = np.concatenate(
        [1.0 + 0.1 * np.abs(rng.randn(n, 8)), 2.0 * rng.randn(n, dim - 8)],
        axis=1)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    qv = similarity.quantize(F.col("embedding"))
    sign_sizes = (
        df.select(similarity.sign_bucket(qv, 8).alias("b"))
        .groupBy("b").count().agg(F.max("count")).collect()[0][0]
    )
    hp_sizes = (
        df.select(similarity.hyperplane_signs(
            F.col("embedding").cast("array<double>"), 8).alias("b"))
        .groupBy("b").count().agg(F.max("count")).collect()[0][0]
    )
    # signs of mu-dominated dims are all positive -> one mega-bucket
    assert sign_sizes >= 0.9 * n
    # hyperplanes mix all dims with +/- weights -> no mega-bucket
    assert hp_sizes <= 0.25 * n, (hp_sizes, sign_sizes)

    # recall on planted twins survives the hyperplane bucket
    twins = [(i + 10000, [float(x) * 1.01 for x in vecs[i]]) for i in range(50)]
    both = df.unionByName(
        spark.createDataFrame(twins, ["vec_id", "embedding"]))
    out = similarity.cosine_neardup_pairs(both, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(i, i + 10000) for i in range(50)} <= got


def test_cosine_topk_np_matches_double(spark):
    """The Arrow/numpy production scorer returns the same neighbors and
    ranks as the Catalyst-expression double variant, with cosines equal to
    float tolerance."""
    rows = _unit_vecs()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>")) \
        .repartition(4)  # force several Arrow batches → local+global top-k
    queries = df.filter("vec_id < 3")
    ref = similarity.cosine_topk_double(df, queries, k=5).collect()
    got = similarity.cosine_topk_np(df, queries, k=5).collect()
    assert len(got) == len(ref) == 15
    ref_m = {(r["qid"], r["rank"]): r for r in ref}
    for r in got:
        e = ref_m[(r["qid"], r["rank"])]
        assert r["vec_id"] == e["vec_id"]
        assert abs(r["cosine"] - e["cosine"]) < 1e-9


def test_cosine_topk_np_excludes_self_and_small_batches(spark):
    """Self-matches dropped even when the self vector is the local top; a
    corpus smaller than k returns everything it can."""
    rows = _unit_vecs()[:4]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    out = similarity.cosine_topk_np(df, df, k=10).collect()
    assert all(r["qid"] != r["vec_id"] for r in out)
    assert len(out) == 4 * 3


def test_minhash_verify_modes(spark):
    """estimate/none verify modes return supersets consistent with exact on
    planted dups: estimate keeps the same planted positives (signature
    agreement ≈ 1 for near-identical docs) and candidates ⊇ estimate ⊇
    exact-positives."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(0, base), (1, base + " extraword"),
            (2, "totally different content with no overlapping grams here "
                "about catalyst physical plans and shuffle exchanges")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from llmxmapreduce_spark.operators.dedup import minhash_dedup_pairs

    exact = {(r["id_a"], r["id_b"])
             for r in minhash_dedup_pairs(df, threshold=0.5).collect()}
    est_rows = minhash_dedup_pairs(df, threshold=0.5,
                                   verify="estimate").collect()
    est = {(r["id_a"], r["id_b"]) for r in est_rows}
    cand_rows = minhash_dedup_pairs(df, threshold=0.5, verify="none").collect()
    cands = {(r["id_a"], r["id_b"]) for r in cand_rows}
    assert (0, 1) in exact and (0, 1) in est
    assert est <= cands and exact <= cands
    assert all(r["jaccard"] is None for r in cand_rows)
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in est_rows)


def test_minhash_exact_hashed_matches_exact(spark):
    """exact_hashed ships 8-byte shingle hashes instead of strings through
    the verify join but must return IDENTICAL pairs and jaccard values
    (set sizes are preserved under injective hashing) — the
    exact-verify-at-scale mode."""
    import numpy as np

    from llmxmapreduce_spark.operators.dedup import minhash_dedup_pairs

    rng = np.random.default_rng(61)
    vocab = "sun rain tree rock bird fish wind snow leaf star moon".split()

    def doc(k=30):
        return " ".join(rng.choice(vocab) for _ in range(k))

    rows = [(i, doc()) for i in range(40)]
    for j in range(8):          # near-dups: one word changed
        w = rows[j][1].split()
        w[5] = "mutant" + str(j)
        rows.append((100 + j, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_dedup_pairs(df, threshold=0.5).collect()}
    hashed = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in minhash_dedup_pairs(df, threshold=0.5,
                                           verify="exact_hashed").collect()}
    assert set(hashed) == set(exact) and len(exact) >= 8
    for k_, v in exact.items():
        assert abs(hashed[k_] - v) < 1e-12


def test_minhash_int60_family_matches_md5_exact(spark):
    """r14 portable integer family ("int60"): bit-identical jaccard
    values on every pair both bandings catch (the exact set-Jaccard is
    family-independent, and the hashed sets are collision-free here),
    the planted positives covered, and family drift confined to the
    banding margin — any pair caught by only one family sits BELOW the
    certain-catch jaccard band, never a clear positive."""
    import numpy as np

    from llmxmapreduce_spark.operators.dedup import minhash_dedup_pairs

    rng = np.random.default_rng(7)
    vocab = "sun rain tree rock bird fish wind snow leaf star moon".split()

    def doc(k=30):
        return " ".join(rng.choice(vocab) for _ in range(k))

    rows = [(i, doc()) for i in range(40)]
    for j in range(8):
        w = rows[j][1].split()
        w[5] = "mutant" + str(j)
        rows.append((100 + j, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    md5 = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_dedup_pairs(df, threshold=0.5).collect()}
    i60 = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_dedup_pairs(df, threshold=0.5,
                                        family="int60").collect()}
    common = set(md5) & set(i60)
    assert len(common) >= 7
    assert sum((j, 100 + j) in i60 for j in range(8)) >= 7
    for k_ in common:
        assert i60[k_] == md5[k_]
    for k_ in set(md5) ^ set(i60):      # drift only at the banding margin
        assert (md5.get(k_) or i60.get(k_)) < 0.9


def test_minhash_int60_duckdb_parity(spark):
    """Every int60 building block replays bit-for-bit in DuckDB: the
    60-bit md5 slice, the affine permutation mins, and the injective
    2-row band combine — the engine-parity contract the
    minhash_lsh_neardup oracle in test_paper_oracles.py rests on."""
    import duckdb

    from llmxmapreduce_spark.operators.dedup import (
        MINHASH_P31, minhash_affine_params, minhash_signature_int,
        shingle_hash60)

    shingles = ["alpha beta gamma", "beta gamma delta", "zz 0 %~| unicode ü",
                "gamma delta epsilon"]
    df = spark.createDataFrame([(s,) for s in shingles], ["s"])
    p = MINHASH_P31
    params = minhash_affine_params(4)

    # per-shingle: h60 + each permutation value
    perm_cols = [((F.lit(a) * (F.col("h") % F.lit(p)) + F.lit(b)) % F.lit(p))
                 .alias(f"m{i}") for i, (a, b) in enumerate(params)]
    got = (df.select(shingle_hash60(F.col("s")).alias("h"), "s")
             .select("s", "h", *perm_cols)
             .orderBy("s").collect())
    con = duckdb.connect()
    perm_sql = ", ".join(
        f"({a} * (h % {p}) + {b}) % {p} AS m{i}"
        for i, (a, b) in enumerate(params))
    want = con.execute(
        "SELECT s, h, " + perm_sql + " FROM (SELECT s, "
        "CAST(CAST(('0x' || substr(md5(s),1,15)) AS UBIGINT) AS BIGINT) AS h"
        " FROM (SELECT unnest(?) AS s)) ORDER BY s",
        [shingles]).fetchall()
    assert [tuple(r) for r in got] == want

    # array-level: signature mins + the injective band combine
    arr = spark.createDataFrame([(shingles,)], "hs array<string>")
    sig_row = arr.select(
        minhash_signature_int(
            F.transform("hs", shingle_hash60), 4).alias("sig")).head()
    sig = sig_row["sig"]
    want_sig = con.execute(
        "SELECT " + ", ".join(
            f"list_min(list_transform(h, x -> ({a} * (x % {p}) + {b}) % {p}))"
            for a, b in params) +
        " FROM (SELECT list_transform(?, s -> CAST(CAST(('0x' || "
        "substr(md5(s),1,15)) AS UBIGINT) AS BIGINT)) AS h)",
        [shingles]).fetchone()
    assert tuple(sig) == want_sig
    assert all(0 <= v < p for v in sig)
    band = sig[0] * p + sig[1]
    assert band == con.execute(
        f"SELECT CAST(? AS BIGINT) * {p} + ?", [sig[0], sig[1]]).fetchone()[0]


def test_signature_jaccard_estimator_value(spark):
    """Identical docs estimate 1.0; disjoint docs estimate 0.0."""
    rows = [(0, "w1 w2 w3 w4 w5 w6"), (1, "w1 w2 w3 w4 w5 w6"),
            (2, "z1 z2 z3 z4 z5 z6")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from llmxmapreduce_spark.operators import dedup

    base = df.select(
        "doc_id", dedup.word_shingles(F.col("text"), 3).alias("shingles")
    ).withColumn("signature",
                 dedup.minhash_signature(F.col("shingles"), 8))
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.signature_jaccard(pairs, base, threshold=0.0).collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] == 0.0


def test_minhash_dedup_incremental(spark):
    """New-shard vs corpus: drops new docs near-matching the corpus, keeps
    the canonical of within-shard clusters, keeps fresh docs — and corpus
    ids never leak into the result even when they numerically collide with
    new-shard ids."""
    from llmxmapreduce_spark.operators.dedup import minhash_dedup_incremental

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "to the deep green forest near the old stone bridge tonight")
    other = ("completely different text about spark dataframe shuffles and "
             "catalyst optimizer plans at terabyte scale with many joins")
    corpus = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (0, base + " v1"),        # near-dup of corpus doc 0 (id collides)
            (10, "fresh unrelated content regarding streaming watermarks "
                 "and stateful session window operators in structured land"),
            (11, "fresh unrelated content regarding streaming watermarks "
                 "and stateful session window operators in structured "
                 "land extra"),       # within-shard near-dup of 10
            (12, "entirely novel subject matter on parquet row groups and "
                 "column statistics for predicate pushdown at exabyte size"),
        ],
        "doc_id long, text string",
    )
    for mode in ("exact", "exact_hashed", "estimate"):
        out = minhash_dedup_incremental(
            new, corpus, threshold=0.5, verify=mode)
        kept = sorted(r["doc_id"] for r in out.collect())
        assert kept == [10, 12], (mode, kept)


def test_minhash_dedup_incremental_empty_corpus(spark):
    """Empty corpus degenerates to within-shard dedup."""
    from llmxmapreduce_spark.operators.dedup import minhash_dedup_incremental

    t = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
         "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega end")
    new = spark.createDataFrame(
        [(5, t), (6, t + " tail"), (7, "other words entirely " * 8)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame([], "doc_id long, text string")
    out = minhash_dedup_incremental(new, corpus, threshold=0.5)
    assert sorted(r["doc_id"] for r in out.collect()) == [5, 7]
