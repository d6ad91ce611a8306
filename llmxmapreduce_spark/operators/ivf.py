"""IVF (inverted-file) approximate nearest neighbor + semantic dedup.

The second ANN scale path next to the random-hyperplane LSH family in
``similarity.py``.  Where LSH buckets are data-independent, IVF is
data-ADAPTIVE: a coarse spherical k-means quantizer is trained on a
bounded sample, every corpus vector is assigned to its nearest centroid
("cell"), and a query only scores vectors in its ``nprobe`` nearest
cells — the standard coarse-quantizer design (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI'11; same layout as
faiss ``IndexIVFFlat``).

100 TB framing:
- **Train on a sample, never the corpus.** The quantizer sees at most
  ``max_sample`` vectors (faiss practice is ~256×n_cells); training cost
  is independent of corpus size and the centroid matrix
  (n_cells × dim × 8 bytes) is closure-broadcast — KBs to low MBs.
- **Assignment is one Arrow/BLAS pass** (``mapInPandas``): each batch does
  a single (batch × dim)·(dim × n_cells) matmul.  No shuffle — the cell id
  is a narrow projected column.
- **The cell id is a partition key.** ``write_ivf_index`` persists the
  assigned corpus ``partitionBy("cell")`` so query-time cell selection
  becomes parquet PARTITION PRUNING — probing 4 of 1024 cells reads
  ~0.4% of a 100 TB corpus from storage, not post-scan filtering.
- **Search shuffles candidates, not scores.** The small-query path keeps
  per-batch local top-k (like ``cosine_topk_np``), shuffling only
  n_batches × n_queries × k rows; the large-query path is an equi-join on
  the cell id — never a cartesian.
- **Cell skew is bounded by the quantizer.** k-means adapts centroids to
  the data distribution, so occupancy is far more uniform than raw sign
  buckets on anisotropic embeddings; residual hot cells are ordinary AQE
  skew-join territory in the join path.

``semantic_dedup`` composes the same pieces into SemDeDup (Abbas et al.,
arXiv:2303.09540): cluster with the coarse quantizer, compare pairs only
WITHIN a cell, transitively close with
``components.connected_components``, keep one representative per group.

Correctness gates: recall@k vs the exact scorer, seeded
determinism, and planted-duplicate recovery — tests/test_ivf.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# coarse quantizer
# ---------------------------------------------------------------------------

def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.sqrt((m * m).sum(axis=1))
    n[n == 0] = 1.0
    return m / n[:, None]


def auto_n_cells(n_rows: int) -> int:
    """The √n quantizer-size rule (faiss guidance, SemDeDup practice):
    per-cell population ~√n keeps within-cell O(n_c²) work flat as the
    corpus grows.  Clamped to [8, 65 536]."""
    return max(8, min(65_536, int(n_rows ** 0.5)))


def fit_centroids(
    df: DataFrame,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    max_sample: int = 65_536,
    iters: int = 10,
    seed: int = 42,
    est_total: int | None = None,
    refine_iters: int = 0,
) -> np.ndarray:
    """Train the coarse quantizer: spherical k-means (cosine geometry —
    vectors and centroids unit-normalized, assignment by max dot product)
    on a bounded sample.  Returns a normalized (n_cells × dim) float64
    matrix.

    The sample is drawn with ``df.sample`` when the corpus exceeds
    ``max_sample`` rows (per Catalyst plan statistics when available,
    else a defensive sample) — training never scans more than ~2× the
    target sample.  Lloyd iterations run driver-side in numpy: the sample
    matrix is at most max_sample × dim × 8 bytes (32 MB at 65k × 64d),
    far below driver memory, and this matches faiss, which also trains
    its coarse quantizer on a driver/host sample.

    Deterministic for a fixed (data, partitioning, seed) — the same
    contract as ``mixing.py``: ``df.sample`` draws and the collect order
    that k-means++ indexes into both depend on the input partitioning,
    so re-partitioned data can train different (equally valid) centroids.
    Empty cells are re-seeded to the farthest-from-assignment points
    (each empty cell a DIFFERENT point), so all n_cells survive distinct.

    Estimate hygiene: a CBO rowCount is trusted only in the "big →
    sample" direction, an under-estimate is re-verified by the bounded
    probe, and an OVER-estimate (detected when the collected sample is
    far smaller than max_sample allows) triggers one corrective
    resample at a fraction derived from the observed rate — so stale
    catalog stats can neither head-collect nor starve the training set.
    """
    sample_df = df.select(vec_col)
    # Avoid collecting an unbounded corpus: read the optimizer's row-count
    # statistic FIRST (free — no job at all when the relation carries
    # stats); only when the plan doesn't know do we fall back to one
    # bounded limit-probe and, for genuinely large inputs, one count job.
    # ``est_total`` lets callers (and the over-estimate regression test)
    # inject a trusted-or-stale estimate in place of the CBO statistic.
    total = est_total
    if total is None:
        try:
            rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
            if rc.isDefined():
                total = int(str(rc.get()))    # scala BigInt → str → int
        except Exception:                      # py4j surface varies
            total = None
    # With CBO the statistic can be an ESTIMATE (stale catalog stats,
    # filter-selectivity guesses).  Trust it only in the safe direction:
    # "big → sample" stays correct if the magnitude is off, but a
    # small-claim must be re-verified by the bounded probe — an
    # under-estimate would both skip sampling (head-collect, non-uniform
    # training set) and undersize auto_n_cells (review repro).
    if total is not None and total <= max_sample:
        total = None
    if total is None:
        probe = sample_df.limit(max_sample + 1).count()
        total = df.count() if probe > max_sample else probe
    sampled = total > max_sample
    if sampled:
        frac = min(1.0, (1.2 * max_sample) / max(total, 1))
        sample_df = sample_df.sample(withReplacement=False, fraction=frac,
                                     seed=seed)
    auto_cells = n_cells is None
    if auto_cells:                         # √n rule — see auto_n_cells
        n_cells = auto_n_cells(total)
    rows = sample_df.limit(max_sample).collect()
    if sampled and len(rows) < max_sample // 2:
        # CBO rowCount was an OVER-estimate (stale catalog stats,
        # filter-selectivity products): frac came out far too small and
        # the sample is a fraction of what max_sample allows — degenerate
        # centroids, or an empty collect (review finding).  Re-estimate
        # the real total from the observed sampling rate and resample
        # with a corrected fraction (fraction 1.0 when the corpus now
        # fits), re-deriving auto_n_cells from the corrected count.
        est2 = max(int(len(rows) / max(frac, 1e-12)), len(rows), 1)
        resample = df.select(vec_col)
        if est2 > max_sample:
            frac2 = min(1.0, (1.2 * max_sample) / est2)
            resample = resample.sample(withReplacement=False,
                                       fraction=frac2, seed=seed)
        rows = resample.limit(max_sample).collect()
        if auto_cells:
            # a 0-row first draw carries no rate signal (est2 degenerates
            # to 1); the recollected sample size is then the best lower
            # bound on the true total (exact when < max_sample)
            n_cells = auto_n_cells(max(est2, len(rows)))
    X = _normalize_rows(np.array([r[0] for r in rows], dtype=np.float64))
    n = X.shape[0]
    if n == 0:
        raise ValueError("fit_centroids: empty corpus")
    k = min(n_cells, n)
    rng = np.random.default_rng(seed)

    # k-means++ seeding in cosine distance (1 - dot on unit vectors)
    idx = [int(rng.integers(n))]
    d2 = 1.0 - X @ X[idx[0]]
    for _ in range(1, k):
        d2 = np.clip(d2, 0, None)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        idx.append(int(rng.choice(n, p=probs)))
        d2 = np.minimum(d2, 1.0 - X @ X[idx[-1]])
    C = X[idx].copy()

    for _ in range(iters):
        S = X @ C.T                        # n × k similarities
        assign = np.argmax(S, axis=1)      # ties → lowest index (np argmax)
        newC = np.zeros_like(C)
        # dead cells re-seed to the worst-assigned points, one DISTINCT
        # point per dead cell — a shared "farthest point" would duplicate
        # centroids and the duplicate cell would stay dead forever
        worst_order = iter(np.argsort(S[np.arange(n), assign]))
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
            else:
                newC[j] = X[int(next(worst_order))]
        newC = _normalize_rows(newC)
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC
    if refine_iters:
        # optional full-corpus polish: every row votes, not just the
        # sample (see refine_centroids)
        C = refine_centroids(df, C, refine_iters, vec_col)
    return C


def refine_centroids(
    df: DataFrame,
    centroids: np.ndarray,
    n_iter: int = 2,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Full-corpus spherical Lloyd refinement of a sample-trained coarse
    quantizer — the scale complement to :func:`fit_centroids`: the
    bounded driver sample picks WHERE the cells are, the refinement lets
    the WHOLE corpus vote on exactly where their centers sit.  faiss
    exposes the same split as train-on-sample + optional full re-train.

    Per iteration: one projected scan of the vector column → map-side
    assignment (BLAS argmax on unit vectors, centroids ride the task
    closure) → per-Arrow-batch partial sums (≤ K rows of K·D doubles)
    → one (cell, pos) aggregation → driver renormalize.  Shuffle state
    per iteration is K·D doubles — independent of corpus size.  Dead
    cells keep their previous centroid.

    Float partial sums are reduction-order sensitive in the last ulp, so
    this carries the same determinism contract as ``fit_centroids``
    (stable for fixed data + partitioning); the bit-deterministic
    exact-integer Euclidean variant is ``kmeans.kmeans_refine``
    (operators/kmeans.py), whose oracle gate covers the shared
    scan→partial-sum→aggregate iteration shape."""
    import pandas as pd

    C = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    k, d = C.shape
    for _ in range(n_iter):
        Ct = C.T

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _normalize_rows(
                    np.array(pdf[vec_col].tolist(), dtype=np.float64)
                )
                cell = np.argmax(X @ Ct, axis=1)
                cells, inv = np.unique(cell, return_inverse=True)
                sums = np.zeros((len(cells), d), dtype=np.float64)
                np.add.at(sums, inv, X)
                cnt = np.bincount(inv, minlength=len(cells)).astype("int64")
                yield pd.DataFrame(
                    {"cell": cells.astype("int32"), "cnt": cnt,
                     "sums": list(sums)}
                )

        rows = (
            df.select(vec_col)
            .mapInPandas(run, schema="cell int, cnt long, sums array<double>")
            .select("cell", "cnt", F.posexplode("sums").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("cnt").alias("c"), F.sum("val").alias("s"))
            .collect()
        )
        sums = np.zeros((k, d), dtype=np.float64)
        cnt = np.zeros(k, dtype=np.int64)
        for r in rows:
            sums[r["cell"], r["pos"]] = r["s"]
            cnt[r["cell"]] = r["c"]
        nz = cnt > 0
        newC = C.copy()
        newC[nz] = sums[nz] / cnt[nz, None]
        C = _normalize_rows(newC)
    return C


def assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    keep_vec: bool = True,
) -> DataFrame:
    """Nearest-centroid assignment as one Arrow/BLAS pass — adds an
    integer ``cell_col``.  The centroid matrix travels in the task closure
    (n_cells × dim doubles); each batch costs a single matmul.  No shuffle.
    """
    import pandas as pd

    Ct = _normalize_rows(np.asarray(centroids, dtype=np.float64)).T  # d × k
    id_t = dict(df.dtypes)[id_col]
    vec_t = dict(df.dtypes)[vec_col]
    vec_part = f", {vec_col} {vec_t}" if keep_vec else ""
    schema = f"{id_col} {id_t}{vec_part}, {cell_col} int"

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _normalize_rows(np.array(pdf[vec_col].tolist(),
                                         dtype=np.float64))
            cells = np.argmax(X @ Ct, axis=1).astype("int32")
            out = {id_col: pdf[id_col]}
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            out[cell_col] = cells
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(run, schema)


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the assigned corpus ``partitionBy("cell")`` — the on-disk
    IVF inverted lists.  A later reader filtering ``cell IN (probes)``
    gets parquet partition pruning, i.e. probe-proportional I/O instead of
    a full corpus scan.  Centroids are stored alongside as a tiny parquet
    so search needs no re-training."""
    assigned = assign_cells(df, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/lists")
    spark = df.sparkSession
    cent_rows = [(i, [float(x) for x in row])
                 for i, row in enumerate(np.asarray(centroids))]
    spark.createDataFrame(cent_rows, "cell int, centroid array<double>") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def read_ivf_index(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """Load (inverted lists DataFrame, centroid matrix) written by
    :func:`write_ivf_index`."""
    lists = spark.read.parquet(f"{path}/lists")
    cent = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return lists, np.array([r["centroid"] for r in cent], dtype=np.float64)


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray | None = None,
    k: int = 5,
    nprobe: int = 4,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    cell_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Small-query IVF search → (qid, vec_id, rank, cosine), exact-scorer
    output contract (same as ``cosine_topk_np``; self-matches excluded).

    The query side is the bounded broadcast side (same contract as
    ``cosine_topk_np``: ≲ low thousands of vectors) — collected once,
    probe cells computed driver-side, and only corpus rows in SOME query's
    probe set are scored.  Per batch: group by cell, one matmul per
    (cell, queries-probing-it) group, local top-k kept — the shuffle
    carries n_batches × n_q × k candidate rows.  With a pre-assigned
    ``cell_col`` (e.g. from :func:`read_ivf_index`), the cell filter is a
    pushed-down partition predicate; otherwise assignment fuses into the
    same Arrow pass.

    For query sides too big to collect, use :func:`ivf_topk_join`.
    """
    import pandas as pd

    if centroids is None:
        centroids = fit_centroids(corpus, n_cells, vec_col, seed=seed)
    C = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    n_cells_eff = C.shape[0]
    nprobe = min(nprobe, n_cells_eff)

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    Q = _normalize_rows(np.array([r[1] for r in qrows], dtype=np.float64))
    # nprobe nearest centroids per query
    qc = Q @ C.T                                        # n_q × n_cells
    probe = np.argpartition(-qc, nprobe - 1, axis=1)[:, :nprobe]
    cell_to_q: dict[int, np.ndarray] = {}
    for j in range(len(qids)):
        for c in probe[j]:
            cell_to_q.setdefault(int(c), []).append(j)
    cell_to_q = {c: np.array(js) for c, js in cell_to_q.items()}
    probed_cells = sorted(cell_to_q)

    qid_t = dict(queries.dtypes)[id_col]
    id_t = dict(corpus.dtypes)[id_col]
    out_schema = f"{query_id_col} {qid_t}, {id_col} {id_t}, cosine double"
    Ct = C.T

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _normalize_rows(np.array(pdf[vec_col].tolist(),
                                         dtype=np.float64))
            if "cell" in pdf.columns:
                cells = pdf["cell"].to_numpy()
            else:
                cells = np.argmax(X @ Ct, axis=1)
            ids = pdf[id_col].to_numpy()
            out_q, out_i, out_s = [], [], []
            for c, qjs in cell_to_q.items():
                mask = cells == c
                if not mask.any():
                    continue
                Xi, idsi = X[mask], ids[mask]
                S = Xi @ Q[qjs].T                       # members × |qjs|
                m = min(k + 1, S.shape[0])
                top = np.argpartition(-S, m - 1, axis=0)[:m]
                for col, j in enumerate(qjs):
                    for i in top[:, col]:
                        if idsi[i] != qids[j]:
                            out_q.append(qids[j])
                            out_i.append(idsi[i])
                            out_s.append(S[i, col])
            yield pd.DataFrame({query_id_col: out_q, id_col: out_i,
                                "cosine": out_s})

    src = corpus
    cols = [id_col, vec_col]
    if cell_col is not None:
        # pre-assigned lists: cell predicate prunes partitions at the scan
        src = src.filter(F.col(cell_col).isin(probed_cells))
        cols.append(F.col(cell_col).alias("cell"))
    cand = src.select(*cols).mapInPandas(score, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


def ivf_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray | None = None,
    k: int = 5,
    nprobe: int = 4,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    seed: int = 42,
) -> DataFrame:
    """Large-query IVF search: BOTH sides shuffle ONCE keyed by the
    4-byte cell id — corpus rows to their single cell, queries exploded
    to their ``nprobe`` probe cells — and each cell is scored by a
    single BLAS matmul inside a cogrouped ``applyInPandas``, with local
    top-(k+1) kept per (query, cell); the global window rank then picks
    top-k across a query's probe cells (same output contract as
    :func:`ivf_topk`, which this path agrees with, test-pinned ≥ 0.95
    modulo float-summation tie swaps).

    Round-7 rewrite: the original formulation equi-joined the two sides
    and scored every materialized PAIR row with Catalyst's interpreted
    ``aggregate(zip_with)`` dot — measured at sf1 (20 k corpus × 1 k
    queries): 25.8 s at nprobe=4 and LINEAR in nprobe (202 s at 32),
    i.e. slower than the 7.2 s brute-force scorer it exists to beat,
    because pair rows carry two vector payloads through the shuffle and
    the per-element dot is interpreted.
    The cogroup ships each vector through the shuffle exactly once and
    scores cells at BLAS speed; per-cell work is one
    |cell_c| × |cell_q| matmul — bounded by the data-adaptive quantizer,
    residual hot cells being one task's matmul rather than a pair
    explosion."""
    import pandas as pd

    if centroids is None:
        centroids = fit_centroids(corpus, n_cells, vec_col, seed=seed)
    C = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    nprobe = min(nprobe, C.shape[0])
    Ct = C.T

    c_assigned = assign_cells(corpus, C, id_col, vec_col)

    qid_t = dict(queries.dtypes)[id_col]
    q_schema = f"{query_id_col} {qid_t}, qv array<double>, cell int"

    def probe_cells(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _normalize_rows(np.array(pdf[vec_col].tolist(),
                                         dtype=np.float64))
            S = X @ Ct
            top = np.argpartition(-S, nprobe - 1, axis=1)[:, :nprobe]
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].tolist()
            out_id, out_v, out_c = [], [], []
            for j in range(len(ids)):
                for c in top[j]:
                    out_id.append(ids[j])
                    out_v.append([float(x) for x in vecs[j]])
                    out_c.append(int(c))
            yield pd.DataFrame({query_id_col: out_id, "qv": out_v,
                                "cell": out_c})

    q_assigned = queries.select(id_col, vec_col).mapInPandas(
        probe_cells, q_schema)

    id_t = dict(corpus.dtypes)[id_col]
    out_schema = f"{query_id_col} {qid_t}, {id_col} {id_t}, cosine double"

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cdf) or not len(qdf):
            return pd.DataFrame({query_id_col: [], id_col: [],
                                 "cosine": []})
        X = _normalize_rows(np.array(cdf[vec_col].tolist(),
                                     dtype=np.float64))
        Q = _normalize_rows(np.array(qdf["qv"].tolist(), dtype=np.float64))
        ids = cdf[id_col].to_numpy()
        qids = qdf[query_id_col].to_numpy()
        S = X @ Q.T                              # members × queries
        m = min(k + 1, S.shape[0])               # +1 absorbs a self-match
        top = np.argpartition(-S, m - 1, axis=0)[:m]
        out_q, out_i, out_s = [], [], []
        for col in range(S.shape[1]):
            for i in top[:, col]:
                if ids[i] != qids[col]:
                    out_q.append(qids[col])
                    out_i.append(ids[i])
                    out_s.append(S[i, col])
        return pd.DataFrame({query_id_col: out_q, id_col: out_i,
                             "cosine": out_s})

    cand = (
        c_assigned.groupBy("cell")
        .cogroup(q_assigned.groupBy("cell"))
        .applyInPandas(score, out_schema)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-space) dedup via the same quantizer
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    centroids: np.ndarray | None = None,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int = 20_000,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup candidate pairs → (id_a, id_b, cosine), id_a < id_b,
    cosine ≥ threshold.  Pairs are generated only WITHIN a k-means cell
    (Abbas et al. 2023 §3: semantic duplicates are same-cluster by
    construction when the quantizer is trained on the corpus itself).

    Per cell the comparison is one ``applyInPandas`` group: a single
    n_c × n_c matmul with the upper triangle thresholded — n_c ~ n/n_cells
    under a data-adaptive quantizer.  ``max_cell`` is the guardrail: a
    cell exceeding it raises rather than silently attempting an O(n_c²)
    matmul that cannot fit an executor — the remedy at scale is more
    cells (n_cells scales with corpus size; faiss guidance ~sqrt(n))."""
    import pandas as pd

    if centroids is None:
        centroids = fit_centroids(df, n_cells, vec_col, seed=seed)
    assigned = assign_cells(df, centroids, id_col, vec_col)
    id_t = dict(df.dtypes)[id_col]
    schema = f"id_a {id_t}, id_b {id_t}, cosine double"

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell:
            raise ValueError(
                f"semantic_dedup: cell of {n} rows exceeds max_cell="
                f"{max_cell}; raise n_cells (got a hot cell — the "
                f"quantizer needs more centroids for this corpus size)")
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        X = _normalize_rows(np.array(pdf[vec_col].tolist(),
                                     dtype=np.float64))
        ids = pdf[id_col].to_numpy()
        S = X @ X.T
        iu, ju = np.triu_indices(n, k=1)
        keep = S[iu, ju] >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi,
                             "cosine": S[iu, ju][keep]})

    return assigned.groupBy("cell").applyInPandas(pairs, schema)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    centroids: np.ndarray | None = None,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    keep_by: str | None = None,
) -> DataFrame:
    """Full SemDeDup: within-cell pairs → connected components → keep
    one representative per semantic-duplicate group (min-id by default;
    ``keep_by=<score column>`` keeps the highest-scoring member — see
    dedup_by_components).  Returns the SURVIVING rows of ``df``
    (original schema).

    The transitive closure matters for the same reason as in the text
    near-dup path: per-pair dropping over- or under-deletes on chains
    (A≈B≈C with cos(A,C) < threshold must still collapse to one keeper).
    """
    from llmxmapreduce_spark.operators.components import dedup_by_components

    pairs = semantic_dedup_pairs(df, threshold, centroids, n_cells,
                                 id_col, vec_col, seed=seed)
    return dedup_by_components(df, pairs, id_col=id_col, keep_by=keep_by)
