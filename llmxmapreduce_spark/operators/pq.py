"""Product quantization (PQ) — compressed-vector ANN storage + asymmetric
distance search (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI'11; the fine quantizer behind faiss IndexPQ / IndexIVFPQ).

Why the engine needs it at 100 TB: embedding columns dominate storage and
shuffle width in every similarity pipeline here (dedup, SemDeDup, ANN
joins).  A d=64 float32 vector is 256 B; PQ with m=8 subspaces × 256
codes stores the same row in 8 bytes (32×) plus ONE closure-broadcast
codebook (m·k·d/m floats — KBs).  Search never decompresses: each query
builds an m×k lookup table once, and scoring a vector is m table reads
instead of a d-term dot product.

Pieces:
- :func:`pq_train` — per-subspace k-means on a bounded driver sample
  (same train-on-sample contract as ``ivf.fit_centroids``; faiss trains
  PQ codebooks the same way).
- :func:`pq_encode` — one Arrow pass; emits ``array<smallint>`` codes
  (m entries, each in [0, k)).  EXACT-integer assignment: coordinates
  and codebooks are quantized to the 1e-6 grid (``kmeans.quantize_np``)
  and the per-subspace argmin runs in int64 — bit-deterministic under
  any partitioning and DuckDB-replayable.
- :func:`pq_decode` — reconstruction (tests / diagnostics).
- :func:`pq_adc_topk` — asymmetric-distance top-k: query stays exact,
  corpus stays codes; per-batch local top-k then one global window, the
  same candidate-only shuffle shape as ``cosine_topk_np``.

Accuracy contract: PQ approximates L2; on unit-normalized vectors L2
ordering equals cosine ordering, so normalize first when the geometry is
cosine (the embeddings pipelines here do).  Recall is gated in
tests/test_pq.py against exact search on clustered data — the honest
setting, as with IVF.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.kmeans import quantize_np

__all__ = ["pq_train", "pq_encode", "pq_decode", "pq_adc_topk"]


def _check_dims(d: int, m: int) -> int:
    if d % m != 0:
        raise ValueError(f"pq: dim {d} not divisible by m={m} subspaces")
    return d // m


def _lloyd(X: np.ndarray, k: int, iters: int, rng) -> np.ndarray:
    """Driver-side euclidean Lloyd on a sample subspace — seeded distinct
    init, empty clusters re-seeded to the worst-assigned points."""
    n = len(X)
    k = min(k, n)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = np.argmin(d2, axis=1)
        worst = iter(np.argsort(-d2[np.arange(n), a]))
        for j in range(k):
            mem = X[a == j]
            C[j] = mem.mean(axis=0) if len(mem) else X[int(next(worst))]
    return C


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    max_sample: int = 65_536,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """→ codebooks ``(m, k, d/m)`` float64, trained per-subspace on a
    bounded sample (one ``limit(max_sample)`` collect — training cost
    independent of corpus size).  Same determinism contract as
    ``fit_centroids``: fixed (data, partitioning, seed) → fixed books."""
    rows = df.select(vec_col).limit(max_sample).collect()
    if not rows:
        raise ValueError("pq_train: empty corpus")
    X = np.array([r[0] for r in rows], dtype=np.float64)
    ds = _check_dims(X.shape[1], m)
    rng = np.random.default_rng(seed)
    return np.stack(
        [_lloyd(X[:, j * ds:(j + 1) * ds], k, iters, rng) for j in range(m)]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    scale: float = 1e6,
) -> DataFrame:
    """→ ``(id_col, pq_code array<smallint>)`` — nearest codebook entry
    per subspace under EXACT quantized-int64 squared distance (ties →
    lowest code).  Map-side only; the codebook rides the closure."""
    cq = quantize_np(np.asarray(codebooks, dtype=np.float64), scale)
    m, k, ds = cq.shape
    c2 = np.einsum("mkd,mkd->mk", cq, cq)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            xq = quantize_np(np.stack(pdf[vec_col].to_numpy()), scale)
            if xq.shape[1] != m * ds:
                raise ValueError(
                    f"pq_encode: dim {xq.shape[1]} != m*ds {m * ds}"
                )
            codes = np.empty((len(xq), m), dtype=np.int16)
            for j in range(m):
                sub = xq[:, j * ds:(j + 1) * ds]
                d2 = (
                    np.einsum("ij,ij->i", sub, sub)[:, None]
                    - 2 * (sub @ cq[j].T)
                    + c2[j][None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), code_col: list(codes)}
            )

    id_t = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} {id_t}, {code_col} array<smallint>"
    )


def pq_decode(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Reconstruct approximate vectors from (n, m) codes — diagnostics
    and the reconstruction-error test gate."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m = cb.shape[0]
    return np.concatenate([cb[j][codes[:, j]] for j in range(m)], axis=1)


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """Asymmetric-distance top-k: → ``(query_id, vec_id, rank, d2_q)``.

    The query side stays exact (quantized grid), the corpus side stays
    codes.  Each task builds the m×k lookup table per query ONCE
    (int64: (q_sub − c)² per code), then every corpus vector costs m
    table reads — no decompression, no d-term dots.  Per-batch local
    top-k rows are the only shuffle (n_batches·n_queries·k), closed by
    one global rank window.  Exact-int tables ⇒ deterministic ranks
    (ties → lowest id)."""
    cq = quantize_np(np.asarray(codebooks, dtype=np.float64), scale)
    m, kk, ds = cq.shape
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        raise ValueError("pq_adc_topk: empty query side")
    qids = np.array([r[0] for r in qrows])
    Q = quantize_np(
        np.array([r[1] for r in qrows], dtype=np.float64), scale
    )
    # luts[q, j, c] = ||Q[q, sub_j] - cb[j, c]||²  (exact int64)
    luts = np.empty((len(Q), m, kk), dtype=np.int64)
    for j in range(m):
        qs = Q[:, j * ds:(j + 1) * ds]
        luts[:, j, :] = (
            np.einsum("ij,ij->i", qs, qs)[:, None]
            - 2 * (qs @ cq[j].T)
            + np.einsum("kd,kd->k", cq[j], cq[j])[None, :]
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf[code_col].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            # d2[q, n] = Σ_j luts[q, j, codes[n, j]]
            d2 = luts[:, np.arange(m), codes].sum(-1)
            top = min(k, d2.shape[1])
            idx = np.argpartition(d2, top - 1, axis=1)[:, :top]
            out = []
            for qi in range(len(Q)):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[qi],
                            id_col: ids[idx[qi]],
                            "d2_q": d2[qi, idx[qi]],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    id_t = dict(corpus_codes.dtypes)[id_col]
    local = corpus_codes.select(id_col, code_col).mapInPandas(
        run, schema=f"query_id {id_t}, {id_col} {id_t}, d2_q long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2_q").asc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "d2_q")
    )
