"""GPT-3-style learned quality classifier (scale extension).

GPT-3 (Brown et al., arXiv:2005.14165, App. A) filtered CommonCrawl
with a logistic-regression quality classifier: positives = a trusted
corpus (WebText/Wikipedia/books), negatives = raw crawl, features =
hashed n-gram bags; a document is KEPT when
``score > 1 − np.random.pareto(9)`` — the Pareto rule that mostly keeps
high-scoring documents but lets a heavy tail of low scorers through so
the corpus is not homogenized.  The same recipe (with the same α = 9)
is reported by PaLM and GLaM.

Spark formulation, reusing :mod:`llmxmapreduce_spark.operators.dsir`'s
hashed uni+bi-gram featurizer:

- **Training is driver-side on a BOUNDED sample** (the fit_centroids
  contract): per-doc bucket counts for ≤ ``max_sample`` docs per class
  collect as sparse (doc, bucket, count) triples — n_docs × ~grams
  rows, never text — and plain-numpy gradient descent fits w, b.
  Features are per-doc term frequencies (counts / total grams).
- **Scoring is declarative**: the B-row weight table broadcast-joins
  the per-doc bucket counts; score = sigmoid(Σ tf·w + b) — one
  projected scan + one broadcast join + one doc-id aggregation, the
  decontaminate plan shape.  Oracle-able (exact DuckDB twin with the
  portable md5 bucket variant).
- **The Pareto keep-rule is deterministic per (id, seed)**:
  u = xxhash64-uniform, draw = (1−u)^(−1/α) − 1 (the inverse-CDF of
  numpy's Lomax/pareto), keep iff score > 1 − draw — reproducible
  under any partitioning.

Values gate: sklearn-free hand-checkable fixtures (separable planted
domains), an exact DuckDB twin of the scoring pass, and determinism
tests — tests/test_quality_classifier.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.dsir import doc_bucket_counts


def _collect_sparse(df: DataFrame, text_col: str, id_col: str,
                    n_buckets: int, portable: bool, max_sample: int,
                    seed: int):
    """Bounded sparse feature collect: (row_index, bucket, count) for up
    to ``max_sample`` docs.  The collect moves ~docs × distinct-buckets
    integer triples — no text.

    Over-sized classes take a genuinely RANDOM sample: the bounded probe
    only detects "bigger than max_sample"; the fraction comes from a
    real count (review repro: deriving it from the capped probe count
    saturates the fraction at 1.0 and `limit()` then takes the HEAD of
    the DataFrame — one source's documents on source-ordered parquet,
    a silently skewed classifier)."""
    d = df
    # ONE count decides both "bigger than max_sample" and the sample
    # fraction (r14): the former bounded probe (limit(max+1).count) was
    # a separate job that measured SLOWER than the full count itself on
    # this data (the class filter scans every row group either way), and
    # the oversized path then paid the full count anyway.  Same
    # decisions, same sampled rows, one job per class instead of two.
    total = df.count()
    if total > max_sample:
        frac = min(1.0, (1.1 * max_sample) / max(total, 1))
        d = df.sample(withReplacement=False, fraction=frac, seed=seed) \
            .limit(max_sample)
    # Arrow transfer (toPandas) instead of row-pickled collect(): the
    # frame is BOUNDED (≤ max_sample docs × distinct buckets — integer
    # triples, never text), so the driver transfer is sample-sized by
    # contract; Arrow moves it columnar (~10× the row path at 300k
    # triples).  pd.factorize assigns doc indexes by FIRST APPEARANCE —
    # the same mapping as the former dict loop over collect() rows, and
    # both paths iterate partition order, so the triple order (hence the
    # GD summation order and the fitted bits) is unchanged.
    pdf = doc_bucket_counts(d, text_col, id_col, n_buckets,
                            portable).toPandas()
    codes, uniques = __import__("pandas").factorize(pdf[id_col])
    tri = np.column_stack([
        codes.astype(np.int64),
        pdf["bucket"].to_numpy(dtype=np.int64),
        pdf["c"].to_numpy(dtype=np.int64),
    ])
    return len(uniques), tri


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    n_buckets: int = 10_000,
    max_sample: int = 20_000,
    iters: int = 300,
    lr: float = 50.0,   # tf features are O(1/doc_len): the loss surface's
                        # curvature is tiny, so plain GD needs a large step
    l2: float = 1e-6,
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
) -> tuple[np.ndarray, float]:
    """Fit (w, b) by full-batch gradient descent on tf features of a
    bounded sample per class.  Deterministic for fixed (data,
    partitioning, seed).  Returns the weight vector (n_buckets floats —
    80 KB at the default, closure/broadcast-sized) and the bias."""
    # The two class collects are independent Spark jobs — overlap them
    # from a 2-thread pool (guide §2.6) so the smaller class's jobs
    # back-fill executors freed by the bigger one's tail.  Each collect
    # is self-contained (its own factorize), so the triples — and the
    # fitted bits — are identical to the sequential path.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fpos = pool.submit(_collect_sparse, positive, text_col, id_col,
                           n_buckets, portable, max_sample, seed)
        fneg = pool.submit(_collect_sparse, negative, text_col, id_col,
                           n_buckets, portable, max_sample, seed + 1)
        np_, nt = fpos.result()
        nn, tn = fneg.result()
    if np_ == 0 or nn == 0:
        raise ValueError("train_quality_classifier: empty class sample")
    rows = np.concatenate([nt[:, 0], tn[:, 0] + np_])
    cols = np.concatenate([nt[:, 1], tn[:, 1]])
    vals = np.concatenate([nt[:, 2], tn[:, 2]]).astype(np.float64)
    n_docs = np_ + nn
    y = np.zeros(n_docs)
    y[:np_] = 1.0
    # tf normalization per doc (bincount ≡ add.at bit-for-bit — both
    # accumulate sequentially in array order — and is the faster kernel)
    totals = np.bincount(rows, weights=vals, minlength=n_docs)
    vals = vals / np.maximum(totals[rows], 1.0)

    w = np.zeros(n_buckets)
    b = 0.0
    for _ in range(iters):
        z = b + np.bincount(rows, weights=vals * w[cols],
                            minlength=n_docs)
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y                       # dL/dz per doc
        gw = np.bincount(cols, weights=g[rows] * vals,
                         minlength=n_buckets)
        gw = gw / n_docs + l2 * w
        gb = g.mean()
        w -= lr * gw
        b -= lr * gb
    return w, float(b)


def classifier_scores(
    df: DataFrame,
    weights: tuple[np.ndarray, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    keep_dot: bool = False,
) -> DataFrame:
    """→ (id_col, n_grams, score) with score = sigmoid(Σ tf·w + b).
    The weight vector becomes a B-row DataFrame broadcast-joined to the
    per-doc bucket counts; docs with no grams score sigmoid(b) (bias
    only — no evidence).

    ``keep_dot=True`` appends the raw ``dot`` = Σ tf·w column (0.0 for
    gram-less docs).  With dyadic-rational weights the dot is exact —
    oracle surfaces compare it (integerized) instead of the sigmoid,
    whose exp() differs between JVM StrictMath and C libms by ulps
    that floor(·×10⁶) amplifies at bin boundaries rather than
    absorbing (measured: driver hash-FAIL round 8)."""
    import pandas as pd

    w, b = weights
    spark = df.sparkSession
    n_buckets = len(w)
    # Arrow path for the weight table (one columnar transfer) instead of
    # a driver-side Python tuple comprehension — the repo convention for
    # driver→executor tables (round-7 review nit)
    nz = np.flatnonzero(np.asarray(w))
    wdf = spark.createDataFrame(
        pd.DataFrame({"bucket": nz.astype("int32"),
                      "w": np.asarray(w, dtype="float64")[nz]}),
        schema="bucket int, w double")
    counts = doc_bucket_counts(df, text_col, id_col, n_buckets, portable)
    agg = (
        counts.join(F.broadcast(wdf), "bucket", "left")
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_grams"),
             F.sum(F.col("c") * F.coalesce("w", F.lit(0.0))).alias("dot"))
    )
    z = F.col("dot") / F.col("n_grams") + F.lit(b)
    cols = [
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.coalesce(z, F.lit(b)))))
        .alias("score"),
    ]
    if keep_dot:
        cols.append(F.coalesce("dot", F.lit(0.0)).alias("dot"))
    return df.select(id_col).join(agg, id_col, "left").select(*cols)


def pareto_filter(
    scores: DataFrame,
    alpha: float = 9.0,
    id_col: str = "doc_id",
    score_col: str = "score",
    seed: int = 42,
) -> DataFrame:
    """GPT-3's keep rule: keep iff ``score > 1 − pareto(α) draw``.
    The draw is the inverse-CDF of numpy's Pareto/Lomax,
    (1−u)^(−1/α) − 1, over a deterministic per-(id, seed) uniform.
    P(keep) = (1 + (1 − score))^−α — at α = 9 a 0.95-scorer is kept
    with p ≈ 0.645 and a 0.05-scorer with p ≈ 0.0025: steep but
    heavy-tailed, so low scorers are admitted rarely, not never (the
    corpus-diversity point of the rule, App. A).  Returns the scored
    rows that pass."""
    from llmxmapreduce_spark.operators.dsir import hash_uniform

    u = hash_uniform(F.col(id_col), seed)
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return scores.filter(F.col(score_col) > F.lit(1.0) - draw)


def quality_classifier_filter(
    df: DataFrame,
    weights: tuple[np.ndarray, float],
    alpha: float = 9.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Score + Pareto keep-rule, returning surviving rows of ``df`` with
    the original schema (id-only semi join — text stays put)."""
    kept = pareto_filter(
        classifier_scores(df, weights, text_col, id_col, portable),
        alpha, id_col, seed=seed,
    ).select(id_col)
    return df.join(kept, id_col, "left_semi")
