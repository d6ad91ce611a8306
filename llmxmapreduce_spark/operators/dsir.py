"""DSIR: Data Selection via Importance Resampling (scale extension).

Xie et al., "Data Selection for Language Models via Importance
Resampling" (NeurIPS'23, arXiv:2302.03169): select raw-corpus documents
whose hashed-n-gram distribution looks like a TARGET corpus, by
importance weighting in a hashed feature space —

1. featurize every document as a bag of hashed (uni+bi)-gram counts
   over ``n_buckets`` buckets (the paper uses 10 000);
2. fit smoothed bucket distributions p_target / p_raw (two aggregates);
3. per-doc log importance weight  log w(x) = Σ_b c_x[b] ·
   (log p_t[b] − log p_r[b]);
4. sample without replacement ∝ w(x) via the Gumbel top-k trick.

Spark formulation:

- featurization is explode → 8-byte bucket id → groupBy: the shuffles
  carry (bucket, count) and (id, bucket, count) rows, never text;
- the fitted distributions are ``n_buckets``-sized — KBs; the log-ratio
  table broadcast-joins the per-doc buckets, so weighting costs one
  aggregation keyed by doc id;
- Gumbel keys are deterministic per (id, seed) — xxhash64-derived
  uniforms, no RNG state — and the selection is a global top-k
  (TakeOrdered, not a full sort).

Two bucket-hash variants, same shape (the dedup.py convention):
``portable=True`` buckets via md5 (bit-identical in DuckDB — the values
gate); default xxhash64 (JVM-side, no hex churn).

Values gate: planted domain-shift fixtures + an exact DuckDB twin of
the weight computation in tests/test_dsir.py.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_uniform(col: Column, seed: int) -> Column:
    """Deterministic per-(value, seed) uniform in (0, 1):
    u = (xxhash64(value, seed) mod 2³¹ + 0.5) / 2³¹ — reproducible under
    any partitioning, no RNG state; strictly inside the open interval so
    log/−log transforms stay finite.  Shared by the Gumbel top-k sampler
    here and the Pareto keep-rule in quality_classifier (one copy of the
    numeric recipe — keep it that way)."""
    return (F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(1 << 31))
            + F.lit(0.5)) / F.lit(float(1 << 31))


def _grams(text_col: str) -> Column:
    """Unigrams + bigrams of the lowercased whitespace tokens (the
    paper's hashed n-gram feature set; shared tokenizer —
    text_stats.lower_ws_tokens)."""
    from llmxmapreduce_spark.operators.text_stats import lower_ws_tokens

    words = lower_ws_tokens(F.col(text_col))
    bigrams = F.filter(
        F.zip_with(words,
                   F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
                   lambda a, b: F.concat_ws(" ", a, b)),
        lambda g: F.instr(g, " ") > 0,
    )
    return F.filter(F.concat(words, bigrams), lambda g: g != "")


def _bucket(gram: Column, n_buckets: int, portable: bool) -> Column:
    if portable:
        h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10) \
            .cast("decimal(38,0)")
    else:
        h = F.xxhash64(gram)
    return F.pmod(h, F.lit(n_buckets)).cast("int")


def doc_bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    portable: bool = False,
) -> DataFrame:
    """→ (id_col, bucket, c) hashed-n-gram counts per document."""
    return (
        df.select(F.col(id_col), F.explode(_grams(text_col)).alias("g"))
        .select(id_col, _bucket(F.col("g"), n_buckets, portable)
                .alias("bucket"))
        .groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("c"))
    )


def _bounded_raw(raw: DataFrame, cap: int, seed: int) -> DataFrame:
    """Uniform bounded sample of the raw side for distribution fitting:
    one bounded probe detects "bigger than cap"; only then one count job
    prices the real fraction (the fit_centroids/_collect_sparse
    contract — a fraction derived from the capped probe would saturate
    at 1.0 and a ``limit()`` would take the corpus HEAD, a skewed
    estimate on source-ordered parquet)."""
    probe = raw.limit(cap + 1).count()
    if probe <= cap:
        return raw
    total = raw.count()
    frac = min(1.0, (1.1 * cap) / max(total, 1))
    return raw.sample(withReplacement=False, fraction=frac, seed=seed)


def fit_bucket_logratio(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    portable: bool = False,
    raw_sample: int | None = 100_000,
    seed: int = 42,
) -> DataFrame:
    """Fit the two smoothed bucket distributions and return the
    ``n_buckets``-row log-ratio table (bucket, logratio) with
    logratio = log p_target[b] − log p_raw[b] (natural log, add-α
    smoothing so empty buckets stay finite).

    The raw-side DISTRIBUTION ESTIMATE needs coverage, not the full
    crawl (the paper fits on subsets too), so the raw side is bounded
    BY DEFAULT to a ``raw_sample``-row uniform sample — the fit was the
    one selection component whose cost grew with the crawl (3.9→45 s at
    50× data when it explode-featurized the full raw side; round-7
    review finding).  A 100k-row sample estimates each of the 10k
    bucket probabilities from ~10 grams/doc × 100k docs ≈ 10⁶ draws —
    far inside the add-α smoothing noise.  Pass ``raw_sample=None`` for
    the exact full-corpus fit (the DuckDB twin does, so its SQL stays
    reproducible).  The target side is a trusted corpus —
    small by construction — and is never sampled."""
    spark = target.sparkSession
    if raw_sample is not None:
        raw = _bounded_raw(raw, raw_sample, seed)

    def dist(d: DataFrame, name: str) -> DataFrame:
        return (
            d.select(F.explode(_grams(text_col)).alias("g"))
            .select(_bucket(F.col("g"), n_buckets, portable).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias(name))
        )

    buckets = spark.range(n_buckets).select(F.col("id").cast("int")
                                            .alias("bucket"))
    counts = (
        buckets.join(dist(target, "ct"), "bucket", "left")
        .join(dist(raw, "cr"), "bucket", "left")
        .select("bucket",
                F.coalesce("ct", F.lit(0)).alias("ct"),
                F.coalesce("cr", F.lit(0)).alias("cr"))
        # materialize BEFORE the totals aggregate: the two featurize
        # aggregations (the dominant fit cost) must run once, not once
        # for the totals and again for the returned log-ratio lineage
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(F.sum("ct"), F.sum("cr")).collect()[0]
    tt, tr = (tot[0] or 0) + alpha * n_buckets, (tot[1] or 0) + alpha * n_buckets
    return counts.select(
        "bucket",
        (F.log(F.col("ct") + F.lit(alpha)) - F.lit(math.log(tt))
         - F.log(F.col("cr") + F.lit(alpha)) + F.lit(math.log(tr)))
        .alias("logratio"),
    )


def importance_weights(
    df: DataFrame,
    logratio: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    portable: bool = False,
) -> DataFrame:
    """→ (id_col, n_grams, log_weight) per document: log w(x) =
    Σ_b c_x[b] · logratio[b].  The log-ratio table broadcast-joins the
    per-doc bucket counts; the only wide ops are the featurize groupBy
    and the per-doc sum — both keyed by (id, bucket)/(id).  Docs with no
    grams (null/empty text) keep a row with n_grams 0 and log_weight 0
    (an empty product is domain-neutral evidence)."""
    counts = doc_bucket_counts(df, text_col, id_col, n_buckets, portable)
    agg = (
        counts.join(F.broadcast(logratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_grams"),
             F.sum(F.col("c") * F.col("logratio")).alias("log_weight"))
    )
    return (
        df.select(id_col).join(agg, id_col, "left")
        .select(id_col,
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"))
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    n_select: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    seed: int = 42,
    portable: bool = False,
    logratio: DataFrame | None = None,
    raw_sample: int | None = 100_000,
) -> DataFrame:
    """Select ``n_select`` rows of ``df`` by importance resampling
    WITHOUT replacement (Gumbel top-k: key = log_weight + Gumbel noise;
    the top-k keys are a sample ∝ w without replacement — Vieira'14).
    Returns the selected rows with the original schema.

    The Gumbel draw is deterministic per (id, seed):
    u = (xxhash64(id, seed) mod 2³¹ + 0.5) / 2³¹, g = −log(−log u) —
    reproducible under any partitioning, no RNG state.  Selection is a
    global top-k (``TakeOrdered``), not a sort.  Pass a precomputed
    ``logratio`` to reuse one fit across shards.  The default fit
    bounds the raw side to a ``raw_sample``-row uniform sample (see
    :func:`fit_bucket_logratio`) — scoring still covers EVERY raw doc;
    only the p_raw distribution estimate is sampled."""
    if logratio is None:
        logratio = fit_bucket_logratio(target, df, text_col, n_buckets,
                                       alpha, portable,
                                       raw_sample=raw_sample, seed=seed)
    w = importance_weights(df, logratio, text_col, id_col, n_buckets,
                           portable)
    u = hash_uniform(F.col(id_col), seed)
    keyed = w.select(id_col,
                     (F.col("log_weight") - F.log(-F.log(u))).alias("__k"))
    chosen = keyed.orderBy(F.col("__k").desc()).limit(n_select) \
        .select(id_col)
    return df.join(chosen, id_col, "left_semi")
