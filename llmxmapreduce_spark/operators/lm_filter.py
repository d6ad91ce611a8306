"""CCNet-style n-gram LM perplexity filtering (scale extension).

CCNet (Wenzek et al., arXiv:1911.00359) ranks web documents by the
perplexity of a language model trained on a trusted corpus (Wikipedia)
and keeps the head/middle buckets; Gopher and LLaMA report the same
perplexity-gate practice.  The reference uses KenLM; this module is the
Spark-native equivalent: a word bigram LM with stupid backoff (Brants et
al., EMNLP'07 — the smoothing KenLM-scale systems actually use, chosen
here because it needs only counts, no discount fitting), trained with
two aggregations and applied with one broadcast join.

Spark formulation — everything stays declarative:

- **Training** is two groupBy counts over exploded tokens/bigrams
  (partial-agg combine; shuffle keys are the words themselves, Zipf-
  bounded distinct).  ``min_count`` prunes the tail so the LM table
  stays broadcastable (a 1M-row bigram table ≈ 30 MB).
- **Scoring** explodes the scored corpus to bigrams and broadcast-joins
  the LM table — corpus text never shuffles; the only wide op is the
  per-doc logprob aggregation on the doc id.
- **Bucketing** (CCNet's head/middle/tail) is driver-side
  ``approxQuantile`` thresholds (a bounded sketch, not a sort) applied
  as a narrow projection.

100 TB framing: training on a TRUSTED corpus is small by construction
(CCNet trains on Wikipedia, not the crawl); scoring cost is one
projected scan + one broadcast join + one doc-id aggregation, the same
shape as `decontaminate`.  If the LM table outgrows the broadcast
budget, raise ``min_count`` (CCNet prunes to 5-grams with the same
knob) — the table size is a training-corpus property, not a crawl-size
property.

Values gate: hand-computed tiny-LM logprobs + an exact DuckDB twin in
tests/test_lm_filter.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LOG10_E = math.log10(math.e)


def _words(text_col: str):
    from llmxmapreduce_spark.operators.text_stats import lower_ws_tokens

    return lower_ws_tokens(F.col(text_col))


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, float]:
    """Train the stupid-backoff bigram LM → ``(bigrams, unigrams,
    log10_oov)``.

    - ``unigrams``: (w, logp) with logp = log10(count(w) / total_tokens);
    - ``bigrams``: (w1, w2, logp) with logp = log10(count(w1 w2) /
      count(w1));
    - ``log10_oov``: the out-of-vocabulary unigram score, one order of
      magnitude below the rarest kept unigram (the standard floor that
      keeps unseen words finite without a <unk> retraining pass).

    Scoring backs off bigram → ``backoff × P(w2)`` → ``backoff ×
    P_oov`` (stupid backoff: scores are proportional odds, not a
    normalized distribution — exactly what ranking by perplexity needs,
    per Brants et al.).  ``min_count`` prunes singleton n-grams so the
    broadcast table stays small; both tables are plain DataFrames, so
    they persist/round-trip like any other (parquet the LM once, reuse
    per crawl batch)."""
    toks = df.select(F.explode(_words(text_col)).alias("w")) \
        .filter(F.col("w") != "")
    toks = toks.persist()
    try:
        uni = toks.groupBy("w").count().filter(F.col("count") >= min_count)
        total = toks.count()
        uni = uni.select(
            "w", (F.log10(F.col("count")) - F.lit(math.log10(max(total, 1))))
            .alias("logp"), F.col("count").alias("c1"))
        uni = uni.persist()
        uni.count()

        big = df.select(
            F.explode(
                F.filter(
                    F.zip_with(
                        _words(text_col),
                        F.slice(_words(text_col), 2,
                                F.greatest(F.size(_words(text_col)) - 1,
                                           F.lit(1))),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                    lambda s: s["w2"].isNotNull(),
                )
            ).alias("bg")
        ).select("bg.w1", "bg.w2")
        bi = (
            big.groupBy("w1", "w2").count()
            .filter(F.col("count") >= min_count)
            .join(uni.select(F.col("w").alias("w1"), "c1"), "w1")
            .select("w1", "w2",
                    (F.log10(F.col("count")) - F.log10(F.col("c1")))
                    .alias("logp"))
        )
        min_c = uni.agg(F.min("c1")).collect()[0][0] or 1
        log10_oov = math.log10(min_c) - math.log10(max(total, 1)) - 1.0
        # materialize the (bounded, LM-table-sized) outputs and release
        # the corpus-sized caches — the returned tables must not pin the
        # training lineage for the session's life
        bi = bi.localCheckpoint(eager=True)
        uni_out = uni.select("w", "logp").localCheckpoint(eager=True)
        return bi, uni_out, log10_oov
    finally:
        toks.unpersist()
        try:
            uni.unpersist()
        except NameError:
            pass


def _scored_pairs(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, float],
    text_col: str,
    id_col: str,
    backoff: float,
) -> DataFrame:
    """→ (id_col, lp): one stupid-backoff log10-prob per bigram
    transition.  The shared scoring plan of :func:`doc_perplexity` and
    :func:`doc_logprob_sum`: bigram explode → TWO broadcast left joins
    (bigram table, unigram table) → coalesce(bigram, backoff·unigram,
    backoff·OOV).  Corpus text never shuffles; the exchanges carry
    (id, logp) pairs and the broadcast tables."""
    bi, uni, log10_oov = lm
    log_b = math.log10(backoff)
    words = _words(text_col)
    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.zip_with(
                    words,
                    F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast(
                "array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2") \
        .filter(F.col("w2").isNotNull() & (F.col("w1") != ""))

    return (
        pairs.join(F.broadcast(bi.withColumnRenamed("logp", "lp_bi")),
                   ["w1", "w2"], "left")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"),
                                     F.col("logp").alias("lp_uni"))),
              "w2", "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("lp_bi"),
                F.col("lp_uni") + F.lit(log_b),
                F.lit(log10_oov + log_b),
            ).alias("lp"),
        )
    )


def doc_perplexity(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """→ (id_col, n_scored, avg_log10p, perplexity) per document.

    Scores each bigram transition w1→w2 with stupid backoff (bigram
    logp, else log10(backoff) + unigram logp of w2, else log10(backoff)
    + OOV); ``perplexity = 10^(−avg_log10p)``.  One-word and null/empty
    docs have no transitions: n_scored = 0 and null perplexity (callers
    decide; CCNet drops them as too short long before this stage).

    Plan: see :func:`_scored_pairs` (the shared scoring subplan)."""
    scored = _scored_pairs(df, lm, text_col, id_col, backoff)
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.avg("lp").alias("avg_log10p"),
    )
    # left join back so short docs keep a row (n_scored 0, null ppl)
    return (
        df.select(id_col).join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_scored"), F.lit(0)).alias("n_scored"),
            F.col("avg_log10p"),
            F.when(F.col("avg_log10p").isNotNull(),
                   F.pow(F.lit(10.0), -F.col("avg_log10p")))
            .alias("perplexity"),
        )
    )


def doc_logprob_sum(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
    scale: int = 6,
    as_string: bool = False,
) -> DataFrame:
    """→ (id_col, n_scored, sum_log10p): the ORACLE-EXACT variant of
    :func:`doc_perplexity` — per-transition logprobs are rounded to
    ``scale`` decimals (decimal cast) and summed as DECIMALs, so the
    result is independent of summation order and bit-identical across
    engines (a DuckDB twin can reproduce it exactly; a double ``avg``
    cannot, because float addition is not associative and log10 is only
    ulp-reproducible across libms).  ``perplexity`` is the monotone map
    ``10^(−sum/n)`` of this output — ranking/filter decisions derived
    from either representation agree.  Same plan as doc_perplexity; the
    decimal cast is a projection.

    ``as_string=True`` emits the exact DECIMAL(38,6) sum as its string
    rendering instead of a double: the final decimal→double cast is
    engine/platform-dependent at one ulp (the moments.py convention —
    "sums cross the oracle as strings"), so oracle-surface consumers
    must never see the double."""
    scored = _scored_pairs(df, lm, text_col, id_col, backoff)
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.col("lp").cast(f"decimal(20,{scale})")).alias("__s"),
    )
    out_sum = (F.col("__s").cast("decimal(38,6)").cast("string")
               if as_string else F.col("__s").cast("double"))
    return (
        df.select(id_col).join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_scored"), F.lit(0)).alias("n_scored"),
            out_sum.alias("sum_log10p"),
        )
    )


def perplexity_buckets(
    scores: DataFrame,
    fractions: tuple[float, float] = (1 / 3, 2 / 3),
    ppl_col: str = "perplexity",
    relative_error: float = 0.001,
) -> tuple[DataFrame, list[float]]:
    """CCNet §4.3 head/middle/tail assignment: documents below the first
    perplexity quantile are ``head`` (most Wikipedia-like), between the
    quantiles ``middle``, above ``tail``; null perplexity (no scored
    transitions) is ``tail``.  Returns (scores + bucket column,
    thresholds).

    Thresholds come from ``approxQuantile`` — a driver-side bounded
    sketch (Greenwald-Khanna), NOT a global sort; the assignment itself
    is a narrow projection, so bucketing adds zero exchanges."""
    qs = scores.filter(F.col(ppl_col).isNotNull()) \
        .approxQuantile(ppl_col, list(fractions), relative_error)
    if not qs:
        # no row has a scoreable perplexity (e.g. every doc shorter than
        # 2 words): everything is 'tail' — approxQuantile returns [] here
        # and indexing it would crash (review repro)
        return scores.withColumn("bucket", F.lit("tail")), []
    out = scores.withColumn(
        "bucket",
        F.when(F.col(ppl_col).isNull(), F.lit("tail"))
        .when(F.col(ppl_col) <= F.lit(qs[0]), F.lit("head"))
        .when(F.col(ppl_col) <= F.lit(qs[1]), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return out, [float(q) for q in qs]


def perplexity_filter(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, float],
    max_perplexity: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """Keep documents whose LM perplexity is ≤ ``max_perplexity``
    (original schema).  Docs with no scored transitions are DROPPED —
    they carry no evidence of being in-domain, and CCNet's length gate
    removes them upstream anyway.  The filter join is id-only — text
    stays put."""
    keep = doc_perplexity(df, lm, text_col, id_col, backoff) \
        .filter(F.col("perplexity").isNotNull()
                & (F.col("perplexity") <= max_perplexity)) \
        .select(id_col)
    return df.join(keep, id_col, "left_semi")
