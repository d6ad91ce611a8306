"""Collocation / phrase mining over the corpus (word2phrase shape).

Tokenizer and vocab prep for LLM corpora wants multi-word units:
"new york", "machine learning" should often be ONE token.  The
standard signal (Mikolov et al. 1310.4546 §4) is the bigram's pointwise
mutual information — how much more often the pair occurs than
independence predicts:

    PMI(x, y) = ln( c_xy * N / (c_x * c_y) )

Spark-first, no shuffled pair-strings until counted:

- ``bigram_counts`` — adjacent pairs built INSIDE the tokens array
  (``zip_with`` of the array against its own tail — no posexplode
  self-join), exploded once, ONE partial-agg count.  Unigram counts are
  a second agg on the same projected scan; both join back by the
  bigram's words via two broadcast-sized... no — unigram tables scale
  with vocabulary, so the joins are plain equi-joins on the word
  (partial-agg'd counts, not corpus rows).
- ``pmi`` — the log-ratio column.  Transcendentals are NOT
  bit-portable across engines, so the VALUES-grade surface is the
  exact integer counts; the PMI column
  itself is pytest-gated against a numpy replay instead.
- ``phrase_candidates`` — the word2phrase rule: bigrams with
  ``count >= min_count`` and ``pmi >= min_pmi``, the input to a
  merge-pass that rewrites the corpus with "x_y" units.

Tokenization is the repo's shared ``lower_ws_tokens`` (text_stats) —
the vocab/encode/LM stack must see the same tokens (review finding
pinned there).

Scale: shuffle rows are (word-pair, int) partial counts — bounded by
distinct bigram count, the same exposure as vocab build; heavy-hitter
skew lives in the count agg, which partial-aggregates map-side.  For
billion-type corpora cut the tail FIRST with ``min_count`` pushed into
the count agg (done here) so the join tables shrink before any join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.operators.text_stats import lower_ws_tokens


def _tokens(text_col: str) -> Column:
    toks = lower_ws_tokens(F.col(text_col))
    return F.filter(toks, lambda t: t != "")


def bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """→ (w1, w2, c_xy, c_x, c_y, n_tokens): adjacent-bigram counts
    with both unigram marginals and the corpus token total attached
    (everything an information-theoretic score needs, all exact
    integers)."""
    toks = _tokens(text_col)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    d = df.select(toks.alias("__toks"), pairs.alias("__pairs"))
    uni = (d.select(F.explode("__toks").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n_tokens = uni.agg(F.sum("c").alias("n")).collect()[0]["n"] or 0
    bi = (d.select(F.explode("__pairs").alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
          .filter(F.col("c_xy") >= F.lit(int(min_count))))
    out = (bi
           .join(uni.withColumnRenamed("w", "w1")
                    .withColumnRenamed("c", "c_x"), "w1")
           .join(uni.withColumnRenamed("w", "w2")
                    .withColumnRenamed("c", "c_y"), "w2"))
    return out.select("w1", "w2", "c_xy", "c_x", "c_y",
                      F.lit(int(n_tokens)).alias("n_tokens"))


def pmi(stats: DataFrame, out_col: str = "pmi") -> DataFrame:
    """Attach PMI = ln(c_xy·N / (c_x·c_y)).  Float transcendental —
    use the integer count columns for any cross-engine comparison."""
    return stats.withColumn(
        out_col,
        F.log((F.col("c_xy").cast("double")
               * F.col("n_tokens").cast("double"))
              / (F.col("c_x").cast("double")
                 * F.col("c_y").cast("double"))))


def phrase_candidates(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    min_pmi: float = 3.0,
) -> DataFrame:
    """word2phrase candidates: frequent, strongly-associated adjacent
    pairs → (w1, w2, c_xy, pmi), ordered for deterministic take."""
    s = pmi(bigram_counts(df, text_col, min_count=min_count))
    return (s.filter(F.col("pmi") >= F.lit(float(min_pmi)))
            .select("w1", "w2", "c_xy", "pmi")
            .orderBy(F.col("c_xy").desc(), F.col("w1").asc(),
                     F.col("w2").asc()))
