"""Sentence-span dedup — C4's "three-sentence span" rule (scale extension).

C4 (Raffel et al., arXiv:1910.10683 §2.2) deduplicates the corpus at the
span level: any three-sentence span occurring more than once is removed
from all but one document.  This is the distributed, order-free
formulation:

1. split each document into sentences (the SAME portable splitter as the
   P15 oracle — punctuation kept with its sentence);
2. slide a ``span``-sentence window, hash each span (``xxhash64`` of the
   joined span — the shuffle key is 8 bytes, never the span text);
3. one global ``groupBy(span_hash)`` elects the OWNER occurrence:
   ``min(struct(doc_id, pos))`` — a deterministic, arrival-order-free
   rule (sequential C4 keeps the first occurrence in processing order;
   this keeps the lexicographically smallest, so the result is
   reproducible under any partitioning);
4. every non-owner occurrence marks its ``span`` sentence positions
   removed; surviving sentences are re-joined into ``clean_text``.

A sentence is removed iff SOME duplicate span covers it — with
overlapping duplicate spans this deletes slightly more than the
sequential algorithm on pathological chains, an explicitly documented
(and deterministic) divergence.

100 TB framing: the only wide ops are the span-hash groupBy and the
(doc_id, pos) anti-join — both shuffle fixed-width keys.  Sentence text
rides only in the narrow per-document explode/re-aggregate, which
partitions by doc_id.  Duplicate-heavy corpora skew the span-hash
aggregation exactly like any hot groupBy key: AQE/salting territory, and
the aggregate is partial-combine-friendly (min of struct).

Values gate: exact DuckDB twin (group-by span TEXT — same equivalence
classes as the hash, collision-free at test scale) in
tests/test_span_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.functions.text import sentence_split

# \x01 separator: sentence boundaries inside a span stay unambiguous
# ("ab|c" can never hash-equal "a|bc")
SPAN_SEP = "\x01"


def _array_ngrams(arr: Column, n: int, sep: str = SPAN_SEP) -> Column:
    """n-grams over an arbitrary array column via zip_with over shifted
    slices (the ngram_shingles trick generalized off word tokens)."""
    g = arr
    for j in range(1, n):
        g = F.zip_with(
            g,
            F.slice(arr, j + 1, F.greatest(F.size(arr) - j, F.lit(1))),
            lambda a, b: F.concat_ws(sep, a, b),
        )
    return F.slice(g, 1, F.greatest(F.size(arr) - (n - 1), F.lit(0)))


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 3,
) -> DataFrame:
    """→ (id_col, clean_text, n_sentences, n_removed) for every input row.

    Documents with fewer than ``span`` sentences contribute no spans and
    pass through untouched; a document whose every sentence is covered by
    duplicate spans comes back with empty ``clean_text`` (and
    ``n_removed == n_sentences``), not a dropped row.
    """
    # regexp trim, NOT F.trim: trim() strips only spaces, so a sentence
    # that follows a newline would keep its leading "\n" and an identical
    # span copied across documents would hash differently (found by the
    # corpus_prep e2e test on multi-line documents)
    ws_trim = lambda s: F.regexp_replace(s, r"^\s+|\s+$", "")  # noqa: E731
    sents = F.filter(
        F.transform(sentence_split(F.col(text_col)), ws_trim),
        lambda s: s != F.lit(""),
    )
    base = df.select(F.col(id_col), sents.alias("sents"))

    sentences = base.select(
        id_col, F.posexplode("sents").alias("pos", "sentence"))
    spans = (
        base.select(id_col,
                    F.posexplode(_array_ngrams(F.col("sents"), span))
                    .alias("pos", "span_text"))
        .withColumn("h", F.xxhash64("span_text"))
        .drop("span_text")
    )
    owners = spans.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("owner"))
    removed = (
        spans.join(owners, "h")
        .filter((F.col(id_col) != F.col(f"owner.{id_col}"))
                | (F.col("pos") != F.col("owner.pos")))
        .select(id_col,
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + span - 1)).alias("pos"))
        .distinct()
    )
    kept = sentences.join(removed, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("pos").alias("k"),
                         F.col("sentence").alias("v")))),
            lambda s: s["v"])).alias("clean_text"),
        F.count("sentence").alias("n_kept"),
    )
    return (
        base.select(id_col, F.size("sents").alias("n_sentences"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_sentences").cast("long"),
            (F.col("n_sentences") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )
