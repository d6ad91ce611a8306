"""Trainable character-n-gram language identification — the learned
upgrade of ``text_stats.lang_id``'s stopword heuristic (P18), the
fastText/CLD shape expressed in Catalyst.

Model: multinomial Naive Bayes over the top-V character n-grams.
Training is two aggregates — (label, gram) counts and per-label
totals — plus one bounded top-V cut; the model is a V×L table of
add-one-smoothed log10 probabilities, small enough to broadcast
(V=5000, L≤50 → 250k rows).  Scoring is one gram explode + one
broadcast join + one (doc, lang) partial-agg sum, then an exact
argmax — text never shuffles, only 8-byte-ish gram rows do.

Cross-engine exactness (the repo's values convention): log10 values are
rounded to DECIMAL(20,8) at model build (the ccnet/dsir pattern — a
one-ulp libm difference at magnitude ~10 is 1e-15, far below the 1e-8
quantum), per-doc scores are exact DECIMAL sums of (count × logp), and
the argmax tie-breaks on (score desc, lang asc) — so the prediction is
a pure integer/decimal function of the corpus, reproducible in DuckDB
(:func:`langid_sql` generates the twin).

Out-of-vocabulary grams score the per-label floor log10(1/(N_l + V + 1))
— Laplace mass for the unseen bucket — times the doc's OOV gram count,
so two languages' scores stay comparable for any document.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["char_ngrams", "train_langid", "langid_predict",
           "langid_predict_fast", "langid_sql"]


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Lowercased character n-grams (array<string>); null/short text →
    empty array.  Whitespace runs collapse to one space first so
    formatting doesn't shift every gram.

    The normalized string is BOUND AS A LAMBDA VARIABLE via a nested
    HOF (``transform(array(s), t -> ...)[0]``) before the per-gram
    transform: a plain expression referenced inside a HOF lambda is
    re-evaluated per element, so the regexp_replace+lower ran once PER
    GRAM — O(len²) per doc and the whole-query bottleneck (measured
    10.9 s → 1.8 s for the sf0.1 gram explode)."""
    s = F.lower(F.regexp_replace(F.coalesce(text, F.lit("")),
                                 r"\s+", " "))

    def per_string(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1),
                                              F.lit(0)))
        return F.when(F.length(t) < n, F.array().cast("array<string>")) \
            .otherwise(F.transform(idx, lambda i: t.substr(i, F.lit(n))))

    return F.transform(F.array(s), per_string)[0]


def train_langid(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    n: int = 3,
    vocab_size: int = 5_000,
    min_count: int = 2,
) -> DataFrame:
    """→ the model table ``(gram, lang, logp)`` + one floor row per
    language (``gram = NULL``, the OOV log-prob).  Deterministic:
    vocabulary = top ``vocab_size`` grams by (total count desc, gram
    asc); logp = log10((c + 1) / (N_lang + V + 1)) rounded to
    DECIMAL(20,8)."""
    grams = df.filter(F.col(label_col).isNotNull()).select(
        F.col(label_col).alias("lang"),
        F.explode(char_ngrams(F.col(text_col), n)).alias("gram"))
    # the (lang, gram) count table feeds THREE consumers (vocab cut,
    # per-lang totals, the model join) plus the vocab.count() job —
    # cut lineage once so the corpus-sized gram explode runs once,
    # not four times (bench: 25.6 s → seconds at sf0.1)
    lg = grams.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).alias("c")).localCheckpoint(eager=True)
    vocab = (lg.groupBy("gram").agg(F.sum("c").alias("total"))
             .filter(F.col("total") >= min_count)
             .orderBy(F.col("total").desc(), F.col("gram").asc())
             .limit(vocab_size).select("gram")
             .localCheckpoint(eager=True))
    v = vocab.count()
    totals = lg.groupBy("lang").agg(F.sum("c").alias("n_l"))

    def _logp(c_expr):
        return F.round(
            F.log10(c_expr.cast("double")
                    / (F.col("n_l") + F.lit(v + 1)).cast("double")),
            8).cast("decimal(20,8)")

    in_vocab = (vocab.crossJoin(totals)
                .join(lg, ["gram", "lang"], "left")
                .select("gram", "lang", "n_l",
                        F.coalesce("c", F.lit(0)).alias("c")))
    model = in_vocab.select(
        "gram", "lang", _logp(F.col("c") + 1).alias("logp"))
    floor = totals.select(
        F.lit(None).cast("string").alias("gram"), "lang",
        _logp(F.lit(1)).alias("logp"))
    return model.unionByName(floor)


def langid_predict(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """→ ``(id_col, lang_pred)`` — argmax language per document under
    the model; documents with NO grams (null/short text) predict null.

    ONE heavy stage: gram instances left-join the broadcast model (an
    in-vocab instance fans out to L language rows, an OOV instance
    keeps one null-language row) and flow STRAIGHT into a (doc, lang)
    partial aggregation — map-side combine collapses each partition to
    ≤ docs × (L+1) rows before the only shuffle.  Everything after is
    arithmetic on that bounded table; ties break (score desc, lang
    asc)."""
    # r13: the model's logp is DECIMAL(20,8) — an exact multiple of
    # 1e-8 — so the per-(doc, lang) sums run as scaled int64
    # (logp × 10⁸, exact by construction) instead of decimal(38,8):
    # identical totals and identical comparison order (long compare ==
    # decimal compare on the same exact values), and the corpus-wide
    # aggregation stays in codegen-friendly long arithmetic.  Headroom:
    # |logp_q| < 2³² per gram leaves room for > 2³¹ grams per document
    # before an int64 sum could wrap.  Only `lang_pred` leaves this
    # operator — the score never surfaces.
    q = F.lit(100_000_000).cast("decimal(10,0)")
    in_vocab = model.filter(F.col("gram").isNotNull()) \
        .select("gram", "lang",
                (F.col("logp") * q).cast("bigint").alias("logp_q"))
    floor = model.filter(F.col("gram").isNull()) \
        .select("lang", (F.col("logp") * q).cast("bigint")
                .alias("floor_q"))
    inst = df.select(id_col,
                     F.explode(char_ngrams(F.col(text_col), n))
                     .alias("gram"))
    agg = (inst.join(F.broadcast(in_vocab), "gram", "left")
           .groupBy(id_col, "lang")
           .agg(F.sum("logp_q").alias("s_hit"),
                F.count(F.lit(1)).alias("c")))
    # the null-lang group is the doc's OOV gram count (every in-vocab
    # instance appears once under EACH language, so per-lang hit rows
    # already carry complete in-vocab sums)
    oov = agg.groupBy(id_col).agg(
        F.sum(F.when(F.col("lang").isNull(), F.col("c"))
              .otherwise(F.lit(0))).alias("c_oov"))
    hit = agg.filter(F.col("lang").isNotNull())
    scored = (oov.crossJoin(F.broadcast(floor))
              .join(hit, [id_col, "lang"], "left")
              .select(id_col, "lang",
                      (F.coalesce(F.col("s_hit"), F.lit(0))
                       + F.col("c_oov") * F.col("floor_q"))
                      .alias("score")))
    # exact (score desc, lang asc) argmax, window-free: max score per
    # doc, then min lang among the max-score rows (the two-agg argmax
    # convention from dedup_by_components)
    top_score = scored.groupBy(id_col).agg(
        F.max("score").alias("score"))
    best = (scored.join(top_score, [id_col, "score"])
            .groupBy(id_col).agg(F.min("lang").alias("lang_pred")))
    return df.select(id_col).distinct() \
        .join(best, id_col, "left")



def langid_predict_fast(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Production scoring path — the SAME prediction as
    :func:`langid_predict` (pytest-pinned equal when ``id_col`` is
    unique), computed per document inside one Arrow-batched
    ``mapInPandas`` pass against a driver-collected model.

    Contract: ONE OUTPUT ROW PER INPUT ROW (each row scored
    independently; zero shuffle).  This equals the Catalyst path's
    one-row-per-distinct-id output exactly when ``id_col`` is unique —
    the normal case (documents primary key).  With DUPLICATE ids the
    two paths deliberately diverge (r12 ADVICE): ``langid_predict``
    pools the grams of every row sharing an id into one prediction,
    while this path scores each row on its own text.  Matching the
    pooled semantics would need a gram-count combine shuffle per id —
    exactly the cost this path exists to avoid; callers with duplicate
    ids should pre-aggregate (or dedup) before calling.

    Why: the Catalyst path's broadcast model join fans every gram
    INSTANCE out to L language rows before the (doc, lang) partial agg
    — at sf5 that is grams × L ≈ billions of rows through the hash
    aggregate, 240 s engine time for a 500 M-gram corpus.  Here each
    document is scored locally: count grams once, one vocab-dict lookup
    per UNIQUE gram, one length-L integer vector accumulate —
    O(grams + unique_grams × L) per doc, text never leaves its
    partition, NO shuffle at all.

    Exactness is preserved: the model's DECIMAL(20,8) logps become
    int64 micro-units (logp × 1e8 — exact, the quantization already
    happened at train time), scores are exact int64 sums (|logp| ≤ 10
    → 1e9 units; 1e6 grams/doc stays < 2^53 « 2^63), and the argmax
    tie-breaks (score desc, lang asc) — bit-identical to the DECIMAL
    path on any input.  The model table is V × L + L rows (≤ 250k at
    the documented V=5000, L≤50) — a few MB on the driver, shipped
    once per executor via the closure."""
    import numpy as np
    import pandas as pd

    in_vocab = [(r["gram"], r["lang"], int(r["logp"] * (10 ** 8)))
                for r in model.filter(F.col("gram").isNotNull())
                .collect()]
    floor_rows = {r["lang"]: int(r["logp"] * (10 ** 8))
                  for r in model.filter(F.col("gram").isNull())
                  .collect()}
    langs = sorted(floor_rows)
    if not langs:
        return df.select(id_col).distinct().withColumn(
            "lang_pred", F.lit(None).cast("string"))
    lang_idx = {l: i for i, l in enumerate(langs)}
    nl = len(langs)
    vocab: dict[str, "np.ndarray"] = {}
    for gram, lang, lp in in_vocab:
        vec = vocab.get(gram)
        if vec is None:
            vec = vocab[gram] = np.zeros(nl, dtype=np.int64)
        vec[lang_idx[lang]] = lp
    floor_vec = np.array([floor_rows[l] for l in langs], dtype=np.int64)
    # Java's default \s is ASCII-only ([ \t\n\x0B\f\r]) while Python's
    # is Unicode-aware — spell out the Java class so the normalization
    # matches char_ngrams' regexp_replace exactly (a \xa0 must NOT
    # collapse here if the Catalyst path keeps it)
    ws = re.compile("[ \t\n\x0b\f\r]+")

    def _predict_one(text) -> str | None:
        t = ws.sub(" ", (text or "").lower())
        if len(t) < n:
            return None
        counts: dict[str, int] = {}
        for i in range(len(t) - n + 1):
            g = t[i:i + n]
            counts[g] = counts.get(g, 0) + 1
        score = np.zeros(nl, dtype=np.int64)
        c_oov = 0
        for g, c in counts.items():
            vec = vocab.get(g)
            if vec is None:
                c_oov += c
            else:
                score += c * vec
        if c_oov:
            score += c_oov * floor_vec
        best = int(score.argmax())   # ties -> lowest index = min lang
        # argmax returns the FIRST maximal index; langs is sorted asc,
        # so (score desc, lang asc) falls out for free
        return langs[best]

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, lang_pred string"

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "lang_pred": [_predict_one(t) for t in pdf[text_col]],
            })

    return df.select(id_col, text_col).mapInPandas(run, out_schema)

def langid_sql(table: str, id_col: str = "doc_id",
               text_col: str = "text", label_col: str = "lang",
               n: int = 3, vocab_size: int = 5_000,
               min_count: int = 2, where: str = "TRUE",
               score_where: str = "TRUE") -> str:
    """DuckDB twin: train on ``table WHERE {where}`` and predict for
    ``table WHERE {score_where}`` — the full train→score replay.
    ``where``/``score_where`` may reference id/label columns only
    (they run against the normalized-text CTE)."""
    g = (f"[substr(s, i, {n}) for i in range(1, len(s) - {n} + 2)]")
    norm = (f"lower(regexp_replace(coalesce({text_col}, ''), "
            f"'\\s+', ' ', 'g'))")
    return f"""
        WITH src AS (SELECT {id_col}, {label_col}, {norm} AS s
                     FROM {table}),
        tg AS (SELECT {label_col} AS lang, unnest({g}) AS gram
               FROM src WHERE {where}
                 AND len(s) >= {n} AND {label_col} IS NOT NULL),
        lg AS (SELECT lang, gram, count(*) AS c FROM tg
               GROUP BY lang, gram),
        vocab AS (SELECT gram FROM (
            SELECT gram, sum(c) AS total FROM lg GROUP BY gram
            HAVING sum(c) >= {min_count}
            ORDER BY total DESC, gram ASC LIMIT {vocab_size})),
        v AS (SELECT count(*) AS v FROM vocab),
        totals AS (SELECT lang, sum(c) AS n_l FROM lg GROUP BY lang),
        model AS (
            SELECT vocab.gram, t.lang,
                   CAST(round(log10(CAST(coalesce(lg.c, 0) + 1 AS DOUBLE)
                        / CAST(t.n_l + (SELECT v FROM v) + 1 AS DOUBLE)),
                        8) AS DECIMAL(20,8)) AS logp
            FROM vocab CROSS JOIN totals t
            LEFT JOIN lg ON lg.gram = vocab.gram AND lg.lang = t.lang),
        floor AS (
            SELECT lang,
                   CAST(round(log10(1.0
                        / CAST(n_l + (SELECT v FROM v) + 1 AS DOUBLE)),
                        8) AS DECIMAL(20,8)) AS floor_logp
            FROM totals),
        dg AS (SELECT {id_col}, gram, count(*) AS c FROM (
            SELECT {id_col}, unnest({g}) AS gram
            FROM src WHERE {score_where}
              AND len(s) >= {n})
            GROUP BY {id_col}, gram),
        hit AS (SELECT dg.{id_col}, m.lang,
                       sum(CAST(dg.c AS DECIMAL(10,0)) * m.logp)
                         AS s_hit,
                       sum(dg.c) AS c_hit
                FROM dg JOIN model m ON dg.gram = m.gram
                GROUP BY dg.{id_col}, m.lang),
        tot AS (SELECT {id_col}, sum(c) AS c_all FROM dg
                GROUP BY {id_col}),
        scored AS (
            SELECT t.{id_col}, f.lang,
                   CAST(coalesce(h.s_hit, CAST(0 AS DECIMAL(38,8)))
                        + CAST(t.c_all - coalesce(h.c_hit, 0)
                               AS DECIMAL(10,0)) * f.floor_logp
                        AS DECIMAL(38,8)) AS score
            FROM tot t CROSS JOIN floor f
            LEFT JOIN hit h ON h.{id_col} = t.{id_col}
                           AND h.lang = f.lang),
        top AS (SELECT {id_col}, max(score) AS score FROM scored
                GROUP BY {id_col}),
        best AS (SELECT s.{id_col}, min(s.lang) AS lang_pred
                 FROM scored s JOIN top USING ({id_col}, score)
                 GROUP BY s.{id_col})
        SELECT d.{id_col}, b.lang_pred
        FROM (SELECT DISTINCT {id_col} FROM src
              WHERE {score_where}) d
        LEFT JOIN best b USING ({id_col})
    """
