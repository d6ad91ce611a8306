"""Exact substring dedup — Lee et al.'s ExactSubstr rule (scale extension).

"Deduplicating Training Data Makes Language Models Better" (Lee et al.,
arXiv:2107.06499 §4.1) removes every substring of >= 50 BPE tokens that
occurs more than once in the corpus, keeping one occurrence.  The paper
builds a single suffix array over the concatenated corpus — inherently
sequential and memory-resident.  This is the distributed, hash-windowed
formulation over WORD windows (the unit is configurable; the threshold
concept is the same):

1. split each document into whitespace words (empty tokens dropped) and
   slide an ``n``-word window, step 1 — ONLY full-length windows, so a
   doc shorter than ``n`` words can never self-trigger;
2. hash each window with one MULTI-ARGUMENT ``xxhash64`` over its ``n``
   word columns (r13: no joined window string is ever materialized; the
   hash length-delimits each argument and skips null tail padding, so
   equal windows — and only equal windows — collide).  The shuffle key
   is 8 bytes, never the window text;
3. one global ``groupBy(window_hash)`` finds duplicated windows and
   elects the OWNER occurrence per window: ``min(struct(doc_id, pos))``
   — deterministic and arrival-order-free (the paper keeps an arbitrary
   single occurrence; this keeps the lexicographically smallest, so the
   result is reproducible under any partitioning);
4. every non-owner occurrence of a duplicated window masks its ``n``
   word positions; surviving words re-join into ``clean_text``.

Why this matches the paper's maximal-span behaviour: a duplicated
substring of m >= n words contributes m - n + 1 duplicated windows at
consecutive positions, whose union is exactly the maximal span — the
interval union in step 4 removes the whole repeated passage, not just
one window of it.  Two identical documents therefore keep one intact
copy (the min doc_id) and strip the other to "".

Documented divergences from the suffix-array algorithm: (a) duplicated
substrings SHORTER than ``n`` words are not detected (the paper has the
same threshold, in BPE tokens); (b) when distinct duplicated substrings
overlap inside one document the union removes their cover — a
deterministic superset, the same rule span_dedup documents for
overlapping sentence spans; (c) matching is case-sensitive on exact
whitespace words (the paper matches exact BPE ids).

100 TB framing: window rows are (doc_id, pos, hash) = 20 fixed-width
bytes, O(total words) of them — the decontamination gram-explode band.
Wide ops: the window-hash groupBy (partial-combine-friendly: count +
min-of-struct), the join of occurrences back to the (usually tiny)
duplicated-window table on the 8-byte hash — AQE broadcasts it when
duplication is rare — and a per-doc collect of masked INTEGER
positions.  Text itself never shuffles; the rebuild joins the narrow
mask back to the corpus by doc_id.  A window duplicated across the
whole corpus is one row in the dup table but skews the occurrence join's
hash partitions exactly like any hot key: AQE skew-join territory, rows
are 20 bytes.

Values gate: exact DuckDB twin (group-by window TEXT — same equivalence
classes as the hash, collision-free at test scale) in
tests/test_substring_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _words(text: Column) -> Column:
    """Whitespace words of ``text`` with empty tokens dropped; null/empty
    text yields an EMPTY array (never null, never [''])."""
    toks = F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")
    return F.filter(toks, lambda w: w != "")


def _window_hashes(words: Column, n: int) -> Column:
    """xxhash64 of every full-length ``n``-word window of ``words`` —
    window i hashes the n word COLUMNS directly (multi-argument
    xxhash64), so no window string is ever materialized; [] when there
    are fewer than ``n`` words.  Same equivalence classes as hashing
    the space-joined window text (words contain no whitespace, and
    multi-arg xxhash64 length-delimits each word), which is all the
    owner election consumes — the g value itself never reaches the
    output.  Case-sensitive — dedup matches exact content, unlike the
    lowercased shingles the similarity sketches use
    (text_stats.ngram_shingles).  ``words`` MUST be a pre-projected
    attribute, not an expression: the lambda references it per
    try_element_at, and a captured expression tree re-runs the split
    per reference (measured 7× blow-up on the sibling decontamination
    path).  r13: this replaced a zip_with window-string chain whose
    per-gram string build dominated the n=13 scan (O(len·n²) string
    bytes); hashing the word columns in place removes every gram-string
    allocation."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.xxhash64(
                *[F.try_element_at(words, i + F.lit(j)) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _occurrences_catalyst(df, n, id_col, text_col):
    """(id, pos, g) window occurrences, Catalyst path: multi-arg
    xxhash64 over each window's word columns — no window strings."""
    return df.select(
        F.col(id_col), _words(F.col(text_col)).alias("__ws")
    ).select(
        F.col(id_col),
        F.posexplode(_window_hashes(F.col("__ws"), n)).alias("pos", "g"),
    )


def _occurrences_fast(df, n, id_col, text_col):
    """(id, pos, g) window occurrences, Arrow path: per-word blake2b-8
    hashes (Zipf-memoized) + the vectorized polynomial rolling hash from
    decontamination._poly_gram_hashes — O(words) numpy work per doc, no
    window strings ever built.  Same equivalence classes as the Catalyst
    path modulo hash family (test-pinned fast ≡ catalyst); tokenization
    mirrors the Catalyst ``split(trim(text), '\\s+')`` exactly — Java
    ``\\s`` is ASCII-only and ``trim`` strips spaces only — but keeps
    ORIGINAL case (dedup matches exact content; the decontamination
    splitter lowercases because GPT-3 gram matching does)."""
    import re

    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def scan(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from llmxmapreduce_spark.operators.decontamination import (
            _poly_gram_hashes)

        cache: dict = {}

        def word_hash(w: str) -> int:
            v = cache.get(w)
            if v is None:
                v = int.from_bytes(
                    hashlib.blake2b(w.encode(),
                                    digest_size=8).digest(), "big")
                cache[w] = v
            return v

        for pdf in batches:
            ids: list = []
            poss: list = []
            gs: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ws = [w for w in java_ws.split((t or "").strip(" ")) if w]
                if len(ws) < n:
                    continue
                h = np.array([word_hash(w) for w in ws], dtype=np.uint64)
                g = _poly_gram_hashes(h, n)
                m = len(g)
                ids.append(np.full(m, i, dtype=np.int64))
                poss.append(np.arange(m, dtype=np.int32))
                gs.append(g.view(np.int64))
            if ids:
                yield pd.DataFrame({
                    id_col: np.concatenate(ids),
                    "pos": np.concatenate(poss),
                    "g": np.concatenate(gs)})

    return df.select(id_col, text_col).mapInPandas(
        scan, f"{id_col} long, pos int, g long")


def duplicate_window_mask(
    df: DataFrame,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "catalyst",
) -> DataFrame:
    """(id_col, pos) for every word-window occurrence that a duplicate
    elsewhere in the corpus makes REMOVABLE — i.e. every occurrence of a
    duplicated window except its owner (min (doc_id, pos)).  Exposed
    separately so callers can audit what `substring_dedup` would remove
    (the paper's App. C analysis) without rebuilding text.

    ``mode``: "catalyst" (default — DuckDB-twin-matched, whole-stage
    codegen) or "fast" (Arrow rolling-hash occurrence scan — identical
    output modulo hash family, test-pinned; the production choice when
    window length is large, since the Catalyst chain's cost grows with
    n while the polynomial hash's numpy pass is O(words) regardless)."""
    if mode not in ("catalyst", "fast"):
        raise ValueError(f"unknown mode {mode!r}")
    gen = _occurrences_fast if mode == "fast" else _occurrences_catalyst
    occ = gen(df, n, id_col, text_col)
    # one partial-agg-friendly pass: occurrence count + owner election
    dup = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__c"),
             F.min(F.struct(id_col, "pos")).alias("__own"))
        .filter(F.col("__c") > 1)
        .select("g", "__own")
    )
    return (
        occ.join(dup, "g")
        .filter(~((F.col(id_col) == F.col(f"__own.{id_col}"))
                  & (F.col("pos") == F.col("__own.pos"))))
        .select(id_col, "pos")
    )


def substring_dedup(
    df: DataFrame,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "catalyst",
) -> DataFrame:
    """Lee et al. ExactSubstr dedup (arXiv:2107.06499 §4.1), word-window
    formulation — see the module docstring.  → (id_col, clean_text,
    n_words, n_removed_words) for EVERY input row (unique content passes
    through with 0 removed; the non-owner copy of a fully-duplicated doc
    comes back as "").  ``clean_text`` re-joins surviving words with
    single spaces — token content is what training cares about, original
    whitespace is not preserved (the mask_contamination contract)."""
    masked = (
        duplicate_window_mask(df, n=n, id_col=id_col, text_col=text_col,
                              mode=mode)
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__mpos"))
    )
    out = (
        df.join(masked, id_col, "left")
        .withColumn("__mpos", F.coalesce(F.col("__mpos"),
                                         F.array().cast("array<int>")))
        .withColumn("__w", _words(F.col(text_col)))
        .withColumn("__keep", F.filter(
            F.col("__w"),
            lambda w, i: ~F.exists(
                F.col("__mpos"),
                lambda p: (i >= p) & (i < p + F.lit(n))),
        ))
    )
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", F.col("__keep")).alias("clean_text"),
        F.size("__w").cast("long").alias("n_words"),
        (F.size("__w") - F.size("__keep")).cast("long")
        .alias("n_removed_words"),
    )
