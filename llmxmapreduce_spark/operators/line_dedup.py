"""Line/paragraph-level dedup — CCNet's per-line dedup (scale extension).

CCNet (Wenzek et al., arXiv:1911.00359 §3.1) deduplicates Common Crawl at
the PARAGRAPH (newline-delimited line) level before anything else: the
bulk of crawl duplication is boilerplate — navigation menus, cookie
banners, license footers — repeated verbatim across millions of pages,
and removing duplicated lines deletes ~70% of raw crawl text.  This sits
between span_dedup (3-sentence windows, C4) and substring_dedup (n-word
windows, Lee et al.) in the dedup-granularity ladder: exact doc → line →
sentence span → word window → MinHash near-dup → SemDeDup.

Two published semantics, both provided:

- ``mode="drop_all"`` (default — the CCNet §3.1 reading): a line whose
  corpus-wide frequency reaches ``min_count`` is removed from EVERY
  document, owner included.  Boilerplate is worthless in every copy;
  keeping one navigation menu trains on it once for no reason.
- ``mode="keep_owner"``: the min-(doc_id, pos) occurrence survives —
  the span/substring owner-election rule, for corpora where a repeated
  line is real content (quotes, headlines) and one copy should train.

Lines are keyed by their whitespace-TRIMMED text (leading indent is
rendering, not content); comparison is case-sensitive and blank lines
are never dedup keys (they are structure, not content — and a corpus-
wide blank-line key would be the hottest key in the aggregation for
zero value).  Output rebuilds ``clean_text`` by re-joining surviving
lines with single newlines.

100 TB framing: line rows shuffle as (doc_id, pos, xxhash64) fixed-width
triples — strictly FEWER rows than substring_dedup's per-word windows
(one per line vs one per word).  The frequency aggregation is
partial-combine-friendly (count + min-of-struct); the duplicated-line
table is usually tiny relative to the corpus and AQE-broadcastable for
the occurrence join.  The hottest real-world keys (empty-ish boilerplate
like "Home") skew the groupBy exactly like any hot key — AQE territory,
rows are 20 bytes.

Values gate: exact DuckDB twin (line-text-keyed) in
tests/test_line_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _lines(text: Column) -> Column:
    """(pos, line) structs for every NON-BLANK trimmed line of ``text``;
    blank/whitespace-only lines keep their positions (they come back in
    the rebuild spacing) but never become dedup keys."""
    raw = F.split(F.coalesce(text, F.lit("")), r"\n")
    return F.filter(
        F.transform(raw, lambda l, i: F.struct(
            i.alias("pos"), F.trim(l).alias("line"))),
        lambda s: s["line"] != "")


def line_dedup(
    df: DataFrame,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "drop_all",
) -> DataFrame:
    """CCNet per-line dedup — see the module docstring.  → (id_col,
    clean_text, n_lines, n_removed_lines) for EVERY input row; blank
    lines are neither counted nor removed (n_lines counts non-blank
    lines), and ``clean_text`` re-joins surviving non-blank trimmed
    lines with single newlines."""
    if mode not in ("drop_all", "keep_owner"):
        raise ValueError(f"unknown mode {mode!r}")
    if min_count < 2:
        raise ValueError("min_count < 2 would remove every line")
    occ = df.select(
        F.col(id_col), F.explode(_lines(F.col(text_col))).alias("s")
    ).select(id_col, F.col("s.pos").alias("pos"),
             F.xxhash64(F.col("s.line")).alias("g"))
    dup = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__c"),
             F.min(F.struct(id_col, "pos")).alias("__own"))
        .filter(F.col("__c") >= min_count)
        .select("g", "__own")
    )
    removed = occ.join(dup, "g")
    if mode == "keep_owner":
        removed = removed.filter(
            ~((F.col(id_col) == F.col(f"__own.{id_col}"))
              & (F.col("pos") == F.col("__own.pos"))))
    masked = removed.groupBy(id_col).agg(
        F.collect_set("pos").alias("__mpos"))
    out = (
        df.join(masked, id_col, "left")
        .withColumn("__mpos", F.coalesce(F.col("__mpos"),
                                         F.array().cast("array<int>")))
        .withColumn("__l", _lines(F.col(text_col)))
        .withColumn("__keep", F.filter(
            F.col("__l"),
            lambda s: ~F.array_contains(F.col("__mpos"), s["pos"])))
    )
    return out.select(
        F.col(id_col),
        F.concat_ws(
            "\n", F.transform(F.col("__keep"), lambda s: s["line"]))
        .alias("clean_text"),
        F.size("__l").cast("long").alias("n_lines"),
        (F.size("__l") - F.size("__keep")).cast("long")
        .alias("n_removed_lines"),
    )
