"""Corpus datasheet report: hierarchical composition stats in one scan
(scale extension).

Dataset releases ship a datasheet ("Datasheets for Datasets", Gebru et
al. CACM'21; The Pile §2, RefinedWeb §4 publish exactly these tables):
document/word/char totals per source, per (source, language), and
overall.  Computing each level as its own groupBy re-scans the corpus
once per level; ROLLUP computes the whole prefix hierarchy in ONE scan —
Spark expands each input row to its grouping-set combinations
executor-side (the Expand operator) and partial-aggregates map-side, so
the shuffle carries one partial row per (cell, level), never raw rows
(the same reason a plain groupBy scales).  At 100 TB this is a single
projected pass over (strata, two ints); the result is bounded by the
stratum cardinality product, driver-trivial.

``level`` is the GROUPING bitmask (0 = finest cell, full mask = grand
total) — it disambiguates a rollup NULL from a genuinely-null stratum
value, so null-lang corpora don't merge into the per-source subtotal
row.  The average is reported as ``avg_words_micro`` — an exact integer
(total·10⁶ div n) — because decimal/double division rounding is NOT
portable across engines while integer division is (the verify-gate
convention; callers wanting a float divide by 1e6).

Values gate: exact DuckDB twin (``GROUP BY ROLLUP`` + ``GROUPING()``);
level semantics / null-stratum /
single-Exchange plan tests in tests/test_report.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llmxmapreduce_spark.functions.text import token_count_ws


def corpus_report(
    df: DataFrame,
    strata: tuple = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """→ one row per rollup cell of ``strata`` (finest → grand total):
    (strata..., level, n_docs, total_words, total_chars,
    avg_words_micro).  Words are whitespace tokens (the p16 ``n_ws``
    convention); ``level`` = grouping bitmask."""
    cols = list(strata)
    base = df.select(
        *cols,
        token_count_ws(F.col(text_col)).alias("__w"),
        F.length(F.col(text_col)).cast("long").alias("__c"),
    )
    out = (
        base.rollup(*cols)
        .agg(
            F.grouping_id().cast("long").alias("level"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__w").cast("long").alias("total_words"),
            F.sum("__c").cast("long").alias("total_chars"),
        )
        .withColumn(
            "avg_words_micro",
            F.expr("total_words * 1000000 div n_docs").cast("long"))
    )
    return out.select(*cols, "level", "n_docs", "total_words",
                      "total_chars", "avg_words_micro")


def crosstab_counts(
    df: DataFrame,
    row_col: str,
    col_col: str,
    values: list[str],
    prefix: str = "n_",
) -> DataFrame:
    """Contingency table with EXPLICIT pivot values: one row per
    ``row_col``, one ``{prefix}{v}`` count column per v in ``values``
    (rows whose ``col_col`` is outside ``values`` fall into none).

    Always pass ``values``: Spark's .pivot() without them runs an extra
    distinct job AND makes the output schema data-dependent — a
    downstream-breaking property at 100 TB (a new category silently
    adds a column).  With explicit values the whole thing is ONE
    partial-agg pass of conditional sums, and absent combinations are
    exact zeros, not nulls."""
    if not values:
        raise ValueError("crosstab_counts: explicit values required")
    aggs = [
        # coalesce the flag, not the sum: a group whose col_col is all
        # null must count 0, and (null == v) is null, which sum skips
        F.sum(F.coalesce((F.col(col_col) == F.lit(v)).cast("long"),
                         F.lit(0))).alias(f"{prefix}{v}")
        for v in values
    ]
    return df.groupBy(row_col).agg(*aggs)
