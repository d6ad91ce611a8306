"""Frequency sketching: heavy hitters with bounded state.

``top_frequent`` (the exact path) is a plain groupBy-count — fine when
the number of DISTINCT keys fits a shuffle.  At 100 TB the interesting
keys are things like hostnames, n-grams, or user ids with *billions*
of distinct values, where the full count table itself is the problem.
``heavy_hitters`` bounds the state with a Misra-Gries summary
(Misra & Gries 1982; mergeable form per Agarwal et al., PODS 2012):

  pass 1  mapInPandas keeps at most ``capacity`` counters per
          partition (merge each Arrow batch's Counter, then compress:
          subtract the (capacity+1)-th largest count from all, drop
          the non-positive — the batched equivalent of the classic
          decrement step).  Summary rows shuffle as (key, est) pairs,
          ≤ capacity × n_partitions of them plus one null-key sentinel
          per partition carrying that partition's row count — NEVER
          one row per distinct key.
  merge   one groupBy-sum over summaries, then ONE more compress using
          the (capacity+1)-th largest merged estimate as the cut
          (a bounded takeOrdered, not a collect of the summary).  The
          mergeable-summaries argument (every decrement of size d
          removes ≥ d·(capacity+1) total weight, and total weight is
          N) bounds the cumulative undercount by N/(capacity+1) —
          across partition sketches AND the final compress — so every
          key with true frequency > N/(capacity+1) still has a
          positive estimate and SURVIVES, under any partitioning.
          A naive "keep the capacity largest estimates" cut does NOT
          have this guarantee (a barely-qualifying hitter can carry a
          tiny estimate and be outranked); the compress cut does.
  pass 2  exact recount of the ≤ capacity surviving candidates
          (broadcast semi-join) and the threshold filter
          ``freq > N/(capacity+1)``.

The recount makes the THRESHOLDED output exact and therefore
partition-independent and engine-portable: it equals DuckDB's
``GROUP BY key HAVING count(*) > N/(capacity+1)`` — the values oracle,
even though the intermediate sketch is
approximate.  Two projected scans of one column, bounded memory
everywhere; that is the trade a 100 TB frequency query wants.

Null keys don't count: rows whose key is null are excluded from both N
and the candidates (the null lane is the sentinel channel).
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_frequent(df: DataFrame, col: str | Column, k: int,
                 key_name: str = "key") -> DataFrame:
    """Exact top-``k`` values by frequency, deterministic ties
    (count desc, key asc).  → (key, freq).  The full distinct-key count
    table shuffles — use ``heavy_hitters`` when that table is huge."""
    c = F.col(col) if isinstance(col, str) else col
    counts = (df.select(c.alias(key_name))
              .groupBy(key_name).agg(F.count(F.lit(1)).alias("freq")))
    return counts.orderBy(F.col("freq").desc(),
                          F.col(key_name).asc()).limit(k)


def _mg_compress(acc: Counter, capacity: int) -> None:
    if len(acc) <= capacity:
        return
    cut = sorted(acc.values(), reverse=True)[capacity]
    for k in [k for k, v in acc.items() if v <= cut]:
        del acc[k]
    for k in acc:
        acc[k] -= cut


def mg_summaries(df: DataFrame, col: str, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries summaries: ≤ ``capacity`` non-null
    (key, est) rows per input partition (est ≤ true partition count,
    total undercount ≤ n_p/(capacity+1)) plus ONE null-key sentinel row
    whose ``n_seen`` is the partition's non-null row count."""
    if capacity < 1:
        raise ValueError("mg_summaries: capacity must be >= 1")
    src = df.select(F.col(col).cast("string").alias("key"))

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: Counter = Counter()
        n_seen = 0
        for b in batches:
            vals = b["key"].dropna()
            n_seen += len(vals)
            acc.update(Counter(vals))
            _mg_compress(acc, capacity)
        keys = list(acc.keys()) + [None]
        ests = [int(acc[k]) for k in acc] + [0]
        ns = [0] * len(acc) + [n_seen]
        yield pd.DataFrame({
            "key": pd.Series(keys, dtype="object"),
            "est": pd.Series(ests, dtype="int64"),
            "n_seen": pd.Series(ns, dtype="int64"),
        })

    return src.mapInPandas(sketch, "key string, est long, n_seen long")


def heavy_hitters(df: DataFrame, col: str, capacity: int = 1024,
                  key_name: str = "key") -> DataFrame:
    """All values of ``col`` with frequency > N/(capacity+1), with
    EXACT frequencies → (key_name, freq).  Sketch-guided two-pass plan
    (module docstring); the output is deterministic under any
    partitioning and equals the plain exact HAVING query."""
    summaries = mg_summaries(df, col, capacity).localCheckpoint(eager=True)
    n_total = summaries.agg(F.sum("n_seen")).collect()[0][0] or 0
    if n_total == 0:
        return (df.sparkSession.createDataFrame([], f"{key_name} string,"
                                                    " freq long"))
    merged = (summaries.filter(F.col("key").isNotNull())
              .groupBy("key").agg(F.sum("est").alias("est"))
              .localCheckpoint(eager=True))
    # final compress cut: (capacity+1)-th largest merged estimate —
    # a bounded takeOrdered of capacity+1 rows, never a summary collect
    top = merged.orderBy(F.col("est").desc()).limit(capacity + 1).collect()
    cut = int(top[capacity]["est"]) if len(top) > capacity else 0
    cands = merged.filter(F.col("est") > F.lit(cut))
    threshold = n_total / (capacity + 1)
    exact = (
        df.select(F.col(col).cast("string").alias("key"))
        .join(F.broadcast(cands.select("key")), "key", "left_semi")
        .groupBy("key").agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") > F.lit(threshold))
    )
    return exact.select(F.col("key").alias(key_name), "freq")


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — point-frequency
# estimates with bounded, MERGEABLE, persistable state: the frequency
# companion of the HLL register table (operators/hll.py) and the
# Misra-Gries summary above.  MG answers "which keys are heavy"; CMS
# answers "how often did THIS key occur" for any key, with one-sided
# error: est >= true always, est <= true + eps*N with probability
# 1 - delta for width = ceil(e/eps), depth = ceil(ln(1/delta)).
#
# Spark-first: counts are ONE groupBy over (depth, cell) — the sketch
# table is depth*width bigint rows regardless of corpus size, built
# with partial aggregation (map-side combine eats the corpus).  Two
# sketches MERGE by cellwise addition (union + groupBy-sum), so daily
# sketches roll up like the HLL registers.  Row hashes use the
# Kirsch-Mitzelmacher double-hashing family h1 + d*h2 (the bloom_join
# convention) over the portable md5 slice, so the whole table is
# engine-exact and can cross a values-grade oracle.
# ---------------------------------------------------------------------------


def cms_sketch(df: DataFrame, col: str, width: int = 2048,
               depth: int = 5, by: list[str] | str | None = None,
               weight_col: str | None = None) -> DataFrame:
    """→ ``(by..., d, cell, cnt)`` — the Count-Min table for ``col``
    (optionally weighted by ``weight_col``); nulls skipped.  Only
    non-empty cells materialize (sparse; ≤ depth × min(width, distinct)
    rows per group)."""
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2, depth >= 1 "
                         f"(got {width}, {depth})")
    by = [by] if isinstance(by, str) else (by or [])
    s = F.col(col).cast("string")
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    rows = (df.filter(F.col(col).isNotNull())
            .select(*by, h.alias("__h"),
                    (F.col(weight_col).cast("long") if weight_col
                     else F.lit(1)).alias("w"))
            # h2 via integer DIV — floor(h/width) through a double
            # would lose low bits past 2^53 and diverge from the
            # oracle's exact `//`
            .select(*by,
                    (F.col("__h") % F.lit(width)).alias("h1"),
                    (F.expr(f"__h DIV {width}") % F.lit(width - 1) + 1)
                    .alias("h2"), "w")
            .select(*by, F.explode(F.sequence(F.lit(0),
                                              F.lit(depth - 1))).alias("d"),
                    "h1", "h2", "w")
            .select(*by, "d",
                    # (width, depth) ride as column metadata so
                    # cms_query/cms_merge can validate compatibility —
                    # a mismatched query hash space returns freq_est=0
                    # for genuinely frequent keys with no error
                    # (r10 review)
                    ((F.col("h1") + F.col("d") * F.col("h2"))
                     % F.lit(width)).alias(
                         "cell", metadata={"cms_width": width,
                                           "cms_depth": depth}),
                    "w"))
    return rows.groupBy(*by, "d", "cell").agg(F.sum("w").alias("cnt"))


def _check_cms(sketch: DataFrame, width: int, depth: int,
               what: str) -> None:
    meta = sketch.schema["cell"].metadata or {}
    if "cms_width" in meta and (meta["cms_width"] != width
                                or meta.get("cms_depth") != depth):
        raise ValueError(
            f"{what}: sketch was built with width="
            f"{meta['cms_width']}, depth={meta.get('cms_depth')} but "
            f"this call uses width={width}, depth={depth} — hash "
            f"spaces are incompatible and estimates would be silently "
            f"wrong")


def cms_merge(*sketches: DataFrame,
              by: list[str] | str | None = None) -> DataFrame:
    """Cellwise addition — CMS tables built with the same (width,
    depth) merge exactly (linearity of the counters); dimensions are
    validated via the ``cms_width``/``cms_depth`` column metadata."""
    by = [by] if isinstance(by, str) else (by or [])
    dims = {((s.schema["cell"].metadata or {}).get("cms_width"),
             (s.schema["cell"].metadata or {}).get("cms_depth"))
            for s in sketches}
    dims.discard((None, None))
    if len(dims) > 1:
        raise ValueError(f"cms_merge: incompatible sketch dimensions "
                         f"{sorted(dims)}")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*by, "d", "cell").agg(F.sum("cnt").alias("cnt"))


def cms_query(sketch: DataFrame, keys: DataFrame, col: str,
              width: int = 2048, depth: int = 5,
              by: list[str] | str | None = None) -> DataFrame:
    """Point-frequency estimates for ``keys[col]`` →
    ``(by..., col, freq_est)`` where ``freq_est = min over depth rows``
    (the CMS estimator; >= true count always).  The key side re-derives
    its cells with the identical hash family and joins the (tiny)
    sketch — broadcast when it fits.  (width, depth) are validated
    against the sketch's column metadata when present."""
    by = [by] if isinstance(by, str) else (by or [])
    _check_cms(sketch, width, depth, "cms_query")
    s = F.col(col).cast("string")
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    probes = (keys.filter(F.col(col).isNotNull())
              .select(*by, F.col(col), h.alias("__h"))
              .select(*by, col,
                      (F.col("__h") % F.lit(width)).alias("h1"),
                      (F.expr(f"__h DIV {width}") % F.lit(width - 1) + 1)
                      .alias("h2"))
              .select(*by, col,
                      F.explode(F.sequence(F.lit(0),
                                           F.lit(depth - 1))).alias("d"),
                      "h1", "h2")
              .select(*by, col, "d",
                      ((F.col("h1") + F.col("d") * F.col("h2"))
                       % F.lit(width)).alias("cell")))
    joined = probes.join(F.broadcast(sketch), [*by, "d", "cell"], "left") \
        .fillna(0, subset=["cnt"])
    return joined.groupBy(*by, col).agg(F.min("cnt").alias("freq_est"))


def cms_sketch_sql(table: str, col: str, width: int = 2048,
                   depth: int = 5) -> str:
    """DuckDB twin of the ungrouped ``cms_sketch`` — the sketch table is
    pure integers, so it IS a values-grade oracle surface."""
    h = (f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) "
         f"AS UBIGINT)")
    return f"""
        WITH hashed AS (
            SELECT CAST({h} % {width} AS BIGINT) AS h1,
                   CAST(({h} // {width}) % {width - 1} + 1 AS BIGINT)
                     AS h2
            FROM {table} WHERE {col} IS NOT NULL),
        cells AS (
            SELECT d.range AS d,
                   CAST((h1 + d.range * h2) % {width} AS BIGINT) AS cell
            FROM hashed, range({depth}) d)
        SELECT CAST(d AS INTEGER) AS d, cell,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY d, cell
    """
