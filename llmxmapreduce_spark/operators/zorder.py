"""Z-order (Morton-curve) multi-column layout clustering.

Partitioning prunes on ONE directory column and a plain sort clusters
ONE leading column, but a 100 TB table queried by several independent
predicates (user AND time, host AND language) needs MULTI-column data
skipping.  Sorting by the
interleaved-bit Morton code gives every participating column locality
at once: parquet row-group min/max stats become tight on ALL of them,
so any single-column or box predicate skips most row groups (the same
trade Delta's OPTIMIZE ZORDER BY and ClickHouse's mortonEncode make —
public, engine-independent math; no proprietary behavior assumed).

Spark-first construction — everything stays in whole-stage codegen:

- ``zorder_key`` min-max-normalizes each column to ``bits``-bit integers
  (one bounded ``agg(min,max)`` job unless stats are passed in) and
  interleaves them with a shiftright/AND/shiftleft expression tree —
  pure Catalyst arithmetic, no UDF, no shuffle.
- ``zorder_sort`` range-partitions on the key and sorts within
  partitions — the standard two-exchange-free clustered-write shape
  (one range exchange; the local sort feeds parquet writers directly).

Normalization is the repo's portable-double convention: ``floor((x -
min) * (2^bits - 1) / (max - min))`` evaluated in IEEE doubles with the
same operation order in Spark and DuckDB, so the DuckDB twin is
values-grade.  Nulls normalize to 0 (they sort
first, like parquet's nulls-first stats).  Timestamps go through epoch
micros; total key width n_cols*bits must fit 63 bits.

Bit layout: bit ``i`` of column ``c`` (c = 0 is the FIRST column in
``cols``) lands at position ``i * n_cols + c`` — i.e. columns take
turns per significance level and earlier columns get the LOWER lane at
each level.  Any fixed convention works; this one is documented so the
oracle and the pure-Python test reference pin it.

Scale notes: the min/max agg is a partial-aggregated scan (no wide
shuffle, 2 doubles per column of state); at 100 TB you'd pass
``stats`` from catalog/table metadata instead.  ``zorder_sort``'s
range exchange samples the key like any repartitionByRange — skew in
the key space only affects partition balance, not correctness.  An
aligned 2^s-cell hyper-box is CONTIGUOUS in key space (the quadtree
property the tests pin), which is what turns box predicates into
row-group range scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(df: DataFrame, c: str) -> Column:
    """Numeric view of a column for min-max scaling (timestamp → epoch
    micros so the arithmetic is exact integer-valued doubles)."""
    t = df.schema[c].dataType.typeName()
    if t.startswith("timestamp"):
        return F.unix_micros(F.col(c)).cast("double")
    if t == "date":
        return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
    return F.col(c).cast("double")


def column_stats(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """One bounded agg job: (min, max) per participating column, as the
    doubles the normalization consumes.  At real scale pass catalog
    stats to ``zorder_key`` instead of calling this."""
    aggs = []
    for c in cols:
        v = _as_double(df, c)
        aggs += [F.min(v).alias(f"__mn_{c}"), F.max(v).alias(f"__mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols}


def normalized_col(df: DataFrame, c: str, mn: float, mx: float,
                   bits: int) -> Column:
    """floor((x - min) * (2^bits - 1) / (max - min)) clamped to the bit
    range; null → 0.  IEEE-portable: sub/mul/div/floor in this exact
    order is what the DuckDB oracle mirrors."""
    k = float((1 << bits) - 1)
    v = _as_double(df, c)
    if mn is None or mx is None or mx <= mn:
        scaled = F.lit(0).cast("long")
    else:
        scaled = F.floor((v - F.lit(float(mn))) * F.lit(k)
                         / F.lit(float(mx) - float(mn)))
        scaled = F.least(F.greatest(scaled, F.lit(0)), F.lit(int(k)))
    return F.coalesce(scaled, F.lit(0)).cast("long")


def interleave_bits(cols: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits``-bit integer columns: bit i of cols[c]
    → position i*len(cols)+c.  Pure shift/AND/shift arithmetic — the
    bit lanes are disjoint so the combine is a plain sum, which both
    Catalyst and the SQL oracle express identically."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"zorder: {n} cols x {bits} bits > 63-bit key")
    terms = []
    for c_idx, col in enumerate(cols):
        for i in range(bits):
            terms.append(F.shiftleft(
                F.shiftright(col, i).bitwiseAND(F.lit(1)),
                i * n + c_idx))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    stats: dict[str, tuple[float, float]] | None = None,
    out_col: str = "zkey",
) -> DataFrame:
    """Append the Morton key over ``cols``.  ``stats`` — optional
    {col: (min, max)} (catalog metadata at real scale); computed with
    one agg job when omitted."""
    if not cols:
        raise ValueError("zorder_key: need at least one column")
    if stats is None:
        stats = column_stats(df, cols)
    lanes = [normalized_col(df, c, *stats[c], bits=bits) for c in cols]
    return df.withColumn(out_col, interleave_bits(lanes, bits))


def zorder_sort(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    n_partitions: int | None = None,
    stats: dict[str, tuple[float, float]] | None = None,
    keep_key: bool = False,
) -> DataFrame:
    """Cluster the DataFrame along the Morton curve: range-partition on
    the key, sort within partitions (ONE exchange; the local sort feeds
    the parquet writer).  Write the result with plain ``.parquet(path)``
    — the row-group min/max stats do the pruning from then on."""
    keyed = zorder_key(df, cols, bits=bits, stats=stats)
    parted = (keyed.repartitionByRange(n_partitions, "zkey")
              if n_partitions else keyed.repartitionByRange("zkey"))
    out = parted.sortWithinPartitions("zkey")
    return out if keep_key else out.drop("zkey")


def zorder_key_sql(
    table: str,
    cols: list[str],
    bits: int = 16,
    out_col: str = "zkey",
    id_cols: list[str] | None = None,
) -> str:
    """The DuckDB mirror of ``zorder_key`` for values oracles: same
    min-max CTE, same floor((x-min)*K/range) double arithmetic, same
    bit-lane sum.  Numeric/timestamp columns only (timestamps must be
    pre-cast to epoch micros by the caller's projection)."""
    n = len(cols)
    k = (1 << bits) - 1
    mm = ", ".join(
        f"CAST(MIN({c}) AS DOUBLE) AS mn_{i}, "
        f"CAST(MAX({c}) AS DOUBLE) AS mx_{i}"
        for i, c in enumerate(cols))
    lanes = []
    for i, c in enumerate(cols):
        lanes.append(
            f"CAST(COALESCE(LEAST(GREATEST(FLOOR((CAST({c} AS DOUBLE) - mn_{i})"
            f" * {k}.0 / (mx_{i} - mn_{i})), 0), {k}), 0) AS BIGINT) AS v_{i}")
    terms = []
    for c_idx in range(n):
        for i in range(bits):
            terms.append(f"(((v_{c_idx} >> {i}) & 1) << {i * n + c_idx})")
    ids = ", ".join(id_cols) + ", " if id_cols else ""
    return f"""
        WITH mm AS (SELECT {mm} FROM {table}),
        lanes AS (SELECT {ids}{", ".join(lanes)} FROM {table}, mm)
        SELECT {ids}{" + ".join(terms)} AS {out_col} FROM lanes
    """
