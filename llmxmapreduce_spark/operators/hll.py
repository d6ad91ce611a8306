"""HyperLogLog distinct-count sketches with PERSISTABLE, MERGEABLE
register state (Flajolet et al. 2007; the Misra-Gries companion in
``sketches.py`` covers heavy hitters, this covers cardinality).

Why not just ``approx_count_distinct``?  Spark's built-in answers one
query and throws the state away.  A 100 TB curation pipeline wants the
SKETCH as an artifact: per-source/per-day register tables that are

- **persistable** — parquet rows ``(group, register, max_rho)``;
- **mergeable** — union register tables and take max per register
  (associative + commutative + idempotent, so daily sketches roll up
  to monthly ones without rescanning the corpus);
- **auditable** — the estimate is a closed-form function of integer
  registers, reproducible in any engine.

Spark-first design: everything is Catalyst — one hash projection, one
``(group, register)`` partial-agg ``max`` (map-side combine eats the
corpus before the shuffle; shuffle rows are bounded by
``groups × 2^p``, never by data), one tiny per-group fold for the
estimate.  No UDFs, no driver state.

Portability: ``portable=True`` derives registers from an md5 slice (the
repo-wide convention for DuckDB-twin surfaces — the register table is
pure integers, so it can cross a values-grade oracle); the default uses
``xxhash64`` (JVM-side, faster).  ``rho`` (the 1-based position of the
leftmost 1-bit in the suffix) is computed as ``width + 1 - length(bin(
suffix))`` — ``bin()`` exists in both Spark and DuckDB and never
round-trips through floats.

Estimate: the classic alpha_m · m² / Σ 2^{-rho} with the small-range
linear-counting correction (m·ln(m/V) when the raw estimate ≤ 2.5·m and
empty registers exist).  Accuracy ~1.04/√m relative error — p=12
(m=4096, 1.6% typical) is the default; the estimate is advisory, the
register table is the artifact.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["hll_sketch", "hll_merge", "hll_estimate", "hll_alpha"]

# hash-suffix width in bits: registers consume p bits, rho reads the
# remaining SUFFIX_BITS; 32 suffix bits saturate past ~4e9 distinct
# values per register, far beyond any group cardinality the p<=16
# register budget can resolve anyway — and 32 keeps every intermediate
# comfortably inside a signed int64 in BOTH engines.
SUFFIX_BITS = 32


def hll_alpha(m: int) -> float:
    """The standard bias constant alpha_m (Flajolet et al. §4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hash64(cols, portable: bool):
    """Non-negative 63-bit integer hash of the value columns."""
    if portable:
        # md5 → 15 hex chars → 60-bit int (engine-portable, so DuckDB
        # can replay it).  Each column is
        # null-coalesced to a sentinel BEFORE concat_ws: concat_ws
        # silently drops nulls, so ('x', NULL) and (NULL, 'x') would
        # otherwise hash identically and undercount (r10 review).
        s = F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
            for c in cols])
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    # xxhash64 SKIPS null arguments (the hash is unchanged), so the
    # multi-column form needs the same sentinel discipline as above
    h = (F.xxhash64(*[F.coalesce(F.col(c).cast("string"),
                                 F.lit("\x00NULL")) for c in cols])
         if len(cols) > 1 else F.xxhash64(F.col(cols[0])))
    # clear the sign bit so shifts/mods behave identically everywhere
    return F.abs(h) - F.when(h == F.lit(-(1 << 63)),
                             F.lit(-(1 << 63))).otherwise(F.lit(0))


def hll_sketch(
    df: DataFrame,
    value_cols: list[str] | str,
    by: list[str] | str | None = None,
    p: int = 12,
    portable: bool = False,
) -> DataFrame:
    """→ ``(by..., register, max_rho)`` — the HLL register table for the
    distinct count of ``value_cols`` per group.

    Only NON-EMPTY registers are materialized (a sparse sketch: at most
    ``min(distinct, 2^p)`` rows per group); :func:`hll_estimate` treats
    missing registers as zero.  Null value tuples are skipped (SQL
    COUNT(DISTINCT) semantics for a single column; for multi-column
    tuples a row is skipped only when ALL value columns are null).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    value_cols = [value_cols] if isinstance(value_cols, str) else value_cols
    by = [by] if isinstance(by, str) else (by or [])
    m = 1 << p

    src = df.filter(
        F.greatest(*[F.col(c).isNotNull() for c in value_cols])
        if len(value_cols) > 1 else F.col(value_cols[0]).isNotNull())
    h = _hash64(value_cols, portable)
    # register = top p bits of the 60/63-bit hash's low (p+SUFFIX) window;
    # suffix = the SUFFIX_BITS below it.  Plain div/mod — shift-free, so
    # the same arithmetic runs verbatim in the oracle SQL.
    suffix_mod = F.lit(1 << SUFFIX_BITS)
    reg = (h % F.lit(m * (1 << SUFFIX_BITS))) / suffix_mod
    reg = F.floor(reg).cast("int")
    suffix = (h % suffix_mod).cast("long")
    # rho = position of the leftmost 1-bit in the SUFFIX_BITS-wide
    # suffix, 1-based; all-zero suffix -> SUFFIX_BITS + 1.
    rho = F.when(suffix == 0, F.lit(SUFFIX_BITS + 1)).otherwise(
        F.lit(SUFFIX_BITS) + 1 - F.length(F.bin(suffix)))
    # p rides as column metadata (the media_dedup band_key convention,
    # r10 review): a register table estimated or merged under a
    # DIFFERENT p silently produces garbage (m_nonempty > m → negative
    # empty-register count), so the consumers below validate it.
    keyed = src.select(*by,
                       reg.alias("register", metadata={"hll_p": p}),
                       rho.cast("int").alias("rho"))
    return keyed.groupBy(*by, "register").agg(
        F.max("rho").alias("max_rho"))


def _check_p(sketch: DataFrame, p: int, what: str) -> None:
    meta = sketch.schema["register"].metadata or {}
    if "hll_p" in meta and meta["hll_p"] != p:
        raise ValueError(
            f"{what}: sketch was built with p={meta['hll_p']} but this "
            f"call uses p={p} — register spaces are incompatible and "
            f"the result would be silently wrong")


def hll_merge(*sketches: DataFrame,
              by: list[str] | str | None = None) -> DataFrame:
    """Union register tables and keep the max per register — the
    mergeability that makes daily sketches roll up to monthly without
    rescanning.  All inputs must carry the same ``hll_p`` metadata
    (validated; register spaces under different p are incompatible)."""
    by = [by] if isinstance(by, str) else (by or [])
    metas = [(s.schema["register"].metadata or {}).get("hll_p")
             for s in sketches]
    known = {m for m in metas if m is not None}
    if len(known) > 1:
        raise ValueError(
            f"hll_merge: sketches built with different p values "
            f"{sorted(known)} cannot merge")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*by, "register").agg(
        F.max("max_rho").alias("max_rho"))


def hll_estimate(
    sketch: DataFrame,
    by: list[str] | str | None = None,
    p: int = 12,
) -> DataFrame:
    """→ ``(by..., n_distinct_est)`` from a register table.

    Classic estimator with the linear-counting small-range correction;
    ``n_distinct_est`` is a rounded bigint (the consumer-facing number —
    the register table remains the exact, portable artifact).  ``p``
    is validated against the sketch's ``hll_p`` metadata when
    present."""
    by = [by] if isinstance(by, str) else (by or [])
    _check_p(sketch, p, "hll_estimate")
    m = 1 << p
    alpha = hll_alpha(m)
    agg = sketch.groupBy(*by).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("z_nonempty"),
        F.count(F.lit(1)).alias("m_nonempty"))
    # empty registers contribute 2^0 = 1 each to Z
    z = F.col("z_nonempty") + (F.lit(m) - F.col("m_nonempty"))
    raw = F.lit(alpha * m * m) / z
    v = F.lit(m) - F.col("m_nonempty")          # count of empty registers
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0), linear).otherwise(raw)
    return agg.select(*by, F.round(est).cast("long")
                      .alias("n_distinct_est"))


def hll_sketch_sql(table: str, value_col: str, by: str,
                   p: int = 12) -> str:
    """DuckDB twin of ``hll_sketch(portable=True)`` over one value/one
    group column — the register table is pure integers, so it IS the
    values-grade oracle surface (the estimate, a double fold, stays
    engine-side advisory)."""
    m = 1 << p
    sfx = 1 << SUFFIX_BITS
    h = (f"CAST(('0x' || substr(md5(CAST({value_col} AS VARCHAR)),"
         f" 1, 15)) AS UBIGINT)")
    return f"""
        WITH hashed AS (
            SELECT {by},
                   CAST(({h} % {m * sfx}) // {sfx} AS INTEGER)
                     AS register,
                   CAST({h} % {sfx} AS BIGINT) AS suffix
            FROM {table} WHERE {value_col} IS NOT NULL),
        rho AS (
            SELECT {by}, register,
                   CAST(CASE WHEN suffix = 0 THEN {SUFFIX_BITS + 1}
                        ELSE {SUFFIX_BITS} + 1 - length(bin(suffix))
                        END AS INTEGER) AS r
            FROM hashed)
        SELECT {by}, register, CAST(MAX(r) AS INTEGER) AS max_rho
        FROM rho GROUP BY {by}, register
    """
