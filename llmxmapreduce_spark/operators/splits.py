"""Leakage-safe deterministic train/held-out splitting (scale extension).

Random row-level splits leak: near-duplicates, pages from the same site,
and shards of the same source document straddle the train/eval boundary,
and the model "generalizes" to text it effectively saw — Lee et al.
(arXiv:2107.06499 §6.2) measure exactly this train/test overlap inflating
eval scores.  The standard remedy is to split by a GROUPING KEY (domain,
canonical URL, dedup-cluster representative) so everything that shares a
key lands on the same side.

``holdout_split`` is a pure projection: bucket = hash(key, seed) mod D,
held-out iff bucket < heldout_frac·D.  No shuffle, no state, no sampling
pass — the split of any row is decidable locally from its key (plan
pinned Exchange-free), reproducible across runs/clusters, and STABLE
under corpus growth: new rows of an existing key join their side, and
existing rows never flip when data is added (a seeded ``sample()`` gives
neither property).  Composition with the dedup stack: run
``dedup_by_components`` first and split on the component representative,
or split on ``url_filter.url_host`` before any text work.

Hash path: ``xxhash64(key, seed)`` (fast, default) or the portable
md5 family (``portable=True`` — the dsir/_bucket convention) for
cross-engine oracle parity.

Values gate: exact DuckDB twin of the portable path;
fraction/cohesion/stability/plan tests in tests/test_splits.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DENOM = 1_000_000


def split_bucket(key: Column, seed: int = 42,
                 portable: bool = False) -> Column:
    """Deterministic bucket in [0, 1e6) from a key column — the seed is
    concatenated into the hashed value so different seeds give
    independent splits of the same corpus."""
    if portable:
        h = F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", key.cast("string"),
                                          F.lit(str(seed)))), 1, 15),
            16, 10).cast("decimal(38,0)")
    else:
        h = F.xxhash64(key.cast("string"), F.lit(seed))
    return F.pmod(h, F.lit(_DENOM)).cast("int")


def holdout_split(
    df: DataFrame,
    heldout_frac: float,
    key_col: str = "doc_id",
    seed: int = 42,
    portable: bool = False,
    split_col: str = "split",
) -> DataFrame:
    """Adds ``split_col`` ∈ {'train', 'heldout'}: held-out iff the key's
    bucket < heldout_frac·1e6.  All rows sharing ``key_col`` land on the
    same side; null keys hash as the string "NULL" sentinel (one side,
    deterministically — a null-keyed corpus slice must not silently
    scatter across both).  The realized fraction converges to
    ``heldout_frac`` over KEYS (not rows): a heavy key drags its whole
    mass to one side, which is the point."""
    if not 0.0 <= heldout_frac <= 1.0:
        raise ValueError(f"heldout_frac must be in [0,1], "
                         f"got {heldout_frac}")
    cut = int(round(heldout_frac * _DENOM))
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00NULL"))
    b = split_bucket(key, seed=seed, portable=portable)
    return df.withColumn(
        split_col,
        F.when(b < F.lit(cut), F.lit("heldout")).otherwise(F.lit("train")))


def kway_split(
    df: DataFrame,
    fracs: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 42,
    portable: bool = False,
    split_col: str = "split",
) -> DataFrame:
    """K-way keyed split — ``holdout_split`` generalized to the
    train/val/test (or any named-fraction) release shape: ``fracs``
    maps split name → fraction, summing to 1.0 (±1e-9).

    Same contract as the 2-way split: one bucket draw per KEY, so all
    rows of a key land in one split (near-dups/same-site pages can't
    straddle sides, Lee et al. 2107.06499 §6.2), assignments are
    growth-stable (adding corpus never flips existing keys), and
    different seeds give independent splits.  Cut points accumulate in
    SORTED NAME order so the assignment is independent of dict
    ordering: bucket ∈ [cut_{i-1}, cut_i) → name_i."""
    if not fracs:
        raise ValueError("kway_split: fracs must be non-empty")
    total = sum(fracs.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"kway_split: fractions must sum to 1.0, "
                         f"got {total}")
    if any(f < 0 for f in fracs.values()):
        raise ValueError("kway_split: fractions must be non-negative")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00NULL"))
    b = split_bucket(key, seed=seed, portable=portable)
    names = sorted(fracs)
    expr = None
    prev = 0
    acc = 0.0
    for name in names[:-1]:
        acc += fracs[name]
        cut = int(round(acc * _DENOM))
        cond = (b >= F.lit(prev)) & (b < F.lit(cut))
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
        prev = cut
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(
        F.lit(names[-1]))
    return df.withColumn(split_col, expr)


def kway_split_sql(table: str, fracs: dict[str, float],
                   key_col: str = "doc_id", seed: int = 42,
                   cols: str = "*") -> str:
    """DuckDB twin of ``kway_split(portable=True)``; ``cols`` is the
    projection of TABLE columns to carry (the bucket itself never
    surfaces)."""
    h = (f"CAST(('0x' || substr(md5(coalesce(CAST({key_col} AS VARCHAR),"
         f" chr(0) || 'NULL') || chr(31) || '{seed}'), 1, 15)) "
         f"AS UBIGINT) % {_DENOM}")
    names = sorted(fracs)
    acc = 0.0
    branches = []
    prev = 0
    for name in names[:-1]:
        acc += fracs[name]
        cut = int(round(acc * _DENOM))
        branches.append(f"WHEN b >= {prev} AND b < {cut} "
                        f"THEN '{name}'")
        prev = cut
    case = ("CASE " + " ".join(branches) + f" ELSE '{names[-1]}' END"
            if branches else f"'{names[-1]}'")
    outer = "* EXCLUDE (b)" if cols.strip() == "*" else cols
    return f"""
        SELECT {outer}, {case} AS split
        FROM (SELECT {cols}, {h} AS b FROM {table})
    """
