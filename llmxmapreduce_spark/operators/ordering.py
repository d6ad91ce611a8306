"""Deterministic corpus ordering: global shuffle, curriculum, interleave
(scale extension).

Training pipelines need a REPRODUCIBLE global order over the corpus
before sequence packing: GPT-3/LLaMA-style runs shuffle documents once
per epoch (a biased order — all of one crawl dump, then all of the next
— measurably hurts early-training loss), curriculum schedules feed
easy→hard (Bengio et al., ICML'09), and multi-source runs interleave
sources so every training window sees the target mixture.  None of
these are a Spark built-in: ``orderBy(rand())`` is not reproducible
across retries (rand() is per-partition-seeded, so a recomputed task
re-draws), and assigning a global CONTIGUOUS position naively is a
``row_number()`` over an unpartitioned window — every row through ONE
task, the canonical 100 TB killer (WindowExec "No Partition Defined").

The trick here: the shuffle key is ``md5(id ⊕ seed)``, uniform on
[0, 16^15) BY CONSTRUCTION, so global-order range cells are STATIC —
``cell = floor(key·C / 16^15)`` — a pure per-row function.  No range-
boundary sampling job (``repartitionByRange`` samples with a
nondeterministic plan-dependent seed), no localCheckpoint to pin an
exchange between jobs.  Positions are then

  pos = offset[cell] + (rank within cell)

with per-cell counts from ONE partial+final aggregate (≤ C rows to the
driver) and the rank from a window PARTITIONED by cell — each window
partition is ~n/C rows, sized by ``n_cells``.  Total cost: one
projected counts scan + one hash exchange on the 4-byte cell id.  At
100 TB set ``n_cells`` so a cell fits an executor core's memory (e.g.
2^20 cells ≈ 100 MB each); the offsets collect is still just C longs.

Determinism: position is the rank in a TOTAL order (md5 key, then id as
tiebreak) — a pure function of (data, seed), independent of
partitioning, task retries, cluster size, or engine (exact DuckDB
twins).

- :func:`deterministic_shuffle` — position = rank by md5(id, seed).
- :func:`curriculum_order` — position = rank by (bucket(score), md5
  key): easy→hard buckets, shuffled within each bucket.
- :func:`interleave_sources` — per-stratum shuffle positions, then
  global rank by (pos_in_stratum, stratum): round-robin over sources,
  so any prefix of the corpus holds each source in proportion ~1/K.

Values gates: exact DuckDB twins; permutation /
determinism / seed-independence / bucket-monotonicity / round-robin /
plan-shape tests in tests/test_ordering.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# md5 keys are 15 hex chars → uniform on [0, 16^15)
_KEY_MAX = 16 ** 15


def shuffle_key(id_col: Column, seed: int = 42) -> Column:
    """Portable uniform sort key on [0, 16^15): first 15 hex chars of
    md5(id ⊕ seed) as an integer (the splits/dsir md5 convention —
    DuckDB twin: ``CAST(('0x' || substr(md5(expr),1,15)) AS UBIGINT)``).
    Null ids hash as a sentinel so they get a deterministic slot."""
    key = F.coalesce(id_col.cast("string"), F.lit("\x00NULL"))
    return F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", key, F.lit(str(seed)))),
                    1, 15),
        16, 10).cast("decimal(38,0)")


def _static_cell(key: Column, n_cells: int, key_max: int) -> Column:
    """Range cell of a key KNOWN to be uniform on [0, key_max): a pure
    per-row function — cells are intervals of the key order, so
    per-cell offsets reconstruct global rank."""
    return F.least(F.lit(n_cells - 1),
                   F.floor(key * n_cells / F.lit(key_max))).cast("int")


def _positions(
    df: DataFrame,
    order_cols: list,
    cell: Column,
    pos_col: str,
    group_cols: list | None = None,
    spark=None,
) -> DataFrame:
    """Assign ``pos_col`` = 0-based rank in the total order given by
    ``group_cols + [cell] + order_cols``, contiguous WITHIN each
    ``group_cols`` group (global when ``group_cols`` is empty).

    The cell column must be a pure function of the row whose value is
    monotone w.r.t. ``order_cols`` order (an interval partition of it).
    One counts aggregate (≤ groups×cells rows collected) + one window
    partitioned by (group, cell)."""
    group_cols = list(group_cols or [])
    spark = spark or df.sparkSession
    work = df.withColumn("__cell", cell)

    gc = [F.col(c) for c in group_cols] + [F.col("__cell")]
    counts = (work.groupBy(*gc).agg(F.count(F.lit(1)).alias("__cnt"))
              .collect())
    # offsets: cumulative count of earlier cells within the same group
    by_group: dict = {}
    for r in counts:
        g = tuple(r[c] for c in group_cols)
        by_group.setdefault(g, []).append((r["__cell"], r["__cnt"]))
    rows = []
    for g, lst in by_group.items():
        acc = 0
        for c, n in sorted(lst):
            rows.append((*g, c, acc))
            acc += n
    off_schema = ", ".join(
        [f"{c} {dict(df.dtypes)[c]}" for c in group_cols]
        + ["__cell int", "__off long"])
    offsets = spark.createDataFrame(rows, schema=off_schema)

    w = (Window.partitionBy(*(group_cols + ["__cell"]))
         .orderBy(*order_cols))
    return (work
            .join(F.broadcast(offsets), group_cols + ["__cell"], "inner")
            .withColumn(pos_col,
                        (F.col("__off") + F.row_number().over(w) - 1))
            .drop("__cell", "__off"))


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    pos_col: str = "shuffle_pos",
    n_cells: int = 256,
) -> DataFrame:
    """Adds ``pos_col``: a 0..n-1 permutation, the rank of
    md5(id, seed) (ties — only possible via duplicate ids — broken by
    id).  Reproducible across runs, retries, and cluster sizes; a new
    ``seed`` is an independent permutation (the per-epoch reshuffle)."""
    key = shuffle_key(F.col(id_col), seed)
    work = df.withColumn("__key", key)
    out = _positions(work, [F.col("__key"), F.col(id_col).asc_nulls_first()],
                     _static_cell(F.col("__key"), n_cells, _KEY_MAX),
                     pos_col)
    return out.drop("__key")


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    seed: int = 42,
    pos_col: str = "curriculum_pos",
    ascending: bool = True,
    n_cells: int = 64,
) -> DataFrame:
    """Curriculum position: rank by (difficulty bucket, md5 key) —
    batches see bucket 0 first, shuffled within each bucket so the
    schedule is coarse (curriculum) but not sorted (which would
    correlate adjacent batches).  ``score_col`` must be in [0, 1]
    (e.g. a quality/complexity ratio from text_stats); bucket =
    min(n_buckets-1, floor(score·n_buckets)), descending schedules flip
    the bucket.  Null scores go to the LAST bucket (unknown difficulty
    trains last, deterministically)."""
    s = F.col(score_col)
    b = F.when(s.isNull(), F.lit(n_buckets - 1)).otherwise(
        F.least(F.lit(n_buckets - 1),
                F.floor(s * n_buckets)).cast("int"))
    if not ascending:
        b = F.lit(n_buckets - 1) - b
    key = shuffle_key(F.col(id_col), seed)
    work = df.withColumn("__bkt", b.cast("int")).withColumn("__key", key)
    # composite static cell: (bucket, hash cell) lexicographic — still an
    # interval partition of the (bucket, key) order
    cell = (F.col("__bkt") * n_cells
            + _static_cell(F.col("__key"), n_cells, _KEY_MAX)).cast("int")
    out = _positions(
        work,
        [F.col("__bkt"), F.col("__key"), F.col(id_col).asc_nulls_first()],
        cell, pos_col)
    return out.drop("__bkt", "__key")


def interleave_sources(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    pos_col: str = "interleave_pos",
    n_cells: int = 64,
) -> DataFrame:
    """Round-robin interleave: per-stratum shuffle positions ``p``, then
    global rank by (p, stratum) — position 0..K-1 is one doc of each of
    the K strata (in stratum order), then the next K, and so on until a
    stratum runs dry.  Any training prefix therefore holds each live
    stratum in equal counts — the "don't front-load one crawl dump"
    guarantee, reproducible per seed.  Null strata form their own
    stratum (sorted last — Spark and DuckDB both order NULL last ASC
    only with explicit handling, so nulls are sentinel-coalesced).

    Two passes of the same machinery: pass 1 groups by stratum (offsets
    per stratum), pass 2 re-cells on p (uniform on [0, max stratum
    size) — cells stay balanced until strata start running dry, AQE
    mops up the tail)."""
    strat = F.coalesce(F.col(strata_col).cast("string"), F.lit("\x00NULL"))
    key = shuffle_key(F.col(id_col), seed)
    work = df.withColumn("__strat", strat).withColumn("__key", key)
    p1 = _positions(
        work,
        [F.col("__key"), F.col(id_col).asc_nulls_first()],
        _static_cell(F.col("__key"), n_cells, _KEY_MAX),
        "__p", group_cols=["__strat"])
    max_p = p1.agg(F.max("__p")).collect()[0][0]
    if max_p is None:  # empty corpus — nothing to order
        return (df.withColumn(pos_col, F.lit(None).cast("long"))
                .filter(F.lit(False)))
    cell2 = _static_cell(F.col("__p"), n_cells, int(max_p) + 1)
    out = _positions(
        p1,
        [F.col("__p"), F.col("__strat")],
        cell2, pos_col)
    return out.drop("__strat", "__key", "__p")
