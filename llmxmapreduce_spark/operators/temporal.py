"""Temporal joins (scale extensions): as-of join and range (interval) join.

Neither exists in the reference (its event handling is per-survey Python
loops) nor as a Spark built-in — they are the two classic time-series
operators a 100 TB log/telemetry pipeline needs next to the windowed
aggregations (tumbling/sliding/session windows):

- **as-of join** — for every left row, the single most recent right row
  at-or-before its timestamp (per key): quote attachment, config
  snapshot lookup, "last touch" attribution.
- **range join** — left points joined to right INTERVALS containing
  them: session attribution, campaign windows, maintenance blackouts.

Spark-first formulations (no cartesian products, no per-row Python):

``asof_join`` uses the UNION-SORT trick: tag both sides, union on a
common schema, and run one ``last(payload, ignorenulls=True)`` window
per key ordered by (ts, side) — right rows sort before left rows at
equal timestamps, so the match is INCLUSIVE (ts_right <= ts_left),
exactly DuckDB's ``ASOF JOIN ... ON l.k = r.k AND l.ts >= r.ts``
semantics (the values oracle).  Cost: ONE shuffle of both inputs on the
key, then a linear per-key scan — strictly cheaper than the
window-bucketed double-join alternative and immune to right-side
density.  At 100 TB the scan parallelism is the number of distinct
keys; a single hot key serializes into one task, which is inherent to
as-of semantics (the match depends on every earlier right row) — salt
upstream by splitting the key's time range if one key dominates.

``range_join`` equi-joins on (key, time-bucket): each right interval
EXPLODES to the buckets it overlaps (``sequence``), each left point
lands in exactly ONE bucket, so the bucket equi-join finds every
containing interval with zero duplicate pairs and the exact
``BETWEEN`` predicate confirms.  Shuffle carries (key, bucket) — the
classic bucketed interval-join (Spark itself has no interval join;
Databricks' range-join hint does the same binning).  Pick ``bucket``
near the median interval length: explosion factor = len/bucket + 1.

Values gates: pytest twins in tests/test_temporal.py against DuckDB's
native ASOF LEFT JOIN and a BETWEEN join + rollup, including tolerance,
forward direction, empty sides, and the no-duplicate-pairs property.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance: Column | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """For every ``left`` row, attach the one ``right`` row with the
    largest ``right_ts`` <= ``left_ts`` (direction="backward", ties
    inclusive) or smallest ``right_ts`` >= ``left_ts`` ("forward"),
    matching on the equality key(s) ``on``.  LEFT-OUTER semantics: left
    rows with no match keep null right columns.

    ``value_cols`` — right columns to carry (default: everything except
    the key and timestamp).  The matched right timestamp is always
    emitted as ``right_ts + suffix``.  ``tolerance`` — optional max gap
    (a Column interval/duration, e.g. ``F.expr("INTERVAL 30 MINUTES")``
    for timestamps); matches farther away are nulled, preserving the
    row.

    Right rows that tie on (key, ts) resolve deterministically to the
    LAST one in ``(matched_ts, value_cols)``-struct order (max struct;
    the payload struct is part of the window sort key) — pre-dedup the
    right side if ties are meaningful.

    Null timestamps follow SQL comparison semantics (the DuckDB ASOF
    oracle): right rows with null ``right_ts`` are never matched, and
    left rows with null ``left_ts`` keep null right columns (review
    finding: asc-nulls-first ordering used to surface a null-ts right
    row as the "predecessor" of unmatched left rows).
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in keys and c != right_ts]
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_join: unknown direction {direction!r}")

    matched_ts = right_ts + suffix
    payload = F.struct(
        F.col(right_ts).alias(matched_ts),
        *[F.col(c).alias(c + suffix) for c in value_cols],
    )
    out_fields = [matched_ts] + [c + suffix for c in value_cols]

    r2 = right.filter(F.col(right_ts).isNotNull()).select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ats"),
        F.lit(0).alias("__side"),
        payload.alias("__p"),
        *[F.lit(None).cast(left.schema[c].dataType).alias("__l_" + c)
          for c in left.columns],
    )
    l2 = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ats"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r2.schema["__p"].dataType).alias("__p"),
        *[F.col(c).alias("__l_" + c) for c in left.columns],
    )
    # __p trails the sort key so (key, ts) ties resolve to a DETERMINISTIC
    # right row: right rows sort before the left row they tie with
    # (__side 0 < 1) in both directions, and among tied right rows
    # last() takes the max payload struct (asc order ⇒ last = max)
    ordering = [F.col("__ats").asc(), F.col("__side").asc()] \
        if direction == "backward" \
        else [F.col("__ats").desc(), F.col("__side").asc()]
    ordering.append(F.col("__p").asc())
    w = (Window.partitionBy(*keys).orderBy(*ordering)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    m = F.last("__p", ignorenulls=True).over(w)

    out = (
        r2.unionByName(l2)
        .withColumn("__m", m)
        .filter(F.col("__side") == 1)
        # a null left ts never satisfies l.ts >= r.ts (or <=): null the
        # match rather than whatever the null-ordering scan carried
        .withColumn("__m", F.when(F.col("__ats").isNotNull(),
                                  F.col("__m")))
    )
    if tolerance is not None:
        gap_ok = (
            (F.col("__ats") - F.col("__m")[matched_ts] <= tolerance)
            if direction == "backward"
            else (F.col("__m")[matched_ts] - F.col("__ats") <= tolerance)
        )
        out = out.withColumn(
            "__m", F.when(gap_ok, F.col("__m")))
    return out.select(
        *[F.col("__l_" + c).alias(c) for c in left.columns],
        *[F.col("__m")[f].alias(f) for f in out_fields],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    on: str | list[str] | None = None,
    bucket: float = 3600.0,
    how: str = "inner",
) -> DataFrame:
    """Join left POINT rows to right INTERVAL rows with
    ``start_col <= point_col <= end_col`` (and equality on ``on`` if
    given), without a cartesian/BroadcastNestedLoop plan.

    ``bucket`` — bin width in SECONDS for timestamp columns (numeric
    units for numeric columns).  Each interval is exploded to the
    buckets it overlaps; each point falls in exactly one bucket, so the
    (key, bucket) equi-join yields each qualifying pair EXACTLY ONCE
    and the exact BETWEEN predicate filters bucket-mates that miss.
    Explosion factor per interval = ceil(length/bucket) + 1 — size
    ``bucket`` near the median interval length.

    ``how`` — "inner" (pairs) or "left" (points without any interval
    keep null right columns).  Column collisions between the two inputs
    raise: alias before joining.
    """
    keys = [on] if isinstance(on, str) else (list(on) if on else [])
    clash = (set(left.columns) & set(right.columns)) - set(keys)
    if clash:
        raise ValueError(f"range_join: overlapping columns {sorted(clash)};"
                         " alias one side first")
    if how not in ("inner", "left"):
        raise ValueError(f"range_join: unsupported how={how!r}")

    def _num(c: str, df: DataFrame) -> Column:
        # bucketing only — the exact BETWEEN runs on the original columns,
        # so the session-tz interpretation of ntz/date is harmless as long
        # as it is CONSISTENT across both sides (it is: same session)
        t = df.schema[c].dataType.typeName()
        col = F.col(c)
        if t.startswith("timestamp") or t == "date":
            return col.cast("timestamp").cast("double")
        return col.cast("double")

    lb = F.floor(_num(point_col, left) / F.lit(float(bucket)))
    r_lo = F.floor(_num(start_col, right) / F.lit(float(bucket)))
    r_hi = F.floor(_num(end_col, right) / F.lit(float(bucket)))
    # explicit plan aliases: both inputs often derive from the SAME scan
    # (self-join on an events table), where l2[k] == r2[k] resolves to a
    # trivially-true same-column predicate and silently degrades the join
    r2 = right.withColumn(
        "__bucket", F.explode(F.sequence(r_lo.cast("long"),
                                         r_hi.cast("long")))).alias("__rj_r")
    l2 = left.withColumn("__bucket", lb.cast("long")).alias("__rj_l")

    def _l(c: str) -> Column:
        return F.col(f"__rj_l.{c}")

    def _r(c: str) -> Column:
        return F.col(f"__rj_r.{c}")

    cond = [_l("__bucket") == _r("__bucket")]
    cond += [_l(k) == _r(k) for k in keys]
    cond.append(_l(point_col).between(_r(start_col), _r(end_col)))
    joined = l2.join(r2, cond, "inner").select(
        *[_l(c) for c in left.columns],
        *[_r(c) for c in right.columns if c not in keys],
    )
    if how == "left":
        # anti side: points with no containing interval
        matched = joined
        missing = l2.join(
            r2, cond, "left_anti").select(*[_l(c) for c in left.columns])
        for c in right.columns:
            if c not in keys:
                missing = missing.withColumn(
                    c, F.lit(None).cast(right.schema[c].dataType))
        return matched.unionByName(missing)
    return joined


def resample_locf(
    df: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    interval_s: float = 3600.0,
    value_cols: list[str] | None = None,
    tolerance: Column | None = None,
) -> DataFrame:
    """Regularize an irregular time series: one row per ``interval_s``
    tick per key, values carried forward from the latest observation
    at-or-before the tick (LOCF — last observation carried forward).

    Ticks are EPOCH-ALIGNED multiples of the interval covering each
    key's own [min ts, max ts] span (first tick = the first multiple
    ≥ min, so every emitted tick has an observation to carry;
    engine-portable integer-micros arithmetic).  ``tolerance`` bounds
    how stale a carried value may be (nulls past it, tick row kept).

    Plan: one (min,max) agg per key + a ``sequence`` explode builds the
    grid — grid rows are (key, tick) pairs only — then ONE ``asof_join``
    (union-sort: single shuffle of grid + observations).  Grid size =
    span/interval rows per key; pick ``interval_s`` for the consumer,
    not the source density.  Carried columns come back suffixed ``_r``
    (the observation timestamp as ``ts_r``).
    """
    keys = [on] if isinstance(on, str) else list(on)
    step = int(round(interval_s * 1_000_000))
    if step <= 0:
        raise ValueError("resample_locf: interval_s must be positive")
    us = F.unix_micros(F.col(ts_col))
    spans = df.groupBy(*keys).agg(
        (F.ceil(F.min(us) / F.lit(step)) * F.lit(step)).alias("__t0"),
        (F.floor(F.max(us) / F.lit(step)) * F.lit(step)).alias("__t1"),
    )
    grid = (
        spans.filter(F.col("__t0") <= F.col("__t1"))
        .select(*keys,
                F.explode(F.sequence("__t0", "__t1",
                                     F.lit(step))).alias("__tick_us"))
        .select(*keys,
                F.timestamp_micros(F.col("__tick_us")).alias(ts_col))
    )
    return asof_join(grid, df, on=keys, left_ts=ts_col,
                     value_cols=value_cols, tolerance=tolerance)


def scd2_intervals(
    changes: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    attr_cols: list[str] | None = None,
    collapse: bool = True,
) -> DataFrame:
    """Build a slowly-changing-dimension (SCD type 2) validity table
    from a change log: per key, each change row becomes
    ``[valid_from, valid_to)`` with ``valid_to`` = the next change's
    timestamp (null = still current).  The dimension side of an
    ``asof_join``/``range_join`` at 100 TB is exactly this shape.

    ``collapse=True`` drops no-op changes first (rows whose attrs equal
    the PREVIOUS row's attrs, per key in ts order) so intervals are
    maximal.  Ties on (key, ts) resolve to the max attr struct —
    pre-dedup if ties are meaningful.  One key shuffle; both the
    collapse lag and the valid_to lead run on the same partitioning
    (a single Exchange in the plan).

    Returns key cols + attr cols + ``valid_from``, ``valid_to``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if attr_cols is None:
        attr_cols = [c for c in changes.columns
                     if c not in keys and c != ts_col]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    d = changes.select(*keys, F.col(ts_col), *attr_cols)
    if collapse:
        attrs = F.struct(*[F.col(c) for c in attr_cols])
        # max-struct per (key, ts) first so a tie can't interleave
        d = (d.groupBy(*keys, ts_col)
             .agg(F.max(attrs).alias("__a"))
             .select(*keys, ts_col,
                     *[F.col("__a")[c].alias(c) for c in attr_cols]))
        prev = F.lag(F.struct(*[F.col(c) for c in attr_cols])).over(w)
        d = (d.withColumn("__prev", prev)
             .filter(F.col("__prev").isNull() |
                     (F.struct(*[F.col(c) for c in attr_cols])
                      != F.col("__prev")))
             .drop("__prev"))
    return d.select(
        *keys, *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w).alias("valid_to"),
    )


def snapshot_at(dim: DataFrame, at: Column,
                valid_from: str = "valid_from",
                valid_to: str = "valid_to") -> DataFrame:
    """The dimension as of one instant: rows with
    valid_from <= at < valid_to (open-ended rows included).  A pure
    filter — partition-prunable when the table is laid out by
    valid_from."""
    return dim.filter(
        (F.col(valid_from) <= at) &
        (F.col(valid_to).isNull() | (F.col(valid_to) > at)))


def assign_sessions(
    df: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    gap_s: float = 1800.0,
    out_col: str = "session_idx",
) -> DataFrame:
    """Gap-based sessionization that KEEPS the event rows: each row
    gains its key's 0-based ``session_idx`` (a new session starts when
    the gap from the previous event exceeds ``gap_s`` seconds).  The
    per-event complement of the windowed session AGGREGATES
    (streaming/events.py): downstream joins need the id on the row,
    not the rollup.

    One key shuffle; the lag flag and the running sum share the same
    (key, ts) sort.  Equal timestamps always land in the same session
    (their mutual gap is 0) so tie order cannot change the assignment.
    """
    keys = [on] if isinstance(on, str) else list(on)
    gap_us = int(round(gap_s * 1_000_000))
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(*keys).orderBy(us.asc())
    new_flag = F.when(
        (us - F.lag(us).over(w)) > F.lit(gap_us), 1).otherwise(0)
    run = Window.partitionBy(*keys).orderBy(us.asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        out_col, F.sum(new_flag).over(run).cast("long"))


def rolling_stats(
    df: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window_s: float = 86400.0,
    prefix: str = "w_",
) -> DataFrame:
    """Trailing time-RANGE window stats per key: for every row, count /
    sum / avg / min / max of ``value_col`` over the key's rows in
    ``[ts - window_s, ts]`` (inclusive both ends — RANGE semantics over
    epoch micros, so equal-timestamp peers are always all in).

    One key shuffle + one sort serve all five outputs.  The sum runs
    in DECIMAL(38,6) and is emitted as double, and avg divides that
    exact sum by the exact count — the repo's portable-double
    convention, so a values oracle can mirror it verbatim.  100 TB
    note: RANGE state is the window's row span per key — bound
    ``window_s`` by the key's event rate, and split hot keys upstream
    (the same inherent-serialization caveat as asof_join).
    """
    keys = [on] if isinstance(on, str) else list(on)
    us = F.unix_micros(F.col(ts_col))
    win_us = int(round(window_s * 1_000_000))
    w = (Window.partitionBy(*keys).orderBy(us.asc())
         .rangeBetween(-win_us, 0))
    v = F.col(value_col)
    dec = v.cast("decimal(38,6)")
    cnt = F.count(v).over(w)
    s = F.sum(dec).over(w)
    return (df
            .withColumn(prefix + "count", cnt.cast("long"))
            .withColumn(prefix + "sum", s.cast("double"))
            .withColumn(prefix + "avg",
                        (s.cast("double") / cnt.cast("double")))
            .withColumn(prefix + "min", F.min(v).over(w))
            .withColumn(prefix + "max", F.max(v).over(w)))
