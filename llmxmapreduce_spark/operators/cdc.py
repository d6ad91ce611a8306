"""Change-data-capture application: log compaction + snapshot merge.

The batch half of keeping a mutable table on an append-only substrate
(the pattern behind Delta/Hudi MERGE, done with plain DataFrames):

- ``latest_changes`` — compact a change log to each key's most recent
  row.  ORDER-FREE formulation: one ``max(struct(ts, payload))``
  aggregation — a partial-aggregable groupBy, NOT a row_number window
  over a sorted partition, so map-side combine eats most of the log
  before it shuffles (the window formulation ships every change row).
  Ties on (key, ts) resolve to the max payload struct —
  deterministic under any partitioning; carry a sequence column in
  ``ts_cols`` when the log has one.
- ``apply_cdc`` — merge the compacted log into a base snapshot:
  upserts replace, deletes remove, untouched base rows survive.  One
  full-outer join on the key (both sides already one-row-per-key).

Delete semantics ride an ``op`` column ('delete' removes the key; any
other value — 'upsert', 'insert', null — replaces).  A delete for an
absent key is a no-op, and a delete beaten by a later upsert in the
same log resolves by timestamp, exactly once, inside the compaction.

Values gates: a window-ladder twin in DuckDB and tests/test_cdc.py
(delete/upsert interleavings, tie determinism, absent-key deletes, base
passthrough).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_changes(
    changes: DataFrame,
    on: str | list[str],
    ts_cols: str | list[str] = "ts",
) -> DataFrame:
    """Log compaction: one row per key — the change with the greatest
    (ts_cols..., payload) struct.  Schema preserved."""
    keys = [on] if isinstance(on, str) else list(on)
    order = [ts_cols] if isinstance(ts_cols, str) else list(ts_cols)
    payload = [c for c in changes.columns if c not in keys]
    # order columns lead the struct; remaining payload breaks ties
    rest = [c for c in payload if c not in order]
    latest = F.max(F.struct(*[F.col(c) for c in order],
                            *[F.col(c) for c in rest])).alias("__m")
    out = changes.groupBy(*keys).agg(latest)
    return out.select(*keys,
                      *[F.col("__m")[c].alias(c) for c in payload])


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    on: str | list[str],
    ts_cols: str | list[str] = "ts",
    op_col: str = "op",
    delete_value: str = "delete",
) -> DataFrame:
    """Next snapshot = base ⊕ changes: per key, the latest change wins
    (delete removes, anything else replaces); untouched base rows pass
    through.  Output schema = base schema (the change log's ts/op
    bookkeeping columns are dropped unless base carries them too).

    One partial-agg compaction + one full-outer key join; neither side
    exceeds one row per key at the join, so skew mirrors key
    cardinality, not change volume."""
    keys = [on] if isinstance(on, str) else list(on)
    latest = latest_changes(changes, on=keys, ts_cols=ts_cols)
    # a null-key change row can never join (null == null is false) —
    # untreated it emits a spurious all-null snapshot row through the
    # full-outer join and a null-key delete can never apply (review
    # finding), so null-key changes are dropped here: a CDC key is a
    # primary key, and a null PK in the change log is upstream garbage
    for k in keys:
        latest = latest.filter(F.col(k).isNotNull())
    is_del = F.col(f"__c.{op_col}") == F.lit(delete_value)
    b = base.alias("__b")
    c = latest.alias("__c")
    cond = [F.col(f"__b.{k}") == F.col(f"__c.{k}") for k in keys]
    joined = b.join(c, cond, "full_outer")
    has_change = F.col(f"__c.{keys[0]}").isNotNull()
    out_cols = []
    for col in base.columns:
        if col in keys:
            out_cols.append(F.coalesce(F.col(f"__b.{col}"),
                                       F.col(f"__c.{col}")).alias(col))
        elif col in latest.columns:
            out_cols.append(
                F.when(has_change, F.col(f"__c.{col}"))
                .otherwise(F.col(f"__b.{col}")).alias(col))
        else:
            out_cols.append(F.col(f"__b.{col}").alias(col))
    return joined.filter(~(has_change & is_del)).select(*out_cols)
