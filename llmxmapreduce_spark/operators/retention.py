"""Cohort retention analytics over an events table.

The second classic product/telemetry rollup next to the funnel: group
users into cohorts by WHEN they first did the anchor event (signup),
then count how many are still active k periods later —
``(cohort_week, offset_weeks) → distinct active users``.

Portability is the design constraint: week-truncation built-ins
disagree across engines (week-start, ISO vs simple), so both the
cohort key and the offset are PURE INTEGER DAY ARITHMETIC anchored to
1970-01-05 (a Monday):

    cohort_week = floor(days_since(1970-01-05, first_anchor_date) / 7)
    offset      = floor(days_between(first_anchor_date, activity) / 7)

which makes the DuckDB twin exact.

Plan shape: one partial-agg scan builds the per-user anchor table
(min anchor date — #users rows), one equi-join on user_id attaches it
to activity rows, one groupBy((cohort, offset)) with count(DISTINCT
user) finishes.  The distinct-count state per cell is bounded by the
cohort's user count; at 100 TB you'd swap in approx_count_distinct for
the exploratory view and keep the exact path for the reported one —
both are one flag here.  Negative offsets (activity before the anchor,
possible with backfilled logs) are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MONDAY_EPOCH = "1970-01-05"


def retention_cohorts(
    events: DataFrame,
    anchor_type: str = "signup",
    activity_types: list[str] | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    period_days: int = 7,
    approx: bool = False,
) -> DataFrame:
    """→ (cohort_week, offset, n_users): distinct users of each
    ``anchor_type``-cohort active ``offset`` periods after their first
    anchor.  ``activity_types`` — None counts ANY event as activity.
    ``approx`` swaps the exact distinct count for HLL
    (approx_count_distinct) — the exploratory-scale variant."""
    d = F.to_date(F.col(ts_col))
    anchors = (
        events.filter(F.col(type_col) == anchor_type)
        .groupBy(user_col)
        .agg(F.min(d).alias("__a0"))
    )
    act = events if activity_types is None else \
        events.filter(F.col(type_col).isin(activity_types))
    act = act.select(F.col(user_col), d.alias("__d"))

    j = act.join(anchors, user_col)
    cohort = F.floor(F.datediff(F.col("__a0"), F.lit(_MONDAY_EPOCH))
                     / F.lit(period_days))
    offset = F.floor(F.datediff(F.col("__d"), F.col("__a0"))
                     / F.lit(period_days))
    cnt = (F.approx_count_distinct(user_col) if approx
           else F.countDistinct(user_col))
    return (
        j.select(F.col(user_col),
                 cohort.alias("cohort_week"),
                 offset.alias("offset"))
        .filter(F.col("offset") >= 0)
        .groupBy("cohort_week", "offset")
        .agg(cnt.alias("n_users"))
    )


def retention_sql(table: str = "events", anchor_type: str = "signup",
                  period_days: int = 7) -> str:
    """DuckDB mirror of the exact path (any-event activity): the same
    day-integer cohort/offset arithmetic."""
    return f"""
        WITH a AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS a0
                   FROM {table} WHERE event_type = '{anchor_type}'
                   GROUP BY user_id),
        j AS (SELECT e.user_id,
                     CAST(FLOOR(DATEDIFF('day', DATE '{_MONDAY_EPOCH}',
                                         a.a0) / {period_days}) AS BIGINT)
                       AS cohort_week,
                     CAST(FLOOR(DATEDIFF('day', a.a0, CAST(e.ts AS DATE))
                                / {period_days}) AS BIGINT) AS "offset"
              FROM {table} e JOIN a USING (user_id))
        SELECT cohort_week, "offset", COUNT(DISTINCT user_id) AS n_users
        FROM j WHERE "offset" >= 0
        GROUP BY cohort_week, "offset"
    """
