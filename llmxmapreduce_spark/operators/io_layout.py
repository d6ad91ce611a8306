"""Physical data layout helpers for the 100 TB target.

At cluster scale the dominant costs are scan width and shuffle volume;
these helpers encode the layout decisions the engine expects:

- ``write_partitioned`` — hive-style partition columns so Catalyst prunes
  whole directories (date/topic partitions for events/crawl tables);
- ``write_bucketed``    — bucketed+sorted tables so repeated joins/aggs on
  the bucket key (survey_id, doc_id) skip the exchange entirely;
- ``repartition_for_llm`` — size LLM-stage partitions by *row count*, not
  bytes: each partition is one client/connection pool, so partitions ≈
  total_rows / rows_per_partition bounds cluster-wide concurrent requests
  (the reference's Semaphore(20) at fleet scale).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Partition-pruned parquet layout (predicate on partition_cols never
    touches non-matching files)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 64, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed managed table: joins/aggregations on ``bucket_cols`` between
    tables bucketed the same way run shuffle-free."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def repartition_for_llm(df: DataFrame, rows_per_partition: int = 512,
                        key_col: str | None = None,
                        row_estimate: int | None = None) -> DataFrame:
    """Bound LLM-stage parallelism: n_partitions = ceil(rows / rpp).

    ``llm_stage`` calls the model one row at a time per task, so
    cluster-wide concurrency = n_partitions — tune rows_per_partition to
    the provider's rate limit instead of letting input partitioning
    decide it.

    ``row_estimate`` is the caller's row count (exact or approximate —
    e.g. carried from an upstream stage or a catalog statistic).  When
    omitted, the count is read from Catalyst's plan statistics, falling
    back to the input's current partition count — never an eager
    ``df.count()`` job (an extra full scan before any LLM work).

    NOTE the fallback is a weaker contract: plan statistics carry a
    rowCount only for plans Catalyst can size (e.g. CBO-analyzed tables,
    LocalRelations); a filtered parquet scan without CBO has none, and the
    partition-count fallback then no longer bounds cluster-wide concurrency
    at ``n_partitions``.  Callers on non-trivial plans that
    need a hard rate-limit bound must pass ``row_estimate``; the fallback
    warns so the unbounded case is visible in logs."""
    if row_estimate is None:
        stats_rows = (
            df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        )
        if stats_rows.isDefined():
            row_estimate = int(str(stats_rows.get()))
    if row_estimate is not None:
        n = max(1, -(-row_estimate // rows_per_partition))
    else:
        n = max(1, df.rdd.getNumPartitions())
        warnings.warn(
            "repartition_for_llm: no row_estimate and Catalyst plan stats "
            f"have no rowCount — falling back to the input partition count "
            f"({n}); the n_partitions concurrency bound is NOT "
            "enforced. Pass row_estimate to bound LLM parallelism.",
            stacklevel=2,
        )
    if key_col:
        return df.repartition(n, key_col)
    return df.repartition(n)


def events_date_partitioned(events: DataFrame) -> DataFrame:
    """The layout the events table would use at scale: derive the partition
    date column (then ``write_partitioned(..., ["event_date"])``)."""
    return events.withColumn("event_date", F.to_date("ts"))
