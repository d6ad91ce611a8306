"""Watermarked windowed aggregations over the ``events`` table as a stream.

Batch/stream parity by construction: each streaming query is the same
expression as its batch twin (tumbling / sliding /
session windows), so correctness of the streaming path is checked by
running the stream with ``Trigger.AvailableNow`` into a memory sink and
comparing against the batch result (tests/test_streaming.py).

Scale notes: watermark bounds state (late events beyond 10 minutes are
dropped, so state size is O(active windows × keys), not O(history));
``session_window`` uses Spark's native session state store, not a custom
``applyInPandasWithState`` — the built-in operator merges sessions
incrementally and spills via RocksDB on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events parquet (nanos → timestamp).

    ``events.parquet`` stores TIMESTAMP(NANOS); how it surfaces depends on
    the Spark build (BIGINT nanos under the ``nanosAsLong`` legacy conf,
    TIMESTAMP_NTZ under Spark 4's native nanos read).  A one-file batch
    probe picks the matching stream schema, and both arrivals normalize to
    a session-tz TIMESTAMP (UTC session → epoch-preserving cast)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts")
    # match the probed dtype EXPLICITLY — a build that surfaces the nanos
    # column some third way must fail loudly here, not as a downstream
    # stream-schema mismatch.
    if probe == "bigint":
        ts_type: T.DataType = T.LongType()
    elif probe == "timestamp_ntz":
        ts_type = T.TimestampNTZType()
    elif probe == "timestamp":
        ts_type = T.TimestampType()
    else:
        raise ValueError(
            f"unexpected dtype {probe!r} for events.ts — expected bigint "
            "(nanosAsLong), timestamp_ntz (native nanos read), or timestamp")
    raw = (
        spark.readStream.schema(_events_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(sf_dir)
    )
    if probe == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window count + sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"))
        .select(F.unix_timestamp("w.start").alias("bucket_start"),
                "event_type", "n_events", "sum_value")
    )


def sliding_counts(events: DataFrame, window: str = "10 minutes",
                   slide: str = "5 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("w.start").alias("window_start"),
                "event_type", "n_events")
    )


def session_counts(events: DataFrame, gap: str = "5 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """Per-user session windows (gap-based) — the stateful custom-operator
    checkbox; sessions merge incrementally in the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_micros("w.start").alias("session_start"),
                "user_id", "n_events")
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count + value sum carried across micro-batches, one
    update row emitted per (batch, user).  This is the shape the built-in
    window operators can't express — arbitrary Python state transition
    logic keyed by user (the streaming form of S10's incremental crawl
    state; cf. ``GroupState`` docs).

    Value totals accumulate as micro-units (``round(value * 1e6)`` with
    HALF_UP, matching ``F.round``) so the stream result is bit-identical to
    the batch twin regardless of per-batch float addition order.

    Scale: state is two BIGINTs per user in the state store (RocksDB on a
    real cluster); no timeout — pair with a TTL timeout conf when user
    cardinality is unbounded."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id BIGINT, total_events BIGINT, total_value_micros BIGINT"
    state_schema = "n BIGINT, v BIGINT"

    def update(key, pdfs, state):
        n, v = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            x = pdf["value"].to_numpy(dtype="float64") * 1e6
            v += int((np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64").sum())
        state.update((int(n), int(v)))
        yield pd.DataFrame([{
            "user_id": key[0], "total_events": int(n),
            "total_value_micros": int(v),
        }])

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)


def user_totals_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`user_running_totals`'s FINAL state."""
    micros = F.round(F.col("value") * 1e6, 0).cast("long")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum(micros).alias("total_value_micros"),
    )


def run_available_now(agg: DataFrame, query_name: str,
                      checkpoint_dir: str,
                      output_mode: str = "complete") -> DataFrame:
    """Execute a streaming query to completion over the currently
    available files (Trigger.AvailableNow) into a memory sink; returns
    the result as a batch DataFrame.  ``output_mode``: "complete" for
    aggregations, "append" for row streams (e.g. dedupe_events)."""
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.table(query_name)


def dedupe_events(events: DataFrame, keys: list[str] | None = None,
                  watermark: str = "30 minutes",
                  within_watermark: bool = True) -> DataFrame:
    """Streaming deduplication: drop replayed/duplicate events by key.

    At-least-once upstreams (Kafka replays, crawler retries, the
    streaming ingest's redelivered micro-batches) duplicate rows; this
    keeps the FIRST arrival per key.  ``within_watermark=True`` uses
    dropDuplicatesWithinWatermark: state for a key is dropped once the
    watermark passes it, so state is bounded by the duplicate-arrival
    horizon instead of the whole stream's key cardinality — the only
    sustainable mode for an unbounded 100 TB stream.  Duplicates that
    arrive later than the watermark slack are NOT caught (the bound is
    the contract); set ``within_watermark=False`` for exact global
    dedup on bounded replays where unbounded state is acceptable.

    Batch equivalence (tests): with every duplicate inside the
    watermark horizon, the surviving (key-set, per-key count=1)
    matches the batch ``dropDuplicates`` of the same input."""
    keys = keys or ["event_id"]
    w = events.withWatermark("ts", watermark)
    if within_watermark:
        return w.dropDuplicatesWithinWatermark(keys)
    return w.dropDuplicates(keys)
