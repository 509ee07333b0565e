"""Windowed stream aggregation (SURVEY.md §2.10 W4, A1/A2).

The reference delegates all aggregation to CloudWatch dashboard
widgets (``/root/reference/s3-for-process-data/dashboard.yml:26,
106-113``: Sum over status counters, Average over ExecutionTime).
These are their Structured-Streaming equivalents; each works on a
streaming OR batch DataFrame (same Catalyst plan either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def status_counts(events: DataFrame, window: str = "1 minute", watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window count by status — the dashboard's
    ExecutionsSucceeded/Failed Sum widgets (A1)."""
    src = events.withWatermark("event_time", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("event_time", window).alias("w"), "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "status", "n")
    )


def avg_duration(
    completions: DataFrame,
    duration_col: str = "latency_ms",
    window: str = "1 minute",
    time_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window Average over execution time — the dashboard's
    ExecutionTime Average widget (A2)."""
    src = completions.withWatermark(time_col, watermark) if completions.isStreaming else completions
    return (
        src.groupBy(F.window(time_col, window).alias("w"))
        .agg(F.avg(duration_col).alias("avg_duration_ms"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "avg_duration_ms", "n")
    )


def session_counts(events: DataFrame, gap: str = "6 hours", time_col: str = "ts", key: str = "user_id") -> DataFrame:
    """Session windows (gap-close) — streaming twin of the batch
    ``events_sessionization`` query."""
    src = events.withWatermark(time_col, "1 hour") if events.isStreaming else events
    return (
        src.groupBy(F.session_window(time_col, gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def continuous_rollup(
    events_stream: DataFrame,
    sink,
    checkpoint_dir: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
):
    """Materialized rollup maintenance (the hypertable
    continuous-aggregate write path): tumbling status counts stream
    in UPDATE mode into a keyed MERGE sink, keyed by
    (window_start, status).

    Each micro-batch emits only the windows it touched; the upsert
    refreshes those rows in place, so late events (within the
    watermark) correct the already-materialized bucket instead of
    appending a duplicate.  Readers get the batch-equivalent rollup
    table at any time without rescanning the event history — at
    100 TB the difference between an O(delta) maintenance write and
    an O(corpus) recompute.  ``sink`` is a
    :class:`~sfs3_kinesis_spark.sources.sinks.KeyedUpsertSink`
    (its ``key_col`` receives the composite window/status key).
    """
    agg = status_counts(events_stream, window, watermark)
    keyed = agg.withColumn(
        sink.key_col,
        F.concat_ws("/", F.col("window_start").cast("string"), F.col("status")),
    )
    return (
        keyed.writeStream.foreachBatch(sink.apply_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
