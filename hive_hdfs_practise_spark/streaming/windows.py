"""Watermarked window aggregations over event streams (SURVEY.md
§2.10 — the streaming surface ABSENT in the reference, anticipated
by the driver's ``events`` table).

Each builder takes a (possibly streaming) DataFrame with an event-
time column and returns the transformed frame; callers attach
``readStream``/``writeStream`` ends. Batch DataFrames run the same
plans (used by the oracle-checked batch twins in plans/events.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling window counts/sums with late-data bound. Watermark
    lets Spark expire window state — REQUIRED for unbounded streams
    (state would grow forever without it)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_len).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_rate(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event rate per type (alerting shape)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_len, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_aggregate(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (inactivity gap) per user — the streaming
    twin of plans/events.py::events_sessionize."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (Trigger.availableNow) into an in-memory sink and return the
    result table — how tests and the driver exercise streaming plans
    without a long-running query. ``complete`` for aggregations
    (append would withhold windows the final watermark never
    passes); ``update``/``append`` for stateful transitions."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_foreach_batch(
    stream_df: DataFrame, fn, query_name: str, checkpoint_dir: str | None = None
) -> None:
    """Execute a streaming plan over all currently-available input
    (Trigger.availableNow), delivering each micro-batch DataFrame to
    ``fn(batch_df, batch_id)`` — the production sink shape for
    external-system writes (index appends, upserts, table
    maintenance): foreachBatch is the Structured Streaming idiom for
    sinks the engine has no native connector for, with the batch_id
    available for the caller's own idempotence bookkeeping. Without
    ``checkpoint_dir`` a temporary checkpoint is used (availableNow
    bounded runs — the run_available_now pattern); a sink whose
    progress must survive a restart passes its own."""
    w = stream_df.writeStream.foreachBatch(fn).queryName(query_name)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    w.trigger(availableNow=True).start().awaitTermination()
