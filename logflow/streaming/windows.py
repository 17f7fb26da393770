"""Watermarked event-time windows over the record/event stream.

Same aggregate expressions as the batch queries (relational.py's
events_tumbling_hourly / sessionize_events) applied to streaming frames —
plus the watermark, which is the only streaming-specific element: late
rows beyond the delay are dropped, bounding state (the property that keeps
a 100 TB/day stream's state finite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _event_time_ltz(df: DataFrame, col: str = "ts") -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ): EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    on TIMESTAMP_NTZ sources (the round-2 testdata layout). Cast NTZ → LTZ
    via the session timezone (UTC in logflow sessions) — wall-clock values,
    window bucketing, and the batch-equivalence oracle are unchanged."""
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def hourly_type_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h window per event_type (streaming form of
    events_tumbling_hourly — batch-equivalence asserted in tests)."""
    return (
        _event_time_ltz(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
    )


def sliding_value_avg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding 1h window every 15 min: rolling mean of `value`."""
    return (
        _event_time_ltz(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("avg_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n", "avg_value")
    )


def session_spans(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user with a 30-min inactivity gap (streaming
    analog of the batch sessionize_events query).

    An event at most ``gap`` after the previous one joins its session;
    one more than ``gap`` after it opens a new session, as in
    ``sessionize_events``.  ``session_end`` is the last event + ``gap``.
    In append mode each session is emitted once, when the watermark
    passes its ``session_end``; state holds only the open sessions."""
    return (
        _event_time_ltz(events).withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def deduped_stream(records: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup within the watermark horizon — replay collapse
    (exactly-once-style semantics over an at-least-once transport)."""
    return _event_time_ltz(records).withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def daily_ohlc(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-day OHLC rollup per event_type — the streaming twin of
    the batch ``ts_downsample_ohlc`` query (batch-equivalence asserted in
    tests). Open/close use ``min_by``/``max_by`` on the (ts, event_id)
    struct — a unique event-time order key, so ties resolve identically
    to the batch window form — and both are plain commutative aggregates,
    which is what makes the rollup expressible as an ordinary watermarked
    streaming agg (no ordered-window state needed): partial OHLC states
    merge associatively, exactly how a continuous aggregate maintains
    itself at 100 TB/day ingest."""
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        _event_time_ltz(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").alias("day"), "event_type", "open", "high", "low", "close", "n"
        )
    )
