"""Streaming analytics surface S1-S7 (SURVEY §2b): watermarks, windowed
and session aggregations, stateful dedupe, stream-static joins.

The reference has NO event-time concept (it stamps wall clock at
processing, handler.go:133, and delivers in arrival order); these are the
new capabilities the Spark engine adds on top of the CDC stream. All
helpers work on any DataFrame with an event-time column — the `events`
corpus table in tests, envelope streams in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """S1+S2: watermarked tumbling-window counts/sums."""
    g = [F.window(F.col(ts_col), window).alias("win"), *(keys or [])]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*g)
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *(keys or []),
            "cnt",
            "sum_value",
        )
    )


def session_counts(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    key: str = "user_id",
) -> DataFrame:
    """S3: session windows — a session closes after ``gap`` of silence."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key,
            "cnt",
        )
    )


def dedupe_within_watermark(
    df: DataFrame, ts_col: str, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """S4: replay dedupe — the engine's effectively-once guard (O19):
    at-least-once delivery + drop duplicate event_index within the
    watermark horizon ⇒ exactly-once observable output."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_static_join(stream: DataFrame, dim: DataFrame, on, how: str = "inner"):
    """S6: enrich a stream against a static dimension (broadcast by size)."""
    return stream.join(dim, on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "rts",
    within: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream join: right events within ``within`` BEFORE each left
    event on the same key. Both sides carry watermarks and the join has a
    two-sided time bound, so Spark can evict state — without the interval
    condition a stream-stream join buffers forever.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] <= l[left_ts])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").drop(r[key])
