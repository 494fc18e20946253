"""Event-time streaming operators (SURVEY.md §2.9 ST3 generalized).

The reference's point-in-time window + "one late overhang segment" rule
(RestoreCommitLogsOperation.java:115-146) generalizes to Structured
Streaming's event-time machinery: tumbling windows with watermarks
for bounded lateness, and ``dropDuplicatesWithinWatermark`` for streaming
exact dedup (the streaming analog of the content-addressed upload skip).

These helpers take any streaming DataFrame with an event-time column, so the
same code runs against a file source, Kafka, or a rate source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts; late data beyond the watermark is
    dropped, mirroring the reference's bounded-lateness admission rule."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "events",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Native session windows: per-user sessions closed after ``gap`` of
    inactivity (the streaming counterpart of operators.analytics.sessionize;
    see streaming.stateful for the applyInPandasWithState custom variant)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            user_col,
            "events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: duplicates arriving within the watermark are
    dropped without unbounded state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def attribution_stream(
    touches: DataFrame,
    conversions: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming last-touch candidates: a STREAM-STREAM inner join between
    a touch stream and a conversion stream of the same user, with the
    event-time range condition ``conv.ts − max_gap ≤ touch.ts ≤ conv.ts``
    — the join-state analogue of the batch conditional-running-max
    attribution (analytics.last_touch_attribution).

    Both sides are watermarked and the join carries the time-range bound,
    so Spark can expire join state: touch rows older than
    (watermark + max_gap) are dropped — bounded state at any volume. The
    output is every (conversion, qualifying touch) pair; the final
    "latest touch wins" reduction is a downstream batch/foreachBatch agg
    (stream-stream joins can't chain another stateful max in one query).
    """
    t = touches.select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    ).withWatermark("t_ts", watermark)
    c = conversions.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("conversion_id"),
    ).withWatermark("c_ts", watermark)
    return t.join(
        c,
        F.expr(
            f"t_user = c_user AND t_ts <= c_ts"
            f" AND t_ts >= c_ts - INTERVAL {max_gap}"
        ),
    ).select(
        "conversion_id",
        F.col("c_user").alias("user_id"),
        "channel",
        F.col("t_ts").alias("touch_ts"),
        F.col("c_ts").alias("conversion_ts"),
    )
