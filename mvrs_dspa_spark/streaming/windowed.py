"""Watermarked sliding-window statistics on a stream (SURVEY §2b #14,
§2e #26).

Streaming counterpart of `operators/window_stats.sliding_window_stats`
— the reference's active-post-statistics job
(`jobs/activeposts/ActivePostStatisticsJob.scala`, 12 h window / 30 min
slide) with Flink's allowed-lateness semantics mapped onto Structured
Streaming watermarks: events older than (max event time seen −
watermark delay) are dropped from the aggregation, exactly the
reference's dropped-late side-output behavior (the drop *count* is
observable via the progress events' `stateOperators.numRowsDroppedByWatermark`).

Spark-first: `F.window` sliding windows + watermark is the built-in,
state-store-backed path — incremental partial aggregation per
micro-batch, state evicted as the watermark passes window end. This is
the scale path; `streaming/stateful.py` shows the custom bucket-merge
variant for semantics `F.window` cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def sliding_stats_stream(
    events: DataFrame,
    key: str = "user_id",
    size: str = "6 hours",
    slide: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Per-key sliding-window activity stats over a streaming DataFrame.

    Append output mode: a (key, window) row is emitted exactly once,
    when the watermark passes window end — the reference's
    window-fire-at-watermark behavior.

    `n_users_approx` counts the distinct users of each (window, key)
    group. Grouped by `user_id` that is exact and needs no sketch: 1
    for every user, 0 for the null-user group (`count` skips nulls).
    The HLL++ sketch is kept only for other keys, because it is an
    `ImperativeAggregate`: one in the aggregation turns off whole-stage
    codegen for every `HashAggregate` of the stateful chain (partial,
    state restore, state save, final), and its 52-long buffer is stored
    in every state row.
    """
    kind_counts = [
        F.count_if(F.col("event_type") == t).alias(f"n_{t}") for t in EVENT_TYPES
    ]
    if key == "user_id":
        n_users = (F.count("user_id") > 0).cast("long")
    else:
        n_users = F.approx_count_distinct("user_id")
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", size, slide).alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *kind_counts,
            n_users.alias("n_users_approx"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key,
            "n_events",
            *[f"n_{t}" for t in EVENT_TYPES],
            "n_users_approx",
            "total_value",
        )
    )


def tumbling_rollup_stream(
    events: DataFrame,
    size: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming analog of `hourly_event_rollup` (tumbling window)."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_stats_stream(
    events: DataFrame,
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessionization (batch analog:
    operators/sessionize.user_sessions).

    F.session_window keeps per-key session state that extends while
    events arrive within `gap` and finalizes when the watermark passes
    session end + gap — the streaming form of the reference's
    activity-timeout windows. Append mode emits each session once.
    """
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key,
            "n_events",
            "total_value",
        )
    )
