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

from mvrs_dspa_spark.config import settings
from mvrs_dspa_spark.tables import EVENT_TYPES

# the batch twins' settings (window_stats.SIZE_US/SLIDE_US,
# sessionize.GAP_MINUTES), spelled as Spark interval strings
SIZE = f"{settings.activity.window_size_hours} hours"
SLIDE = f"{settings.activity.window_slide_hours} hours"
GAP = f"{settings.sessions.gap_minutes} minutes"


def sliding_stats_stream(
    events: DataFrame,
    size: str = SIZE,
    slide: str = SLIDE,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Per-user sliding-window activity stats over a streaming DataFrame.

    Append output mode: a (user, window) row is emitted exactly once,
    when the watermark passes window end — the reference's
    window-fire-at-watermark behavior.

    `n_users_approx` is `(count(user_id) > 0)`: 1 for every user, 0
    for the null-user group (`count` skips nulls). It is exact and
    keeps every aggregate declarative; an HLL++ sketch here would be
    an `ImperativeAggregate`, which turns off whole-stage codegen for
    every `HashAggregate` of the stateful chain (partial, state
    restore, state save, final) and stores its 52-long buffer in every
    state row.
    """
    kind_counts = [
        F.count_if(F.col("event_type") == t).alias(f"n_{t}") for t in EVENT_TYPES
    ]
    n_users = (F.count("user_id") > 0).cast("long")
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", size, slide).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *kind_counts,
            n_users.alias("n_users_approx"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
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
    events: DataFrame, gap: str = GAP, watermark_delay: str = "2 hours"
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
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
