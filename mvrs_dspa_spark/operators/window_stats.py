"""Sliding/tumbling event-time window statistics (SURVEY §2b).

PySpark re-expression of the reference's active-post-statistics task
(`jobs/activeposts/PostStatisticsFunction.scala:20-150`,
`ActivePostStatisticsJob.scala`, window 12 h / slide 30 min): per-key
sliding-window counts by activity kind, distinct-participant count,
and a "new in this window" flag.

Spark-first design: the slide explode (each event belongs to
size/slide windows — here 6) happens JVM-side via
``sequence``+``explode`` on microsecond integers, then a single
partial-aggregated shuffle on (key, window_start). That is exactly
the physical shape of Spark's built-in ``F.window``; spelling the
arithmetic out keeps window alignment bit-identical to the DuckDB
oracle. The distinct-user count uses exact count_distinct at the
gate; the 100 TB path swaps in approx_count_distinct (see
`event_user_counts_approx`). The reference's space-optimized bucket
trick (one bucket per slide, merged at emit) is what the streaming
variant does with state — see `streaming/stateful.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mvrs_dspa_spark.config import settings
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import (
    EVENT_TYPES,
    props_k_col,
    props_k_sql,
    table,
)

HOUR_US = 3_600_000_000

# 6-hour window, 1-hour slide by default (reference ratio 12h/30min
# scaled to the 30-day synthetic event stream; explode factor stays
# bounded). Tunable via settings.activity (Settings.scala analog) —
# both the Spark plans and the oracle SQL bake the same values.
SIZE_US = settings.activity.window_size_hours * HOUR_US
SLIDE_US = settings.activity.window_slide_hours * HOUR_US


def slide_windows(ts_us: F.Column, size_us: int, slide_us: int) -> F.Column:
    """All slide-aligned window starts (epoch micros) containing ts."""
    last = ts_us - (ts_us % F.lit(slide_us))
    first = last - F.lit(size_us - slide_us)
    return F.sequence(first, last, F.lit(slide_us))


def _slide_windows_sql(ts_us: str, size_us: int, slide_us: int) -> str:
    return (
        f"generate_series(({ts_us}) - (({ts_us}) % {slide_us}) - {size_us - slide_us}, "
        f"({ts_us}) - (({ts_us}) % {slide_us}), {slide_us})"
    )


def sliding_window_stats(df: DataFrame) -> DataFrame:
    """Sliding-window activity stats per user (PostStatistics analog)."""
    base = df.select(
        F.col("user_id"),
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        props_k_col().alias("k"),  # regex k-extraction: tables.PROPS_K_PATTERN
    )
    exploded = base.withColumn(
        "ws_us", F.explode(slide_windows(F.col("ts_us"), SIZE_US, SLIDE_US))
    )
    kind_counts = [
        F.count_if(F.col("event_type") == t).alias(f"n_{t}") for t in EVENT_TYPES
    ]
    agg = exploded.groupBy("user_id", "ws_us").agg(
        F.count(F.lit(1)).alias("n_events"),
        *kind_counts,
        F.countDistinct("k").alias("n_distinct_keys"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.min("ts_us").alias("w_min_ts_us"),
    )
    # The user's global first timestamp is recoverable from the window
    # minima themselves (every event lands in >= 1 window), so the
    # new-user flag is a per-key analytic min over the already-reduced
    # rows — no per-user `firsts` table, no O(users) broadcast (the
    # round-2 shape; a forced-hint OOM at 100x).
    first_ts_us = F.min("w_min_ts_us").over(W.partitionBy("user_id"))
    return (
        agg.withColumn("first_ts_us", first_ts_us)
        .select(
            F.col("user_id"),
            F.timestamp_micros(F.col("ws_us")).alias("window_start"),
            F.timestamp_micros(F.col("ws_us") + F.lit(SIZE_US)).alias("window_end"),
            "n_events",
            *[f"n_{t}" for t in EVENT_TYPES],
            "n_distinct_keys",
            "total_value",
            (F.col("w_min_ts_us") == F.col("first_ts_us")).alias("new_user"),
        )
        .orderBy("user_id", "window_start")
    )


_SLIDING_ORACLE = f"""
    WITH base AS (
        SELECT user_id,
               epoch_us(ts) AS ts_us,
               event_type,
               value,
               {props_k_sql()} AS k
        FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(ts_us) AS first_ts_us FROM base GROUP BY user_id
    ),
    exploded AS (
        SELECT user_id, ts_us, event_type, value, k,
               unnest({_slide_windows_sql('ts_us', SIZE_US, SLIDE_US)}) AS ws_us
        FROM base
    ),
    agg AS (
        SELECT user_id, ws_us,
               COUNT(*) AS n_events,
               {', '.join(f"CAST(count_if(event_type = '{t}') AS BIGINT) AS n_{t}" for t in EVENT_TYPES)},
               COUNT(DISTINCT k) AS n_distinct_keys,
               ROUND(SUM(value), 2) AS total_value,
               MIN(ts_us) AS w_min_ts_us
        FROM exploded
        GROUP BY user_id, ws_us
    )
    SELECT a.user_id,
           make_timestamp(a.ws_us) AS window_start,
           make_timestamp(a.ws_us + {SIZE_US}) AS window_end,
           n_events, {', '.join(f'n_{t}' for t in EVENT_TYPES)},
           n_distinct_keys, total_value,
           (a.w_min_ts_us = f.first_ts_us) AS new_user
    FROM agg a JOIN firsts f USING (user_id)
    ORDER BY a.user_id, window_start
"""


@register(
    "sliding_activity_stats",
    oracle=_SLIDING_ORACLE,
    doc="Active-post-statistics analog: sliding 6h/1h per-user window, "
    "counts by kind + distinct keys + new-user flag "
    "(ref PostStatisticsFunction.scala:20).",
    tags=("windows", "bench"),
)
def sliding_activity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_stats(table(spark, sf_dir, "events"))


@register(
    "hourly_event_rollup",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS hour,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 2) AS total_value,
               ROUND(AVG(value), 6) AS avg_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Tumbling 1h rollup per event type.",
    tags=("windows",),
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("hour", "event_type")
    )


@register(
    "incremental_hourly_rollup",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value,
               ROUND(SUM(value) / COUNT(*), 6) AS avg_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Incremental materialized-view maintenance: the hourly rollup "
    "is computed as BASE (events before the last day) + DELTA (the "
    "newest day) partial aggregates, merged by summing the mergeable "
    "state (count, sum) and deriving avg at the end — the "
    "incremental-ETL pattern where yesterday's aggregate is reused "
    "instead of rescanning the corpus. The oracle is the plain FULL "
    "recompute, so the hash gate IS the proof that the merge is "
    "lossless. Distinct counts are deliberately absent: they are not "
    "mergeable from (count,sum) state — the incremental form of #8 "
    "needs an HLL sketch column (see event_user_counts_approx). At "
    "100 TB the base aggregate would be a stored table; here both "
    "sides derive from one scan split by a cutoff predicate, which "
    "also exercises partition pruning on the date filter.",
    tags=("windows", "incremental"),
)
def incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.date_trunc("day", F.max("ts")).alias("cutoff")
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("pc"),
            F.sum("value").alias("ps"),
        )

    with_cut = ev.crossJoin(F.broadcast(cutoff))
    base = partial(with_cut.where(F.col("ts") < F.col("cutoff")))
    delta = partial(with_cut.where(F.col("ts") >= F.col("cutoff")))
    merged = (
        base.unionAll(delta)
        .groupBy("hour", "event_type")
        .agg(F.sum("pc").alias("n_events"), F.sum("ps").alias("sv"))
    )
    return merged.select(
        "hour",
        "event_type",
        "n_events",
        F.round("sv", 2).alias("total_value"),
        F.round(F.col("sv") / F.col("n_events"), 6).alias("avg_value"),
    ).orderBy("hour", "event_type")
