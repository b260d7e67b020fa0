"""Stream-stream joins and streaming dedup (SURVEY §2e widening).

`interval_join` is the Structured Streaming analog of Flink's
`KeyedStream.intervalJoin` — the primitive the reference's streaming
topology family is built on (its reply-tree and enrichment functions
keep per-key state to match elements across streams; see
`jobs/activeposts/` and `BuildReplyTreeProcessFunction`). Spark-first
this is the built-in watermarked stream-stream equi-join with a
time-range predicate: both sides are watermarked, the range bound lets
the state store evict rows once the other side's watermark passes
`ts + upper`, so state stays O(in-flight window), not O(stream).

`dedup_stream` is exactly-once event admission under late data:
`dropDuplicatesWithinWatermark` keeps one row per key while the key can
still recur (watermark window), then evicts — the unbounded-state
`dropDuplicates` trap avoided. At cluster scale back the state store
with RocksDB (`streaming/state.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    lower: str = "0 seconds",
    upper: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join right rows with `r.ts` in `[l.ts + lower, l.ts + upper]`.

    Both inputs must carry a `ts` timestamp column and the `on` key.
    Right-side non-key columns come back suffixed `_r`. Supported `how`:
    inner (emits on match) and leftOuter (left row emits with nulls
    once the right watermark passes its upper bound).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(
            f"interval_join supports inner/leftOuter, got {how!r}: right/full "
            "outer stream-stream joins need the LEFT watermark to close "
            "right rows; express those as interval_join(right, left, ...)"
        )
    r_cols = [
        F.col(c).alias(c if c == on else f"{c}_r")
        for c in right.columns
    ]
    l = left.withWatermark("ts", left_watermark).alias("l")
    r = right.select(*r_cols).withWatermark("ts_r", right_watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (
            F.col("r.ts_r")
            >= F.col("l.ts") + F.expr(f"INTERVAL {lower}")
        )
        & (
            F.col("r.ts_r")
            <= F.col("l.ts") + F.expr(f"INTERVAL {upper}")
        )
    )
    joined = l.join(r, cond, how)
    # drop the duplicated key column from the right side
    return joined.drop(F.col(f"r.{on}"))


def click_purchase_stream_join(
    events: DataFrame, within: str = "30 minutes"
) -> DataFrame:
    """Clicks followed by a purchase from the same user within `within`
    — the streaming twin of the batch as-of join
    (`plans/analytics.click_purchase_asof`), emitting conversion pairs
    continuously instead of per snapshot."""
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    out = interval_join(
        clicks,
        purchases,
        on="user_id",
        lower="0 seconds",
        upper=within,
        left_watermark="1 hour",
        right_watermark="1 hour",
    )
    return out.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id_r").alias("purchase_id"),
        F.col("ts_r").alias("purchase_ts"),
        F.col("value_r").alias("purchase_value"),
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """One row per `event_id` while duplicates can still arrive.

    State for a key is dropped once the watermark passes its event
    time, bounding the store; a duplicate arriving later than the
    watermark delay is admitted again (the documented, bounded-state
    tradeoff — same contract as the reference's keyed first-seen
    state with a cleanup timer).
    """
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
