"""Streaming DAU/WAU maintenance (29ac; the continuous form of
`plans/analytics2.dau_wau_stickiness`, #128).

The engagement ratio needs exactly one piece of state: the distinct
(user, active-day) pair set — bounded by users x days, NOT event
volume, so a year of state for a million users is ~365M small rows
(a dimension table, not a log). Per micro-batch the batch's pairs
are set-merged in (union + distinct on the affected frame), and the
stickiness table is served on demand by the SAME offset-explode
rollup the batch query uses. Batch==stream equality is pinned, as is
idempotence: replaying a batch that adds no new pairs must not
change the state (the set-merge absorbs duplicates, which is what
makes at-least-once delivery safe for this metric).

Same compaction + GDPR-erasure hygiene as the other maintainers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users

_DAY_US = 86_400_000_000

PAIRS_SCHEMA = "user_id long, day long"


class EngagementMaintainer(Monitor):
    """Accumulates the distinct (user, day) activity set across
    micro-batches; `stickiness()` serves the DAU/WAU table."""

    STATE = {"pairs": (PAIRS_SCHEMA, "user_id")}
    COMPACT_TO = 16

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = batch_df.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
        ).distinct()
        return {"pairs": self.pairs.unionByName(delta).distinct()}

    def erase_users(self, user_ids) -> None:
        """GDPR erasure (see `scd2_stream.Scd2Maintainer.erase_users`):
        the subject's activity days vanish from every future serving."""
        self.pairs = drop_users(self.pairs, user_ids)

    def stickiness(self) -> DataFrame:
        """The DAU/WAU table in the batch operator's shape, served
        from the maintained pair set (same offset-explode rollup)."""
        cover = self.pairs.select(
            "user_id",
            "day",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        ).select("user_id", (F.col("day") + F.col("off")).alias("day"))
        wau = cover.groupBy("day").agg(
            F.countDistinct("user_id").alias("wau")
        )
        dau = self.pairs.groupBy("day").agg(
            F.count(F.lit(1)).alias("dau")
        )
        return (
            dau.join(wau, "day")
            .select(
                "day",
                "dau",
                "wau",
                F.round(
                    F.col("dau") / F.col("wau").cast("double"), 6
                ).alias("stickiness"),
            )
            .orderBy("day")
        )
