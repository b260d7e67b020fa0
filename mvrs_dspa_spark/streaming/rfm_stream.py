"""Streaming RFM segment maintenance (§2e; the continuous form of
`plans/analytics.user_rfm_segments`, #79).

The batch RFM query needs three per-user aggregates — last-activity
MAX, event COUNT, value SUM — all decomposable, so a micro-batch
stream maintains them incrementally: per batch, aggregate the batch
(map-side partial), union-merge it into the running per-user stats
table (max / sum / sum, the batch query's own aggregates, so a
NULL-user row merges across batches as it groups in batch),
lineage-cut with localCheckpoint. The
quintile-edge scoring that turns stats into (r, f, m) scores is the
SAME shared function the registered batch query calls
(`rfm_scores_from_stats`), re-run on demand over the bounded stats
table — edges are corpus quantiles, so they are recomputed from the
maintained table, not streamed (a 1-row broadcast each serve, the
cheap part by construction).

The batch==stream pytest pins that replaying the event log in
micro-batches produces EXACTLY the batch query's segment table.
Mirrors the reference's stateful per-user statistics jobs
(`jobs/activeposts/PostStatisticsFunction.scala:20-150` keeps
per-key running counts the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users, summed

STATS_SCHEMA = (
    "user_id long, last_us long, frequency long, monetary_sum double"
)


class RfmMaintainer(Monitor):
    """Accumulates per-user RFM sufficient statistics across
    micro-batches; `segments()` serves the scored table."""

    STATE = {"stats": (STATS_SCHEMA, "user_id")}
    COMPACT_TO = 16

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = batch_df.groupBy("user_id").agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("value").alias("monetary_sum"),
        )
        return {
            "stats": summed(
                self.stats, delta, ["user_id"], maxed=("last_us",)
            )
        }

    def erase_users(self, user_ids) -> None:
        """GDPR erasure for the streaming stats table (see
        `scd2_stream.Scd2Maintainer.erase_users`): the subject's
        sufficient statistics vanish; if they reappear, recency/
        frequency/monetary accumulate from zero."""
        self.stats = drop_users(self.stats, user_ids)

    def segments(self) -> DataFrame:
        from mvrs_dspa_spark.plans.analytics import rfm_scores_from_stats

        return rfm_scores_from_stats(self.stats)
