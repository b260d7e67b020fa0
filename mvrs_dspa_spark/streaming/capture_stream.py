"""Streaming capture-recapture coverage monitor (§2e 29ao; the
continuous form of `plans/analytics5.user_capture_recapture`, #198).

State is the (user_id, in1, in2) capture-flag frame — user-dimension-
bounded (the 29ac DAU/WAU state class, NOT event-volume-bounded) and
OR-mergeable in any order, so a replayed log reproduces the batch
Chapman table EXACTLY through the SHARED `capture_table_from_flags`
tail (batch==stream pin). Unlike the aggregate-grid monitors
(PSI/W1/CUSUM/rank/bootstrap), the state here IS per-user, so GDPR
erasure is REAL: dropping the subjects' flag rows removes them from
every served count (pinned) — the same strong-erasure posture as the
SCD2/RFM maintainers.

The monitor takes the reference boundary as a configured timestamp
(the PsiMonitor convention) so batch and stream agree on the split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics5 import capture_table_from_flags
from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users, summed

STATE_SCHEMA = "user_id long, in1 int, in2 int"


class CaptureMonitor(Monitor):
    """Maintains per-user capture flags across micro-batches."""

    STATE = {"state": (STATE_SCHEMA, "user_id")}

    def __init__(self, spark, split_us: int) -> None:
        self.split_us = int(split_us)
        super().__init__(spark)

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        pre = F.unix_micros("ts") < F.lit(self.split_us)
        delta = batch_df.groupBy("user_id").agg(
            F.max(F.when(pre, 1).otherwise(0)).alias("in1"),
            F.max(F.when(~pre, 1).otherwise(0)).alias("in2"),
        )
        return {
            "state": summed(
                self.state, delta, ["user_id"], maxed=("in1", "in2")
            )
        }

    def report(self) -> DataFrame:
        """The Chapman table through the SAME serving tail as #198."""
        return capture_table_from_flags(self.state)

    def erase_users(self, user_ids) -> None:
        """REAL erasure: the state is per-user, so dropping the
        subjects' rows removes them from every served count."""
        self.state = drop_users(self.state, user_ids)
