"""Streaming SCD2 dimension maintenance (§2e; the continuous form of
`plans/analytics.user_state_history`).

A warehouse's slowly-changing dimension is maintained from a change
stream, not rebuilt from scratch: per micro-batch, only the batch's
users are touched — their OPEN version row is replayed as the seed
ahead of the batch's events, the same change-detection window the
batch operator uses recomputes just that tail segment (closing the
open row if the state moved, chaining any further changes), and
version numbers continue from the user's closed-row count. Untouched
users' rows are never rewritten, so per-batch work is O(affected
users), not O(dimension).

Driver state is the history DataFrame itself, lineage-cut per batch
with localCheckpoint (the recommendations-job pattern); on a cluster
the same merge writes through a Delta/Iceberg MERGE instead. The
batch==stream equality test pins that replaying the event log in
ordered micro-batches produces EXACTLY the batch-built SCD2 table —
rows, intervals, flags, and version numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users

HISTORY_SCHEMA = (
    "user_id long, state string, valid_from timestamp, "
    "valid_to timestamp, is_current boolean, version long"
)


class Scd2Maintainer(Monitor):
    """Accumulates the SCD2 history across micro-batches."""

    # every batch unions (untouched ∪ recomputed), so the history's
    # partition count grows by ~shuffle_partitions per batch; compact
    # on user_id so the next batch's per-user joins start from a sane
    # layout
    STATE = {"history": (HISTORY_SCHEMA, "user_id")}
    COMPACT_TO = 16

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        affected = batch_df.select(F.col("user_id").alias("_uid")).distinct()
        # NULL-safe: a NULL user's rows must be found like any other's
        hit = F.col("user_id").eqNullSafe(F.col("_uid"))
        mine = self.history.join(affected, hit, "left_semi")

        # seed: each affected user's open row, replayed ahead of the
        # batch (event_id -1 sorts before any real event at equal ts)
        open_rows = mine.where(F.col("is_current"))
        seeds = open_rows.select(
            "user_id",
            F.col("state"),
            F.col("valid_from").alias("ts"),
            F.lit(-1).cast("long").alias("event_id"),
        )
        batch_ev = batch_df.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
        )
        seg = seeds.unionByName(batch_ev)

        # same change-detection + interval chaining as the batch op
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        changes = (
            seg.withColumn("prev_state", F.lag("state").over(w))
            .where(
                F.col("prev_state").isNull()
                | (F.col("state") != F.col("prev_state"))
            )
            .select("user_id", "state", F.col("ts").alias("valid_from"))
        )
        w2 = Window.partitionBy("user_id").orderBy("valid_from")
        # versions continue from each user's closed-row count
        offsets = (
            mine.where(~F.col("is_current"))
            .groupBy(F.col("user_id").alias("_uid"))
            .agg(F.count(F.lit(1)).alias("n_closed"))
        )
        recomputed = (
            changes.withColumn(
                "valid_to", F.lead("valid_from").over(w2)
            )
            .withColumn("is_current", F.col("valid_to").isNull())
            .withColumn("rn", F.row_number().over(w2).cast("long"))
            .join(offsets, hit, "left")
            .select(
                "user_id",
                "state",
                "valid_from",
                "valid_to",
                "is_current",
                (F.col("rn") + F.coalesce("n_closed", F.lit(0))).alias(
                    "version"
                ),
            )
        )
        untouched = self.history.join(affected, hit, "left_anti").unionByName(
            # affected users' CLOSED rows stay as-is
            mine.where(~F.col("is_current"))
        )
        return {"history": untouched.unionByName(recomputed)}

    def erase_users(self, user_ids) -> None:
        """GDPR right-to-be-forgotten enforcement for STREAMING state
        (the stateful twin of `validation.gdpr_erasure_audit`): drop
        every dimension row of the requested subjects from the
        checkpointed history. Deletion requests arrive out-of-band of
        the event stream, so this is an operator API, not a batch
        transform; if the subject reappears later, their history
        restarts from scratch (version 1) — exactly the erase-then-new
        semantics the regulation requires. The filter is a broadcast
        NOT-IN over the (small) request list; at cluster scale the
        same contract is a MERGE DELETE on the dimension table."""
        self.history = drop_users(self.history, user_ids)

