"""Streaming temporal (point-in-time) join — the continuous form of
`plans/analytics2.point_in_time_state_join` (#118), i.e. Flink's
temporal table join deployed over the maintained SCD2 dimension
(`scd2_stream.Scd2Maintainer`, 29y).

Per micro-batch: first the SCD2 maintainer applies the batch (so
intra-batch state transitions exist as version rows — enriching
against the PRE-update history would miss a click→purchase flip
inside one batch and diverge from batch semantics), then the batch's
events are joined against the post-update history on user_id with the
interval check (valid_from < ts <= valid_to, open row unbounded) as a
residual. Because replay is time-ordered, versions appended by LATER
batches can never satisfy valid_from < ts for an already-enriched
event, and closing an open interval only shrinks valid_to down to
some later batch's first change — still >= ts for every event it
covered — so per-batch enrichment equals the batch operator exactly
(the equality pytest pins it).

At cluster scale the history side is a user_id-bucketed dimension
table (Delta/Iceberg) and the per-batch join is the standard
stream-table temporal join shape; here both sides live as DataFrames
with the same compaction hygiene as the other maintainers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users
from mvrs_dspa_spark.streaming.scd2_stream import (
    HISTORY_SCHEMA,
    Scd2Maintainer,
)

ENRICHED_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, prior_state string"
)


class TemporalJoinMaintainer(Monitor):
    """Maintains the SCD2 dimension AND the temporally-enriched event
    ledger across micro-batches."""

    # `history` is the nested SCD2 dimension's frame (the property
    # below), declared here so save/load carry it with the ledger
    STATE = {
        "history": (HISTORY_SCHEMA, "user_id"),
        "enriched": (ENRICHED_SCHEMA, "user_id"),
    }
    COMPACT_TO = 16

    def __init__(self, spark) -> None:
        self.scd2 = Scd2Maintainer(spark)
        super().__init__(spark)

    @property
    def history(self) -> DataFrame:
        return self.scd2.history

    @history.setter
    def history(self, frame: DataFrame) -> None:
        self.scd2.history = frame

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        self.scd2.update(batch_df, self.n_batches)
        hist = self.history.select(
            F.col("user_id").alias("h_user_id"),
            F.col("state").alias("prior_state"),
            "valid_from",
            "valid_to",
        )
        enriched = (
            batch_df.join(
                hist,
                (batch_df["user_id"] == hist["h_user_id"])
                & (hist["valid_from"] < batch_df["ts"])
                & (
                    hist["valid_to"].isNull()
                    | (batch_df["ts"] <= hist["valid_to"])
                ),
                "left",
            )
            .select(
                "event_id",
                "ts",
                "user_id",
                "event_type",
                "value",
                F.coalesce("prior_state", F.lit("none")).alias(
                    "prior_state"
                ),
            )
        )
        return {"enriched": self.enriched.unionByName(enriched)}

    def erase_users(self, user_ids) -> None:
        """GDPR erasure across BOTH maintained states: the SCD2
        dimension rows and the enriched event ledger of the requested
        subjects (see `scd2_stream.Scd2Maintainer.erase_users`)."""
        ids = list(user_ids)
        self.scd2.erase_users(ids)
        self.enriched = drop_users(self.enriched, ids)

    def rollup(self) -> DataFrame:
        """The (prior_state x event_type) summary in the batch
        operator's shape, served from the accumulated ledger."""
        return (
            self.enriched.groupBy("prior_state", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .orderBy("prior_state", "event_type")
        )
