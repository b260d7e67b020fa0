"""Streaming Markov-attribution monitor (§2e 29ap; the continuous
form of `plans/analytics2.markov_attribution`, #131).

State is TWO bounded frames:
- the ADDITIVE (src, dst, n) transition-count grid — domain-bounded
  (|states|+2 cells squared, never event-volume-bounded; int64
  merges in any order), holding every CLOSED transition;
- the per-user (user_id, ts_us, event_id, last_type) open-journey
  frame — user-dimension-bounded (the 29ac/29ao state class), holding
  each journey's last event so the NEXT batch can close the boundary
  transition.

Per batch (time-ordered replay, the 29aa temporal-join contract):
intra-batch transitions come from the SAME ordered-LEAD expression
the batch query uses; each user's first batch event closes a boundary
transition from the carried `last_type` (or opens the journey with a
'start' transition); the batch's last event per user replaces the
carried state. 'null' absorption is NEVER materialized while the
stream runs — an open journey's terminal transition is unknowable —
so serving adds one VIRTUAL (last_type, 'null') row per open
non-purchase journey and runs the SHARED `markov_table_from_cells`
Cramer tail. A fully replayed log therefore reproduces the batch
attribution table EXACTLY (batch==stream pin).

GDPR erasure is hybrid and documented: dropping a subject's
open-journey row is REAL (their pending 'null' closure leaves every
future report), while their already-closed transitions live only as
counts in the aggregate grid (the PSI/CUSUM counts-only posture —
no per-user attribution to delete).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics2 import (
    _mk_cells_exprs_weighted,
    markov_table_from_cells,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users, summed

GRID_SCHEMA = "src string, dst string, n long"
LAST_SCHEMA = "user_id long, ts_us long, event_id long, last_type string"


class MarkovMonitor(Monitor):
    """Maintains the transition grid + open-journey frame."""

    STATE = {
        "grid": (GRID_SCHEMA, "src"),
        "last": (LAST_SCHEMA, "user_id"),
    }

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        ev = batch_df.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        steps = ev.select(
            "user_id",
            "ts_us",
            "event_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_raw"),
            F.row_number().over(w).alias("pos"),
        ).localCheckpoint(eager=True)
        # closed intra-batch transitions (the batch query's chans rows
        # minus the journey-end 'null' rows, which stay open here)
        intra = steps.where(
            (F.col("event_type") != "purchase")
            & F.col("next_raw").isNotNull()
        ).selectExpr(
            "event_type AS src",
            "CASE WHEN next_raw = 'purchase' THEN 'conversion' "
            "ELSE next_raw END AS dst",
        )
        # boundary: carried last_type -> first batch event (or the
        # 'start' opener for a user never seen before); a journey
        # parked on 'purchase' emits nothing (purchase is never a src)
        firsts = steps.where(F.col("pos") == 1).select(
            "user_id", F.col("event_type").alias("ftype")
        )
        carried = self.last.select(F.col("user_id").alias("_uid"), "last_type")
        boundary = (
            # NULL-safe: a NULL user's journey continues like any other's
            firsts.join(
                carried, F.col("user_id").eqNullSafe(F.col("_uid")), "left"
            )
            .where(
                F.col("last_type").isNull()
                | (F.col("last_type") != "purchase")
            )
            .selectExpr(
                "COALESCE(last_type, 'start') AS src",
                "CASE WHEN ftype = 'purchase' THEN 'conversion' "
                "ELSE ftype END AS dst",
            )
        )
        deltas = (
            intra.unionByName(boundary)
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        grid = summed(self.grid, deltas, ["src", "dst"])
        # open-journey frame: the batch's last event per user replaces
        # the carried row (struct-max keeps the latest (ts, event_id))
        batch_last = ev.groupBy("user_id").agg(
            F.max(F.struct("ts_us", "event_id", "event_type")).alias("m")
        ).select(
            "user_id",
            F.col("m.ts_us").alias("ts_us"),
            F.col("m.event_id").alias("event_id"),
            F.col("m.event_type").alias("last_type"),
        )
        last = (
            self.last.unionByName(batch_last)
            .groupBy("user_id")
            .agg(
                F.max(
                    F.struct("ts_us", "event_id", "last_type")
                ).alias("m")
            )
            .select(
                "user_id",
                F.col("m.ts_us").alias("ts_us"),
                F.col("m.event_id").alias("event_id"),
                F.col("m.last_type").alias("last_type"),
            )
        )
        return {"grid": grid, "last": last}

    def report(self) -> DataFrame:
        """The attribution table through the SHARED Cramer tail: grid
        counts plus one virtual 'null' closure per open non-purchase
        journey — exactly the batch query's lead-NULL rows."""
        closures = self.last.where(
            F.col("last_type") != "purchase"
        ).selectExpr(
            "last_type AS src", "'null' AS dst", "CAST(1 AS LONG) AS n"
        )
        counts = self.grid.unionByName(closures)
        return markov_table_from_cells(
            counts.selectExpr(*_mk_cells_exprs_weighted())
        )

    def erase_users(self, user_ids) -> None:
        """Hybrid erasure: the subjects' open-journey rows drop (their
        pending 'null' closure leaves every served report — REAL);
        their closed transitions exist only as aggregate grid counts
        with no per-user attribution (counts-only posture)."""
        self.last = drop_users(self.last, user_ids)

