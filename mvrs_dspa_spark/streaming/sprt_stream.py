"""Streaming sequential A/B monitor (§2e; the continuous form of
`plans/analytics4.sequential_ab_sprt`, #167).

Wald's SPRT is BUILT for streaming — the whole point of a sequential
test is deciding as data arrives instead of at a fixed horizon. The
per-day sufficient statistics are two decomposable counters (trials,
successes on the treatment arm), so a micro-batch stream maintains
the daily grid incrementally: per batch, aggregate the batch's
treatment-arm trials per day (map-side partial), additively merge
into the running (day, n_trials, n_success) table, lineage-cut with
localCheckpoint. Serving re-runs the SAME cumulative int-code LLR
window the batch query uses over the bounded day grid, so decision
days are IDENTICAL to the batch computation by construction.

The batch==stream pytest pins that replaying the event log in
micro-batches produces EXACTLY the registered batch query's table.
Mirrors the reference's per-key running-count jobs
(`jobs/activeposts/PostStatisticsFunction.scala:20-150`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ONE experiment definition shared with the registered batch query —
# arm hash, day bucketing, success predicate, and the LLR/decision
# serving tail all live in analytics4 (ADVICE r7: no inline twin to
# drift out of sync with the batch filter).
from mvrs_dspa_spark.plans.analytics4 import (
    sprt_arm_filter,
    sprt_day_col,
    sprt_decision_table,
    sprt_success_col,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

DAILY_SCHEMA = "day long, n_trials long, n_success long"


class SprtMonitor(Monitor):
    """Accumulates the treatment arm's daily Bernoulli counts across
    micro-batches; `report()` serves the cumulative-LLR decision
    table in the batch query's exact shape."""

    STATE = {"daily": (DAILY_SCHEMA, "day")}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = (
            batch_df.where(sprt_arm_filter())
            .select(sprt_day_col(), sprt_success_col())
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n_trials"),
                F.sum("success").alias("n_success"),
            )
        )
        return {"daily": summed(self.daily, delta, ["day"])}

    def report(self) -> DataFrame:
        """The registered batch query's exact output shape, served
        from the maintained day grid (bounded by the retention
        window, not event volume) through the SAME serving tail the
        batch query uses."""
        return sprt_decision_table(self.daily)

    def decision(self) -> str:
        """The test's CURRENT decision: the latest day's row (SPRT
        stops at the first boundary crossing; on a replayed log the
        latest cumulative row carries the live state)."""
        rows = self.report().collect()
        return rows[-1].decision if rows else "continue"
