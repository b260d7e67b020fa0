"""Streaming CUSUM changepoint monitor (§2e 29ak; the continuous form
of `plans/analytics.hourly_changepoint_cusum`, #10an).

The round-8 integer-cent rework of the batch query made its hourly
grid ADDITIVE: cells are (event_type, hour, sum-of-cent-codes), and
int64 sums merge across micro-batches in any order without float
drift. State is therefore the hourly grid itself — bounded by the
time span (hours x types, the same state class as the W1/PSI value
grids are bounded by the value domain), NOT by event volume — and
serving runs the SHARED `cusum_from_hourly` tail, so a replayed log
reproduces the batch changepoint table EXACTLY (batch==stream pin;
the peak statistic n*prefix - k*total is decimal-exact on the grid).

Completes the continuous drift/monitoring family: PSI (29af), theta
(29ag), W1 (29ah), reservoir (29ai), Bloom (29aj).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics import (
    cusum_cents_col,
    cusum_from_hourly,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

STATE_SCHEMA = "event_type string, hour timestamp, x_c long"


class CusumMonitor(Monitor):
    """Maintains the additive hourly cent-sum grid across
    micro-batches; `report()` serves the changepoint table in the
    batch query's shape via the shared tail."""

    STATE = {"state": (STATE_SCHEMA, "event_type")}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = batch_df.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        ).agg(F.sum(cusum_cents_col()).alias("x_c"))
        return {"state": summed(self.state, delta, ["event_type", "hour"])}

    def report(self) -> DataFrame:
        """The changepoint table through the SAME serving tail as
        #10an, from the maintained grid."""
        return cusum_from_hourly(self.state)

    def segmented_report(self) -> DataFrame:
        """The interrupted-time-series table (#190) from the SAME
        maintained grid — one state, changepoint + break
        quantification, both equal to their batch twins exactly
        (pytest-pinned)."""
        from mvrs_dspa_spark.plans.analytics5 import (
            segmented_trend_from_cells,
        )

        return segmented_trend_from_cells(self.state)
