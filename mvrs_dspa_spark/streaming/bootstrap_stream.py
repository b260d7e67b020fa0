"""Streaming Poisson-bootstrap CI monitor (§2e 29an; the continuous
form of `plans/analytics5.bootstrap_mean_ci`, #194).

Row-independence is the entire point of the Poisson bootstrap, and it
pays twice on a stream: the per-(type, replicate) weighted sums are
pure functions of each row's event_id, so they are ADDITIVE across
micro-batches — state is B x types rows no matter the volume — and a
replayed log reproduces the batch CI table EXACTLY through the SHARED
`bootstrap_ci_from_reps` tail (batch==stream pin). The uncertainty-
quantification member of the continuous monitoring family (point
drift: PSI/W1/KS; tests: SPRT/rank; this: CI width).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mvrs_dspa_spark.plans.analytics5 import (
    bootstrap_ci_from_reps,
    bootstrap_rep_sums,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

STATE_SCHEMA = (
    "event_type string, b int, swx decimal(38,0), sw long, "
    "n long, sx decimal(38,0)"
)


class BootstrapMonitor(Monitor):
    """Maintains the additive per-(type, replicate) weighted sums
    across micro-batches; `report()` serves the CI table."""

    STATE = {"state": (STATE_SCHEMA, "event_type")}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = bootstrap_rep_sums(batch_df)
        return {"state": summed(self.state, delta, ["event_type", "b"])}

    def report(self) -> DataFrame:
        """The CI table through the SAME serving tail as #194."""
        return bootstrap_ci_from_reps(self.state)
