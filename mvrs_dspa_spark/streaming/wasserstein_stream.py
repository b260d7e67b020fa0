"""Streaming exact Wasserstein-1 drift monitor (§2e 29ah; the
continuous form of `plans/analytics4.value_wasserstein_drift`, #175).

Completes the continuous drift family — PSI (29af, binned,
saturates), and now the magnitude-aware W1 between a frozen reference
window and live traffic. The sufficient statistic is the
(event_type, cents, c1, c2) count grid: cents is the exact value
domain coded through the SHARED `w1_cents_col`, so the state is
value-DOMAIN-bounded (distinct cent values seen per type), not event-
volume-bounded — the right trade for a monetary column whose support
is a bounded price grid. Per micro-batch, events bucket into
(type, period, cents) deltas (period from a configured reference-
boundary timestamp, the PsiMonitor convention) and merge additively;
serving runs the SHARED `w1_from_cells` tail, so a replayed log
reproduces the registered batch query's W1 table EXACTLY
(batch==stream pytest pin — exactness survives because every count is
an integer and the serving math is the batch query's own
decimal(38,0) pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics4 import w1_cents_col, w1_from_cells
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

GRID_SCHEMA = "event_type string, cents long, c1 long, c2 long"


class WassersteinMonitor(Monitor):
    """Accumulates the (type, cents) reference/current count grid
    across micro-batches; `report()` serves the W1 table in the batch
    query's exact shape."""

    STATE = {"grid": (GRID_SCHEMA, "event_type")}

    def __init__(self, spark, split_us: int) -> None:
        self.split_us = int(split_us)
        super().__init__(spark)

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        is_ref = F.unix_micros("ts") < F.lit(self.split_us)
        delta = (
            batch_df.select(
                "event_type",
                is_ref.alias("ref"),
                w1_cents_col().alias("cents"),
            )
            .groupBy("event_type", "cents")
            .agg(
                F.sum(F.when(F.col("ref"), 1).otherwise(0)).alias("c1"),
                F.sum(F.when(~F.col("ref"), 1).otherwise(0)).alias("c2"),
            )
        )
        return {"grid": summed(self.grid, delta, ["event_type", "cents"])}

    def report(self) -> DataFrame:
        """W1 per event type through the SAME serving tail the batch
        query uses, from the maintained value-domain-bounded grid."""
        return w1_from_cells(self.grid)

    def ks_report(self) -> DataFrame:
        """Exact two-sample KS per type from the SAME grid — one
        maintained state, two drift statistics (W1 = magnitude, KS =
        sup-distance). Serves through the shared `ks_from_cells`
        tail, so a replayed log reproduces the registered batch KS
        query (#10am-b) exactly (pytest-pinned)."""
        from mvrs_dspa_spark.plans.analytics4 import ks_from_cells

        return ks_from_cells(self.grid)

    def divergence_report(self) -> DataFrame:
        """JSD + Hellinger from the SAME grid through the shared
        `divergences_from_cells` tail (#202) — one maintained state,
        four drift statistics (W1, KS, JSD, Hellinger), all equal to
        their batch twins exactly (pytest-pinned)."""
        from mvrs_dspa_spark.plans.analytics4 import divergences_from_cells

        return divergences_from_cells(self.grid)
