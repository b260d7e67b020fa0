"""Streaming PSI drift monitor (§2e 29af; the continuous form of
`plans/analytics.value_drift_psi`, #10am).

PSI is the production drift monitor BETWEEN a reference window and
live traffic — inherently a streaming job: the reference
distribution is frozen at deploy time and every micro-batch shifts
the current distribution. The sufficient statistic is the
(event_type, period, bucket) count grid — decomposable counters
bounded at n_types x 2 x n_bins cells — so a micro-batch stream
maintains it incrementally: per batch, bucket the batch's values
through the SAME `psi_bucket_col` expression the batch query uses,
additively merge into the running grid, lineage-cut with
localCheckpoint. Serving runs the SAME `psi_from_counts` tail, so a
replayed log produces EXACTLY the registered batch query's PSI table
(batch==stream pytest pin). The split timestamp is configuration
(the reference-window boundary a deploy fixes); the batch query's
retrospective halfway split is one choice of it.

Mirrors the reference's per-key running-count jobs
(`jobs/activeposts/PostStatisticsFunction.scala:20-150`); follows the
SprtMonitor pattern (streaming/sprt_stream.py) and the shared-
definition rule from ADVICE r7: no inline twin of the bucketing or
the PSI algebra exists here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics import psi_bucket_col, psi_from_counts
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

GRID_SCHEMA = "event_type string, period int, bucket long, c long"


class PsiMonitor(Monitor):
    """Accumulates the (type, period, bucket) count grid across
    micro-batches; `report()` serves the PSI table in the batch
    query's exact shape."""

    STATE = {"grid": (GRID_SCHEMA, ("event_type", "bucket"))}

    def __init__(self, spark, split_us: int) -> None:
        self.split_us = int(split_us)
        super().__init__(spark)

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = (
            batch_df.select(
                "event_type",
                F.when(F.unix_micros("ts") < F.lit(self.split_us), 0)
                .otherwise(1)
                .cast("int")
                .alias("period"),
                psi_bucket_col().alias("bucket"),
            )
            .groupBy("event_type", "period", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        keys = ["event_type", "period", "bucket"]
        return {"grid": summed(self.grid, delta, keys)}

    def report(self) -> DataFrame:
        """PSI per event type through the SAME serving tail the batch
        query uses, from the maintained bounded grid."""
        return psi_from_counts(self.grid)
