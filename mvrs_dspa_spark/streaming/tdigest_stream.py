"""Streaming t-digest quantile maintenance (§2e 29aq; the continuous
form of `operators/sketches.tdigest_value_quantiles`, #116).

The r10 rank-bucket digest's sufficient statistic is the
(event_type, cents, cnt) count grid — the SAME value-domain-bounded
additive state shape the W1/PSI/CUSUM monitors maintain (cents coded
through the shared `w1_cents_col`). Per micro-batch, events bucket
into (type, cents) count deltas and merge additively; `report()`
serves the quantile table through the SHARED `tdigest_from_grid`
tail, so a replayed event log reproduces the registered batch
query's digest BIT-FOR-BIT (batch==stream pytest pin — exactness
survives because every grid count is an integer and the serving math
is the batch query's own engine-exact pipeline). State is bounded by
the distinct cent values seen per type, never by event volume, and
the additive merge is commutative/associative, so reports are
replay-order independent with no watermark or eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sketches import tdigest_from_grid
from mvrs_dspa_spark.plans.analytics4 import w1_cents_col
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

GRID_SCHEMA = "event_type string, cents long, cnt long"


class TDigestMonitor(Monitor):
    """Accumulates the (type, cents) count grid across micro-batches;
    `report()` serves the quantile table in the batch query's exact
    shape."""

    STATE = {"grid": (GRID_SCHEMA, "event_type")}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = (
            batch_df.select("event_type", w1_cents_col().alias("cents"))
            .groupBy("event_type", "cents")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return {"grid": summed(self.grid, delta, ["event_type", "cents"])}

    def report(self) -> DataFrame:
        """Per-type quantile table through the SAME serving tail the
        batch query uses, from the maintained value-domain-bounded
        grid."""
        return tdigest_from_grid(self.grid)
