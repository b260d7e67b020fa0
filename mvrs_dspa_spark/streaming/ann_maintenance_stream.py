"""Streaming IVF index-maintenance monitor (§2e 29as; the continuous
form of `operators/ann.ann_index_maintenance`, #87).

The r11 exact-grid conversion is what makes this maintainer possible:
per-cell (count, int64 squared-distance sum) stats against the FIXED
trained quantizer are ADDITIVE, so the state — bounded by nlist x 2
rows, independent of ingest volume — merges across micro-batches in
any order and serves the registered batch report BIT-FOR-BIT through
the shared `maintenance_report_from_stats` tail (batch==stream pin).
This is the recurring-ingest ANN shape: the index owner watches the
report between ingests and retrains only when a cell flags.

Erasure is PER-VECTOR EXACT: additive integer sums subtract as
precisely as they add, so `erase_vectors` removes a vector's exact
(cell, slice, d2) contribution given the vector itself (the quantizer
is pinned, so the assignment is recomputable) — the strongest erasure
posture in the monitor family (cf. 29ao's per-user log erasure,
29aj's documented structural inability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.ann import (
    maintenance_cell_stats,
    maintenance_report_from_stats,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

STATE_SCHEMA = "cluster int, is_base boolean, n long, s_d2 long"


class AnnMaintenanceMonitor(Monitor):
    """Maintains per-cell base/delta occupancy + exact distance sums
    for a PINNED integer-grid coarse quantizer across micro-batches of
    (vec_id, embedding) rows."""

    STATE = {"state": (STATE_SCHEMA, "cluster")}

    def __init__(self, spark, cents: list[list[int]]) -> None:
        if not cents:
            raise ValueError("AnnMaintenanceMonitor needs a trained quantizer")
        self.cents = [[int(x) for x in c] for c in cents]
        super().__init__(spark)

    def _merged(self, delta: DataFrame) -> DataFrame:
        return summed(self.state, delta, ["cluster", "is_base"]).where(
            F.col("n") > 0  # fully-erased cells leave no row
        )

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = maintenance_cell_stats(batch_df, self.cents)
        return {"state": self._merged(delta)}

    def erase_vectors(self, vectors_df: DataFrame) -> None:
        """Subtract the exact contribution of the given
        (vec_id, embedding) rows — integer sums erase as precisely as
        they accumulate."""
        if vectors_df.isEmpty():
            return
        gone = maintenance_cell_stats(vectors_df, self.cents).select(
            "cluster",
            "is_base",
            (-F.col("n")).alias("n"),
            (-F.col("s_d2")).alias("s_d2"),
        )
        self.settle("state", self._merged(gone))

    def report(self) -> DataFrame:
        """The maintenance report through the SAME serving tail as the
        registered #87 batch query."""
        return maintenance_report_from_stats(self.state)
