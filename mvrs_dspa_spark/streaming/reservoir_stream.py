"""Streaming bounded reservoir sample maintenance (§2e 29ai; the
continuous form of `operators/sampling.reservoir_sample_events`, #113).

Bottom-k-by-hash-priority is built for streams the same way KMV is
(theta_stream, 29ag): the state is ONLY the current k smallest-priority
rows (k rows at any event volume), and merging a micro-batch is
"k smallest of state ∪ batch" — a bounded union + rank prune,
order-INDEPENDENT because the priority is a pure function of event_id.
The maintained sample therefore EQUALS the batch query's sample over
the full log (batch==stream pytest pin, including sample_rank order),
which is exactly what Vitter's sequential algorithm R cannot give a
distributed replay.

Serving runs the SAME `reservoir_rank` tail as the batch query;
priorities come from the SHARED `reservoir_priorities` projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sampling import (
    RESERVOIR_K,
    reservoir_priorities,
    reservoir_rank,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users

STATE_SCHEMA = (
    "event_id long, user_id long, event_type string, "
    "value double, priority long"
)


class ReservoirMonitor(Monitor):
    """Maintains the bottom-k priority rows across micro-batches;
    `report()` serves the ranked sample in the batch query's shape."""

    STATE = {"state": (STATE_SCHEMA, None)}

    def _prune(self, df: DataFrame) -> DataFrame:
        w = Window.orderBy("priority", "event_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= RESERVOIR_K)
            .drop("rn")
        )

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        # per-batch prune BEFORE the state union: only a batch's own
        # bottom-k can enter the merged bottom-k (k-row state either
        # way; the prune keeps the union 2k rows, not state+batch)
        delta = self._prune(reservoir_priorities(batch_df))
        return {"state": self._prune(self.state.unionByName(delta))}

    def report(self) -> DataFrame:
        """The ranked sample through the SAME serving tail as #113."""
        return reservoir_rank(self.state)

    def erase_users(self, user_ids) -> None:
        """GDPR erasure: drop the subjects' sampled rows. Lossy in the
        same documented sense as ThetaMonitor — evicted ranks are not
        refilled from rows already discarded, so the sample shrinks
        below k until natural re-insertion (pytest-pinned)."""
        self.state = drop_users(self.state, user_ids)
