"""Streaming embedding centroid-drift monitor (§2e 29am; the
continuous form of `operators/embeddings.embedding_centroid_drift`,
#191).

The per-(label, slice, dim) coded component sums are int64-exact and
ADDITIVE, so the state — bounded by labels x 2 x dims, independent of
vector volume — merges across micro-batches in any order; serving
runs the SHARED `embedding_drift_from_sums` tail, so a replayed
embedding log reproduces the batch drift table EXACTLY (batch==stream
pin). The representation-space member of the continuous drift family
(PSI 29af, W1 29ah, rank tests 29al).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mvrs_dspa_spark.operators.embeddings import (
    embedding_dim_sums,
    embedding_drift_from_sums,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

STATE_SCHEMA = "label int, period int, dim int, s_c long, n long"


class EmbeddingDriftMonitor(Monitor):
    """Maintains the additive per-dimension coded-sum grid across
    micro-batches of (vec_id, embedding, label) rows."""

    STATE = {"state": (STATE_SCHEMA, "label")}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = embedding_dim_sums(batch_df)
        keys = ["label", "period", "dim"]
        return {"state": summed(self.state, delta, keys)}

    def report(self) -> DataFrame:
        """The drift table through the SAME serving tail as #191."""
        return embedding_drift_from_sums(self.state)
