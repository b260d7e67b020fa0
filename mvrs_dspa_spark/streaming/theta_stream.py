"""Streaming theta/KMV distinct sketch maintenance (§2e 29ag; the
continuous form of `operators/sketches.theta_sketch_distinct_union`,
#108).

KMV is built for streams: the per-type state is ONLY the k smallest
distinct hash codes (k x n_types rows, independent of event volume),
and merging a micro-batch is "k smallest of state ∪ batch codes" — a
bounded union + rank prune, order-INDEPENDENT, so the maintained
sketch is EXACTLY the batch query's sketch over the full log
(batch==stream pytest pin on kth_code/est_distinct, including the
'__union__' row: a code among the global k smallest is necessarily
among its own type's k smallest, so the union sketch built from
per-type states equals the one built from all codes — the KMV union
property the batch query's doc relies on).

Serving runs the SAME `theta_sketch_table` tail as the batch query
(exact=False: the ground-truth n_exact/rel_err columns are
unavailable from bounded state BY CONSTRUCTION — that is the entire
point of a sketch). Hash is the shared `theta_code_col`. Completes
the streaming sketch family: CMS (29v/29s), HLL (29w), SPRT (29ae),
PSI (29af).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sketches import (
    THETA_K,
    theta_code_col,
    theta_sketch_table,
)
from mvrs_dspa_spark.streaming.monitor import Monitor

STATE_SCHEMA = "event_type string, code long"


class ThetaMonitor(Monitor):
    """Maintains the k smallest distinct codes per event type across
    micro-batches; `report()` serves the sketch table in the batch
    query's shape (sans the exact-count audit columns)."""

    STATE = {"state": (STATE_SCHEMA, "event_type")}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        w = Window.partitionBy("event_type").orderBy("code")
        delta = (
            batch_df.select(
                "event_type", theta_code_col().alias("code")
            )
            .distinct()
            # per-batch prune BEFORE the state union: only a batch's
            # own k smallest can enter the merged k smallest
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= THETA_K)
            .drop("rn")
        )
        merged = (
            self.state.unionByName(delta)
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= THETA_K)
            .drop("rn")
        )
        return {"state": merged}

    def report(self) -> DataFrame:
        """Per-type + '__union__' sketch rows through the SAME serving
        tail the batch query uses, from the bounded k-per-type state."""
        return theta_sketch_table(self.state, exact=False)

    def erase_users(self, user_ids) -> None:
        """GDPR erasure: the state IS per-user (one hash code per
        retained user), and the affine hash is invertible-free
        forward-computable — drop the subjects' codes. The estimate
        then reflects the corpus without them (KMV deletion is lossy:
        evicted ranks are not refilled, matching a re-scan only after
        natural re-insertion — documented semantics, pytest-pinned)."""
        ids = [int(u) for u in user_ids]
        if not ids:
            return
        codes = self.spark.createDataFrame(
            [(u,) for u in ids], "user_id long"
        ).select(theta_code_col().alias("gone"))
        self.state = (
            self.state.join(
                codes, self.state["code"] == codes["gone"], "left_anti"
            ).localCheckpoint(eager=True)
        )
