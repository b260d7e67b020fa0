"""Streaming ALS fold-in serving (§2e; the continuous form of
`operators/mlmodels.als_implicit_recs`, #142).

The production shape for a factorization recommender: the expensive
alternating fit runs in batch (model training), while the stream
handles *fold-in* — new or newly-active users get a factor vector by
solving their single ridge system against the FROZEN item factors
(Hu et al. 2008 §4: one user's solve only needs Y, YtY and that
user's own interactions; it touches no other user). FAISS-style
add-after-train for matrix factorization, and the model-serving twin
of the incremental IVF maintenance operator (#87).

Per micro-batch: interaction deltas are merged into the running
per-(user, item) count table (additive merge, the RfmMaintainer
pattern), then ONLY the users present in the batch are re-solved —
each re-solve is the same `_solve_side` the distributed batch fit
uses, so streamed factors are pinned EQUAL to a batch solve over the
same accumulated interactions (test_streaming_als).

State is bounded by (active users x touched items), not event
volume; the frozen item-factor frame and its k x k Gramian are
computed once at construction. Compaction hygiene follows the SCD2/
RFM maintainers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.mlmodels import (
    ALS_K,
    ALS_REC_N,
    _gramian,
    _solve_side,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, drop_users, summed

INTER_SCHEMA = "custkey long, partkey long, cnt long"
FACTOR_SCHEMA = "custkey long, fac array<double>"


class AlsFoldInServer(Monitor):
    """Folds new users into a frozen item-factor model, one ridge
    solve per affected user per batch; serves top-N unseen items."""

    STATE = {
        "inter": (INTER_SCHEMA, "custkey"),
        "factors": (FACTOR_SCHEMA, "custkey"),
    }
    COMPACT_TO = 16

    def __init__(self, spark, item_factors: DataFrame) -> None:
        # frozen model: localCheckpoint so every batch reuses the
        # materialized factors instead of re-running their lineage;
        # the k x k Gramian is likewise computed ONCE here (the batch
        # fit collects it per half-step; a frozen model never changes)
        self.items = item_factors.localCheckpoint(eager=True)
        self.items_yty = _gramian(self.items)
        super().__init__(spark)

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        """batch_df: (custkey, partkey) interaction events."""
        delta = batch_df.groupBy("custkey", "partkey").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # the re-solve reads the merged counts: settle them first
        inter = self.settle(
            "inter", summed(self.inter, delta, ["custkey", "partkey"])
        )
        touched = delta.select("custkey").distinct()
        solved = _solve_side(
            inter.join(F.broadcast(touched), "custkey"),
            self.items,
            "custkey",
            "partkey",
            self.items_yty,
        )
        kept = self.factors.join(touched, "custkey", "left_anti")
        return {"factors": kept.unionByName(solved)}

    def erase_users(self, user_ids) -> None:
        """GDPR erasure: the folded-in customers' interactions and
        factor vectors drop; a returning customer folds in afresh."""
        ids = list(user_ids)
        self.inter = drop_users(self.inter, ids, "custkey")
        self.factors = drop_users(self.factors, ids, "custkey")
    def recommend(self, n: int = ALS_REC_N) -> DataFrame:
        """Top-n unseen items for every folded-in user (the batch
        query's serving join, over the maintained factor table)."""
        dot = F.lit(0.0)
        for d in range(ALS_K):
            dot = dot + F.element_at("ufac", d + 1) * F.element_at(
                "vfac", d + 1
            )
        scored = (
            F.broadcast(self.factors.withColumnRenamed("fac", "ufac"))
            .crossJoin(self.items.withColumnRenamed("fac", "vfac"))
            .select("custkey", "partkey", F.round(dot, 6).alias("score"))
        )
        unseen = scored.join(
            self.inter.select("custkey", "partkey"),
            ["custkey", "partkey"],
            "left_anti",
        )
        w = Window.partitionBy("custkey").orderBy(
            F.desc("score"), F.asc("partkey")
        )
        return (
            unseen.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= n)
            .select("custkey", "partkey", "rank", "score")
            .orderBy("custkey", "rank")
        )

