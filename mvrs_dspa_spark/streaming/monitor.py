"""One protocol for the foreachBatch monitors: Spark-DataFrame state
carried across micro-batches, lineage-cut per batch, saved and loaded
for driver restarts, and erased per user.

A monitor declares its state frames and one per-batch step:

    class CountMonitor(Monitor):
        STATE = {"grid": ("event_type string, c long", "event_type")}

        def step(self, batch_df):
            delta = batch_df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("c")
            )
            return {"grid": summed(self.grid, delta, ["event_type"])}

`STATE` maps each attribute to (schema DDL, compaction key or None).
`update` is the foreachBatch callback: it skips an empty batch, runs
`step`, compacts each returned frame on its key once its partition
count passes `COMPACT_CAP` (every batch's union adds partitions; a
long-lived stream would otherwise splinter its state), checkpoints it
with `localCheckpoint(eager=True)`, and counts the batch. Local
checkpoints die with the driver, so `save`/`load` persist the frames:
pair them with the stream's checkpointLocation and a restarted query
resumes from the next unprocessed batch with the reloaded state.

`drain` runs a bounded source to completion through one or more
`update` callbacks; `feed` is the fan-out it (and the drift CLI)
hands to foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DRAIN_TIMEOUT_S = 300


class Monitor:
    """Base of the Spark-state monitors (see the module doc)."""

    STATE: dict[str, tuple[str, str | tuple[str, ...] | None]] = {}
    COMPACT_CAP = 64
    COMPACT_TO = 8

    def __init__(self, spark) -> None:
        self.spark = spark
        self.n_batches = 0
        self.n_compactions = 0
        for attr, (ddl, _) in self.STATE.items():
            setattr(self, attr, spark.createDataFrame([], ddl))

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        """The batch's new state frames, by attribute."""
        raise NotImplementedError

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for attr, frame in self.step(batch_df).items():
            self.settle(attr, frame)
        self.n_batches += 1

    def settle(self, attr: str, frame: DataFrame) -> DataFrame:
        """Compact `frame` on its STATE key if it is over the cap,
        checkpoint it and store it as `attr`."""
        key = self.STATE[attr][1]
        over = key is not None and (
            frame.rdd.getNumPartitions() > self.COMPACT_CAP
        )
        if over:
            keys = [key] if isinstance(key, str) else key
            frame = frame.repartition(self.COMPACT_TO, *keys)
            self.n_compactions += 1
        frame = frame.localCheckpoint(eager=True)
        setattr(self, attr, frame)
        return frame

    def erase_users(self, user_ids) -> None:
        """GDPR erasure. No-op unless a subclass holds per-user rows:
        aggregate grids keyed on (type, value, period, ...) hold counts
        the subjects' events already dissolved into, with no per-user
        attribution to delete; erasure then happens upstream on the
        retained event log."""

    def save(self, path: str) -> None:
        """One state frame is written to `path`, several to
        `path/<attr>`."""
        for attr, p in self._paths(path):
            getattr(self, attr).write.mode("overwrite").parquet(p)

    @classmethod
    def load(cls, spark, path: str, *args) -> "Monitor":
        """The inverse of `save`; `args` are the constructor's after
        `spark`."""
        mon = cls(spark, *args)
        for attr, p in mon._paths(path):
            cols = getattr(mon, attr).columns
            mon.settle(attr, spark.read.parquet(p).select(*cols))
        return mon

    def _paths(self, path: str) -> list[tuple[str, str]]:
        if len(self.STATE) == 1:
            return [(attr, path) for attr in self.STATE]
        return [(attr, f"{path}/{attr}") for attr in self.STATE]


def summed(
    state: DataFrame, delta: DataFrame, keys, maxed=()
) -> DataFrame:
    """Additive merge: union + groupBy(keys), summing every other
    column (taking the max of those in `maxed`). Unlike a full-outer
    join on the keys, NULL keys group together, so a NULL-keyed row
    merges across batches instead of splitting into one row each."""
    keys = list(keys)
    aggs = [
        (F.max if c in maxed else F.sum)(c).alias(c)
        for c in state.columns
        if c not in keys
    ]
    return state.unionByName(delta).groupBy(*keys).agg(*aggs)


def drop_users(frame: DataFrame, ids, col: str = "user_id") -> DataFrame:
    """`frame` without the rows of the given users, checkpointed.
    NULL-keyed rows stay: `~isin(ids)` alone is NULL for a NULL key,
    which would erase all null-keyed state with the named users."""
    ids = list(ids)
    if not ids:
        return frame
    return frame.where(
        ~F.col(col).isin(ids) | F.col(col).isNull()
    ).localCheckpoint(eager=True)


def feed(*updates):
    """One foreachBatch callback running every update on the batch;
    with more than one, the batch is persisted once and shared."""
    if len(updates) == 1:
        return updates[0]

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for update in updates:
                update(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return fan_out


def drain(source: DataFrame, checkpoint: str, *updates) -> None:
    """Run a bounded stream to completion (availableNow) through the
    updates. A timed-out stream is stopped and raises: a silently
    partial state would surface later as a batch/stream mismatch."""
    q = (
        source.writeStream.foreachBatch(feed(*updates))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream did not finish within {DRAIN_TIMEOUT_S}s"
        )
