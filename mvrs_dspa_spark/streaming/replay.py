"""Scaled event-time replay (SURVEY §2e #25).

PySpark re-expression of the reference's replay machinery
(`functions/ScaledReplayFunction.scala`, `functions/EventScheduler.scala`,
`functions/ReplayedSourceFunction.scala`): a historical event table is
replayed as a stream at ``speedup``× real time, with a bounded,
deterministic pseudo-random out-of-order delay per event (the
reference uses a capped normal distribution seeded at 137; we use a
hash-uniform delay so Spark recomputation is exactly reproducible —
no RNG state to checkpoint, which the reference marks as an open TODO).

Spark-first design: instead of a per-event sleeping thread (which
cannot scale past one task), the schedule is a **pure column
computation** — every event gets a deterministic emission offset, and
the stream is materialized as ordered micro-batch files consumed by a
file-source stream (`maxFilesPerTrigger=1`). On a real cluster the
same schedule column drives a Kafka producer; the schedule, not the
transport, is the operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.config import settings

DEFAULT_SEED = 137  # reference ScaledReplayFunction.scala:70 (rand seed)
# ref application.conf data.speedup-factor
DEFAULT_SPEEDUP = settings.data.speedup_factor


def replay_schedule(
    df: DataFrame,
    speedup: float = DEFAULT_SPEEDUP,
    max_delay_ms: int = 0,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Attach deterministic replay emission offsets to an event table
    (``ts``, ``event_id``).

    Adds:
    - ``delay_ms``: hash-uniform in [0, max_delay_ms], keyed on
      (event_id, seed) — same event always gets the same delay;
    - ``emit_offset_ms``: wall-clock ms after replay start at which the
      event is emitted = (event_time - first_event_time + delay) / speedup.

    The min-timestamp is joined back via broadcast (no driver collect),
    so the schedule is a single distributed plan at any scale.
    """
    ts_ms = F.unix_millis(F.col("ts"))
    delay = (
        F.lit(0).cast("long")
        if max_delay_ms <= 0
        else F.pmod(F.xxhash64(F.col("event_id"), F.lit(seed)), F.lit(max_delay_ms + 1))
    )
    t0 = df.agg(F.min(ts_ms).alias("t0_ms"))
    return (
        df.crossJoin(F.broadcast(t0))
        .withColumn("delay_ms", delay)
        .withColumn(
            "emit_offset_ms",
            ((ts_ms - F.col("t0_ms") + F.col("delay_ms")) / F.lit(speedup)).cast(
                "long"
            ),
        )
        .drop("t0_ms")
    )


def write_replay_batches(
    df: DataFrame,
    out_dir: str,
    n_batches: int = 4,
    speedup: float = DEFAULT_SPEEDUP,
    max_delay_ms: int = 0,
) -> list[str]:
    """Materialize the replay as ordered micro-batch parquet files.

    Events are bucketed into ``n_batches`` equal emission-time slices
    and written as one single-file parquet per slice, in emission
    order (ascending file modification time), so a file-source stream
    with ``maxFilesPerTrigger=1`` replays them as distinct
    micro-batches in schedule order. Returns the batch paths.
    """
    sched = replay_schedule(df, speedup, max_delay_ms).cache()
    try:
        hi = sched.agg(F.max("emit_offset_ms")).first()[0] or 0
        width = max(1, (hi + n_batches) // n_batches)
        paths = []
        for b in range(n_batches):
            part = sched.filter(
                (F.col("emit_offset_ms") >= b * width)
                & (F.col("emit_offset_ms") < (b + 1) * width)
            ).drop("delay_ms", "emit_offset_ms")
            if part.isEmpty():
                continue
            path = os.path.join(out_dir, f"batch_{b:05d}")
            part.coalesce(1).write.parquet(path)
            paths.append(path)
        return paths
    finally:
        sched.unpersist()


def read_replay_stream(spark, out_dir: str, schema) -> DataFrame:
    """File-source stream over `write_replay_batches` output, one file
    (= one schedule slice) per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(out_dir, "batch_*"))
    )


def replay_rate_aligned(
    spark,
    df: DataFrame,
    speedup: float = DEFAULT_SPEEDUP,
    ticks_per_second: int = 10,
) -> DataFrame:
    """Wall-clock-paced replay: events stream out as real time passes.

    The rate source emits `ticks_per_second` monotonically increasing
    tick values per wall second; each scheduled event equi-joins its
    own tick (emit_offset_ms mapped to tick units), so an event
    becomes visible to downstream operators when — and only when — its
    scaled wall-clock offset has elapsed. This is the
    `SimpleScaledReplayFunction` behavior without a sleeping thread:
    pacing is data (a stream-stream equi-join), so it parallelizes and
    checkpoints like everything else.

    Returns a streaming DataFrame with the original columns; the rate
    stream's processing timestamp rides along as `emitted_at`.
    """
    sched = replay_schedule(df, speedup)
    tick_of_event = (F.col("emit_offset_ms") * ticks_per_second / 1000).cast("long")
    scheduled = sched.withColumn("tick", tick_of_event).drop(
        "delay_ms", "emit_offset_ms"
    )
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(ticks_per_second))
        .load()
        .select(
            F.col("value").alias("tick"),
            F.col("timestamp").alias("emitted_at"),
        )
    )
    # stream-static join: the static side is the schedule; each rate
    # tick releases exactly its slice of events.
    return rate.join(scheduled, "tick", "inner").drop("tick")
