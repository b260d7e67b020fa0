"""Streaming throughput measurement (SURVEY §7.8: streaming tuning).

The reference reports its pipeline health through per-operator counts
(`functions/ProgressMonitorFunction.scala`); Spark's per-batch
progress events already carry rows/sec, so this module packages a
repeatable micro-benchmark around them instead of a custom counter:
drive a BOUNDED stream through a representative pipeline into the
no-op sink and summarize listener-collected progress.

Two source modes, because they measure different things:
- `parquet`: a file stream over pre-split parquet (JVM-side scan,
  `maxFilesPerTrigger` pacing) — the real engine path; throughput here
  is the number that scales with executors.
- `synthetic`: the engine's Python DataSource (`synthetic_source.py`)
  — bounded by the Python worker generating rows, useful as a ceiling
  check on custom Python sources, not as an engine number.

Pipelines: `stateless` (projection+filter — source/sink overhead) and
`sliding` (watermark + sliding-window agg — the stateful path of
`streaming/windowed.py`).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from mvrs_dspa_spark.streaming.observer import ProgressMonitor
from mvrs_dspa_spark.streaming.windowed import sliding_stats_stream


def _apply_pipeline(src: DataFrame, pipeline: str) -> DataFrame:
    from pyspark.sql import functions as F

    if pipeline == "stateless":
        return src.where(F.col("value") > 1.0).select(
            "event_id", "user_id", "event_type", (F.col("value") * 2).alias("v2")
        )
    if pipeline == "sliding":
        return sliding_stats_stream(src)
    raise ValueError(f"unknown pipeline {pipeline!r}")


def measure_stream_throughput(
    spark: SparkSession,
    source: str = "parquet",
    pipeline: str = "sliding",
    parquet_dir: str | None = None,
    files_per_trigger: int = 2,
    synthetic_rows: int = 100_000,
    rows_per_batch: int = 25_000,
    state_partitions: int | None = None,
) -> dict:
    """Run the bounded stream to completion; return a progress summary.

    Output keys: rows, batches, wall_ms (sum of batch triggerExecution),
    rows_per_s (rows / wall), peak_batch_rows_per_s.

    `state_partitions` sets `spark.sql.shuffle.partitions` for this
    query only (restored after): for a stateful pipeline that is the
    state-store instance count. The round-8 profile fit wall ~=
    batches x partitions x commit_cost + linear row work: at sf0.1 on
    local[32] the sliding pipeline ran 30.3k rows/s at 32 partitions /
    4 batches but 75.4k rows/s at 8 partitions / 1 batch (min-of-3,
    same JVM). The count trades each partition's fixed cost per
    micro-batch (one task, its delta and checksum files, about four
    `chmod` forks) against running the batch's row work in parallel,
    so neither state volume nor core count alone sizes it. On a 4-core
    local session, `active_post_stats_job` with one state partition
    instead of four ran 1k-event micro-batches 7% faster (6 of 6
    alternating pairs) but large micro-batches 25-35% slower (3 of 3).
    Few partitions suit small batches; larger batches repay one per
    core. On a local session each created file costs its write,
    its rename and about two `chmod` forks (the file and its `.crc`,
    from `RawLocalFileSystem.setPermission` without libhadoop); the
    `session.py` module docstring explains the checkpoint manager
    choice. Each state partition also pays a per-task setup in every
    micro-batch; it stays small only while every aggregate of the
    stateful chain is declarative, so its `HashAggregate`s run under
    whole-stage codegen. One HLL, percentile or `collect_*` aggregate
    sends the whole chain to the interpreted iterator, which builds its
    projections again in every task (hence the exact per-user count in
    `sliding_stats_stream`). In production the same lever is
    micro-batch sizing (maxFilesPerTrigger / maxOffsetsPerTrigger):
    fewer, larger batches amortize the fixed commit cost.
    """
    if source == "parquet":
        if parquet_dir is None:
            raise ValueError("parquet_dir required for source='parquet'")
        from mvrs_dspa_spark.streaming.synthetic_source import SCHEMA_DDL

        src = (
            spark.readStream.schema(SCHEMA_DDL)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(parquet_dir)
        )
    elif source == "synthetic":
        from mvrs_dspa_spark.streaming.synthetic_source import (
            register_synthetic_source,
        )

        register_synthetic_source(spark)
        src = (
            spark.readStream.format("synthetic_events")
            .option("rowsPerBatch", rows_per_batch)
            .option("maxRows", synthetic_rows)
            .load()
        )
    else:
        raise ValueError(f"unknown source {source!r}")

    # Progress is collected via a StreamingQueryListener, NOT
    # q.recentProgress: Spark caps the latter at
    # spark.sql.streaming.numRecentProgressUpdates (default 100)
    # entries, which silently undercounts bounded runs with many
    # triggers (small files_per_trigger over many files).
    monitor = ProgressMonitor()
    spark.streams.addListener(monitor)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        # append is correct for both pipelines: the sliding agg is
        # watermarked, so finalized windows append on watermark advance.
        q = (
            _apply_pipeline(src, pipeline)
            .writeStream.format("noop")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(120)
        # the listener bus is async; terminated-event delivery bounds
        # progress-event delivery for this query id
        deadline = time.monotonic() + 10.0
        qid = str(q.id)
        while time.monotonic() < deadline and qid not in monitor.terminated:
            time.sleep(0.05)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.streams.removeListener(monitor)

    progress = [p for p in monitor.progress if p["query_id"] == qid]
    rows = sum(p["num_input_rows"] for p in progress)
    wall_ms = sum(
        (p.get("duration_ms") or {}).get("triggerExecution", 0) for p in progress
    )
    batch_rates = [
        p["processed_rows_per_second"]
        for p in progress
        if p["num_input_rows"] and p.get("processed_rows_per_second")
    ]
    return {
        "source": source,
        "pipeline": pipeline,
        "rows": rows,
        "batches": sum(1 for p in progress if p["num_input_rows"]),
        "wall_ms": wall_ms,
        "rows_per_s": round(rows / (wall_ms / 1000.0), 1) if wall_ms else 0.0,
        "peak_batch_rows_per_s": round(max(batch_rates), 1) if batch_rates else 0.0,
    }
