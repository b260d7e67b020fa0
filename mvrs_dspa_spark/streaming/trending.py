"""Windowed trending top-K on a stream + idempotent exactly-once sink.

Two production patterns the reference's always-on deployment shape
implies but Spark expresses differently:

- :func:`trending_topk_job` — "most active keys per window" (the
  dashboard query behind the reference's active-post statistics,
  `jobs/activeposts/ActivePostStatisticsJob.scala` feeding Kibana).
  Structured Streaming cannot rank WITHIN append-mode window rows
  in-stream (rank needs the window CLOSED), so the idiomatic shape
  is: watermarked windowed counts in append mode — rows emit exactly
  once, when their window finalizes — then a per-batch
  `row_number() over (partition by window)` inside `foreachBatch`,
  which sees only finalized windows and ranks them batch-locally.
  State is the windowed-count store only; the rank adds none.

- :func:`idempotent_batch_writer` — exactly-once parquet emission
  under foreachBatch retries. Spark guarantees foreachBatch is
  called with the same (batchId, data) on retry, so writing each
  batch to a `_batch_id=<id>` partition directory and skipping ids
  already present makes re-delivery a no-op — the
  write-ahead-idempotence contract a transactional sink (Delta's
  txn version, Kafka's transactional producer) provides, built on
  plain parquet. The reference leans on ElasticSearch upserts for
  the same property (`db/ElasticSearchUpsertOutputFormat.scala`);
  id-keyed upsert and batch-id partitioning are the two standard
  routes to effectively-once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def windowed_key_counts(
    events: DataFrame,
    key: str = "event_type",
    size: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Watermarked per-(window, key) counts, append mode (final rows)."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", size).alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key,
            "n_events",
            "total_value",
        )
    )


def rank_topk(batch: DataFrame, key: str, k: int) -> DataFrame:
    """Per-window top-K by count (deterministic key tiebreak)."""
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col(key)
    )
    return (
        batch.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def idempotent_batch_writer(out_dir: str, key: str = "event_type", k: int = 3):
    """foreachBatch function: exactly-once top-K emission by batch id.

    Skips batch ids whose partition directory already exists — the
    retry-idempotence contract (same batchId => same data) makes the
    second delivery a no-op instead of a duplicate.
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        part = os.path.join(out_dir, f"_batch_id={batch_id}")
        if os.path.isdir(part):
            return  # retry of an already-committed batch
        ranked = rank_topk(batch, key, k)
        if ranked.isEmpty():
            return
        ranked.write.mode("errorifexists").parquet(part)

    return write


def trending_topk_job(
    events: DataFrame,
    out_dir: str,
    checkpoint: str,
    k: int = 3,
    size: str = "1 hour",
    watermark_delay: str = "30 minutes",
):
    """Continuous trending-keys job: windowed counts -> finalized-window
    top-K -> idempotent parquet partitions. Returns the started query."""
    counts = windowed_key_counts(
        events, key="event_type", size=size, watermark_delay=watermark_delay
    )
    return (
        counts.writeStream.foreachBatch(
            idempotent_batch_writer(out_dir, "event_type", k)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
