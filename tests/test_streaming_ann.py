"""Streaming ANN serving: the streamed answer for every query must be
IDENTICAL to the batch ann_ivf answer (same index, same probes, same
ranking), regardless of how queries are split across micro-batches."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.ann import QUERY_MOD, ann_ivf, build_ivf_index
from mvrs_dspa_spark.streaming.ann_stream import run_streaming_ann
from mvrs_dspa_spark.tables import table


def test_streaming_ann_matches_batch_ivf(spark, sf_small, tmp_path):
    v = table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    index, cents = build_ivf_index(v)
    assert index is not None

    # stream the SAME query set batch ann_ivf uses, split over files
    queries = (
        v.where(F.col("vec_id") % QUERY_MOD == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    assert len(queries) >= 5
    src = str(tmp_path / "q_in")
    os.makedirs(src, exist_ok=True)
    half = len(queries) // 2
    for i, chunk in enumerate([queries[:half], queries[half:]]):
        df = spark.createDataFrame(
            [(r["query_id"], r["embedding"]) for r in chunk],
            "query_id long, embedding array<double>",
        )
        path = os.path.join(src, f"b{i}")
        df.coalesce(1).write.parquet(path)
        ts = time.time() + i * 10
        for dirpath, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(dirpath, f), (ts, ts))

    stream = (
        spark.readStream.schema("query_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
    )

    got: list[tuple] = []

    def sink(batch, batch_id):
        got.extend(
            (r["query_id"], r["neighbor_id"], r["cos_sim"])
            for r in batch.collect()
        )

    q = run_streaming_ann(stream, index, cents, str(tmp_path / "ck"), sink)
    assert q.awaitTermination(120)

    want = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in ann_ivf(spark, sf_small).collect()
    }
    assert set(got) == want
    assert len(got) == len(set(got))  # no duplicate deliveries
