"""Streaming CMS: final grid must equal the batch sketch cell-for-cell
(mergeability proof — Spark's incremental aggregation state is the
running cell-wise merge), and state stays grid-bounded."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators import sketches as S
from mvrs_dspa_spark.streaming.sketches_stream import cms_stream_cells
from mvrs_dspa_spark.tables import table

DOC_SCHEMA = "doc_id long, text string"


def _grid(rows):
    return {(r.j, r.bucket): r.c for r in rows}


def test_stream_grid_equals_batch_grid(spark, tmp_path, sf_small):
    docs = (
        table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .collect()
    )
    # split the corpus into 5 parquet files -> 5 micro-batches
    root = str(tmp_path / "docs_in")
    os.makedirs(root)
    per = (len(docs) + 4) // 5
    for i in range(5):
        chunk = [(r.doc_id, r.text) for r in docs[i * per : (i + 1) * per]]
        if chunk:
            spark.createDataFrame(chunk, DOC_SCHEMA).coalesce(1).write.parquet(
                os.path.join(root, f"b{i:03d}")
            )

    src = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "b*"))
    )
    q = (
        cms_stream_cells(src)
        .writeStream.format("memory")
        .queryName("cms_cells")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = _grid(spark.table("cms_cells").collect())

    toks = spark.createDataFrame(
        [(r.doc_id, r.text) for r in docs], DOC_SCHEMA
    ).select(F.explode(F.split("text", "\\s+")).alias("t")).where(
        F.col("t") != ""
    )
    want = _grid(S.cms_sketch(toks).collect())

    assert got == want
    assert len(got) <= S.CMS_D * S.CMS_W
