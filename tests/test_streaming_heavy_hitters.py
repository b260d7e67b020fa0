"""Streaming heavy hitters: the incrementally-maintained sketch's
top-K estimates must equal the batch cms_heavy_hitters report exactly
(same tokens, same estimated counts), and the grid must equal the
batch grid cell-for-cell."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.operators import sketches as S
from mvrs_dspa_spark.streaming.heavy_hitters_stream import (
    HeavyHitterMonitor,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.tables import table

DOC_SCHEMA = "doc_id long, text string"
SF = "/root/testdata/sf0.001"


def test_streaming_heavy_hitters_match_batch(spark, tmp_path):
    docs = table(spark, SF, "documents").select("doc_id", "text").collect()
    root = str(tmp_path / "docs_in")
    os.makedirs(root)
    per = (len(docs) + 3) // 4
    for i in range(4):
        chunk = [(r.doc_id, r.text) for r in docs[i * per : (i + 1) * per]]
        if chunk:
            spark.createDataFrame(chunk, DOC_SCHEMA).coalesce(
                1
            ).write.parquet(os.path.join(root, f"b{i:03d}"))
    src = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "b*"))
    )
    mon = HeavyHitterMonitor()
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    # grid == batch sketch cell-for-cell
    toks = spark.createDataFrame(
        [(r.doc_id, r.text) for r in docs], DOC_SCHEMA
    ).select(F.explode(T.tokens_col(F.col("text"))).alias("t"))
    want_grid = np.zeros((S.CMS_D, S.CMS_W), dtype=np.int64)
    for r in S.cms_sketch(toks).collect():
        want_grid[r.j, r.bucket] = r.c
    assert (mon.grid == want_grid).all()

    # top-K estimates == the batch report's estimates
    batch = S.cms_heavy_hitters(spark, SF).collect()
    want = [(r.token, r.est_count) for r in batch]
    assert mon.top_k(S.CMS_TOPK) == want


def test_candidate_set_bounded_on_large_vocabulary(spark, tmp_path):
    """A batch with a vocabulary far larger than CAND_CAP must not
    collect the whole vocabulary to the driver: candidates per batch
    are capped, and the per-batch top tokens still make the cut."""
    from mvrs_dspa_spark.streaming.heavy_hitters_stream import (
        CAND_CAP,
        HeavyHitterMonitor,
    )

    # 4000 distinct singleton tokens + 5 genuinely heavy tokens
    docs = [(i, f"tok{i:05d}") for i in range(4000)]
    docs += [(4000 + i, " ".join(["heavy%d" % (i % 5)] * 3)) for i in range(50)]
    batch = spark.createDataFrame(docs, DOC_SCHEMA)

    mon = HeavyHitterMonitor()
    mon.update(batch, 0)
    assert len(mon.seen) <= CAND_CAP
    for h in range(5):
        assert f"heavy{h}" in mon.seen
