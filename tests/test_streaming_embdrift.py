"""Streaming embedding centroid-drift monitor (29am) must reproduce
the registered batch twin (#191) exactly after the embedding corpus
is replayed in micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.embeddings import embedding_centroid_drift
from mvrs_dspa_spark.streaming.embdrift_stream import (
    EmbeddingDriftMonitor,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import read_replay_stream
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_embdrift_equals_batch(spark, tmp_path):
    # embeddings have no event time, so stage the replay by vec_id
    # slice (write_replay_batches is events-shaped; the file-source
    # reader is shared)
    emb = table(spark, SF, "embeddings")
    replay_dir = str(tmp_path / "replay")
    for b in range(4):
        (
            emb.where(F.col("vec_id") % 4 == b)
            .coalesce(1)
            .write.parquet(f"{replay_dir}/batch_{b:05d}")
        )
    src = read_replay_stream(spark, replay_dir, emb.schema)
    mon = EmbeddingDriftMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # state bounded by labels x 2 x dims, one row per cell
    dims = mon.state.select("dim").distinct().count()
    labels = mon.state.select("label").distinct().count()
    assert mon.state.count() <= labels * 2 * dims
    assert _rows(mon.report()) == _rows(embedding_centroid_drift(spark, SF))


def test_embdrift_replay_order_independent(spark):
    emb = table(spark, SF, "embeddings").withColumn(
        "b", F.col("vec_id") % 3
    )
    batches = [emb.where(F.col("b") == i).drop("b") for i in range(3)]
    m1, m2 = EmbeddingDriftMonitor(spark), EmbeddingDriftMonitor(spark)
    for i, b in enumerate(batches):
        m1.update(b, i)
    for i, b in enumerate(reversed(batches)):
        m2.update(b, i)
    assert _rows(m1.state) == _rows(m2.state)
    assert _rows(m1.report()) == _rows(m2.report())


def test_embdrift_save_load_restart(spark, tmp_path):
    emb = table(spark, SF, "embeddings").withColumn("b", F.col("vec_id") % 2)
    m = EmbeddingDriftMonitor(spark)
    m.update(emb.where(F.col("b") == 0).drop("b"), 0)
    m.save(str(tmp_path / "state"))
    m2 = EmbeddingDriftMonitor.load(spark, str(tmp_path / "state"))
    m2.update(emb.where(F.col("b") == 1).drop("b"), 1)
    want = EmbeddingDriftMonitor(spark)
    want.update(emb, 0)
    assert _rows(m2.state) == _rows(want.state)
    m2.erase_users([1])  # documented no-op by construction
    assert _rows(m2.state) == _rows(want.state)


def test_embdrift_identical_slices_no_drift(spark):
    """If the two slices contain IDENTICAL vectors, cosine must be
    exactly 1 and the shift exactly 0."""
    emb = table(spark, SF, "embeddings")
    twin = emb.unionByName(
        emb.select(
            (F.col("vec_id") * 2 + 1).alias("vec_id"),
            "embedding",
            "label",
        )
    ).where(F.col("vec_id") % 2 == 1)
    doubled = emb.select(
        (F.col("vec_id") * 2).alias("vec_id"), "embedding", "label"
    ).unionByName(
        emb.select(
            (F.col("vec_id") * 2 + 1).alias("vec_id"), "embedding", "label"
        )
    )
    del twin
    m = EmbeddingDriftMonitor(spark)
    m.update(doubled, 0)
    for r in m.report().collect():
        assert r.n_ref == r.n_cur
        assert r.centroid_cosine == 1.0, r
        assert r.centroid_shift_l2 == 0.0, r
