"""Streaming IVF index-maintenance monitor (29as) must reproduce the
registered batch twin (#87) exactly after the embedding log is
replayed in micro-batches — enabled by the r11 exact-grid conversion:
per-cell (count, int64 distance-sum) stats are additive, so they
merge across batches AND subtract for per-vector-exact erasure."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.ann import (
    ANN_INCR_MOD,
    IVF_ITERS,
    IVF_NLIST,
    ann_index_maintenance,
)
from mvrs_dspa_spark.operators.clustering import kmeans_fit_exact
from mvrs_dspa_spark.streaming.ann_maintenance_stream import (
    AnnMaintenanceMonitor,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import read_replay_stream
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _trained_cents(spark):
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % ANN_INCR_MOD != 0)
    return kmeans_fit_exact(
        base, "embedding", k=IVF_NLIST, iters=IVF_ITERS, id_col="vec_id"
    )


def test_streaming_maintenance_equals_batch(spark, tmp_path):
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    replay_dir = str(tmp_path / "replay")
    for b in range(4):
        (
            emb.where(F.col("vec_id") % 4 == b)
            .coalesce(1)
            .write.parquet(f"{replay_dir}/batch_{b:05d}")
        )
    src = read_replay_stream(spark, replay_dir, emb.schema)
    mon = AnnMaintenanceMonitor(src.sparkSession, _trained_cents(spark))
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # state bounded by nlist x 2 rows regardless of ingest volume
    assert mon.state.count() <= IVF_NLIST * 2
    assert _rows(mon.report()) == _rows(ann_index_maintenance(spark, SF))


def test_maintenance_replay_order_independent(spark):
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = _trained_cents(spark)
    batches = [emb.where(F.col("vec_id") % 3 == i) for i in range(3)]
    m1 = AnnMaintenanceMonitor(spark, cents)
    m2 = AnnMaintenanceMonitor(spark, cents)
    for i, b in enumerate(batches):
        m1.update(b, i)
    for i, b in enumerate(reversed(batches)):
        m2.update(b, i)
    assert _rows(m1.state) == _rows(m2.state)
    assert _rows(m1.report()) == _rows(m2.report())


def test_maintenance_erasure_is_exact(spark):
    """Ingest the corpus plus a synthetic drift batch, erase the
    drift batch, and the report must return to the corpus-only report
    BIT-FOR-BIT (integer sums subtract exactly)."""
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = _trained_cents(spark)
    drift = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(0.25).cast("float")
        ).alias("embedding"),
    )
    baseline = AnnMaintenanceMonitor(spark, cents)
    baseline.update(emb, 0)
    mon = AnnMaintenanceMonitor(spark, cents)
    mon.update(emb, 0)
    mon.update(drift, 1)
    assert _rows(mon.report()) != _rows(baseline.report())
    mon.erase_vectors(drift)
    assert _rows(mon.state) == _rows(baseline.state)
    assert _rows(mon.report()) == _rows(baseline.report())


def test_maintenance_save_load_restart(spark, tmp_path):
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = _trained_cents(spark)
    mon = AnnMaintenanceMonitor(spark, cents)
    mon.update(emb.where(F.col("vec_id") % 2 == 0), 0)
    path = str(tmp_path / "state")
    mon.save(path)
    restored = AnnMaintenanceMonitor.load(spark, path, cents)
    restored.update(emb.where(F.col("vec_id") % 2 == 1), 1)
    straight = AnnMaintenanceMonitor(spark, cents)
    straight.update(emb, 0)
    assert _rows(restored.state) == _rows(straight.state)
    assert _rows(restored.report()) == _rows(straight.report())
