"""Streaming RFM maintenance must reproduce the batch query exactly:
per-user recency/frequency/monetary and all three quintile scores,
after the event log is replayed in micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics import user_rfm_segments
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.streaming.rfm_stream import RfmMaintainer
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (
            r.user_id,
            r.recency_days,
            r.frequency,
            r.monetary,
            r.r_score,
            r.f_score,
            r.m_score,
        )
        for r in df.collect()
    )


def test_streaming_rfm_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = RfmMaintainer(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    want = _rows(user_rfm_segments(spark, SF))
    got = _rows(mon.segments())
    assert len(got) > 0
    assert got == want


def test_streaming_rfm_stats_partitions_stay_bounded(spark, monkeypatch):
    ev = table(spark, SF, "events").orderBy("ts", "event_id").limit(400)
    rows = ev.collect()
    # cap=0 forces the compaction path every batch at test scale (AQE
    # coalescing keeps tiny join outputs at 1-2 partitions; at
    # production scale the cap is what bounds them)
    monkeypatch.setattr(RfmMaintainer, "COMPACT_CAP", 0)
    monkeypatch.setattr(RfmMaintainer, "COMPACT_TO", 2)
    m = RfmMaintainer(spark)
    step = 40
    for i in range(0, len(rows), step):
        m.update(spark.createDataFrame(rows[i : i + step], ev.schema), i)
    assert m.n_compactions >= 1
    assert m.stats.rdd.getNumPartitions() <= 2 + 2 * int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # merge must stay lossless: totals equal the input slice's
    agg = m.stats.agg(
        F.sum("frequency").alias("n"), F.round(F.sum("monetary_sum"), 2).alias("v")
    ).collect()[0]
    assert agg.n == len(rows)
    assert agg.v == round(sum(r.value for r in rows), 2)
