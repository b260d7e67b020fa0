"""Streaming capture-recapture monitor (29ao) must reproduce the
registered batch twin (#198) exactly after the event log is replayed
in micro-batches — with REAL per-user GDPR erasure."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics5 import user_capture_recapture
from mvrs_dspa_spark.streaming.capture_stream import (
    CaptureMonitor,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _split_us(ev) -> int:
    r = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).collect()[0]
    return r.mn + (r.mx - r.mn) // 2


def test_streaming_capture_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = CaptureMonitor(src.sparkSession, _split_us(ev))
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # state is user-dimension-bounded: one row per observed user
    assert (
        mon.state.count()
        == ev.select("user_id").distinct().count()
    )
    assert _rows(mon.report()) == _rows(user_capture_recapture(spark, SF))


def test_capture_replay_order_independent(spark):
    ev = table(spark, SF, "events")
    split = _split_us(ev)
    ev_b = ev.withColumn("b", F.col("event_id") % 3)
    batches = [ev_b.where(F.col("b") == i).drop("b") for i in range(3)]
    m1 = CaptureMonitor(spark, split)
    m2 = CaptureMonitor(spark, split)
    for i, b in enumerate(batches):
        m1.update(b, i)
    for i, b in enumerate(reversed(batches)):
        m2.update(b, i)
    assert _rows(m1.state) == _rows(m2.state)


def test_capture_real_erasure(spark, tmp_path):
    ev = table(spark, SF, "events")
    split = _split_us(ev)
    m = CaptureMonitor(spark, split)
    m.update(ev, 0)
    before = m.report().collect()[0]
    victims = [r.user_id for r in m.state.limit(3).collect()]
    m.erase_users(victims)
    assert m.state.where(F.col("user_id").isin(victims)).count() == 0
    after = m.report().collect()[0]
    # erased subjects leave every served count
    assert after.n_observed == before.n_observed - len(victims)
    # restart durability preserves the erased state
    m.save(str(tmp_path / "state"))
    m2 = CaptureMonitor.load(spark, str(tmp_path / "state"), split)
    assert _rows(m2.report()) == _rows(m.report())
