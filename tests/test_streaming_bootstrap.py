"""Streaming Poisson-bootstrap CI monitor (29an) must reproduce the
registered batch twin (#194) exactly after the event log is replayed
in micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics5 import bootstrap_mean_ci
from mvrs_dspa_spark.streaming.bootstrap_stream import (
    BootstrapMonitor,
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


def test_streaming_bootstrap_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = BootstrapMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # state bounded at B x types rows no matter the volume
    from mvrs_dspa_spark.plans.analytics5 import BOOT_B

    types = mon.state.select("event_type").distinct().count()
    assert mon.state.count() == types * BOOT_B
    assert _rows(mon.report()) == _rows(bootstrap_mean_ci(spark, SF))


def test_bootstrap_replay_order_independent(spark):
    ev = table(spark, SF, "events").withColumn("b2", F.col("event_id") % 3)
    batches = [ev.where(F.col("b2") == i).drop("b2") for i in range(3)]
    m1, m2 = BootstrapMonitor(spark), BootstrapMonitor(spark)
    for i, b in enumerate(batches):
        m1.update(b, i)
    for i, b in enumerate(reversed(batches)):
        m2.update(b, i)
    assert _rows(m1.state) == _rows(m2.state)
    assert _rows(m1.report()) == _rows(m2.report())


def test_bootstrap_save_load_restart(spark, tmp_path):
    ev = table(spark, SF, "events").withColumn("b2", F.col("event_id") % 2)
    m = BootstrapMonitor(spark)
    m.update(ev.where(F.col("b2") == 0).drop("b2"), 0)
    m.save(str(tmp_path / "state"))
    m2 = BootstrapMonitor.load(spark, str(tmp_path / "state"))
    m2.update(ev.where(F.col("b2") == 1).drop("b2"), 1)
    want = BootstrapMonitor(spark)
    want.update(ev, 0)
    assert _rows(m2.state) == _rows(want.state)
    m2.erase_users([1])  # documented no-op by construction
    assert _rows(m2.state) == _rows(want.state)
