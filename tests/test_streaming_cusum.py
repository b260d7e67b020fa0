"""Streaming CUSUM changepoint monitor (29ak) must reproduce the
registered batch twin exactly after the event log is replayed in
micro-batches — the batch==stream contract of the drift family."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics import hourly_changepoint_cusum
from mvrs_dspa_spark.streaming.cusum_stream import (
    CusumMonitor,
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


def test_streaming_cusum_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = CusumMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # state is the hourly grid: one row per (type, hour) cell
    cells = mon.state.groupBy("event_type", "hour").count().collect()
    assert all(r["count"] == 1 for r in cells)
    assert _rows(mon.report()) == _rows(hourly_changepoint_cusum(spark, SF))
    # one state, two tables: the ITS break quantification (#190) from
    # the same maintained grid equals its batch twin exactly
    from mvrs_dspa_spark.plans.analytics5 import changepoint_segmented_trend

    assert _rows(mon.segmented_report()) == _rows(
        changepoint_segmented_trend(spark, SF)
    )


def test_cusum_replay_order_independent(spark):
    ev = table(spark, SF, "events").withColumn("b", F.col("event_id") % 3)
    batches = [ev.where(F.col("b") == i).drop("b") for i in range(3)]
    m1, m2 = CusumMonitor(spark), CusumMonitor(spark)
    for i, b in enumerate(batches):
        m1.update(b, i)
    for i, b in enumerate(reversed(batches)):
        m2.update(b, i)
    # int64 cent sums merge additively: any arrival order, same grid
    assert _rows(m1.state) == _rows(m2.state)
    assert _rows(m1.report()) == _rows(m2.report())


def test_cusum_save_load_restart(spark, tmp_path):
    ev = table(spark, SF, "events").withColumn("b", F.col("event_id") % 2)
    m = CusumMonitor(spark)
    m.update(ev.where(F.col("b") == 0).drop("b"), 0)
    m.save(str(tmp_path / "state"))
    m2 = CusumMonitor.load(spark, str(tmp_path / "state"))
    m2.update(ev.where(F.col("b") == 1).drop("b"), 1)
    want = CusumMonitor(spark)
    want.update(ev, 0)
    assert _rows(m2.state) == _rows(want.state)
    m2.erase_users([1, 2])  # documented no-op by construction
    assert _rows(m2.state) == _rows(want.state)
