"""Streaming rank-test monitor (29al) must reproduce both registered
batch twins (#178 Mann-Whitney, #179 Kruskal-Wallis) exactly after the
event log is replayed in micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics5 import (
    kruskal_wallis_value,
    value_mannwhitney_by_type,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.ranktest_stream import (
    RankTestMonitor,
)
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_ranktests_equal_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = RankTestMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # one state, FOUR statistics — all equal their batch twins exactly
    assert _rows(mon.report()) == _rows(
        value_mannwhitney_by_type(spark, SF)
    )
    assert _rows(mon.kw_report()) == _rows(kruskal_wallis_value(spark, SF))
    from mvrs_dspa_spark.plans.analytics5 import (
        value_anova_by_type,
        value_brown_forsythe,
    )

    assert _rows(mon.anova_report()) == _rows(value_anova_by_type(spark, SF))
    assert _rows(mon.bf_report()) == _rows(value_brown_forsythe(spark, SF))


def test_ranktest_replay_order_independent(spark):
    ev = table(spark, SF, "events").withColumn("b", F.col("event_id") % 3)
    batches = [ev.where(F.col("b") == i).drop("b") for i in range(3)]
    m1, m2 = RankTestMonitor(spark), RankTestMonitor(spark)
    for i, b in enumerate(batches):
        m1.update(b, i)
    for i, b in enumerate(reversed(batches)):
        m2.update(b, i)
    assert _rows(m1.grid) == _rows(m2.grid)
    assert _rows(m1.report()) == _rows(m2.report())


def test_ranktest_save_load_restart(spark, tmp_path):
    ev = table(spark, SF, "events").withColumn("b", F.col("event_id") % 2)
    m = RankTestMonitor(spark)
    m.update(ev.where(F.col("b") == 0).drop("b"), 0)
    m.save(str(tmp_path / "state"))
    m2 = RankTestMonitor.load(spark, str(tmp_path / "state"))
    m2.update(ev.where(F.col("b") == 1).drop("b"), 1)
    want = RankTestMonitor(spark)
    want.update(ev, 0)
    assert _rows(m2.grid) == _rows(want.grid)
    m2.erase_users([1])  # documented no-op by construction
    assert _rows(m2.grid) == _rows(want.grid)
