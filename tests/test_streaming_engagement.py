"""Streaming DAU/WAU maintenance (29ac): replaying the log in
micro-batches must serve exactly the batch stickiness table, and the
set-merge must be idempotent under replayed batches (at-least-once
safety)."""

from __future__ import annotations

from mvrs_dspa_spark.plans.analytics2 import dau_wau_stickiness
from mvrs_dspa_spark.streaming.engagement_stream import (
    EngagementMaintainer,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.day, r.dau, r.wau, r.stickiness) for r in df.collect()
    )


def test_streaming_engagement_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = EngagementMaintainer(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    want = _rows(dau_wau_stickiness(spark, SF))
    got = _rows(mon.stickiness())
    assert len(got) > 0
    assert got == want


def test_streaming_engagement_idempotent_and_erasable(spark):
    ev = table(spark, SF, "events").limit(300)
    m = EngagementMaintainer(spark)
    m.update(ev, 0)
    before = m.pairs.count()
    m.update(ev, 1)  # replayed batch: no new pairs
    assert m.pairs.count() == before

    victim = m.pairs.select("user_id").first().user_id
    n_victim = m.pairs.where(f"user_id = {victim}").count()
    assert n_victim > 0
    m.erase_users([victim])
    assert m.pairs.where(f"user_id = {victim}").count() == 0
    assert m.pairs.count() == before - n_victim
