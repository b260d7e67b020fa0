"""Streaming SPRT maintenance must reproduce the registered batch
query exactly: daily trial/success counts, cumulative int-coded LLR,
and boundary decisions, after the event log is replayed in
micro-batches (29ae)."""

from __future__ import annotations

from mvrs_dspa_spark.plans.analytics4 import sequential_ab_sprt
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.streaming.sprt_stream import (
    SprtMonitor,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.day, r.n_trials, r.n_success, r.llr, r.decision)
        for r in df.collect()
    )


def test_streaming_sprt_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = SprtMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    want = _rows(sequential_ab_sprt(spark, SF))
    got = _rows(mon.report())
    assert len(got) > 0
    assert got == want


def test_sprt_decision_matches_last_day(spark):
    ev = table(spark, SF, "events")
    mon = SprtMonitor(spark)
    mon.update(ev, 0)
    rows = sorted(mon.report().collect(), key=lambda r: r.day)
    assert mon.decision() == rows[-1].decision


def test_sprt_monitor_empty_state(spark):
    mon = SprtMonitor(spark)
    assert mon.report().collect() == []
    assert mon.decision() == "continue"
