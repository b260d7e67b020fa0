"""Streaming reservoir sample maintenance (29ai) and streaming Bloom
filter maintenance (29aj) must reproduce their registered batch twins
exactly after the event log is replayed in micro-batches — the same
batch==stream contract as the theta/PSI/W1 monitors."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sampling import (
    RESERVOIR_K,
    reservoir_sample_events,
)
from mvrs_dspa_spark.operators.sketches import bloom_membership_report
from mvrs_dspa_spark.streaming.bloom_stream import (
    BloomMonitor,
    known_filter,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.streaming.reservoir_stream import (
    ReservoirMonitor,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_reservoir_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = ReservoirMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # bounded state: exactly k rows once volume exceeds k
    assert mon.state.count() == RESERVOIR_K
    assert _rows(mon.report()) == _rows(reservoir_sample_events(spark, SF))


def test_reservoir_replay_order_independent(spark):
    ev = table(spark, SF, "events").withColumn(
        "b", F.col("event_id") % 3
    )
    batches = [ev.where(F.col("b") == i).drop("b") for i in range(3)]
    m1, m2 = ReservoirMonitor(spark), ReservoirMonitor(spark)
    for i, b in enumerate(batches):
        m1.update(b, i)
    for i, b in enumerate(reversed(batches)):
        m2.update(b, i)
    assert _rows(m1.report()) == _rows(m2.report())


def test_reservoir_erasure_is_lossy_shrink(spark):
    ev = table(spark, SF, "events")
    mon = ReservoirMonitor(spark)
    mon.update(ev, 0)
    victims = [r.user_id for r in mon.state.select("user_id").distinct().limit(2).collect()]
    n_victim_rows = mon.state.where(F.col("user_id").isin(victims)).count()
    assert n_victim_rows > 0
    mon.erase_users(victims)
    assert mon.state.where(F.col("user_id").isin(victims)).count() == 0
    # lossy: evicted ranks are NOT refilled from discarded rows
    assert mon.state.count() == RESERVOIR_K - n_victim_rows


def test_reservoir_save_load_restart(spark, tmp_path):
    ev = table(spark, SF, "events").withColumn("b", F.col("event_id") % 2)
    first = ev.where(F.col("b") == 0).drop("b")
    second = ev.where(F.col("b") == 1).drop("b")
    m = ReservoirMonitor(spark)
    m.update(first, 0)
    m.save(str(tmp_path / "state"))
    m2 = ReservoirMonitor.load(spark, str(tmp_path / "state"))
    m2.update(second, 1)
    want = ReservoirMonitor(spark)
    want.update(first, 0)
    want.update(second, 1)
    assert _rows(m2.report()) == _rows(want.report())


def test_streaming_bloom_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = BloomMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    batch_row = bloom_membership_report(spark, SF).collect()[0]
    got = mon.report().collect()[0]
    assert got.m_bits == batch_row.m_bits
    assert got.k_hashes == batch_row.k_hashes
    assert got.bits_set == batch_row.bits_set
    assert got.fp_theoretical == batch_row.fp_theoretical

    # the claimed-membership set equals the batch filter's, and no
    # true member is ever missed (the Bloom guarantee)
    probes = ev.select("user_id").distinct()
    claimed = {r.user_id for r in mon.claims(probes).collect()}
    assert len(claimed) == batch_row.n_claimed
    known = {r.user_id for r in known_filter(ev).distinct().collect()}
    assert known <= claimed


def test_bloom_erasure_structurally_unsupported(spark):
    mon = BloomMonitor(spark)
    with pytest.raises(NotImplementedError):
        mon.erase_users([1])


def test_bloom_save_load_restart(spark, tmp_path):
    ev = table(spark, SF, "events").withColumn("b", F.col("event_id") % 2)
    m = BloomMonitor(spark)
    m.update(ev.where(F.col("b") == 0).drop("b"), 0)
    m.save(str(tmp_path / "state"))
    m2 = BloomMonitor.load(spark, str(tmp_path / "state"))
    m2.update(ev.where(F.col("b") == 1).drop("b"), 1)
    want = BloomMonitor(spark)
    want.update(ev, 0)
    assert _rows(m2.state) == _rows(want.state)
