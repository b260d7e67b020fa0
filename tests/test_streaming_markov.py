"""Streaming Markov-attribution monitor (29ap) must reproduce the
registered batch twin (#131) exactly after a time-ordered replay —
open journeys close virtually at serving time, erasure of an open
journey is real."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics2 import markov_attribution
from mvrs_dspa_spark.streaming.markov_stream import (
    MarkovMonitor,
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


def test_streaming_markov_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = MarkovMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    # state bounds: grid is domain-bounded, last is user-bounded
    assert mon.grid.count() <= 7 * 7
    assert mon.last.count() == ev.select("user_id").distinct().count()
    assert _rows(mon.report()) == _rows(markov_attribution(spark, SF))


def test_markov_batch_count_invariant(spark):
    """1 batch vs 5 time-sliced batches: identical state and report
    (the boundary-closing logic is exactly the batch LEAD split)."""
    ev = table(spark, SF, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    lo, hi = ev.agg(F.min("us"), F.max("us")).collect()[0]
    width = (hi - lo) // 5 + 1
    m1 = MarkovMonitor(spark)
    m1.update(ev.drop("us"), 0)
    m5 = MarkovMonitor(spark)
    for b in range(5):
        part = ev.where(
            (F.col("us") >= lo + b * width)
            & (F.col("us") < lo + (b + 1) * width)
        ).drop("us")
        m5.update(part, b)
    assert _rows(m1.grid) == _rows(m5.grid)
    assert _rows(m1.report()) == _rows(m5.report())


def test_markov_open_journey_erasure_and_restart(spark, tmp_path):
    ev = table(spark, SF, "events")
    m = MarkovMonitor(spark)
    m.update(ev, 0)
    open_users = m.last.where(F.col("last_type") != "purchase")
    victims = [r.user_id for r in open_users.limit(3).collect()]
    n_open_before = open_users.count()
    m.erase_users(victims)
    # real: the subjects' pending 'null' closures left the state
    assert (
        m.last.where(F.col("last_type") != "purchase").count()
        == n_open_before - len(victims)
    )
    assert m.last.where(F.col("user_id").isin(victims)).count() == 0
    # restart durability
    m.save(str(tmp_path / "state"))
    m2 = MarkovMonitor.load(spark, str(tmp_path / "state"))
    assert _rows(m2.report()) == _rows(m.report())


def test_markov_empty_state_report(spark):
    m = MarkovMonitor(spark)
    rows = {r.channel: r for r in m.report().collect()}
    assert set(rows) == {"click", "error", "signup", "view"}
    for r in rows.values():
        assert r.base_conversion == 0.0
        assert r.removal_effect == 0.0
        assert r.attribution_share is None


def test_null_user_journey_chains_across_batches(spark):
    """A NULL user's second batch closes the carried journey instead
    of reopening it with another 'start' transition."""
    import datetime as dt

    schema = table(spark, SF, "events").schema
    t0 = dt.datetime(2024, 1, 1)
    mon = MarkovMonitor(spark)
    for b, etype in enumerate(("view", "click")):
        row = (b + 1, t0 + dt.timedelta(minutes=b), None, etype, 1.0, "{}")
        mon.update(spark.createDataFrame([row], schema), b)
    assert _rows(mon.grid) == [("start", "view", 1), ("view", "click", 1)]
