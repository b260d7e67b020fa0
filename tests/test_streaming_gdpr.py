"""Streaming GDPR erasure (29ab): dropping a subject's rows from every
maintained state, with erase-then-new semantics — a subject who
reappears after erasure restarts from scratch (SCD2 versions from 1,
RFM statistics from zero)."""

from __future__ import annotations

import datetime as dt

from mvrs_dspa_spark.streaming.capture_stream import CaptureMonitor
from mvrs_dspa_spark.streaming.engagement_stream import EngagementMaintainer
from mvrs_dspa_spark.streaming.markov_stream import MarkovMonitor
from mvrs_dspa_spark.streaming.reservoir_stream import ReservoirMonitor
from mvrs_dspa_spark.streaming.rfm_stream import RfmMaintainer
from mvrs_dspa_spark.streaming.scd2_stream import Scd2Maintainer
from mvrs_dspa_spark.streaming.temporal_join_stream import (
    TemporalJoinMaintainer,
)

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_BASE = dt.datetime(2024, 1, 1)


def _batch(spark, rows):
    return spark.createDataFrame(
        [
            (i, _BASE + dt.timedelta(minutes=m), uid, t, v, "{}")
            for i, (m, uid, t, v) in enumerate(rows)
        ],
        SCHEMA,
    )


def test_scd2_and_ledger_erasure_then_restart(spark):
    m = TemporalJoinMaintainer(spark)
    m.update(
        _batch(
            spark,
            [(0, 1, "view", 1.0), (1, 1, "click", 1.0), (0, 2, "view", 1.0)],
        ),
        0,
    )
    assert m.scd2.history.where("user_id = 1").count() == 2

    m.erase_users([1])
    assert m.scd2.history.where("user_id = 1").count() == 0
    assert m.enriched.where("user_id = 1").count() == 0
    # other subjects untouched
    assert m.scd2.history.where("user_id = 2").count() == 1
    assert m.enriched.where("user_id = 2").count() == 1

    # the subject reappears: history restarts at version 1 and the
    # first post-erasure event has no prior state
    m.update(_batch(spark, [(10, 1, "purchase", 5.0)]), 1)
    hist = m.scd2.history.where("user_id = 1").collect()
    assert [(r.state, r.version, r.is_current) for r in hist] == [
        ("purchase", 1, True)
    ]
    led = m.enriched.where("user_id = 1").collect()
    assert [r.prior_state for r in led] == ["none"]


def test_rfm_stats_erasure_then_restart(spark):
    m = RfmMaintainer(spark)
    m.update(
        _batch(spark, [(0, 1, "view", 2.0), (1, 1, "click", 3.0)]), 0
    )
    m.update(_batch(spark, [(2, 2, "view", 7.0)]), 1)
    m.erase_users([1])
    assert m.stats.where("user_id = 1").count() == 0
    assert m.stats.where("user_id = 2").count() == 1

    m.update(_batch(spark, [(9, 1, "purchase", 10.0)]), 2)
    row = m.stats.where("user_id = 1").collect()[0]
    assert row.frequency == 1 and row.monetary_sum == 10.0


def test_erasure_spares_null_keyed_state(spark):
    """~isin(ids) evaluates to NULL for a NULL key, which silently
    deleted all null-keyed state alongside the requested subjects
    (ADVICE r6): erasure must touch ONLY the named users — in every
    monitor that holds per-user rows."""
    rows = [
        (0, _BASE, 1, "purchase", 10.0),
        (1, _BASE, 2, "purchase", 20.0),
        (2, _BASE, None, "purchase", 30.0),
    ]
    batch = spark.createDataFrame(
        [
            (i, ts, uid, t, v, "{}")
            for i, (i2, ts, uid, t, v) in enumerate(rows)
        ],
        SCHEMA,
    )
    cases = (
        (RfmMaintainer(spark), ("stats",)),
        (EngagementMaintainer(spark), ("pairs",)),
        (Scd2Maintainer(spark), ("history",)),
        (TemporalJoinMaintainer(spark), ("history", "enriched")),
        (CaptureMonitor(spark, 0), ("state",)),
        (ReservoirMonitor(spark), ("state",)),
        (MarkovMonitor(spark), ("last",)),
    )
    for m, frames in cases:
        m.update(batch, 0)
        m.erase_users([1])
        for attr in frames:
            name = f"{type(m).__name__}.{attr}"
            left = {
                r.user_id
                for r in getattr(m, attr).select("user_id").collect()
            }
            assert 1 not in left, name
            assert 2 in left, name
            assert None in left, (
                f"{name}: null-keyed state must survive a targeted erase"
            )


def test_null_keyed_user_merges_across_batches(spark):
    """A full-outer join never matches NULL keys, so merging the
    per-user stats that way kept one NULL-user row per batch; the
    batch `user_rfm_segments` groups that user into one row."""
    m = RfmMaintainer(spark)
    m.update(_batch(spark, [(0, None, "view", 2.0)]), 0)
    m.update(_batch(spark, [(5, None, "click", 3.0)]), 1)
    rows = m.stats.where("user_id IS NULL").collect()
    assert len(rows) == 1
    assert rows[0].frequency == 2
    assert rows[0].monetary_sum == 5.0
