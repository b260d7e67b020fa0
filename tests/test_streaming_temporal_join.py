"""The streaming temporal join must reproduce the batch point-in-time
join exactly: replaying the event log in ordered micro-batches and
enriching each batch against the live SCD2 dimension yields the same
(prior_state x event_type) rollup — including intra-batch state
transitions — as the batch operator over the full log."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics2 import point_in_time_state_join
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.streaming.temporal_join_stream import (
    TemporalJoinMaintainer,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.prior_state, r.event_type, r.n_events, r.n_users, r.sum_value)
        for r in df.collect()
    )


def test_streaming_temporal_join_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = TemporalJoinMaintainer(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    want = _rows(point_in_time_state_join(spark, SF))
    got = _rows(mon.rollup())
    assert len(got) > 0
    assert got == want
    # the enriched ledger is lossless: one row per input event
    assert mon.enriched.count() == ev.count()


def test_streaming_temporal_join_intra_batch_transition(spark, tmp_path):
    """A click then purchase by the same user INSIDE one micro-batch:
    the purchase must see prior_state='click' (enrichment runs against
    the post-update history), not the pre-batch state."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    b0 = spark.createDataFrame(
        [(1, base, 7, "view", 1.0, "{}")], schema
    )
    b1 = spark.createDataFrame(
        [
            (2, base + dt.timedelta(minutes=1), 7, "click", 1.0, "{}"),
            (3, base + dt.timedelta(minutes=2), 7, "purchase", 5.0, "{}"),
        ],
        schema,
    )
    m = TemporalJoinMaintainer(spark)
    m.update(b0, 0)
    m.update(b1, 1)
    got = {
        r.event_id: r.prior_state for r in m.enriched.collect()
    }
    assert got == {1: "none", 2: "view", 3: "click"}
