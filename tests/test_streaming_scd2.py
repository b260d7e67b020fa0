"""Streaming SCD2 maintenance must produce EXACTLY the batch-built
dimension — rows, intervals, current flags, and version numbers —
when the event log is replayed in ordered micro-batches."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics import user_state_history
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.streaming.scd2_stream import Scd2Maintainer
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current, r.version)
        for r in df.collect()
    )


def test_streaming_scd2_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    # bounded ts-prefix slice so the replayed stream covers complete
    # per-user histories for the same input the batch twin sees
    cutoff = ev.agg(
        F.min("ts").alias("mn")
    ).collect()[0].mn
    import datetime

    hi = cutoff + datetime.timedelta(days=3)
    sliced_dir = str(tmp_path / "sliced")
    sliced = ev.where(F.col("ts") < F.lit(hi))
    # write the slice as its own events table for the batch twin
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sliced.collect()
    tbl = pa.table(
        {
            "event_id": pa.array([r.event_id for r in rows], pa.int64()),
            "ts": pa.array([r.ts for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r.user_id for r in rows], pa.int64()),
            "event_type": pa.array([r.event_type for r in rows], pa.string()),
            "value": pa.array([r.value for r in rows], pa.float64()),
            "props": pa.array([r.props for r in rows], pa.string()),
        }
    )
    import os

    os.makedirs(sliced_dir)
    pq.write_table(tbl, f"{sliced_dir}/events.parquet")

    replay_dir = str(tmp_path / "replay")
    write_replay_batches(sliced, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, sliced.schema)
    mon = Scd2Maintainer(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    want = _rows(user_state_history(spark, sliced_dir))
    got = _rows(mon.history)
    assert got == want
    assert len(got) > 0


@pytest.mark.slow  # >10 s: slow tier, run with -m slow
def test_streaming_scd2_history_partitions_stay_bounded(
    spark, tmp_path, monkeypatch
):
    """Long-run hygiene: each batch unions recomputed rows onto the
    history, which grows the checkpointed partition count without
    bound; the maintainer must compact once the cap is crossed so a
    long-lived stream never splinters the dimension into thousands of
    micro-partitions."""
    from mvrs_dspa_spark.streaming.scd2_stream import Scd2Maintainer
    from mvrs_dspa_spark.tables import table

    ev = table(spark, SF, "events").orderBy("ts", "event_id").limit(600)
    rows = ev.collect()
    # cap=2 forces the compaction path at test scale (AQE coalescing
    # keeps tiny unions at ~3 partitions; at production scale each
    # union branch is many partitions and the cap is what bounds them)
    monkeypatch.setattr(Scd2Maintainer, "COMPACT_CAP", 2)
    monkeypatch.setattr(Scd2Maintainer, "COMPACT_TO", 2)
    m = Scd2Maintainer(spark)
    step = 30
    for i in range(0, len(rows), step):
        batch = spark.createDataFrame(rows[i : i + step], ev.schema)
        m.update(batch, i // step)
    assert m.n_batches == len(rows) // step
    assert m.n_compactions >= 1
    # bounded: at most compact_to plus one batch's coalesced growth
    assert m.history.rdd.getNumPartitions() <= 2 + 2 * int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # compaction must not corrupt the dimension: exactly one open row
    # per user, versions dense from 1
    hist = m.history.collect()
    by_user: dict = {}
    for r in hist:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rs in by_user.items():
        assert sum(1 for r in rs if r.is_current) == 1, uid
        assert sorted(r.version for r in rs) == list(
            range(1, len(rs) + 1)
        ), uid


def test_null_user_history_chains_across_batches(spark):
    """A NULL user's open row is closed by the next batch like any
    other user's: the chain equals the batch `state_intervals`."""
    import datetime as dt

    from mvrs_dspa_spark.plans.analytics import state_intervals

    schema = table(spark, SF, "events").schema
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (b + 1, t0 + dt.timedelta(minutes=b), None, etype, 1.0, "{}")
        for b, etype in enumerate(("view", "click"))
    ]
    mon = Scd2Maintainer(spark)
    for b, row in enumerate(rows):
        mon.update(spark.createDataFrame([row], schema), b)
    want = _rows(state_intervals(spark.createDataFrame(rows, schema)))
    assert sorted((r[5], r[1], r[4]) for r in want) == [
        (1, "view", False),
        (2, "click", True),
    ]
    assert _rows(mon.history) == want
