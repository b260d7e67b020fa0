"""Watermarked streaming windows: on-time aggregation, late-data drop
(reference PostStatisticsFunction early/late element suites)."""

from __future__ import annotations

import os
import re
import time
from datetime import datetime, timezone

import pandas as pd

from mvrs_dspa_spark.streaming.stateful import bucketed_sliding_stats
from mvrs_dspa_spark.streaming.windowed import sliding_stats_stream, tumbling_rollup_stream

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _t(h: int, m: int = 0) -> datetime:
    return datetime(2026, 1, 1, h, m, tzinfo=timezone.utc)


def _write_batches(spark, tmp_path, batches):
    """Write each row-list as one parquet file; mtimes force batch order."""
    root = str(tmp_path / "stream_in")
    os.makedirs(root, exist_ok=True)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, SCHEMA)
        path = os.path.join(root, f"b{i:03d}")
        df.coalesce(1).write.parquet(path)
        ts = time.time() + i * 10
        for dirpath, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(dirpath, f), (ts, ts))
    return os.path.join(root, "b*")


def _run(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    return q


def test_tumbling_late_rows_dropped(spark, tmp_path):
    # Watermark is a lower-bound guarantee: a late row is only
    # guaranteed dropped once its window's state was evicted in an
    # EARLIER batch. Batch 0 advances the watermark to 10:00, batch 1
    # emits+evicts window [01:00,02:00), batch 2's late row hits
    # evicted state and is dropped.
    on_time = [
        (1, _t(1, 0), 1, "click", 1.0),
        (2, _t(1, 20), 1, "click", 1.0),
        (3, _t(12, 0), 99, "view", 1.0),  # advances watermark to 10:00
    ]
    evict_batch = [(4, _t(12, 10), 99, "view", 1.0)]
    late_batch = [
        (5, _t(1, 30), 1, "click", 1.0),  # window evicted -> dropped
        (6, _t(12, 30), 99, "view", 1.0),  # on time
    ]
    root = _write_batches(spark, tmp_path, [on_time, evict_batch, late_batch])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(root)
    )
    q = _run(spark, tumbling_rollup_stream(stream, "1 hour", "2 hours"), "tumb")

    rows = {
        (r.hour, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumb").collect()
    }
    # late event 4 NOT counted: window [01:00,02:00) has the 2 on-time clicks
    assert rows[(_t(1, 0).replace(tzinfo=None), "click")] == 2
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped >= 1


def test_sliding_stream_emits_closed_windows(spark, tmp_path):
    batch1 = [
        (1, _t(1, 0), 7, "click", 2.0),
        (2, _t(2, 0), 7, "purchase", 3.0),
    ]
    batch2 = [(3, _t(20, 0), 99, "view", 1.0)]  # pushes wm to 18:00, closes all
    root = _write_batches(spark, tmp_path, [batch1, batch2])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(root)
    )
    _run(spark, sliding_stats_stream(stream, size="6 hours", slide="1 hour"), "slide")

    df = spark.sql("SELECT * FROM slide WHERE user_id = 7").collect()
    # event at 01:00 belongs to 6 sliding windows, event at 02:00 to 6;
    # 5 windows contain both -> 7 distinct windows for user 7
    assert len(df) == 7
    both = [r for r in df if r.n_events == 2]
    assert len(both) == 5
    assert all(r.n_click == 1 and r.n_purchase == 1 for r in both)
    assert all(abs(r.total_value - 5.0) < 1e-9 for r in both)


# Two users (7, 8) plus one event with a null user; the late batch
# pushes the watermark to 18:00, closing every window of batch 0.
_USERS_BATCH = [
    (1, _t(1, 0), 7, "click", 1.0),
    (2, _t(1, 10), None, "click", 1.0),
    (3, _t(1, 30), 8, "click", 1.0),
    (4, _t(2, 0), 7, "view", 1.0),
    (5, _t(2, 0), 8, "view", 1.0),
    (6, _t(3, 0), 7, "click", 1.0),
]
_CLOSE_BATCH = [(7, _t(20, 0), 99, "view", 1.0)]


def _sliding_run(spark, tmp_path, name):
    root = _write_batches(spark, tmp_path, [_USERS_BATCH, _CLOSE_BATCH])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(root)
    )
    stats = sliding_stats_stream(stream, size="6 hours", slide="1 hour")
    return _run(spark, stats, name)


def test_sliding_stream_plan_is_whole_stage_codegen(spark, tmp_path):
    # An ImperativeAggregate (HLL, percentile, collect_*) anywhere in the
    # aggregation drops all four HashAggregate nodes of the stateful
    # chain out of codegen; the per-user stream must keep them starred.
    q = _sliding_run(spark, tmp_path, "slide_plan")
    aggs = [
        line
        for line in q._jsq.explainInternal(False).splitlines()
        if "HashAggregate(" in line
    ]
    assert len(aggs) == 4, aggs
    assert all(re.search(r"\*\(\d+\) HashAggregate\(", a) for a in aggs), aggs


def test_sliding_stream_per_user_count_is_exact(spark, tmp_path):
    _sliding_run(spark, tmp_path, "slide_users")
    rows = spark.sql("SELECT user_id, n_users_approx FROM slide_users").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, set()).add(r.n_users_approx)
    # user 7 spans 8 windows, user 8 spans 7, the null group 6
    assert by_user == {7: {1}, 8: {1}, None: {0}}
    assert len(rows) == 8 + 7 + 6


def test_stateful_bucket_window(spark, tmp_path):
    batch1 = [
        (1, _t(0, 10), 7, "click", 1.0),
        (2, _t(1, 10), 7, "click", 2.0),
        (3, _t(12, 0), 99, "view", 0.0),  # wm -> 10:00 after this batch
    ]
    batch2 = [(4, _t(13, 0), 99, "view", 0.0)]  # triggers user-7 timeout emit
    root = _write_batches(spark, tmp_path, [batch1, batch2])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(root)
    )
    _run(
        spark,
        bucketed_sliding_stats(stream, watermark_delay="2 hours"),
        "bucketed",
    )

    pdf = spark.sql("SELECT * FROM bucketed WHERE user_id = 7").toPandas()
    by_start = {
        row.window_start: (row.n_events, row.total_value)
        for row in pdf.itertuples()
    }
    # 6h window starting 00:00 holds both buckets (00:xx and 01:xx)
    assert by_start[pd.Timestamp(_t(0).replace(tzinfo=None))] == (2, 3.0)
    # window starting 01:00 holds only the second event
    assert by_start[pd.Timestamp(_t(1).replace(tzinfo=None))] == (1, 2.0)
    # every window ending before the watermark that has data was emitted
    assert len(by_start) == 7  # starts -05:00 .. 01:00


def test_stateful_bucket_window_stepped_watermark_no_refire(spark, tmp_path):
    # Watermark advancing in steps smaller than the window size must not
    # re-emit windows whose trailing buckets survived pruning (the fire
    # loop used to restart at min(buckets) - (size - slide), re-firing
    # already-emitted windows with partial counts).
    batch1 = [
        (1, _t(0, 10), 7, "click", 1.0),
        (2, _t(4, 10), 7, "click", 2.0),
        (3, _t(8, 30), 99, "view", 0.0),  # wm -> 06:30 after this batch
    ]
    batch2 = [(4, _t(14, 30), 99, "view", 0.0)]  # fires u7 ends <= 06:30
    batch3 = [(5, _t(15, 0), 99, "view", 0.0)]  # fires u7 ends <= 12:30
    root = _write_batches(spark, tmp_path, [batch1, batch2, batch3])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(root)
    )
    _run(
        spark,
        bucketed_sliding_stats(stream, watermark_delay="2 hours"),
        "bucketed_stepped",
    )

    pdf = spark.sql(
        "SELECT * FROM bucketed_stepped WHERE user_id = 7"
    ).toPandas()
    # each window fires at most once, ever
    assert not pdf.duplicated(subset=["window_start"]).any(), pdf
    by_start = {
        row.window_start: (row.n_events, row.total_value)
        for row in pdf.itertuples()
    }
    # windows [-01:00, 05:00) and [00:00, 06:00) hold both events and fired
    # in the FIRST step — they must keep their full counts, not reappear
    # with only the 04:00 bucket after the second step
    assert by_start[pd.Timestamp(_t(23).replace(tzinfo=None)) - pd.Timedelta(days=1)] == (2, 3.0)
    assert by_start[pd.Timestamp(_t(0).replace(tzinfo=None))] == (2, 3.0)
    # second step emits only the four not-yet-fired windows
    for h in (1, 2, 3, 4):
        assert by_start[pd.Timestamp(_t(h).replace(tzinfo=None))] == (1, 2.0)
    assert len(by_start) == 10  # starts 19:00(-1d) .. 04:00


def test_streaming_session_windows(spark, tmp_path):
    from mvrs_dspa_spark.streaming.windowed import session_stats_stream

    batch1 = [
        (1, _t(1, 0), 7, "click", 1.0),   # session A
        (2, _t(1, 10), 7, "click", 2.0),  # extends A (gap 30m)
        (3, _t(3, 0), 7, "click", 4.0),   # new session B (> 30m later)
    ]
    batch2 = [(4, _t(20, 0), 99, "view", 0.0)]  # wm -> 18:00, closes all
    root = _write_batches(spark, tmp_path, [batch1, batch2])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(root)
    )
    _run(spark, session_stats_stream(stream, gap="30 minutes"), "sess")

    rows = spark.sql(
        "SELECT * FROM sess WHERE user_id = 7 ORDER BY session_start"
    ).collect()
    assert len(rows) == 2
    a, b = rows
    assert a.n_events == 2 and abs(a.total_value - 3.0) < 1e-9
    assert a.session_start == _t(1, 0).replace(tzinfo=None)
    assert a.session_end == _t(1, 40).replace(tzinfo=None)  # last event + gap
    assert b.n_events == 1 and b.session_start == _t(3, 0).replace(tzinfo=None)
