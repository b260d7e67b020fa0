"""Batch/stream sessionization agreement on real testdata: every
session the stream finalizes must EXACTLY match a session the batch
sessionizer derives (start, event count, value sum), and every batch
session whose close point the final watermark passed must have been
emitted. The same one-definition-two-modes proof pattern as the
curation / near-dup / IVF-serving jobs, applied to the gap-session
operator pair (operators/sessionize.sessionize vs
streaming/windowed.session_stats_stream)."""

from __future__ import annotations

import os
from datetime import timedelta

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sessionize import sessionize
from mvrs_dspa_spark.streaming.windowed import session_stats_stream
from mvrs_dspa_spark.tables import table

EV_SCHEMA = "event_id long, ts timestamp, user_id long, value double"
GAP = timedelta(minutes=30)
DELAY = timedelta(hours=2)


def test_stream_sessions_match_batch(spark, tmp_path, sf_small):
    ev = table(spark, sf_small, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    rows = ev.orderBy("ts", "event_id").collect()  # event-time arrival

    root = str(tmp_path / "ev_in")
    os.makedirs(root)
    per = (len(rows) + 3) // 4
    for i in range(4):
        chunk = [tuple(r) for r in rows[i * per : (i + 1) * per]]
        if chunk:
            spark.createDataFrame(chunk, EV_SCHEMA).coalesce(
                1
            ).write.parquet(os.path.join(root, f"b{i:03d}"))

    src = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "b*"))
    )
    q = (
        session_stats_stream(src, gap="30 minutes", watermark_delay="2 hours")
        .writeStream.format("memory")
        .queryName("sess_eq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    streamed = {
        (r.user_id, r.session_start, r.n_events): r.total_value
        for r in spark.table("sess_eq").collect()
    }

    batch = sessionize(ev).collect()
    batch_by_key = {
        (r.user_id, r.session_start.replace(tzinfo=None), r.n_events):
            (r.total_value, r.session_end.replace(tzinfo=None))
        for r in batch
    }
    assert len(batch_by_key) == len(batch)

    # 1) correctness: every finalized stream session equals a batch one
    assert streamed, "stream emitted no sessions"
    for key, total in streamed.items():
        assert key in batch_by_key, key
        assert batch_by_key[key][0] == total, (key, total)

    # 2) completeness: batch sessions that provably closed before the
    # final watermark (last event + gap < max_ts - delay) must emit
    max_ts = max(r.ts for r in rows).replace(tzinfo=None)
    fence = max_ts - DELAY
    closed = {
        k for k, (_, end) in batch_by_key.items() if end + GAP < fence
    }
    missing = closed - set(streamed)
    assert not missing, sorted(missing)[:5]
