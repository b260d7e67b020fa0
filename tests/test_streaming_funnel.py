"""Streaming CEP funnel: streamed completions must EXACTLY equal the
batch multi-step-funnel's completed users (same t1/t2/t3), including
under out-of-order delivery within the allowed lateness; a completed
user never emits twice."""

from __future__ import annotations

import pytest

import os
from datetime import datetime, timezone

import pandas as pd

from mvrs_dspa_spark.streaming.funnel_stream import streaming_funnel
from mvrs_dspa_spark.tables import table

EV_SCHEMA = "ts timestamp, user_id long, event_type string"
H_US = 7 * 86_400_000_000


def _batch_funnel(rows):
    """Reference per-user (t1, t2, t3) with the batch window
    semantics: t1 = min signup, t2 = min click in [t1, t1+H],
    t3 = min purchase in [t2, t2+H]."""
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    out = {}
    for uid, evs in by_user.items():
        us = lambda r: int(r.ts.timestamp() * 1_000_000)  # noqa: E731
        sign = [us(r) for r in evs if r.event_type == "signup"]
        t1 = min(sign) if sign else None
        t2 = t3 = None
        if t1 is not None:
            clicks = [
                us(r)
                for r in evs
                if r.event_type == "click" and t1 <= us(r) <= t1 + H_US
            ]
            t2 = min(clicks) if clicks else None
        if t2 is not None:
            buys = [
                us(r)
                for r in evs
                if r.event_type == "purchase" and t2 <= us(r) <= t2 + H_US
            ]
            t3 = min(buys) if buys else None
        if t3 is not None:
            out[uid] = (t1, t2, t3)
    return out


def _run(spark, tmp_path, rows, n_files=4, shuffle_within_file=True):
    root = str(tmp_path / "ev_in")
    os.makedirs(root)
    # chunks ordered by time so the watermark advances, but rows INSIDE
    # each chunk arrive shuffled (out-of-order within the lateness)
    rows = sorted(rows, key=lambda r: r.ts)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            continue
        if shuffle_within_file:
            chunk = chunk[1::2] + chunk[0::2]
        spark.createDataFrame(
            [(r.ts, r.user_id, r.event_type) for r in chunk], EV_SCHEMA
        ).coalesce(1).write.parquet(os.path.join(root, f"b{i:03d}"))
    src = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "b*"))
    )
    q = (
        streaming_funnel(src, H_US, watermark_delay="2 hours")
        .writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("funnel_out").collect()
    return {r.user_id: (r.t1_us, r.t2_us, r.t3_us) for r in got}, got


@pytest.mark.slow  # >10 s: slow tier, run with -m slow
def test_stream_funnel_matches_batch(spark, tmp_path, sf_small):
    ev = table(spark, sf_small, "events").select(
        "ts", "user_id", "event_type"
    )
    rows = ev.collect()
    streamed, raw = _run(spark, tmp_path, rows)
    assert len(raw) == len(streamed), "duplicate completion emitted"

    want = _batch_funnel(rows)
    # end-of-input fence: completions whose t3 the final watermark
    # passed must emit; everything emitted must be exactly right
    max_us = max(int(r.ts.timestamp() * 1_000_000) for r in rows)
    fence = max_us - 2 * 3_600_000_000
    for uid, t in streamed.items():
        assert want.get(uid) == t, (uid, t, want.get(uid))
    missing = {
        u for u, t in want.items() if t[2] < fence and u not in streamed
    }
    assert not missing, sorted(missing)[:5]
    assert streamed, "no completions emitted"


def test_stream_funnel_synthetic_ordering(spark, tmp_path):
    t0 = datetime(2026, 3, 1, 9, 0, tzinfo=timezone.utc)

    def at(mins):
        return t0 + pd.Timedelta(minutes=mins).to_pytimedelta()

    rows_data = [
        # user 1: click BEFORE signup must not count; completes later
        (at(0), 1, "click"),
        (at(10), 1, "signup"),
        (at(20), 1, "click"),
        (at(30), 1, "purchase"),
        # user 2: purchase before click -> never completes
        (at(0), 2, "signup"),
        (at(5), 2, "purchase"),
        (at(10), 2, "click"),
        # user 3: completes, then a second full pattern -> ONE emission
        (at(0), 3, "signup"),
        (at(1), 3, "click"),
        (at(2), 3, "purchase"),
        (at(3), 3, "signup"),
        (at(4), 3, "click"),
        (at(5), 3, "purchase"),
        # watermark pusher
        (at(60 * 50), 9, "view"),
    ]
    df_rows = spark.createDataFrame(rows_data, EV_SCHEMA).collect()
    streamed, raw = _run(spark, tmp_path, df_rows, n_files=3)
    assert set(streamed) == {1, 3}
    assert len(raw) == 2
    u1 = streamed[1]
    assert u1[0] < u1[1] < u1[2]
    want = _batch_funnel(df_rows)
    assert streamed == {u: t for u, t in want.items() if u in streamed}
