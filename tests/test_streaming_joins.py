"""Stream-stream interval join + streaming dedup behavior."""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from mvrs_dspa_spark.streaming.joins import (
    click_purchase_stream_join,
    dedup_stream,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _t(h: int, m: int = 0) -> datetime:
    return datetime(2026, 1, 1, h, m, tzinfo=timezone.utc)


def _write_batches(spark, tmp_path, batches):
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


def _stream(spark, glob):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
    )


def _run(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_interval_join_matches_within_bound(spark, tmp_path):
    rows = [
        (1, _t(1, 0), 7, "click", 1.0),
        (2, _t(1, 10), 7, "purchase", 42.0),   # +10 min -> joins
        (3, _t(2, 0), 7, "purchase", 9.0),     # +60 min -> outside bound
        (4, _t(1, 5), 8, "purchase", 5.0),     # other user, no click
        (5, _t(0, 50), 7, "purchase", 3.0),    # BEFORE the click -> no join
        (6, _t(12, 0), 99, "view", 0.0),       # watermark advancer
    ]
    glob = _write_batches(spark, tmp_path, [rows])
    out = _run(
        spark,
        click_purchase_stream_join(_stream(spark, glob), within="30 minutes"),
        "ij_basic",
    )
    assert len(out) == 1
    r = out[0]
    assert (r.user_id, r.click_id, r.purchase_id, r.purchase_value) == (7, 1, 2, 42.0)


def test_interval_join_across_batches(spark, tmp_path):
    # click arrives in batch 0, matching purchase in batch 1: the join
    # state must hold the click until the purchase side catches up
    b0 = [(1, _t(1, 0), 7, "click", 1.0)]
    b1 = [(2, _t(1, 20), 7, "purchase", 17.0), (3, _t(12, 0), 99, "view", 0.0)]
    glob = _write_batches(spark, tmp_path, [b0, b1])
    out = _run(
        spark,
        click_purchase_stream_join(_stream(spark, glob), within="30 minutes"),
        "ij_batches",
    )
    assert [(r.click_id, r.purchase_id) for r in out] == [(1, 2)]


def test_dedup_stream_drops_in_watermark_duplicates(spark, tmp_path):
    # same event_id twice in-batch and again next batch within the
    # watermark -> admitted once; a FRESH id later still flows through
    b0 = [
        (1, _t(1, 0), 7, "click", 1.0),
        (1, _t(1, 0), 7, "click", 1.0),
    ]
    b1 = [
        (1, _t(1, 1), 7, "click", 1.0),   # dup within watermark
        (2, _t(1, 2), 7, "click", 1.0),   # fresh id
        (9, _t(12, 0), 99, "view", 0.0),  # watermark advancer
    ]
    glob = _write_batches(spark, tmp_path, [b0, b1])
    out = _run(spark, dedup_stream(_stream(spark, glob)), "dedup_s")
    ids = sorted(r.event_id for r in out)
    assert ids == [1, 2, 9]


def test_interval_join_rejects_unsupported_how(spark):
    import pytest
    from mvrs_dspa_spark.streaming.joins import interval_join

    df = spark.createDataFrame([], SCHEMA)
    with pytest.raises(ValueError, match="inner/leftOuter"):
        interval_join(df, df, how="fullOuter")


def test_conversion_attribution_job_end_to_end(spark, tmp_path):
    # chained stateful ops: interval join -> windowed rollup, one query.
    # Advancer rows must themselves be clicks/purchases: the watermark
    # assignments sit downstream of the event-type filters.
    from mvrs_dspa_spark.streaming.jobs import conversion_attribution_job
    from datetime import datetime, timezone

    def _d(d, h, m=0):
        return datetime(2026, 1, d, h, m, tzinfo=timezone.utc)

    b0 = [
        (1, _d(1, 1, 0), 7, "click", 1.0),
        (2, _d(1, 1, 10), 7, "purchase", 42.0),
        (3, _d(1, 1, 30), 8, "click", 1.0),
        (4, _d(1, 1, 50), 8, "purchase", 10.0),
    ]
    b1 = [  # advance both side watermarks past the 01:00-02:00 window
        (5, _d(1, 12, 0), 98, "click", 0.0),
        (6, _d(1, 18, 0), 97, "purchase", 0.0),
    ]
    b2 = [  # flush: close the advancers' own windows region
        (7, _d(2, 12, 0), 96, "click", 0.0),
        (8, _d(2, 18, 0), 95, "purchase", 0.0),
    ]
    glob = _write_batches(spark, tmp_path, [b0, b1, b2])
    sink = str(tmp_path / "conv_out")
    ckpt = str(tmp_path / "conv_ckpt")
    q = conversion_attribution_job(_stream(spark, glob), sink, ckpt)
    assert q.awaitTermination(180)
    out = spark.read.parquet(sink).orderBy("window_start").collect()
    assert len(out) == 1, out
    r = out[0]
    assert r.window_start == _d(1, 1, 0).replace(tzinfo=None)
    assert (r.n_conversions, r.conversion_value) == (2, 52.0)


def test_interval_join_left_outer_emits_nulls_on_expiry(spark, tmp_path):
    """leftOuter semantics: a click with NO purchase in its interval
    must still emit — null-padded — once the watermark passes its
    upper bound; matched clicks emit joined rows as usual."""
    from pyspark.sql import functions as F

    from mvrs_dspa_spark.streaming.joins import interval_join

    b0 = [
        (1, _t(1, 0), 7, "click", 1.0),
        (2, _t(1, 10), 7, "purchase", 42.0),   # matches click 1
        (3, _t(1, 0), 8, "click", 2.0),        # never matched
        (4, _t(2, 30), 8, "purchase", 9.0),    # outside 30-min bound
    ]
    # outer-side null emission happens in a TRIGGER AFTER the watermark
    # passes the expiry, and the query watermark is the MIN across both
    # watermark nodes — which sit downstream of the click/purchase
    # filters, so the advancers must be a click AND a purchase (on
    # users that cannot accidentally match): b1 advances both sides
    # past click 3's upper bound, b2 gives the join a batch in which
    # to emit the expired row.
    b1 = [(9, _t(12, 0), 98, "click", 0.0), (10, _t(12, 0), 97, "purchase", 0.0)]
    b2 = [(11, _t(13, 0), 96, "click", 0.0), (12, _t(13, 0), 95, "purchase", 0.0)]
    glob = _write_batches(spark, tmp_path, [b0, b1, b2])
    src = _stream(spark, glob)
    clicks = src.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = src.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    joined = interval_join(
        clicks, purchases, on="user_id", upper="30 minutes", how="leftOuter"
    )
    out = _run(spark, joined, "ij_louter")
    by_click = {r.event_id: r for r in out}
    # clicks 9/11 (advancers) have not expired by stream end; clicks 1
    # (matched) and 3 (expired unmatched) must both be present
    assert {1, 3} <= set(by_click)
    assert by_click[1].event_id_r == 2           # matched pair
    assert by_click[1].value_r == 42.0
    assert by_click[3].event_id_r is None        # expired unmatched
    assert by_click[3].value_r is None
