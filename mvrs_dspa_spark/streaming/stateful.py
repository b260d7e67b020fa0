"""Custom stateful sliding window via applyInPandasWithState
(SURVEY §2b #15).

Direct analog of the reference's space-optimized window
(`jobs/activeposts/PostStatisticsFunction.scala:20-150`): instead of
storing every event for every overlapping window (size/slide ×
amplification), keep ONE aggregate bucket per slide interval in keyed
state and merge the size/slide most recent buckets when a window
fires. State per key is O(size/slide), independent of event rate —
the property that makes the operator viable at 100 TB.

Spark-first: `applyInPandasWithState` gives Arrow-batched grouped
state with event-time timeouts; buckets live in the state store value,
window results are emitted when the watermark passes window end.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

HOUR_MS = 3_600_000

OUTPUT_SCHEMA = (
    "user_id long, window_start timestamp, window_end timestamp, "
    "n_events long, total_value double"
)
# state: parallel arrays of bucket start (epoch ms), event count, value sum,
# plus the end (epoch ms) of the last window already fired.  fired_through
# makes firing idempotent across micro-batches: without it the fire loop
# re-derives its start from the *surviving* buckets and re-emits windows
# whose trailing buckets outlived pruning — duplicate, partial rows in an
# append sink whenever the watermark advances in steps < window size.
STATE_SCHEMA = (
    "starts array<long>, counts array<long>, sums array<double>, "
    "fired_through long"
)


def _bucket_window_fn(size_ms: int, slide_ms: int):
    n_buckets = size_ms // slide_ms

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        starts: list[int]
        counts: list[int]
        sums: list[float]
        if state.exists:
            s0, s1, s2, fired_through = state.get
            starts, counts, sums = list(s0), list(s1), list(s2)
        else:
            starts, counts, sums = [], [], []
            fired_through = 0
        buckets = {s: (c, v) for s, c, v in zip(starts, counts, sums)}

        wm_ms = state.getCurrentWatermarkMs()

        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_ms = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
                vals = pdf["value"].to_numpy()
                for t, v in zip(ts_ms, vals):
                    b = int(t - t % slide_ms)
                    c, s = buckets.get(b, (0, 0.0))
                    buckets[b] = (c + 1, s + float(v))
        else:
            # consume the (empty) iterator so Arrow batches are released
            for _ in pdfs:
                pass

        # fire every window whose end is in (fired_through, wm]: window
        # [ws, ws+size) merges the n_buckets buckets starting at ws.
        out_rows = []
        if buckets and wm_ms > 0:
            lo = min(buckets)
            hi = max(buckets)
            ws = max(lo - (size_ms - slide_ms), fired_through - size_ms + slide_ms)
            while ws + size_ms <= wm_ms and ws <= hi:
                member = [
                    buckets[b]
                    for b in range(ws, ws + size_ms, slide_ms)
                    if b in buckets
                ]
                if member:
                    out_rows.append(
                        {
                            "user_id": key[0],
                            "window_start": pd.Timestamp(ws, unit="ms"),
                            "window_end": pd.Timestamp(ws + size_ms, unit="ms"),
                            "n_events": sum(c for c, _ in member),
                            "total_value": round(sum(s for _, s in member), 2),
                        }
                    )
                ws += slide_ms
        if wm_ms > 0:
            # mark the last slide-aligned window end <= wm as fired even if
            # it held no buckets (an empty window emits nothing but must not
            # become fireable again once late data lands in its range)
            fired_through = max(fired_through, wm_ms // slide_ms * slide_ms)
            # prune buckets whose last containing window (ws = b, ending at
            # b + size) has fired; keyed to fired_through, not raw wm, so a
            # mid-slide watermark can't prune a bucket of an unfired window
            buckets = {
                b: cs for b, cs in buckets.items() if b + size_ms > fired_through
            }

        if buckets:
            items = sorted(buckets.items())
            state.update(
                (
                    [b for b, _ in items],
                    [c for _, (c, _) in items],
                    [s for _, (_, s) in items],
                    fired_through,
                )
            )
            # wake up when the next unfired window can close
            next_end = min(buckets) + size_ms
            state.setTimeoutTimestamp(max(next_end, wm_ms + 1))
        else:
            state.remove()

        if out_rows:
            yield pd.DataFrame(out_rows)

    return fn


def bucketed_sliding_stats(
    events: DataFrame,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Sliding per-user window stats (6 h windows sliding hourly) with
    O(size/slide) state per key."""
    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _bucket_window_fn(6 * HOUR_MS, HOUR_MS),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
