"""Streaming PSI drift monitor (29af) and streaming theta/KMV sketch
maintenance (29ag) must reproduce their registered batch twins exactly
after the event log is replayed in micro-batches — the same
batch==stream contract as the SPRT monitor (29ae)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sketches import (
    THETA_K,
    theta_sketch_distinct_union,
)
from mvrs_dspa_spark.plans.analytics import value_drift_psi
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.psi_stream import PsiMonitor
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.streaming.tdigest_stream import (
    TDigestMonitor,
)
from mvrs_dspa_spark.streaming.theta_stream import (
    ThetaMonitor,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _halfway_split_us(ev) -> int:
    r = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).collect()[0]
    return r.mn + (r.mx - r.mn) // 2


def test_streaming_psi_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = PsiMonitor(src.sparkSession, _halfway_split_us(ev))
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    want = sorted(
        (r.event_type, r.psi) for r in value_drift_psi(spark, SF).collect()
    )
    got = sorted((r.event_type, r.psi) for r in mon.report().collect())
    assert len(got) > 0
    assert got == want


def test_psi_monitor_empty_state(spark):
    mon = PsiMonitor(spark, split_us=0)
    assert mon.report().collect() == []
    mon.erase_users([1, 2])  # no-op by construction


def test_streaming_theta_equals_batch(spark, tmp_path):
    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = ThetaMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    # bounded state: never more than k codes per (type + union... the
    # union row is served, not stored)
    sizes = mon.state.groupBy("event_type").count().collect()
    assert all(r["count"] <= THETA_K for r in sizes)

    want = sorted(
        (r.event_type, r.kth_code, r.est_distinct)
        for r in theta_sketch_distinct_union(spark, SF).collect()
    )
    got = sorted(
        (r.event_type, r.kth_code, r.est_distinct)
        for r in mon.report().collect()
    )
    assert len(got) > 0 and any(t == "__union__" for t, _, _ in got)
    assert got == want


def test_theta_erasure_drops_codes(spark):
    ev = table(spark, SF, "events")
    mon = ThetaMonitor(spark)
    mon.update(ev, 0)
    before = mon.state.count()
    victims = [r.user_id for r in ev.select("user_id").distinct().limit(3).collect()]
    mon.erase_users(victims)
    after = mon.state.count()
    assert after <= before
    # the subjects' codes are gone from state
    from mvrs_dspa_spark.operators.sketches import theta_code_col

    gone = {
        r.c
        for r in spark.createDataFrame(
            [(u,) for u in victims], "user_id long"
        )
        .select(theta_code_col().alias("c"))
        .collect()
    }
    left = {r.code for r in mon.state.collect()}
    assert not (gone & left)


def test_theta_monitor_empty_state(spark):
    mon = ThetaMonitor(spark)
    assert mon.report().collect() == []
    mon.erase_users([])


def test_streaming_wasserstein_equals_batch(spark, tmp_path):
    from mvrs_dspa_spark.plans.analytics4 import value_wasserstein_drift
    from mvrs_dspa_spark.streaming.wasserstein_stream import (
        WassersteinMonitor,
    )

    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = WassersteinMonitor(src.sparkSession, _halfway_split_us(ev))
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4

    cols = ("event_type", "n_first_half", "n_second_half", "wasserstein_1")
    want = sorted(
        tuple(getattr(r, c) for c in cols)
        for r in value_wasserstein_drift(spark, SF).collect()
    )
    got = sorted(
        tuple(getattr(r, c) for c in cols) for r in mon.report().collect()
    )
    assert len(got) > 0
    assert got == want

    # one state, two statistics: the SAME maintained grid serves the
    # exact KS table of the registered batch query via ks_from_cells
    from mvrs_dspa_spark.plans.analytics import value_drift_ks

    ks_want = sorted(
        tuple(r) for r in value_drift_ks(spark, SF).collect()
    )
    ks_got = sorted(tuple(r) for r in mon.ks_report().collect())
    assert ks_got == ks_want

    # ...and the bounded divergences (#202) — four statistics total
    from mvrs_dspa_spark.plans.analytics4 import value_drift_divergences

    dv_want = sorted(
        tuple(r) for r in value_drift_divergences(spark, SF).collect()
    )
    dv_got = sorted(tuple(r) for r in mon.divergence_report().collect())
    assert dv_got == dv_want


def test_wasserstein_monitor_empty_state(spark):
    from mvrs_dspa_spark.streaming.wasserstein_stream import (
        WassersteinMonitor,
    )

    mon = WassersteinMonitor(spark, split_us=0)
    assert mon.report().collect() == []
    mon.erase_users([1])


@pytest.mark.slow  # >10 s: slow tier, run with -m slow
def test_monitors_are_replay_order_independent(spark):
    """The three maintainers' merges are additive/min-k — commutative
    and associative — so feeding micro-batches in REVERSED event-time
    order must produce byte-identical reports (the out-of-order
    delivery guarantee the docstrings claim; no watermark needed
    because no state is ever finalized or evicted)."""
    from mvrs_dspa_spark.streaming.wasserstein_stream import (
        WassersteinMonitor,
    )

    ev = table(spark, SF, "events")
    split = _halfway_split_us(ev)
    slices = [
        ev.where(F.pmod(F.col("event_id"), F.lit(4)) == k) for k in range(4)
    ]

    def run(monitor_cls, order, **kw):
        mon = monitor_cls(spark, **kw)
        for i in order:
            mon.update(slices[i], i)
        return sorted(tuple(r) for r in mon.report().collect())

    for cls, kw in (
        (PsiMonitor, {"split_us": split}),
        (ThetaMonitor, {}),
        (WassersteinMonitor, {"split_us": split}),
        (TDigestMonitor, {}),
    ):
        fwd = run(cls, [0, 1, 2, 3], **kw)
        rev = run(cls, [3, 2, 1, 0], **kw)
        assert fwd and fwd == rev, cls.__name__


@pytest.mark.slow  # >10 s: slow tier, run with -m slow
def test_monitor_save_load_restart_equals_uninterrupted(spark, tmp_path):
    """Driver-restart durability: save after 2 batches, reload into a
    FRESH monitor, feed the remaining 2 — reports byte-equal the
    uninterrupted 4-batch run (pair with the stream's own
    checkpointLocation, which guarantees the remaining batches are
    exactly the unprocessed ones)."""
    from mvrs_dspa_spark.streaming.wasserstein_stream import (
        WassersteinMonitor,
    )

    ev = table(spark, SF, "events")
    split = _halfway_split_us(ev)
    slices = [
        ev.where(F.pmod(F.col("event_id"), F.lit(4)) == k) for k in range(4)
    ]

    cases = (
        (PsiMonitor, {"split_us": split},
         lambda cls, p: cls.load(spark, p, split)),
        (ThetaMonitor, {}, lambda cls, p: cls.load(spark, p)),
        (WassersteinMonitor, {"split_us": split},
         lambda cls, p: cls.load(spark, p, split)),
        (TDigestMonitor, {}, lambda cls, p: cls.load(spark, p)),
    )
    for cls, kw, loader in cases:
        full = cls(spark, **kw)
        for i in range(4):
            full.update(slices[i], i)
        want = sorted(tuple(r) for r in full.report().collect())

        first = cls(spark, **kw)
        first.update(slices[0], 0)
        first.update(slices[1], 1)
        path = str(tmp_path / f"state_{cls.__name__}")
        first.save(path)
        resumed = loader(cls, path)
        resumed.update(slices[2], 2)
        resumed.update(slices[3], 3)
        got = sorted(tuple(r) for r in resumed.report().collect())
        assert got and got == want, cls.__name__


def test_streaming_tdigest_equals_batch(spark, tmp_path):
    """29aq: the maintained (type, cents) grid served through the
    shared tdigest_from_grid tail must reproduce the registered batch
    digest BIT-FOR-BIT after a replayed log (integer grid + the batch
    query's own engine-exact serving math)."""
    from mvrs_dspa_spark.operators.sketches import tdigest_value_quantiles

    ev = table(spark, SF, "events")
    replay_dir = str(tmp_path / "replay_td")
    write_replay_batches(ev, replay_dir, n_batches=4)
    src = read_replay_stream(spark, replay_dir, ev.schema)
    mon = TDigestMonitor(src.sparkSession)
    drain(src, str(tmp_path / "ckpt_td"), mon.update)
    assert mon.n_batches >= 4

    want = sorted(
        tuple(r) for r in tdigest_value_quantiles(spark, SF).collect()
    )
    got = sorted(tuple(r) for r in mon.report().collect())
    assert len(got) > 0
    assert got == want


def test_tdigest_monitor_empty_state(spark):
    mon = TDigestMonitor(spark)
    assert mon.report().collect() == []
    mon.erase_users([1])
